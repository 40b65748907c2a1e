package searchspark.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import searchspark.model.TermPostings

/** Row shape feeding the segment encoder. The repartition exchange moves
  * one of these per posting, so row width is the segment build's
  * dominant shuffle cost: tfE1 and roleId share one Long,
  * meta = tfE1 << 32 | roleId (tfE1 is a positive int; roleId < 2^31,
  * with -1 = the absent-role sentinel mapped to an all-ones low word and
  * caught by the kernel's roleId check). */
final case class PostingRow(shard: Int, term: String, docId: Long, meta: Long, dlE1: Long)

/** The compressed, sharded posting-list index (SURVEY.md §3.2 build
  * dataflow): shard = docId range (docId / shardSize), so
  *  - a term's per-shard group can never exceed shardSize postings —
  *    the Zipf-head skew bound (SURVEY.md §7.5.2): the "salt" is the doc
  *    range itself, and no term group blows up no matter how hot;
  *  - query-time intersection is shard-local: each shard holds a full
  *    conjunctive sub-problem, so top-k is per-shard WAND + a driver
  *    merge of ≤ (offset+limit) rows per shard — scatter-gather with no
  *    data shuffle (the only moved bytes are the |q| posting rows per
  *    shard and the merged tops).
  *
  * At 10^12 turns: shardSize ~2^20 → ~10^6 shards; per-(shard,term)
  * encode groups stay ≤ 2^20 entries. The encode reads the tf rows only
  * and emits (shard, term, blocks) rows. The postings are the index's
  * one stored copy of the tf rows and its one store of df: `decode`
  * gives the rows back, which is how an append rebuilds a touched shard
  * (its old rows minus the replaced docs plus the delta's, re-encoded).
  * The postings table is written one file per shard (BuildPipeline), so
  * an append replaces the files of the shards it touches.
  */
object PostingIndex {

  /** Default shard size tuned for the test corpora; at cluster scale
    * pick ~2^20 (see class doc). */
  val DefaultShardSize = 4096

  /** Build compressed posting segments from the index's tf rows (see
    * [[encode]]), after checking that every role with stats has a
    * roleId. */
  def build(spark: SparkSession, idx: BuiltIndex,
            shardSize: Int = DefaultShardSize): Dataset[TermPostings] = {
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    // role-dictionary guard (round-2 ADVICE, high): a role present in
    // the corpus but absent from the dictionary must fail the build
    // LOUDLY, never encode under a foreign roleId (scoped queries would
    // silently return foreign docs). statsByRole's keys are derived
    // from the same tf rows (corpusStats at build; role.* entries of
    // stats.json on load), so this driver-side set difference is a free,
    // pre-shuffle check that names every offending role.
    val missing = idx.statsByRole.keySet -- idx.roleIds.keySet
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"roles ${missing.toSeq.sorted.map(r => s"'$r'").mkString(", ")} are " +
          "absent from the role dictionary — stats.json roles and the tf " +
          "rows disagree; refusing to encode them under foreign roleIds")
    encode(spark, idx.tf, idx.roleIds, shardSize)
  }

  /** Encode tf rows (docId, role, dlE1, term, tfE1) into posting
    * segments, each role under its id in `roleIds`: one exchange on
    * (shard, term), whose group size is bounded by shardSize. */
  def encode(spark: SparkSession, tf: DataFrame, roleIds: Map[String, Int],
             shardSize: Int): Dataset[TermPostings] = {
    import spark.implicits._
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    // role → compact id as a literal CASE (roles are low-cardinality;
    // avoids a join); blocks carry per-posting roleIds for scoped scans.
    // Base case is the -1 SENTINEL, not id 0: a role without an id
    // fails the encoder below instead of encoding under a foreign id.
    val roleIdCol = roleIds.toSeq.sortBy(_._1).foldLeft(lit(-1)) {
      case (acc, (r, id)) => when(col("role") === r, lit(id)).otherwise(acc)
    }
    // a shard id is an Int: a docId past that range fails the build
    // instead of wrapping into a foreign shard
    val shard = col("docId") / shardSize
    val shardCol = when(shard > Int.MaxValue,
        raise_error(concat(lit("shard id out of Int range: docId="),
          col("docId").cast("string"), lit(s" at shardSize=$shardSize"))))
      .otherwise(shard.cast("int"))
    // Group-and-encode via ONE Tungsten repartition + within-partition
    // sort, then a single streaming mapPartitions pass that cuts group
    // boundaries on (shard, term) and encodes each run. The shuffle,
    // the (term, shard, docId) sort (which makes each group arrive
    // docId-ascending — exactly what the delta codec needs) and the
    // group clustering all happen on binary rows with codegen, and rows
    // become objects exactly once, inside the encode kernel. Group size
    // stays bounded by shardSize, so the run buffer is bounded too.
    tf // carries role+dlE1 — no docs join needed
      .select(shardCol.as("shard"), col("term"), col("docId"),
        shiftleft(col("tfE1").cast("long"), 32)
          .bitwiseOR(roleIdCol.cast("long").bitwiseAND(lit(0xffffffffL))).as("meta"),
        col("dlE1"))
      .repartition(col("shard"), col("term"))
      .sortWithinPartitions("term", "shard", "docId")
      .as[PostingRow]
      .mapPartitions { it =>
        new Iterator[TermPostings] {
          private var pending: PostingRow = if (it.hasNext) it.next() else null
          override def hasNext: Boolean = pending != null
          override def next(): TermPostings = {
            val (shard, term) = (pending.shard, pending.term)
            val docIds = new scala.collection.mutable.ArrayBuilder.ofLong
            val tfs = new scala.collection.mutable.ArrayBuilder.ofInt
            val dls = new scala.collection.mutable.ArrayBuilder.ofLong
            val roles = new scala.collection.mutable.ArrayBuilder.ofInt
            var r = pending
            var more = true
            while (more) {
              val roleId = (r.meta & 0xffffffffL).toInt
              if (roleId < 0)
                throw new IllegalStateException(
                  s"doc ${r.docId} (shard $shard) carries a role absent from " +
                    "the role dictionary — tf and stats disagree; refusing " +
                    "to encode it under a foreign roleId")
              docIds += r.docId; tfs += (r.meta >>> 32).toInt
              dls += r.dlE1; roles += roleId
              if (it.hasNext) {
                r = it.next()
                more = r.shard == shard && r.term == term
              } else { r = null; more = false }
            }
            pending = r
            TermPostings(shard, term,
              Segments.encode(docIds.result(), tfs.result(), dls.result(), roles.result()))
          }
        }
      }
  }

  /** The inverse of [[encode]]: the tf rows (docId, role, dlE1, term,
    * tfE1) that posting segments hold, each roleId mapped back to its
    * role through `roles` (the role dictionary the rows were encoded
    * under). A roleId outside it fails loudly. */
  def decode(postings: Dataset[TermPostings], roles: Seq[String]): DataFrame = {
    import postings.sparkSession.implicits._
    val byId = roles.toArray
    postings.flatMap { tp =>
      tp.blocks.iterator.flatMap { b =>
        val (docs, tfs, dls, roleIds) = Segments.decodeBlock(b)
        docs.indices.iterator.map { i =>
          val id = roleIds(i)
          if (id < 0 || id >= byId.length)
            throw new IllegalStateException(s"doc ${docs(i)} (shard ${tp.shard}) carries " +
              s"roleId $id, outside the role dictionary of ${byId.length} roles")
          TfRow(docs(i), byId(id), dls(i), tp.term, tfs(i))
        }
      }
    }.toDF()
  }
}
