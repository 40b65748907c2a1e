package searchspark.index

import java.nio.file.Paths

import scala.collection.immutable.TreeSet
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import searchspark.index.IceLite.{FileEntry, Snapshot}
import searchspark.model.{TermPostings, Turn, ZoneConfig}

/** Incremental (re)index — the batch analog of the reference's
  * `POST /api/indexPage` (IndexingServiceImpl.java:129-157): a known
  * page is re-fetched and re-indexed in place (its id and the untouched
  * pages' rows survive), an unknown page is added. Here the unit is a
  * batch of turns:
  *
  *  - turns whose (conv_id, turn_idx) key already exists REPLACE their
  *    doc in place, keeping its docId (like the reference keeps the
  *    page row and overwrites rank, Link.java:209-216);
  *  - new keys get fresh docIds appended after the current max (rank
  *    among themselves — matching the reference's AUTO_INCREMENT
  *    semantics for new pages; documented deviation from the cold
  *    build's global-rank ids, invisible to scoring);
  *  - a delta row that BLANKS an existing key's text RETRACTS that doc
  *    (removed from docs_raw, its shard rebuilt without it) — the
  *    failed-refetch delete analog; blanks for unknown keys stay
  *    ignored. Counted in [[Report.retracted]].
  *
  * The append costs what the delta touches, not what the index holds:
  *
  *  - the batch is resolved ONCE against docs_raw's keys into one cached
  *    frame (kind, docId, payload); one aggregate over it gives the
  *    counts, the touched shards and the touched docIds;
  *  - docs_raw and postings are stored one file per doc-range shard
  *    (BuildPipeline), so each gets new files for the touched shards
  *    only; its snapshot lists every other file under its old path
  *    (IceLite `keep`);
  *  - only the delta's text is analyzed. A touched shard's new posting
  *    rows are its old postings file decoded (PostingIndex.decode),
  *    minus the replaced and retracted docs, plus the delta's tf rows,
  *    re-encoded by the build's kernel (SURVEY.md §2.4 C9);
  *  - the stats move by delta: stats.json keeps exact Long sums (docs
  *    and Σ dlE1 per role), changed by the docs and tf rows added minus
  *    the decoded rows of the docs removed, so avgdl stays bit-identical
  *    to a full recompute;
  *  - the role dictionary is fixed on the driver from the resolution
  *    (old roles keep their ids, new ones follow, sorted), so docs_raw,
  *    stats and postings are written side by side.
  *
  * No term dictionary is kept: df is the postings' own count. The
  * `tf`, `terms` and `terms_by_role` tables of older roots are left
  * unread.
  *
  * Posting rows carry no global value (no df), so a kept shard's rows
  * cannot go stale. They stay SOUND under stat drift:
  * blocks carry raw (maxTfE1, minDl) and Wand derives pruning bounds at
  * query time from the post-append idf/avgdl (Scoring.blockBound).
  *
  * Crash safety: every table an append writes and stats.json carry the
  * append's `generation`; docs_raw is committed LAST and is the truth.
  * An append that finds the postings or the stats at another generation
  * than docs_raw (a crashed append, or a root written before the sums
  * were kept) first re-derives both from docs_raw — the build's own
  * postings stage body — and then applies its batch.
  */
object Incremental {

  /** What one append did. Written into the docs_raw snapshot props.
    * `shards` are the ids of the touched (rebuilt) shards, ascending. */
  final case class Report(replaced: Long, added: Long, shards: Seq[Long],
                          retracted: Long = 0L, shardsReused: Long = 0L,
                          filesKept: Long = 0L, filesWritten: Long = 0L,
                          bytesWritten: Long = 0L,
                          stepMs: Map[String, Long] = Map.empty) {
    def shardsRebuilt: Long = shards.size.toLong
    def props: Map[String, String] = Map(
      "append.replaced" -> replaced, "append.added" -> added,
      "append.retracted" -> retracted, "append.shardsRebuilt" -> shardsRebuilt,
      "append.shardsReused" -> shardsReused, "append.filesKept" -> filesKept,
      "append.filesWritten" -> filesWritten, "append.bytesWritten" -> bytesWritten)
      .map { case (k, v) => k -> v.toString } ++
      Map("append.shards" -> shards.mkString(",")) ++
      stepMs.map { case (step, ms) => s"append.ms.$step" -> ms.toString }
  }

  /** Snapshot prop / stats.json key: the append generation a table reflects. */
  val Generation = "generation"

  private val Replace = "replace"
  private val Add = "add"
  private val Retract = "retract"

  /** Apply `newTurns` to the index at `root`. The append's work is sized
    * by the shards it touches. */
  def append(spark: SparkSession, root: String, newTurns: Dataset[Turn]): Report = {
    def table(name: String) = Paths.get(root, name).toString
    def snapshot(name: String): Snapshot = IceLite.currentSnapshot(table(name))
      .getOrElse(throw new IllegalStateException(s"no current snapshot in ${table(name)}"))
    // the delta MUST be processed under the BUILD's config: zone setup
    // and shard size come from the manifest alone (another shardSize
    // would mis-shard the rebuilt segments and duplicate kept ones); a
    // manifest without one means the default, as SearchEngine.load reads it
    val zones = BuildPipeline.manifestZones(root)
    val shardSize = BuildPipeline.manifestShardSize(root)
      .getOrElse(PostingIndex.DefaultShardSize)

    val stepMs = mutable.LinkedHashMap.empty[String, Long]
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally stepMs.synchronized(stepMs(name) = (System.nanoTime() - t0) / 1000000)
    }

    val docsSnap0 = snapshot("docs_raw")
    val gen = docsSnap0.props.get(Generation).map(_.toLong).getOrElse(0L)
    step("rederive") {
      if (!consistent(root, gen)) rederive(spark, root, zones, shardSize, gen)
    }
    val nextGen = Map(Generation -> (gen + 1).toString)

    CacheScope { scope =>
      // ---- resolve the delta once: one row per key of the batch, with
      // its kind and docId. Same deterministic key-dedup as the cold
      // build (a repeated key must not yield two docs sharing one docId).
      // A key whose rows are all blank is a DELETE when it exists — the
      // failed-refetch analog (the reference drops a page whose re-crawl
      // errors, IndexingServiceImpl.java:137-141) — and is ignored when
      // it does not; a key with a blank and a non-blank row is a replace.
      val docsOld = IceLite.readFiles(spark, docsSnap0, docsSnap0.files)
      val maxId = maxOf(docsSnap0, docsOld, "docId")
      val byKey = newTurns.toDF().groupBy("conv_id", "turn_idx")
        .agg(max(when(DocIds.indexable, DocIds.payload)).as("v"))
      val keys = docsOld.select(col("conv_id"), col("turn_idx"),
        col("docId").as("oldId"), col("role").as("oldRole"))
      val fresh = col("oldId").isNull
      // fresh keys rank among themselves, after the current max docId
      val freshRank = row_number().over(
        Window.partitionBy(fresh).orderBy(col("conv_id"), col("turn_idx")))
      val docId = coalesce(col("oldId"), lit(maxId) + freshRank)
      val resolved = scope.cache(byKey.join(keys, Seq("conv_id", "turn_idx"), "left")
        .filter(col("v").isNotNull || !fresh)
        .select(
          docId.as("docId"),
          (docId / shardSize).cast("long").as("shard"),
          when(col("v").isNull, lit(Retract)).when(fresh, lit(Add))
            .otherwise(lit(Replace)).as("kind"),
          col("conv_id"), col("turn_idx"),
          // null roles normalized to "" at ingest, as DocIds does
          when(col("v").isNotNull, coalesce(col("v.role"), lit(""))).as("role"),
          col("v.tool").as("tool"), col("v.ts").as("ts"), col("v.text").as("text"),
          col("oldRole")))
      val groups = step("resolve") {
        resolved.groupBy("kind", "shard", "role", "oldRole")
          .agg(count(lit(1)).as("n"),
            collect_list(when(col("kind") =!= Add, col("docId"))).as("ids"))
          .collect()
      }
      def counted(k: String) = groups.filter(_.getString(0) == k).map(_.getLong(4)).sum
      val (nReplaced, nAdded, nRetracted) = (counted(Replace), counted(Add), counted(Retract))
      if (groups.isEmpty) Report(0, 0, Nil)
      else {
        val touched = TreeSet(groups.map(_.getLong(1)): _*)
        // docs whose old rows leave: replaced and retracted ones
        val oldIds = groups.flatMap(_.getSeq[Long](5)).distinct.toSeq
        val dropOld = !col("docId").isin(oldIds: _*)
        // role → Δ docs: new roles of added/replaced docs, old roles of
        // replaced/retracted ones
        val dn = mutable.Map.empty[String, Long].withDefaultValue(0L)
        groups.foreach { g =>
          val (kind, n) = (g.getString(0), g.getLong(4))
          if (kind != Retract) dn(g.getString(2)) += n
          if (kind != Add) dn(g.getString(3)) -= n
        }

        /** A file is kept when it lies wholly outside the touched shards. */
        def split(files: Seq[FileEntry], perShard: Long): (Seq[FileEntry], Seq[FileEntry]) =
          files.partition(f => f.keys.exists(k =>
            touched.rangeFrom(k.lo / perShard).rangeTo(k.hi / perShard).isEmpty))
        def read(snap: Snapshot, files: Seq[FileEntry]): Option[DataFrame] =
          Option.when(files.nonEmpty)(IceLite.readFiles(spark, snap, files))
        def union(parts: Option[DataFrame]*): DataFrame = parts.flatten.reduce(_ unionByName _)
        def commit(name: String, df: DataFrame, keep: Seq[FileEntry],
                   layout: Option[IceLite.FileLayout]): Snapshot =
          IceLite.publish(IceLite.stage(spark, df, table(name), layout = layout),
            "append", nextGen, keep)

        // the role dictionary after the append, fixed before any write:
        // old roles keep their ids, the delta's new ones follow, sorted
        val roles = BuildPipeline.roleList(BuildPipeline.readRoles(root),
          groups.filter(_.getString(0) != Retract).map(_.getString(2)))
        val newDocs = resolved.filter(col("kind") =!= Retract)
          .select("docId", "conv_id", "turn_idx", "role", "tool", "ts", "text")
        // the delta's TF: the only text analyzed. The stats and the
        // postings each analyze it, and each decodes the touched shards'
        // old postings: caching either costs more Spark jobs (a cache is
        // materialized by a job of its own, once per concurrent reader)
        // than the few small reads it saves
        val tfDelta = IndexBuild.tfFromDocs(newDocs, zones)
        val postSnap0 = snapshot("postings")
        // one file per shard (the build's layout, or a re-derive's)
        val (postKeep, postRepl) = split(postSnap0.files, 1L)
        val tfOld = read(postSnap0, postRepl).map(old => PostingIndex.decode(
          old.as[TermPostings](Encoders.product[TermPostings]), roles))
        val totalTurns = docsSnap0.props.get("totalTurns").map(_.toLong).getOrElse(0L) + nAdded

        // The writes depend only on the resolved delta, so they run side
        // by side, each on its own thread (each is a handful of small
        // stages). docs_raw is staged now and published LAST, as the
        // append's commit point, with the report (its own files included)
        // in its props
        val (docsKeep, docsRepl) = split(docsSnap0.files, shardSize)
        val staged = fork(step("docs_raw") {
          IceLite.stage(spark,
            union(read(docsSnap0, docsRepl).map(_.filter(dropOld)), Some(newDocs)),
            table("docs_raw"), layout = BuildPipeline.docLayout(shardSize))
        })

        // stats: exact per-role sums moved by the delta; Σ dlE1 by +tfE1 per
        // added tf row and -tfE1 per removed one
        val statsDone = fork(step("stats") {
          val ddl = union(
            Some(tfDelta.select(col("role"), col("tfE1").cast("long").as("c"))),
            tfOld.map(_.filter(!dropOld).select(col("role"), (-col("tfE1")).cast("long").as("c"))))
            .groupBy("role").agg(sum("c")).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
          val old = BuildPipeline.statsSums(BuildPipeline.readStats(root).get).get
          val sums = (old.keySet ++ dn.keySet ++ ddl.keySet).map { r =>
            val o = old.getOrElse(r, DocSums(0, 0))
            r -> DocSums(o.n + dn(r), o.sumDl + ddl(r))
          }.toMap
          // totalTurns grows only by genuinely NEW docs: counting a delta's
          // raw rows would drift it upward on every idempotent replay
          BuildPipeline.writeStats(root, sums, totalTurns, roles, extra = nextGen)
        })

        try {
          // postings: each touched shard's old rows without the old docs,
          // plus the delta's rows, re-encoded
          val postSnap = step("postings") {
            val rows = union(tfOld.map(_.filter(dropOld)), Some(tfDelta))
            commit("postings",
              PostingIndex.encode(spark, rows, roles.zipWithIndex.toMap, shardSize).toDF(),
              postKeep, BuildPipeline.postingsLayout)
          }
          statsDone()
          val docs = staged()
          val written = postSnap.files.drop(postKeep.size) ++ docs.files
          val done = Report(nReplaced, nAdded, touched.toSeq, nRetracted,
            shardsReused = postKeep.flatMap(_.keys).flatMap(k => k.lo to k.hi).distinct.size,
            filesKept = postKeep.size + docsKeep.size,
            filesWritten = written.size, bytesWritten = written.map(_.bytes).sum,
            stepMs = stepMs.synchronized(stepMs.toMap))
          IceLite.publish(docs, "append",
            nextGen ++ Map("totalTurns" -> totalTurns.toString) ++ done.props, docsKeep)
          done
        } catch {
          case e: Throwable =>
            // let every branch finish before the caches are released
            Seq(statsDone, staged).foreach(f => scala.util.Try(f()))
            throw e
        }
      }
    }
  }

  /** The largest key of a table, from its file entries when they record
    * it (else one agg; -1 when empty). */
  private def maxOf(snap: Snapshot, df: DataFrame, key: String): Long =
    IceLite.maxKey(snap.files).getOrElse {
      val r = df.agg(max(key)).head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }

  /** Run `body` on a new thread; the returned thunk waits for its result
    * (rethrowing its failure). A new thread inherits the caller's Spark
    * local properties, so its jobs carry the caller's job group. */
  private def fork[T](body: => T): () => T = {
    @volatile var result: Either[Throwable, T] = null
    val t = new Thread(() => result = try Right(body) catch { case e: Throwable => Left(e) })
    t.setDaemon(true)
    t.start()
    () => { t.join(); result.fold(e => throw e, identity) }
  }

  /** The postings and stats.json reflect docs_raw's generation, and the
    * stats hold the exact sums the delta moves. */
  private def consistent(root: String, gen: Long): Boolean = {
    def genOf(props: Map[String, String]) = props.get(Generation).map(_.toLong).getOrElse(0L)
    val stats = BuildPipeline.readStats(root).getOrElse(Map.empty)
    IceLite.currentSnapshot(Paths.get(root, "postings").toString).exists(s => genOf(s.props) == gen) &&
      genOf(stats) == gen && BuildPipeline.statsSums(stats).isDefined
  }

  /** Re-derive the postings and the stats from docs_raw with the build's
    * own stage body, stamped with docs_raw's generation. */
  private def rederive(spark: SparkSession, root: String, zones: Option[ZoneConfig],
                       shardSize: Int, gen: Long): Unit =
    BuildPipeline.commitPostings(spark, root, zones, shardSize, appendRoles = true,
      props = Map(Generation -> gen.toString))
}
