package searchspark.index

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import searchspark.model.Turn

/** Incremental (re)index — the batch analog of the reference's
  * `POST /api/indexPage`
  * (/root/reference/src/main/java/searchengine/services/IndexingServiceImpl.java:129-157):
  * a known page is re-fetched and re-indexed in place (its id and the
  * untouched pages' rows survive), an unknown page is added. Here the
  * unit is a batch of turns:
  *
  *  - turns whose (conv_id, turn_idx) key already exists REPLACE their
  *    doc in place, keeping its docId (like the reference keeps the
  *    page row and overwrites rank, Link.java:209-216);
  *  - new keys get fresh docIds appended after the current max (rank
  *    among themselves — matching the reference's AUTO_INCREMENT
  *    semantics for new pages; documented deviation from the cold
  *    build's global-rank ids, invisible to scoring);
  *  - a delta row that BLANKS an existing key's text RETRACTS that doc
  *    (removed from docs_raw/tf, its shard rebuilt without it) — the
  *    failed-refetch delete analog; blanks for unknown keys stay
  *    ignored. Counted in [[Report.retracted]];
  *  - ONLY the doc-range shards containing touched docs have their
  *    posting segments rebuilt; every other shard's compressed segments
  *    are reused as-is and merged by union — this is the external
  *    segment-merge path, exercised at small scale (SURVEY.md §2.4 C9).
  *
  * The cheap global aggregates (term dict stats, dl, corpus stats) are
  * recomputed — they're tiny outputs; the expensive artifact (segments)
  * is strictly delta. Every table lands as a new IceLite snapshot, so a
  * reader mid-update sees the old index atomically.
  *
  * Reused shards stay SOUND under stat drift: blocks carry raw
  * (maxTfE1, minDl) and Wand derives pruning bounds at query time from
  * the post-append idf/avgdl (Scoring.blockBound) — there is no baked
  * maxScore to go stale (round-1 ADVICE fix: a build-time bound ceases
  * to be an upper bound when avgdl grows or a term's df shrinks).
  */
object Incremental {

  final case class Report(replaced: Long, added: Long, shardsRebuilt: Long,
                          shardsReused: Long, retracted: Long = 0L)

  def append(spark: SparkSession, root: String, newTurns: Dataset[Turn],
             partitions: Int, shardSize: Int = 0): Report = {
    def table(name: String) = Paths.get(root, name).toString
    val docsRawOld = IceLite.read(spark, table("docs_raw"))
    // the delta MUST be processed under the BUILD's config: zone setup
    // and shard size come from the manifest (a mismatched shardSize
    // silently mis-shards the rebuilt segments and duplicates kept ones
    // — caught by StreamIngestSpec); an explicit argument is only
    // accepted when it agrees
    val zones = BuildPipeline.readManifest(root).flatMap(_.params.get("zones"))
      .flatMap(BuildPipeline.parseZones)
    val manifestShard = BuildPipeline.manifestShardSize(root)
    require(shardSize <= 0 || manifestShard.forall(_ == shardSize),
      s"shardSize $shardSize contradicts the build manifest ($manifestShard)")
    val effShardSize = manifestShard
      .orElse(Some(shardSize).filter(_ > 0)).getOrElse(PostingIndex.DefaultShardSize)

    // same deterministic key-dedup as the cold build (shared helper —
    // a delta batch repeating a (conv_id, turn_idx) key would otherwise
    // produce multiple docs_raw rows sharing one docId, breaking the
    // tf-rows-unique-per-(docId, term) invariant df/conjunctive/codec
    // all rely on)
    val newDf = DocIds.dedupIndexable(newTurns.toDF())
    val indexable = newDf.as[Turn](newTurns.encoder)

    val oldKeys = docsRawOld.select(col("docId"), col("conv_id"), col("turn_idx"))
    // replaced: keep the existing docId, take the new payload
    val replaced = newDf.join(oldKeys, Seq("conv_id", "turn_idx"))
      .select(col("docId"), col("conv_id"), col("turn_idx"), col("role"),
        col("tool"), col("ts"), col("text"))
    // retracted: a delta row that blanks an EXISTING key's text is a
    // DELETE — the failed-refetch analog (the reference drops a page
    // whose re-crawl errors, IndexingServiceImpl.java:137-141), and the
    // only way to retract content through the incremental/streaming
    // path. Without this, dedupIndexable silently dropped the blank row
    // and the stale document stayed indexed forever (round-2 ADVICE). A
    // key with BOTH a blank and a non-blank row in one batch is a
    // replace, not a delete (dedup keeps the non-blank payload).
    val retracted = newTurns.toDF()
      .filter(col("text").isNull || trim(col("text")) === "")
      .select("conv_id", "turn_idx").distinct()
      .join(newDf.select("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"), "left_anti")
      .join(oldKeys, Seq("conv_id", "turn_idx"))
      .select("docId")
    // fresh: rank among themselves, appended after the current max id
    val maxId = docsRawOld.agg(max("docId")).head.getLong(0)
    val freshTurns = indexable.join(oldKeys.select("conv_id", "turn_idx"),
      Seq("conv_id", "turn_idx"), "left_anti").as[Turn](newTurns.encoder)
    // assignViaRangeExchange, not assign: freshTurns is a join-derived
    // plan (left_anti above), which violates assign's repeatable-scan
    // contract (AQE may re-coalesce between the key pass and the
    // zip-back). Deltas are small — the single wide exchange is
    // irrelevant here.
    val fresh = DocIds.assignViaRangeExchange(spark, freshTurns, partitions)
      .withColumn("docId", col("docId") + lit(maxId + 1))

    val nReplaced = replaced.count()
    val nAdded = fresh.count()
    val nRetracted = retracted.count()
    // retracted docs join the touched set: they vanish from docs_raw/tf
    // below (left_anti) without being re-added, and their shards rebuild
    val touched = replaced.select("docId").union(fresh.select("docId"))
      .union(retracted).cache()

    val oldTotalTurns = IceLite.currentSnapshot(table("docs_raw"))
      .flatMap(_.props.get("totalTurns")).map(_.toLong).getOrElse(0L)
    // totalTurns grows only by genuinely NEW docs: counting a delta's
    // raw rows would drift the metric upward on every idempotent replay
    // of a batch containing blanks/duplicate keys (delta blanks are
    // dropped pre-index and deliberately not added to skippedBlank)
    val newTotalTurns = oldTotalTurns + nAdded

    val docsRawNew = docsRawOld
      .join(touched, Seq("docId"), "left_anti")
      .unionByName(replaced).unionByName(fresh)
    IceLite.commit(spark, docsRawNew, table("docs_raw"), operation = "append",
      props = Map("totalTurns" -> newTotalTurns.toString))
    val docsRaw = IceLite.read(spark, table("docs_raw"))

    // delta TF: only touched docs re-analyzed; untouched tf rows reused
    val tfOld = IceLite.read(spark, table("tf"))
    val tfDelta = IndexBuild.tfFromDocs(
      docsRaw.join(touched, Seq("docId")), zones) // re-read: snapshot-consistent text
    val tfNew = tfOld.join(touched, Seq("docId"), "left_anti").unionByName(tfDelta)
    IceLite.commit(spark, tfNew, table("tf"), operation = "append")
    val tf = IceLite.read(spark, table("tf"))

    // small global outputs: full recompute (identical code path as cold)
    IceLite.commit(spark, IndexBuild.termDict(spark, tf, partitions), table("terms"))
    IceLite.commit(spark, IndexBuild.termsByRole(tf), table("terms_by_role"))
    writeStats(spark, root, docsRaw, tf, newTotalTurns)

    // segment merge: rebuild only shards containing touched docs
    val touchedShards = touched
      .select((col("docId") / effShardSize).cast("int").as("shard")).distinct().cache()
    val idx = BuildPipeline.loadRelational(spark, root)
    val tfTouched = tf
      .withColumn("shard", (col("docId") / effShardSize).cast("int"))
      .join(touchedShards, Seq("shard")).drop("shard")
    val rebuilt = PostingIndex.build(spark, idx.copy(tf = tfTouched), effShardSize).toDF()
    val postingsOld = IceLite.read(spark, table("postings"))
    val kept = postingsOld.join(touchedShards, Seq("shard"), "left_anti")
    val nKept = kept.select("shard").distinct().count()
    val nRebuilt = touchedShards.count()
    IceLite.commit(spark, kept.unionByName(rebuilt), table("postings"))

    touched.unpersist(); touchedShards.unpersist()
    Report(nReplaced, nAdded, nRebuilt, nKept, nRetracted)
  }

  private def writeStats(spark: SparkSession, root: String, docsRaw: DataFrame,
                         tf: DataFrame, totalTurns: Long): Unit = {
    val (stats, byRole) = IndexBuild.corpusStats(docsRaw, tf, totalTurns)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    // APPEND-ONLY role dictionary: existing roles keep their position
    // (kept posting shards encode ids under it and are not re-encoded);
    // roles new to this append go at the END, sorted among themselves.
    // A role with no remaining docs stays listed — ids must never move.
    val statsPath = Paths.get(root, "stats.json")
    val oldRoles: Seq[String] =
      if (!java.nio.file.Files.exists(statsPath)) Nil
      else {
        val ref = new com.fasterxml.jackson.core.`type`.TypeReference[Map[String, String]] {}
        mapper.readValue(statsPath.toFile, ref)
          .get("roles").map(BuildPipeline.decodeRoles).getOrElse(Nil)
      }
    val mergedRoles = oldRoles ++ (byRole.keySet -- oldRoles.toSet).toSeq.sorted
    val payload = Map(
      "n" -> stats.n.toString, "avgdl" -> stats.avgdl.toString,
      "totalTurns" -> stats.totalTurns.toString,
      "skippedBlank" -> stats.skippedBlank.toString,
      "roles" -> BuildPipeline.encodeRoles(mergedRoles)) ++
      byRole.map { case (r, (n, a)) => s"role.$r" -> s"$n:$a" }
    val tmp = Paths.get(root, "stats.json.tmp")
    java.nio.file.Files.write(tmp,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(payload))
    java.nio.file.Files.move(tmp, Paths.get(root, "stats.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
