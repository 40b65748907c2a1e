package searchspark.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import searchspark.index.Incremental
import searchspark.model.Turn

/** Continuous index maintenance over a transcript STREAM — the
  * Structured-Streaming form of the reference's `POST /api/indexPage`
  * (IndexingServiceImpl.java:129-157, one page re-indexed in place;
  * here: every micro-batch of turns is folded into the persisted index).
  *
  * The reference itself has no streaming surface (SURVEY.md §2.5) — this
  * is the ingestion-side extension a transcript pipeline needs: an
  * `readStream` source (files landing in a directory, Kafka, …) feeds
  * `foreachBatch`, and each batch runs [[Incremental.append]]: replaced
  * keys keep their docId, new keys append, only touched doc-range
  * shards get new files, and every table lands as a NEW IceLite
  * snapshot — a search engine reopened after any batch sees a complete,
  * consistent index.
  *
  * Exactly-once at the index level: Spark's checkpoint gives at-least-
  * once `foreachBatch` delivery; a batch-id high-watermark recorded
  * ATOMICALLY in the index root after each append makes replays no-ops,
  * so a crash between append and checkpoint commit cannot double-apply
  * (an append interrupted before its docs_raw commit is re-derived from
  * docs_raw by the next one — see Incremental).
  */
object StreamIngest {

  /** Batch ids only mean something WITHIN one streaming checkpoint —
    * a fresh/different checkpoint restarts numbering at 0, so the
    * watermark is keyed by the checkpoint IDENTITY: Spark's persisted
    * query id from `<checkpointDir>/metadata` (a new uuid every time
    * the checkpoint is created, including delete+recreate of the SAME
    * path — the path string alone would keep the stale watermark and
    * silently drop restarted batches). A restarted stream with a new
    * checkpoint therefore re-applies from scratch, which is safe:
    * re-appending already-indexed turns replaces them with identical
    * content (idempotent). */
  private[streaming] def checkpointIdentity(checkpointDir: String): String = {
    val p = Paths.get(checkpointDir, "metadata")
    if (!Files.exists(p)) checkpointDir
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s)
        .map(_.group(1)).getOrElse(checkpointDir)
    }
  }

  private def ckptKey(checkpointId: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(checkpointId.getBytes(StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
  }
  private def watermarkPath(root: String, checkpointId: String) =
    Paths.get(root, s"stream_batch_watermark_${ckptKey(checkpointId)}")

  private[streaming] def lastApplied(root: String, checkpointId: String): Long = {
    val p = watermarkPath(root, checkpointId)
    if (!Files.exists(p)) -1L
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong
  }

  private def recordApplied(root: String, checkpointId: String, batchId: Long): Unit = {
    val tmp = Paths.get(root, s"stream_batch_watermark_${ckptKey(checkpointId)}.tmp")
    Files.write(tmp, batchId.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, watermarkPath(root, checkpointId),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Apply one micro-batch (exposed for tests / manual batches). An
    * empty batch commits nothing: the append's first job finds no keys.
    * `partitions` is not read (the append is sized by the shards it
    * touches); it stays because callers pass it positionally before
    * `checkpointId`. */
  def applyBatch(spark: SparkSession, root: String, batch: Dataset[Turn],
                 batchId: Long, partitions: Int = 0,
                 checkpointId: String = "default"): Boolean = {
    if (batchId <= lastApplied(root, checkpointId)) false // replay after crash → no-op
    else {
      Incremental.append(spark, root, batch)
      recordApplied(root, checkpointId, batchId)
      true
    }
  }

  /** Start the ingest query over any streaming Dataset[Turn]. Caller
    * owns the trigger cadence via `trigger` (AvailableNow drains what
    * exists and stops — the batch-catch-up mode; ProcessingTime runs
    * forever). The index root must hold an existing cold build
    * (BuildPipeline.run) — streams extend indexes, they don't bootstrap
    * them. */
  def run(spark: SparkSession, root: String, stream: Dataset[Turn],
          checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Turn], batchId: Long) =>
        // resolved per batch: Spark has written the metadata id by the
        // time the first batch fires
        applyBatch(spark, root, batch, batchId,
          checkpointId = checkpointIdentity(checkpointDir)): Unit
      }
      .start()

  /** Convenience: a parquet-file landing zone as the stream source
    * (new files under `landingDir` become micro-batches). */
  def fromParquetDir(spark: SparkSession, landingDir: String): Dataset[Turn] = {
    import spark.implicits._
    spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Turn].schema)
      .parquet(landingDir)
      .as[Turn]
  }
}
