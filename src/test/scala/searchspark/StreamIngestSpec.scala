package searchspark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import searchspark.gen.TranscriptGen
import searchspark.index.{BuildPipeline, IceLite, PostingIndex}
import searchspark.model.Turn
import searchspark.query.SearchEngine
import searchspark.streaming.StreamIngest

/** Structured-Streaming ingest: micro-batches folded into the persisted
  * index must equal a cold build over the union, and batch replay must
  * be a no-op (the exactly-once watermark). */
class StreamIngestSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ds(turns: Seq[Turn]) = {
    import spark.implicits._
    spark.createDataset(turns)
  }

  test("file-landing stream == cold build over the union; search sees late data") {
    val root = Files.createTempDirectory("stream-idx").toString
    val landing = Files.createTempDirectory("stream-landing").toString
    val ckpt = Files.createTempDirectory("stream-ckpt").toString

    val base = TranscriptGen.localCorpus(42L, 20)
    BuildPipeline.run(spark, ds(base), root, "gen:42:20", partitions = 4, shardSize = 256)

    // two files land → AvailableNow drains them as micro-batches
    val late1 = (200L until 203L).flatMap(TranscriptGen.conversation(42L, _))
    val late2 = (300L until 302L).flatMap(TranscriptGen.conversation(42L, _)) :+
      base.head.copy(text = "streamed replacement wording w0001")
    ds(late1).write.parquet(s"$landing/batch1")
    val q1 = StreamIngest.run(spark, root,
      StreamIngest.fromParquetDir(spark, s"$landing/batch*"), ckpt)
    q1.awaitTermination()
    ds(late2).write.parquet(s"$landing/batch2")
    val q2 = StreamIngest.run(spark, root,
      StreamIngest.fromParquetDir(spark, s"$landing/batch*"), ckpt)
    q2.awaitTermination()

    // the postings and stats equal a recompute from the merged docs_raw
    IndexChecks.assertPostingsAreRecompute(spark, root)
    IndexChecks.assertDictionaryIsRecompute(spark, root)
    IndexChecks.assertEngineDfIsRecompute(spark, root)

    // postings decode-identical to a from-scratch segment build
    val idx = BuildPipeline.loadRelational(spark, root)
    val full = PostingIndex.build(spark, idx, shardSize = 256)
    val incr = BuildPipeline.loadPostings(spark, root)
    def flat(p: org.apache.spark.sql.Dataset[searchspark.model.TermPostings]) =
      p.collect().flatMap { tp =>
        val (d, t, l, ri) = searchspark.index.Segments.decodeAll(tp.blocks)
        d.indices.map(i => (tp.shard, tp.term, d(i), t(i), l(i), ri(i)))
      }.sortBy(x => (x._1, x._2, x._3)).toSeq
    assert(flat(incr) == flat(full))

    // late + replaced content is searchable through the reopened engine
    val engine = SearchEngine.load(spark, root)
    try {
      val r = engine.search("streamed replacement")
      assert(r.ok && r.hits.exists(h =>
        h.conv_id == base.head.conv_id && h.turn_idx == base.head.turn_idx))
    } finally engine.close()
  }

  test("batch replay is a no-op (exactly-once watermark)") {
    val root = Files.createTempDirectory("stream-idx2").toString
    val base = TranscriptGen.localCorpus(42L, 10)
    BuildPipeline.run(spark, ds(base), root, "gen:42:10", partitions = 2, shardSize = 256)

    val delta = (400L until 402L).flatMap(TranscriptGen.conversation(42L, _))
    assert(StreamIngest.applyBatch(spark, root, ds(delta), batchId = 0L))
    val snap1 = IceLite.currentSnapshot(
      java.nio.file.Paths.get(root, "docs_raw").toString).get
    // redelivery of the same batch id (crash-replay semantics) → no-op
    assert(!StreamIngest.applyBatch(spark, root, ds(delta), batchId = 0L))
    val snap2 = IceLite.currentSnapshot(
      java.nio.file.Paths.get(root, "docs_raw").toString).get
    assert(snap1.snapshotId == snap2.snapshotId && snap1.totalRows == snap2.totalRows)

    // a FRESH checkpoint restarts batch numbering: its watermark is
    // independent, so the batch re-applies (idempotent replacement)
    // rather than being silently dropped against the old watermark
    assert(StreamIngest.applyBatch(spark, root, ds(delta), batchId = 0L,
      checkpointId = "fresh-ckpt"))
    val snap3 = IceLite.currentSnapshot(
      java.nio.file.Paths.get(root, "docs_raw").toString).get
    assert(snap3.totalRows == snap2.totalRows,
      "re-applying identical turns must not change the doc set")
  }
}
