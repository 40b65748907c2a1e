package searchspark

import org.scalatest.funsuite.AnyFunSuite

import searchspark.gen.TranscriptGen
import searchspark.index.{CacheScope, DocIds, IndexBuild, Oracles, PostingIndex}

/** Pipeline invariants (FIXTURES.md §5 / SURVEY.md §5.5-5.6):
  * parallelism-invariant ids, per-turn text equality, skew bounds. */
class StabilitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val turns = TranscriptGen.localCorpus(42L, 40)

  private def ds = {
    import spark.implicits._
    spark.createDataset(turns)
  }

  test("generated corpus is identical at any generation parallelism") {
    val a = TranscriptGen.corpus(spark, 42L, 40, partitions = 2).collect()
    val b = TranscriptGen.corpus(spark, 42L, 40, partitions = 17).collect()
    assert(a.sortBy(t => (t.conv_id, t.turn_idx)).toSeq ==
      b.sortBy(t => (t.conv_id, t.turn_idx)).toSeq)
    assert(a.toSeq.sortBy(t => (t.conv_id, t.turn_idx)) ==
      turns.sortBy(t => (t.conv_id, t.turn_idx)))
  }

  test("docId assignment is invariant to partitioning (SURVEY §7.3)") {
    val a = CacheScope(DocIds.assign(spark, ds, partitions = 2, _)
      .select("docId", "conv_id", "turn_idx").collect())
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq
    val b = CacheScope(DocIds.assign(spark, ds, partitions = 11, _)
      .select("docId", "conv_id", "turn_idx").collect())
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(a == b)
    // dense ranks in key order
    assert(a.map(_._1) == a.indices.map(_.toLong))
    assert(a == a.sortBy(x => (x._2, x._3)))
  }

  test("zip assign == range-exchange assign == dedupIndexable (max tuple per key)") {
    import java.sql.Timestamp
    import searchspark.model.Turn
    import org.apache.spark.sql.functions.col
    // duplicate keys with conflicting tuples (incl. null role/tool/ts),
    // blank and null texts, a key whose max is decided by each tiebreak
    // field in turn — the fused window path must pick the same row as
    // the groupBy-max form for every key
    val rows = Seq(
      Turn("c1", 0, "user", "old text", null, new Timestamp(1000L)),
      Turn("c1", 0, "user", "new text", null, new Timestamp(2000L)), // ts decides
      Turn("c1", 1, "assistant", "a", null, new Timestamp(1000L)),
      Turn("c1", 1, null, "b", null, new Timestamp(1000L)),          // role decides (null < any)
      Turn("c2", 0, "tool", "x", "bash", new Timestamp(500L)),
      Turn("c2", 0, "tool", "x", "web", new Timestamp(500L)),        // tool decides
      Turn("c2", 1, "user", "p", null, new Timestamp(500L)),
      Turn("c2", 1, "user", "q", null, new Timestamp(500L)),         // text decides
      Turn("c3", 0, "user", "   ", null, new Timestamp(1L)),         // blank: dropped
      Turn("c3", 1, "user", null, null, new Timestamp(1L)),          // null: dropped
      Turn("c3", 2, null, "keep me", null, null))                    // null role+ts survive
    import spark.implicits._
    val dsDup = spark.createDataset(rows)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .select("docId", "conv_id", "turn_idx", "role", "tool", "ts", "text")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    // the zero-text-shuffle zip path (incl. its contested tie-break:
    // (c2,1) ties on (ts, role, tool) and only the texts differ) ...
    val fused = CacheScope(s => rowsOf(DocIds.assign(spark, dsDup, partitions = 3, s)))
    // ... must agree with BOTH independent forms: the single-exchange
    // fused window form and the groupBy-max spec form
    val viaExchange = CacheScope(s => rowsOf(Oracles.assignViaRangeExchange(spark, dsDup, 3, s)))
    val unfused = CacheScope(s => rowsOf(Oracles.withRank(
      DocIds.dedupIndexable(dsDup.toDF()),
      Seq(col("conv_id"), col("turn_idx")), 3, "docId", s)))
    assert(fused == unfused)
    assert(viaExchange == unfused)
    assert(fused.size == 5) // one row per surviving key; blanks gone
    val byKey = fused.map(r => (r(1), r(2)) -> r(6)).toMap
    assert(byKey(("c1", 0)) == "new text")
    assert(byKey(("c2", 1)) == "q")
    assert(byKey(("c3", 2)) == "keep me")
  }

  test("row invariant: per-turn text equality through the build (input_hint)") {
    val idx = IndexBuild.build(spark, ds, partitions = 3)
    val carried = idx.docs.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    val source = turns.filter(t => t.text != null && t.text.trim.nonEmpty)
      .map(t => (t.conv_id, t.turn_idx) -> t.text).toMap
    assert(carried == source)
  }

  test("TF kernel == declarative groupBy form, unzoned and zoned") {
    import searchspark.model.ZoneConfig
    val scope = new CacheScope
    val docsRaw = DocIds.assign(spark, ds, partitions = 3, scope)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .select("docId", "role", "dlE1", "term", "tfE1").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getInt(4)))
      .sortBy(t => (t._1, t._4)).toSeq
    assert(rowsOf(IndexBuild.tfFromDocs(docsRaw)) ==
      rowsOf(Oracles.tfFromDocsDeclarative(docsRaw)))
    val z = Some(ZoneConfig(titleTokens = 5))
    assert(rowsOf(IndexBuild.tfFromDocs(docsRaw, z)) ==
      rowsOf(Oracles.tfFromDocsDeclarative(docsRaw, z)))
    scope.release()
  }

  test("uncached parquet build == in-memory build (cache-skip path, ADVICE r4)") {
    // The production/bench path: input is a bare parquet scan, which the
    // build classifies repeatable and does NOT cache — both DocIds passes
    // re-scan the files. Pin that this path produces the identical index
    // (TF rows imply rank/score identity; stats pin avgdl/N) and carries
    // per-turn text equality, vs the cached in-memory-dataset build.
    val dir = java.nio.file.Files.createTempDirectory("graft-uncached").toFile
    dir.deleteOnExit()
    val p = new java.io.File(dir, "turns.parquet").getAbsolutePath
    ds.write.mode("overwrite").parquet(p)
    // RepeatableScanSpec pins that this exact shape classifies as a
    // repeatable scan, i.e. the build below runs UNCACHED.
    val fromFiles = IndexBuild.readTranscripts(spark, p)
    val a = IndexBuild.build(spark, fromFiles, partitions = 3)
    val b = IndexBuild.build(spark, ds, partitions = 3)
    def tfRows(idx: searchspark.index.BuiltIndex) = idx.tf
      .select("docId", "role", "dlE1", "term", "tfE1").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getInt(4)))
      .sortBy(t => (t._1, t._4)).toSeq
    assert(tfRows(a) == tfRows(b))
    assert(a.stats == b.stats)
    val carried = a.docs.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    val source = turns.filter(t => t.text != null && t.text.trim.nonEmpty)
      .map(t => (t.conv_id, t.turn_idx) -> t.text).toMap
    assert(carried == source)
  }

  test("skew fixture: stopword-tier terms are bounded by sharding") {
    val idx = IndexBuild.build(spark, ds, partitions = 3)
    val shardSize = 128
    val postings = PostingIndex.build(spark, idx, shardSize = shardSize)
    val byShardTerm = postings.collect()
    // no (shard, term) group ever exceeds the shard size — the Zipf head
    // cannot produce a straggler group
    assert(byShardTerm.forall(tp => tp.blocks.map(_.count).sum <= shardSize))
    // and the hottest term (filler00, df≈0.9N) is spread over all shards
    val nShards = byShardTerm.map(_.shard).distinct.length
    val fillerShards = byShardTerm.filter(_.term == TranscriptGen.FillerTerms.head)
      .map(_.shard).distinct.length
    assert(fillerShards == nShards)
  }
}
