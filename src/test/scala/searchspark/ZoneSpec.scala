package searchspark

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import searchspark.gen.TranscriptGen
import searchspark.index.{IndexBuild, PostingIndex}
import searchspark.model.{Turn, ZoneConfig}
import searchspark.oracle.ScalarOracle
import searchspark.query.SearchEngine

/** C5 zone-weighted TF (reference Link.java:88-100,209-216: rank =
  * tf_in_tag × ratio, title 1.0 / body 0.8, body overwriting title):
  * the zoned engine build must stay rank-identical to the zoned oracle,
  * and the weighting must actually change rankings where the zones
  * disagree. */
class ZoneSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val zones = Some(ZoneConfig(titleTokens = 3))

  test("zoned build is rank-identical to the zoned oracle on the query set") {
    import spark.implicits._
    val turns = QueryFixtures.corpus(TranscriptGen.UnitConvs * 2)
    val oracle = new ScalarOracle(turns, zones)
    val idx = IndexBuild.build(spark, spark.createDataset(turns), partitions = 4,
      zones = zones).cache()
    val postings = PostingIndex.build(spark, idx, shardSize = 512).cache()
    val spec = new RankIdentitySpec
    val engine = SearchEngine(spark, idx, postings, shardSize = 512)
    try {
      QueryFixtures.deriveQueries(oracle).foreach { q =>
        val expect = oracle.search(q.query, q.scope, q.offset, q.limit)
        val got = engine.search(q.query, q.scope, q.offset, q.limit)
        spec.assertSame("zoned-" + q.id, got, expect)
      }
    } finally { engine.close(); idx.unpersist(); postings.unpersist() }
  }

  test("incremental append to a ZONED build analyzes the delta under the manifest's zones") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("zone-incr").toString
    val base = QueryFixtures.corpus(TranscriptGen.UnitConvs)
    searchspark.index.BuildPipeline.run(spark, spark.createDataset(base), root,
      "gen:42:zoned", partitions = 4, shardSize = 256, zones = zones)
    val delta = (600L until 602L).flatMap(TranscriptGen.conversation(42L, _))
    searchspark.index.Incremental.append(spark, root,
      spark.createDataset(delta), partitions = 4)
    // the merged tf must equal a full ZONED recompute — if the append
    // had analyzed the delta unzoned, delta rows would carry plain
    // 10x-count tfE1 instead of the weighted values
    val docsRaw = searchspark.index.IceLite.read(spark,
      java.nio.file.Paths.get(root, "docs_raw").toString)
    val tfIncr = searchspark.index.IceLite.read(spark,
      java.nio.file.Paths.get(root, "tf").toString)
    val tfFull = searchspark.index.IndexBuild.tfFromDocs(docsRaw, zones)
    assert(tfIncr.exceptAll(tfFull).count() == 0 && tfFull.exceptAll(tfIncr).count() == 0,
      "zoned incremental tf != zoned full recompute")
  }

  test("zone weighting flips a ranking the unzoned build breaks by docId") {
    import spark.implicits._
    val ts = new Timestamp(0L)
    // identical token multisets (same dl); the target term sits in the
    // TITLE zone (first 3 raw tokens) of convB and in the BODY of convA
    val turns = Seq(
      Turn("convA", 0, "user", "w8881 w8882 w8883 w9991", null, ts),
      Turn("convB", 0, "user", "w9991 w8881 w8882 w8883", null, ts),
      // padding so the query term's df/N stays under the 0.85 prune
      Turn("convC", 0, "user", "w7771 w7772 w7773 w7774", null, ts),
      Turn("convD", 0, "user", "w7771 w7772 w7773 w7774", null, ts),
      Turn("convE", 0, "user", "w7771 w7772 w7773 w7774", null, ts))
    def topIds(z: Option[ZoneConfig]): Seq[Long] = {
      val idx = IndexBuild.build(spark, spark.createDataset(turns), partitions = 2,
        zones = z)
      val postings = PostingIndex.build(spark, idx, shardSize = 16)
      val engine = SearchEngine(spark, idx, postings, shardSize = 16)
      val r = try engine.search("w9991") finally engine.close()
      r.hits.map(_.docId)
    }
    // unzoned: equal scores → tie-break docId asc → convA (id 0) first
    assert(topIds(None) == Seq(0L, 1L))
    // zoned: convB has the term title-only (weight 1.0) vs convA's
    // body-occurrence (weight 0.8) → convB outranks convA
    assert(topIds(zones) == Seq(1L, 0L))

    // and the oracle agrees on the zoned ordering
    val oracle = new ScalarOracle(turns, zones)
    assert(oracle.search("w9991").hits.map(_.docId) == Seq(1L, 0L))
  }
}
