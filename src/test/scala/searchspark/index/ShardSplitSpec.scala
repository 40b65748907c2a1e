package searchspark.index

import org.scalatest.funsuite.AnyFunSuite

import searchspark.TestSpark


/** Shard ids are docId / shardSize as an Int. These tests build postings
  * over synthetic high-docId fixtures: a shard id far past the old
  * packed-key layout's 2^23 limit encodes, and one past Int range fails
  * the build loudly instead of wrapping into a foreign shard. */
class ShardSplitSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def index(tf: Seq[(Long, String, Long, String, Int)]): BuiltIndex = {
    import spark.implicits._
    BuiltIndex(
      docs = spark.emptyDataFrame,
      tf = tf.toDF("docId", "role", "dlE1", "term", "tfE1"),
      stats = CorpusStats(tf.map(_._1).distinct.size, 1.0, tf.size, 0),
      statsByRole = Map("user" -> (tf.map(_._1).distinct.size.toLong, 1.0)),
      roleList = Seq("user"))
  }

  test("shard id beyond Int range fails closed") {
    // docId 2^44 at shardSize 16 → shard 2^40: an Int cast would wrap it
    // to shard 0; the build must abort naming the docId and shardSize
    val idx = index(Seq((1L << 44, "user", 10L, "alpha", 10)))
    val e = intercept[Exception] {
      PostingIndex.build(spark, idx, shardSize = 16).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("shard id out of Int range") &&
        m.contains(s"docId=${1L << 44}") && m.contains("shardSize=16")),
      s"expected the shard-range guard, got: ${msgs(e).mkString(" | ")}")
  }

  test("a non-positive shardSize fails before any stage runs") {
    import spark.implicits._
    val turns = spark.createDataset(searchspark.gen.TranscriptGen.localCorpus(42L, 2))
    Seq(-4, 0).foreach { size =>
      val root = java.nio.file.Files.createTempDirectory("idx-shard").toString
      val e = intercept[IllegalArgumentException] {
        BuildPipeline.run(spark, turns, root, "gen:42:2", partitions = 2, shardSize = size)
      }
      assert(e.getMessage.contains(size.toString), e.getMessage)
      assert(IceLite.currentSnapshot(java.nio.file.Paths.get(root, "docs_raw").toString).isEmpty,
        s"shardSize $size: a docs_raw snapshot was written")
      intercept[IllegalArgumentException](PostingIndex.build(spark, index(Nil), shardSize = size))
    }
  }

  test("high-docId build the 23/40 split would have rejected") {
    // docId 10^10 at shardSize 16 → shard 6.25·10^8 ≫ 2^23: the old
    // fixed packed-key split raise_error'd here
    val idx = index(Seq(
      (5000000000L, "user", 40L, "alpha", 10),
      (5000000000L, "user", 40L, "beta", 7),
      (5000000016L, "user", 30L, "alpha", 3),
      (9999999999L, "user", 25L, "alpha", 20)))
    val postings = PostingIndex.build(spark, idx, shardSize = 16).collect()
    // shard = docId / shardSize
    val byTermShard = postings.map(p => (p.term, p.shard) -> p).toMap
    assert(byTermShard.keySet == Set(
      ("alpha", (5000000000L / 16).toInt), ("alpha", (5000000016L / 16).toInt),
      ("alpha", (9999999999L / 16).toInt), ("beta", (5000000000L / 16).toInt)))
    // and the blocks carry the exact docIds
    val allDocIds = postings.filter(_.term == "alpha")
      .flatMap(p => Segments.decodeAll(p.blocks)._1).sorted.toSeq
    assert(allDocIds == Seq(5000000000L, 5000000016L, 9999999999L))
    val beta = postings.find(_.term == "beta").get
    assert(Segments.decodeAll(beta.blocks)._1.toSeq == Seq(5000000000L))
  }
}
