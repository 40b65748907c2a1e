package searchspark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import searchspark.gen.TranscriptGen
import searchspark.index.BuildPipeline
import searchspark.oracle.ScalarOracle
import searchspark.query.SearchEngine

/** Resumability + persistence gate (BASELINE.md "resumability" row):
  * a build killed mid-pipeline and resumed must produce an index
  * row-identical to a cold build, with per-stage lineage recorded; the
  * persisted index must answer queries rank-identically to the oracle. */
class ResumeSpec extends AnyFunSuite {

  private val convs = TranscriptGen.UnitConvs * 2 // ~800 turns
  private lazy val spark = TestSpark.spark
  private def corpus = {
    import spark.implicits._
    spark.createDataset(TranscriptGen.localCorpus(TranscriptGen.DefaultSeed, convs))
  }

  private def tableRows(root: String, name: String): Seq[String] = {
    import java.nio.file.Paths
    // toJSON base64-encodes binary columns → value comparison (a raw
    // Row.toString would print Array[Byte] identities)
    searchspark.index.IceLite.read(spark, Paths.get(root, name).toString)
      .toJSON.collect().sorted.toSeq
  }

  test("cold build == kill-after-docs_raw + resume, row-identical tables") {
    val cold = Files.createTempDirectory("idx-cold").toString
    val resumed = Files.createTempDirectory("idx-resume").toString

    val r1 = BuildPipeline.run(spark, corpus, cold, "gen:42:" + convs, partitions = 4)
    assert(r1.ranStages == Seq("docs_raw", "postings") && r1.skippedStages.isEmpty)

    // killed build: crashes after the docs_raw stage commits
    intercept[BuildPipeline.InjectedFailure] {
      BuildPipeline.run(spark, corpus, resumed, "gen:42:" + convs,
        partitions = 4, failAfter = Some("docs_raw"))
    }
    val m = BuildPipeline.readManifest(resumed).get
    assert(m.stages.contains("docs_raw") && !m.stages.contains("postings"))
    assert(!Files.exists(java.nio.file.Paths.get(resumed, "stats.json")))

    // resume: earlier stages skipped, rest run
    val r2 = BuildPipeline.run(spark, corpus, resumed, "gen:42:" + convs, partitions = 4)
    assert(r2.skippedStages == Seq("docs_raw"))
    assert(r2.ranStages == Seq("postings"))

    Seq("docs_raw", "postings").foreach { t =>
      assert(tableRows(cold, t) == tableRows(resumed, t), s"table $t differs")
    }
    def stats(root: String) = {
      val idx = BuildPipeline.loadRelational(spark, root)
      (idx.stats, idx.statsByRole, idx.roleList)
    }
    assert(stats(cold) == stats(resumed), "stats.json differs")
  }

  test("already-complete build is a full no-op resume") {
    val root = Files.createTempDirectory("idx-noop").toString
    BuildPipeline.run(spark, corpus, root, "gen:42:" + convs, partitions = 4)
    val r = BuildPipeline.run(spark, corpus, root, "gen:42:" + convs, partitions = 4)
    assert(r.ranStages.isEmpty && r.skippedStages.size == 2)
  }

  test("changed params invalidate checkpoints (full rebuild)") {
    val root = Files.createTempDirectory("idx-params").toString
    BuildPipeline.run(spark, corpus, root, "gen:42:" + convs, partitions = 4)
    val r = BuildPipeline.run(spark, corpus, root, "gen:42:" + convs,
      partitions = 4, shardSize = 128)
    assert(r.ranStages.size == 2)
  }

  test("per-stage lineage records rows + elapsed + fingerprint") {
    val root = Files.createTempDirectory("idx-lineage").toString
    BuildPipeline.run(spark, corpus, root, "gen:42:" + convs, partitions = 4)
    val m = BuildPipeline.readManifest(root).get
    assert(m.stages.keySet == Set("docs_raw", "postings"))
    m.stages.values.foreach { s =>
      assert(s.status == "done" && s.rows > 0 && s.fingerprint.nonEmpty)
    }
    // IceLite per-file lineage exists and sums to table rows
    val snap = searchspark.index.IceLite.currentSnapshot(
      java.nio.file.Paths.get(root, "postings").toString).get
    assert(snap.files.nonEmpty)
    assert(snap.files.map(_.rows).sum == snap.totalRows)
  }

  test("persisted index answers rank-identically to the oracle") {
    val root = Files.createTempDirectory("idx-query").toString
    BuildPipeline.run(spark, corpus, root, "gen:42:" + convs, partitions = 4)
    val idx = BuildPipeline.loadRelational(spark, root).cache()
    val postings = BuildPipeline.loadPostings(spark, root).cache()
    val oracle = new ScalarOracle(TranscriptGen.localCorpus(TranscriptGen.DefaultSeed, convs))
    val spec = new RankIdentitySpec
    val engine = SearchEngine(spark, idx, postings)
    QueryFixtures.deriveQueries(oracle).filter(_.scope.isEmpty).foreach { q =>
      val expect = oracle.search(q.query, None, q.offset, q.limit)
      val got = engine.search(q.query, None, q.offset, q.limit)
      spec.assertSame("persisted-" + q.id, got, expect)
    }
    engine.close(); idx.unpersist(); postings.unpersist()
  }
}
