package searchspark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import searchspark.gen.TranscriptGen
import searchspark.index.IceLite
import searchspark.index.IndexBuild
import searchspark.oracle.ScalarOracle
import searchspark.stats.StatsService

/** C11 statistics rollup vs oracle + IceLite snapshot isolation. */
class StatsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val turns = TranscriptGen.localCorpus(42L, 30)

  test("statistics rollup matches the oracle") {
    import spark.implicits._
    val idx = IndexBuild.build(spark, spark.createDataset(turns), partitions = 3)
    val oracle = new ScalarOracle(turns)
    val s = StatsService.collect(idx)
    assert(s.totalDocs == oracle.docCount)
    assert(s.totalTerms == oracle.termCount)
    assert(s.skippedBlank == oracle.skippedBlank)
    assert(s.avgdl == oracle.avgdlGlobal)
    assert(s.scopes.map(_.scope).sorted == Seq("assistant", "tool", "user"))
    assert(s.scopes.map(_.docs).sum == s.totalDocs)
  }

  test("failed build is visible in the statistics rollup (status + last_error)") {
    import spark.implicits._
    import searchspark.index.BuildPipeline
    val root = Files.createTempDirectory("idx-status").toString
    val ds = spark.createDataset(turns)
    // fault-injected crash after the docs_raw stage: the persisted status must
    // say so, with the stage and the error, long after this JVM's state
    // is gone — that is what the reference's FAILED+last_error site row
    // gives a monitoring user
    intercept[BuildPipeline.InjectedFailure] {
      BuildPipeline.run(spark, ds, root, "stats:v1", partitions = 3,
        failAfter = Some("docs_raw"))
    }
    val failed = BuildPipeline.readBuildStatus(root).get
    assert(failed.status == "failed" && failed.stage == "docs_raw")
    assert(failed.error.contains("injected failure"))
    assert(failed.statusTimeMs > 0 && failed.elapsedMs >= 0)

    // resume to completion: status flips to done and the full rollup
    // carries it (indexed == true only on a clean build)
    BuildPipeline.run(spark, ds, root, "stats:v1", partitions = 3)
    val s = StatsService.collect(BuildPipeline.loadRelational(spark, root), root)
    assert(s.build.exists(_.status == "done") && s.indexed)
    assert(s.totalDocs > 0)

    // and a rollup over a root mid-crash (failed marker present) reports
    // not-indexed
    val failedStats = s.copy(build = Some(failed))
    assert(!failedStats.indexed)
  }

  test("statistics rollup after an append equals a cold build of the final turns") {
    import spark.implicits._
    import searchspark.index.{BuildPipeline, Incremental}
    import searchspark.model.Turn
    val root = Files.createTempDirectory("idx-stats-append").toString
    // one doc holds the only "auditor" role and the only "qqzzyx" term
    val solo = Turn("solo-conv", 0, "auditor", "qqzzyx audits w0001 tables", null,
      new java.sql.Timestamp(1700000000000L))
    val base = turns :+ solo
    BuildPipeline.run(spark, spark.createDataset(base), root, "stats:append", partitions = 3,
      shardSize = 256)
    // retract the solo doc (its term and its role empty), replace a turn,
    // add a conversation
    val delta = Seq(solo.copy(text = ""), base.head.copy(text = "aaaa replaced wording w0002")) ++
      TranscriptGen.conversation(42L, 900L)
    Incremental.append(spark, root, spark.createDataset(delta))

    val keys = delta.map(t => (t.conv_id, t.turn_idx)).toSet
    val finalTurns = base.filterNot(t => keys((t.conv_id, t.turn_idx))) ++ delta
    val got = StatsService.collect(BuildPipeline.loadRelational(spark, root))
    val want = StatsService.collect(IndexBuild.build(spark, spark.createDataset(finalTurns),
      partitions = 3))
    assert(got.totalDocs == want.totalDocs && got.totalTerms == want.totalTerms)
    assert(got.totalTerms == new ScalarOracle(finalTurns).termCount)
    assert(got.scopes.map(s => (s.scope, s.docs, s.terms)) ==
      want.scopes.map(s => (s.scope, s.docs, s.terms)))
    assert(!got.scopes.exists(_.scope == "auditor"), "a role without docs has no scope row")
  }

  test("IceLite: overwrite commits are snapshot-isolated + time travel works") {
    import spark.implicits._
    val t = Files.createTempDirectory("icelite").toString
    IceLite.commit(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"), t)
    val snap0 = IceLite.currentSnapshot(t).get
    IceLite.commit(spark, Seq((3, "c")).toDF("id", "v"), t)
    val snap1 = IceLite.currentSnapshot(t).get
    assert(snap1.snapshotId == snap0.snapshotId + 1)
    assert(snap1.parentId == snap0.snapshotId)
    // current points at the new snapshot; the old one stays readable
    assert(IceLite.read(spark, t).count() == 1)
    assert(IceLite.read(spark, t, Some(snap0.snapshotId)).count() == 2)
    // lineage: per-file rows sum to total
    assert(snap1.files.map(_.rows).sum == snap1.totalRows)
  }
}
