package searchspark

import java.nio.file.Paths

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}
import org.scalatest.Assertions._

import searchspark.index.{BuildPipeline, IceLite, IndexBuild}

/** Checks shared by the append specs. */
object IndexChecks {

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** `terms` (term, df, cf), `terms_by_role` and stats.json at `root`
    * equal a full recompute from the root's docs_raw: n, the exact
    * Double avgdl and per-role n/avgdl. termIds are unique. */
  def assertDictionaryIsRecompute(spark: SparkSession, root: String): Unit = {
    val docsRaw = IceLite.read(spark, Paths.get(root, "docs_raw").toString)
    val tfFull = IndexBuild.tfFromDocs(docsRaw)
    val idx = BuildPipeline.loadRelational(spark, root)
    val termsFull = tfFull.groupBy("term").agg(count(lit(1)).as("df"), sum("tfE1").as("cf"))
    assert(rows(idx.terms.select("term", "df", "cf")) == rows(termsFull),
      "incremental terms != full recompute")
    assert(idx.terms.select("termId").distinct().count() == idx.terms.count(),
      "termIds must be unique")
    assert(rows(idx.termsByRole.select("role", "term", "df")) ==
      rows(IndexBuild.termsByRole(tfFull)), "incremental terms_by_role != full recompute")
    val (stats, byRole) = IndexBuild.corpusStats(docsRaw, tfFull, idx.stats.totalTurns)
    assert(idx.stats == stats, s"stats ${idx.stats} != full recompute $stats")
    assert(idx.statsByRole == byRole, s"per-role stats ${idx.statsByRole} != full recompute $byRole")
  }

  /** Jobs `body` submits, counted through a job group once the listener
    * bus has delivered every event. */
  def countJobs(sc: SparkContext)(body: => Unit): Int = {
    val group = s"indexchecks-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "jobs of one call")
    try body finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
