package searchspark

import java.nio.file.Paths

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}
import org.scalatest.Assertions._

import searchspark.index.{BuildPipeline, IceLite, IndexBuild}
import searchspark.query.SearchEngine

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

  /** The engine loaded from `root` counts the same df from its serving
    * partitions as the dictionary tables hold: for every term of `terms`
    * its df, and in every role (those of `roleIds`, a role without docs
    * included) every term's df in `terms_by_role`, 0 where the table has
    * no row. `gone` names terms that left the dictionary (df 0): the
    * engine must count them 0, i.e. unknown, globally and in every role. */
  def assertEngineDfIsDictionary(spark: SparkSession, root: String,
                                 gone: Seq[String] = Nil): Unit = {
    val engine = SearchEngine.load(spark, root)
    try {
      val idx = engine.idx
      val df = idx.terms.select("term", "df").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(gone.forall(t => !df.contains(t)), s"fixture sanity: $gone must have left `terms`")
      val probe = df.keys.toSeq ++ gone
      def check(what: String, got: Map[String, Long], table: Map[String, Long]): Unit = {
        val wrong = probe.filter(t => !got.get(t).contains(table.getOrElse(t, 0L)))
        if (wrong.nonEmpty) fail(s"engine df != $what for ${wrong.size} terms, e.g. " +
          wrong.take(5).map(t => s"$t: ${got.get(t)} vs ${table.getOrElse(t, 0L)}").mkString(", "))
      }
      check("`terms`", engine.df(probe), df)
      val byRole = idx.termsByRole.select("role", "term", "df").collect()
        .groupMap(_.getString(0))(r => r.getString(1) -> r.getLong(2)).view.mapValues(_.toMap).toMap
      (idx.roleIds.keySet ++ byRole.keySet).foreach { role =>
        check(s"`terms_by_role` in role $role", engine.df(probe, Some(role)), byRole.getOrElse(role, Map.empty))
      }
    } finally engine.close()
  }

  /** SQL executions the session has started, once the listener bus has
    * delivered every event. */
  def sqlExecutions(spark: SparkSession): Long = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sharedState.statusStore.executionsCount()
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
