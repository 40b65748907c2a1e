package searchspark

import java.nio.file.Paths

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

import searchspark.index.{BuildPipeline, IceLite, IndexBuild, PostingIndex, Segments}
import searchspark.query.SearchEngine

/** Checks shared by the append specs. */
object IndexChecks {

  /** stats.json at `root` equals a full recompute from the root's
    * docs_raw under the manifest's zones: n, the exact Double avgdl and
    * per-role n/avgdl. */
  def assertDictionaryIsRecompute(spark: SparkSession, root: String): Unit = {
    val docsRaw = IceLite.read(spark, Paths.get(root, "docs_raw").toString)
    val tfFull = IndexBuild.tfFromDocs(docsRaw, BuildPipeline.manifestZones(root))
    val idx = BuildPipeline.loadRelational(spark, root)
    val (stats, byRole) = IndexBuild.corpusStats(docsRaw, tfFull, idx.stats.totalTurns)
    assert(idx.stats == stats, s"stats ${idx.stats} != full recompute $stats")
    assert(idx.statsByRole == byRole, s"per-role stats ${idx.statsByRole} != full recompute $byRole")
  }

  /** Every posting stored at `root`, decoded, equals a tf recompute from
    * the root's docs_raw under the manifest's zones, each roleId read
    * through the stats.json role list. Compared as a sorted multiset of
    * (docId, role, dlE1, term, tfE1), so a missing, extra, duplicated or
    * stale posting fails; each posting must also sit in its docId's
    * shard. */
  def assertPostingsAreRecompute(spark: SparkSession, root: String): Unit = {
    val roles = BuildPipeline.loadRelational(spark, root).roleList
    val shardSize = BuildPipeline.manifestShardSize(root).getOrElse(PostingIndex.DefaultShardSize)
    val stored = BuildPipeline.loadPostings(spark, root).collect().toSeq.flatMap { tp =>
      val (d, t, l, r) = Segments.decodeAll(tp.blocks)
      d.indices.map { i =>
        assert(d(i) / shardSize == tp.shard, s"doc ${d(i)} stored in shard ${tp.shard}")
        (d(i), roles(r(i)), l(i), tp.term, t(i))
      }
    }
    val want = IndexBuild.tfFromDocs(IceLite.read(spark, Paths.get(root, "docs_raw").toString),
        BuildPipeline.manifestZones(root))
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getInt(4)))
    val (got, exp) = (stored.sorted, want.sorted)
    if (got != exp) fail(s"decoded postings != tf recompute: ${got.diff(exp).take(5)} stored " +
      s"but not recomputed, ${exp.diff(got).take(5)} recomputed but not stored")
  }

  /** The engine loaded from `root` counts the same df from its serving
    * partitions as a full tf recompute from the root's docs_raw
    * (`termDict` / `termsByRole`): every recomputed term, plus `gone`,
    * globally and in every role of `roleIds` (a role without docs
    * included); a term absent from the recompute must count 0. `gone`
    * names terms that left the index: the engine must count them 0, i.e.
    * unknown, globally and in every role. */
  def assertEngineDfIsRecompute(spark: SparkSession, root: String,
                                gone: Seq[String] = Nil): Unit = {
    val tfFull = IndexBuild.tfFromDocs(IceLite.read(spark, Paths.get(root, "docs_raw").toString))
    val df = IndexBuild.termDict(tfFull).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gone.forall(t => !df.contains(t)), s"fixture sanity: $gone must have left the index")
    val byRole = IndexBuild.termsByRole(tfFull).collect()
      .groupMap(_.getString(0))(r => r.getString(1) -> r.getLong(2)).view.mapValues(_.toMap).toMap
    val probe = df.keys.toSeq ++ gone
    val engine = SearchEngine.load(spark, root)
    try {
      def check(what: String, got: Map[String, Long], want: Map[String, Long]): Unit = {
        val wrong = probe.filter(t => !got.get(t).contains(want.getOrElse(t, 0L)))
        if (wrong.nonEmpty) fail(s"engine df != $what for ${wrong.size} terms, e.g. " +
          wrong.take(5).map(t => s"$t: ${got.get(t)} vs ${want.getOrElse(t, 0L)}").mkString(", "))
      }
      check("the recomputed df", engine.df(probe), df)
      (engine.idx.roleIds.keySet ++ byRole.keySet).foreach { role =>
        check(s"the recomputed df in role $role", engine.df(probe, Some(role)),
          byRole.getOrElse(role, Map.empty))
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
