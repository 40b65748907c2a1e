package searchspark.stats

import org.apache.spark.sql.functions._

import searchspark.index.{BuildPipeline, BuiltIndex, IndexBuild}

/** Statistics rollup — port of the reference's `GET /api/statistics`
  * (/root/reference/src/main/java/searchengine/services/StatisticsServiceImpl.java:34-75):
  * per scope (site ↔ role) the page count (code=200 ↔ non-blank),
  * lemma count, and status info; plus a totals row. Lemma counts are
  * two aggregates over tf's (role, term) columns (no dictionary table
  * is stored; a rollup is a rare admin call) — the reference recomputes
  * per-site counts with one JPA query per site per metric. */
object StatsService {

  final case class ScopeStats(scope: String, docs: Long, terms: Long, avgdl: Double)
  final case class Statistics(
      totalDocs: Long, totalTerms: Long, skippedBlank: Long,
      avgdl: Double, scopes: Seq[ScopeStats],
      build: Option[BuildPipeline.BuildStatus] = None) {
    /** The reference's `total.indexing` flag: true only when the last
      * build completed cleanly (unknown-status roots count as indexed
      * for backward compatibility with pre-status builds). */
    def indexed: Boolean = build.forall(_.status == "done")
  }

  def collect(idx: BuiltIndex): Statistics = {
    val perRoleTerms = IndexBuild.termsByRole(idx.tf).groupBy("role")
      .agg(count(lit(1)).as("n_terms")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val scopes = idx.statsByRole.toSeq.sortBy(_._1).map { case (role, (n, avgdl)) =>
      ScopeStats(role, n, perRoleTerms.getOrElse(role, 0L), avgdl)
    }
    Statistics(idx.stats.n, IndexBuild.termDict(idx.tf).count(), idx.stats.skippedBlank,
      idx.stats.avgdl, scopes)
  }

  /** Root-aware rollup: doc/term/avgdl stats PLUS the persisted build
    * lifecycle (status, last stage, last_error, status_time, elapsed) —
    * the reference surfaces FAILED sites with their error in the same
    * statistics response (StatisticsServiceImpl.java:49-60), and a
    * monitoring user must see a dead build here, not discover it by
    * querying an empty index. */
  def collect(idx: BuiltIndex, root: String): Statistics =
    collect(idx).copy(build = BuildPipeline.readBuildStatus(root))
}
