package searchspark.query

import org.apache.spark.rdd.RDD

import searchspark.analyze.Analyzer
import searchspark.index.BuiltIndex
import searchspark.model.SearchResult

/** The driver side of a search — the reference's Q1 step of
  * `GET /api/search` (SearchingServiceImpl.java:47-67, :235-257;
  * SURVEY.md §3.1): analyze the query, look up each term's df, drop
  * unknown terms and prune stopword-tier ones. [[SearchEngine.search]]
  * runs it before Wand's scatter.
  *
  * Scale notes: the only per-query driver data are the query-term stats
  * (|q| rows). A term's df is counted from the engine's serving
  * partitions ([[servingDf]]: |q| longs per partition, no Catalyst
  * plan); the index stores no term dictionary.
  */
object SearchService {

  /** Analyze, look up scope-local df, drop unknown terms, prune ≥0.85-df
    * terms. Returns (survivingTermsAsc, dfMap, n, avgdl) or an error
    * result.
    *
    * df comes from one [[servingDf]] job over the serving partitions,
    * which counts a scope by its roleId, so a scope with stats but no
    * roleId (corrupt stats.json) answers "Nothing found" without a job.
    *
    * `dfCache`: driver-side term→df cache (a dictionary cache, standard
    * in search serving). Safe because a BuiltIndex is an immutable
    * snapshot; misses are stored as 0 so unknown terms also skip the
    * Spark lookup on repeat. Scope-local df is a different keyspace —
    * cached under a "role NUL term" key so warm SCOPED queries also run
    * as the engine's one scatter job. */
  private[searchspark] def planTerms(
      idx: BuiltIndex, serving: RDD[ServingPartition],
      dfCache: scala.collection.concurrent.Map[String, Long],
      query: String, scope: Option[String])
    : Either[SearchResult, (Seq[String], Map[String, Long], Long, Double)] = {
    if (query == null || query.trim.isEmpty)
      return Left(SearchResult(ok = false, 0, Nil, "Empty search query"))

    val (n, avgdl) = scope match {
      case None => (idx.stats.n, idx.stats.avgdl)
      case Some(r) => idx.statsByRole.getOrElse(r, (0L, 0.0))
    }
    if (n == 0) return Left(SearchResult(ok = false, 0, Nil, "Nothing found"))
    val roleId = scope match {
      case Some(r) => idx.roleIds.getOrElse(r, return Left(SearchResult(ok = false, 0, Nil, "Nothing found")))
      case None => -1
    }

    val qTerms = Analyzer.analyzeQuery(query)
    if (qTerms.isEmpty)
      return Left(SearchResult(ok = false, 0, Nil, "Nothing found"))

    def cacheKey(t: String): String =
      scope.map(r => r + "\u0000" + t).getOrElse(t)
    val (hit, miss) = qTerms.partition(t => dfCache.contains(cacheKey(t)))
    val fetched = if (miss.isEmpty) Map.empty[String, Long] else servingDf(serving, miss, roleId)
    miss.foreach(t => dfCache.putIfAbsent(cacheKey(t), fetched.getOrElse(t, 0L)))
    val dfMap: Map[String, Long] = (hit.map(t => t -> dfCache(cacheKey(t))) ++
      miss.map(t => t -> fetched.getOrElse(t, 0L))).toMap

    val surviving = qTerms
      .filter(t => dfMap.getOrElse(t, 0L) > 0L) // unknown-term silent drop
      .filter(t => Scoring.survivesPrune(dfMap(t), n)) // 0.85 prune, integer form
    if (surviving.isEmpty)
      Left(SearchResult(ok = false, 0, Nil, "Nothing found"))
    else Right((surviving, dfMap, n, avgdl))
  }

  /** Each term's df from the engine's serving partitions, in ONE Spark
    * job with no Catalyst plan: a term's df is its postings' count over
    * every partition's rows, or, for `roleId` ≥ 0, the count of those
    * whose roleId matches. The terms and the roleId ride in the task
    * closure; each partition returns |terms| longs and the driver sums
    * them. 0 = unknown. The job is submitted from this method, not from
    * Wand, so a tracer that names jobs by call site sees it as the df
    * lookup (perfbench's `SearchService$` rule), not as the scatter. */
  private[searchspark] def servingDf(serving: RDD[ServingPartition], terms: Seq[String],
                                     roleId: Int): Map[String, Long] = {
    val ts = terms.toArray
    val perPartition = serving.map(p => ts.map(p.df(_, roleId))).collect()
    ts.indices.map(i => ts(i) -> perPartition.map(_(i)).sum).toMap
  }
}
