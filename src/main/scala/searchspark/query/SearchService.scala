package searchspark.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import searchspark.analyze.Analyzer
import searchspark.index.BuiltIndex
import searchspark.model.{Hit, SearchResult}

/** The search pipeline over the built index — reference entry point
  * `GET /api/search` (SearchingServiceImpl.java:47-67; SURVEY.md §3.1).
  *
  * This is the DataFrame "parity path": every stage is a declarative
  * Catalyst plan mirroring the reference's Q1/Q2/Q3 SQL, and its results
  * are rank-identical to the scalar oracle (exact Doubles — per-term
  * partials summed in ascending term order via sorted-array fold, not a
  * nondeterministic parallel SUM). The block-max WAND engine path
  * (Wand.scala) must agree with BOTH.
  *
  * Scale notes: the only per-query driver data are the query-term stats
  * (|q| rows) and the hydrated result page (≤ offset+limit rows — the
  * reference's N+1 `findById` hydration, SearchingServiceImpl.java:89-95,
  * becomes one isin-pushdown scan here; the engine path instead hydrates
  * on the executors, per partition, inside its one scatter job).
  * Candidate scoring is one shuffle on docId; the term-stats join is a
  * literal CASE (broadcast-equivalent, no join at all). The term stats
  * come from a Catalyst `isin` scan of the `terms` / `terms_by_role`
  * tables here; the engine counts them from its serving partitions
  * instead ([[servingDf]]: |q| longs per partition, no Catalyst plan),
  * so it reads neither table at query time.
  */
object SearchService {

  /** Q1 driver side: analyze, look up scope-local df, drop unknown terms,
    * prune ≥0.85-df terms. Returns (survivingTermsAsc, dfMap, n, avgdl)
    * or an error result.
    *
    * Where df comes from: with `serving` (the engine), one
    * [[servingDf]] job over the serving partitions; without it (the
    * parity path, the declared oracle), a Catalyst `isin` scan of
    * `terms` / `terms_by_role`, like the reference's Q1 (lemma⋈site with
    * an IN-list, SearchingServiceImpl.java:235-257). The serving lookup
    * counts a scope by its roleId, so a scope with stats but no roleId
    * (corrupt stats.json) answers "Nothing found" without a job.
    *
    * `dfCache`: optional driver-side term→df cache (a dictionary cache,
    * standard in search serving). Safe because a BuiltIndex is an
    * immutable snapshot; misses are stored as 0 so unknown terms also
    * skip the Spark lookup on repeat. Scope-local df is a different
    * keyspace — cached under a "role NUL term" key so warm SCOPED
    * queries also run as the engine's one scatter job. */
  private[searchspark] def planTerms(
      idx: BuiltIndex, query: String, scope: Option[String],
      dfCache: Option[scala.collection.concurrent.Map[String, Long]] = None,
      serving: Option[RDD[ServingPartition]] = None)
    : Either[SearchResult, (Seq[String], Map[String, Long], Long, Double)] = {
    if (query == null || query.trim.isEmpty)
      return Left(SearchResult(ok = false, 0, Nil, "Empty search query"))

    val (n, avgdl) = scope match {
      case None => (idx.stats.n, idx.stats.avgdl)
      case Some(r) => idx.statsByRole.getOrElse(r, (0L, 0.0))
    }
    if (n == 0) return Left(SearchResult(ok = false, 0, Nil, "Nothing found"))
    val roleId = scope match {
      case Some(r) if serving.nonEmpty =>
        idx.roleIds.getOrElse(r, return Left(SearchResult(ok = false, 0, Nil, "Nothing found")))
      case _ => -1
    }

    val qTerms = Analyzer.analyzeQuery(query)
    if (qTerms.isEmpty)
      return Left(SearchResult(ok = false, 0, Nil, "Nothing found"))

    def lookup(terms: Seq[String]): Map[String, Long] = serving match {
      case Some(rdd) => servingDf(rdd, terms, roleId)
      case None =>
        // tiny collect: |q| rows of the term dictionary
        (scope match {
          case None =>
            idx.terms.filter(col("term").isInCollection(terms))
              .select("term", "df").collect()
          case Some(r) =>
            idx.termsByRole.filter(col("role") === r && col("term").isInCollection(terms))
              .select("term", "df").collect()
        }).map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    def cacheKey(t: String): String =
      scope.map(r => r + "\u0000" + t).getOrElse(t)
    val dfMap: Map[String, Long] = dfCache match {
      case Some(cache) =>
        val (hit, miss) = qTerms.partition(t => cache.contains(cacheKey(t)))
        val fetched = if (miss.isEmpty) Map.empty[String, Long] else lookup(miss)
        miss.foreach(t => cache.putIfAbsent(cacheKey(t), fetched.getOrElse(t, 0L)))
        (hit.map(t => t -> cache(cacheKey(t))) ++
          miss.map(t => t -> fetched.getOrElse(t, 0L))).toMap
      case None => lookup(qTerms)
    }

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

  /** BM25 partial as a Column, arithmetic-identical to Scoring.partialE1
    * (operation order matters for exact Double equality with the
    * oracle): t = tfE1/10.0, then idf·t/(t + k1·(1−b+b·dlE1/avgdlE1)). */
  private def partialCol(idfByTerm: Map[String, Double], avgdl: Double): Column = {
    val idfCol = idfByTerm.toSeq.sortBy(_._1).foldLeft(lit(0.0)) {
      case (acc, (t, v)) => when(col("term") === t, lit(v)).otherwise(acc)
    }
    val tfD = col("tfE1").cast("double") / lit(10.0)
    val dlD = col("dlE1").cast("double")
    idfCol * tfD / (tfD + lit(Scoring.K1) *
      (lit(1.0 - Scoring.B) + lit(Scoring.B) * dlD / lit(avgdl)))
  }

  def search(spark: SparkSession, idx: BuiltIndex, query: String,
             scope: Option[String] = None, offset: Int = 0,
             limit: Int = 20): SearchResult = {
    planTerms(idx, query, scope) match {
      case Left(err) => err
      case Right((surviving, dfMap, n, avgdl)) =>
        val idfByTerm = surviving.map(t => t -> Scoring.idf(dfMap(t), n)).toMap

        // Q2 conjunctive candidates + Q3 scoring in ONE shuffle on docId:
        // a doc qualifies iff it matched all surviving terms (tf rows are
        // unique per (docId, term) so count == |q'|); score = fold of
        // per-term partials in ascending term order. tf carries role+dl,
        // so no join at all — just filters on the posting rows.
        val tfScoped = scope match {
          case None => idx.tf
          case Some(r) => idx.tf.filter(col("role") === r) // ↔ site param (:52)
        }
        val scored = tfScoped
          .filter(col("term").isInCollection(surviving))
          .withColumn("partial", partialCol(idfByTerm, avgdl))
          .groupBy("docId")
          .agg(
            count(lit(1)).as("nMatched"),
            aggregate(
              array_sort(collect_list(struct(col("term"), col("partial")))),
              lit(0.0),
              (acc, x) => acc + x.getField("partial")).as("score"))
          .filter(col("nMatched") === surviving.size)
          .select("docId", "score")
          .cache()

        try {
          val total = scored.count() // reference's page_count CTE (:123)
          if (total == 0)
            return SearchResult(ok = false, 0, Nil, "Nothing found")
          val maxScore = scored.agg(max("score")).head.getDouble(0)

          // Q3 pagination: deterministic tie-break (score DESC, docId ASC)
          val page = scored
            .orderBy(col("score").desc, col("docId").asc)
            .offset(offset).limit(limit)
            .collect().map(r => (r.getLong(0), r.getDouble(1)))

          // hydration: one isin scan for ≤(offset+limit) ids (vs the
          // reference's N+1 findById loop)
          val ids = page.map(_._1)
          val hydrated = idx.docs
            .filter(col("docId").isInCollection(ids.map(java.lang.Long.valueOf)))
            .select("docId", "conv_id", "turn_idx", "role", "text")
            .collect()
            .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getString(3), r.getString(4))))
            .toMap

          val qSet = surviving.toSet
          val hits = page.map { case (d, s) =>
            val (cid, tix, role, text) = hydrated(d)
            Hit(d, cid, tix, role, s, s / maxScore, Snippets.snippet(text, qSet))
          }
          SearchResult(ok = true, total, hits.toIndexedSeq, null)
        } finally scored.unpersist()
    }
  }
}
