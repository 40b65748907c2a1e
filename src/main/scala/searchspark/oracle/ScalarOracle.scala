package searchspark.oracle

import scala.collection.mutable

import searchspark.analyze.Analyzer
import searchspark.model.{Hit, SearchResult, Turn, ZoneConfig}
import searchspark.query.{Scoring, Snippets}

/** Single-node in-memory inverted index + BM25 top-k — the GROUND TRUTH
  * for rank-identity tests (SURVEY.md §5.3): the Spark engine must match
  * this oracle's docIDs AND scores exactly (Double equality) on the
  * reference query set (FIXTURES.md §3).
  *
  * Deliberately naive (Maps and loops, no compression, no pruning) so it
  * is obviously a direct transcription of the spec'd semantics:
  *  - document = non-blank turn (blank text = the reference's failed
  *    fetch, excluded from the index but counted, Link.java:110-116);
  *  - docId = rank of (conv_id, turn_idx) in lexicographic order over
  *    indexed docs (SURVEY.md §7.3);
  *  - per-scope (role) df/N/avgdl, like the reference's per-site `lemma`
  *    rows + site-scoped page_count (SearchingServiceImpl.java:240-243);
  *    the unscoped search uses global stats (reference: SUM over sites);
  *  - search pipeline per SearchingServiceImpl.java:47-67 — see
  *    [[searchspark.query.Scoring]] for the exact contract.
  */
final class ScalarOracle(turns: Seq[Turn], zones: Option[ZoneConfig] = None) {

  // --- build ------------------------------------------------------------
  /** Indexed docs in stable (conv_id, turn_idx) order; null roles
    * normalized to "" like the engine's ingest (DocIds.dedupIndexable). */
  val docs: Vector[Turn] =
    turns.filter(t => t.text != null && t.text.trim.nonEmpty)
      .map(t => if (t.role == null) t.copy(role = "") else t)
      .sortBy(t => (t.conv_id, t.turn_idx)).toVector

  val skippedBlank: Long = turns.size.toLong - docs.size

  /** docId → term → tfE1 (×10-scaled weighted tf; single-zone builds
    * store 10·count, a ZoneConfig applies the reference's C5 rule:
    * tfBody·bodyW if the term occurs in body, else tfTitle·titleW —
    * Link.java:209-216 body-overwrites-title). Zone split = first
    * `titleTokens` RAW tokens (B1 order) vs the rest. */
  private val docTfE1: Vector[Map[String, Int]] = docs.map { t =>
    zones match {
      case None =>
        Analyzer.analyze(t.text).groupBy(identity)
          .map { case (term, occ) => term -> occ.length * Scoring.TfScaleE1 }
      case Some(z) =>
        val raw = Analyzer.tokenize(t.text)
        def terms(toks: Array[String]): Map[String, Int] =
          toks.filter(Analyzer.keepToken).filter(Analyzer.notStopword)
            .map(Analyzer.lemma).groupBy(identity).map { case (k, v) => k -> v.length }
        val title = terms(raw.take(z.titleTokens))
        val body = terms(raw.drop(z.titleTokens))
        (title.keySet ++ body.keySet).iterator.map { term =>
          val tfB = body.getOrElse(term, 0)
          term -> (if (tfB > 0) tfB * z.bodyWeightE1
                   else title(term) * z.titleWeightE1)
        }.toMap
    }
  }

  /** dlE1 = Σ tfE1 per doc. */
  val dl: Vector[Long] = docTfE1.map(_.valuesIterator.map(_.toLong).sum)

  /** postings: term → (docId → tfE1), docIds ascending. */
  private val postings: Map[String, Array[(Long, Int)]] = {
    val m = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Int)]]
    docTfE1.zipWithIndex.foreach { case (tfs, d) =>
      tfs.foreach { case (t, tfE1) =>
        m.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((d.toLong, tfE1))
      }
    }
    m.map { case (t, l) => (t, l.sortBy(_._1).toArray) }.toMap
  }

  private def scopeDocIds(scope: Option[String]): Set[Long] = scope match {
    case None => docs.indices.map(_.toLong).toSet
    case Some(r) => docs.zipWithIndex.collect { case (t, d) if t.role == r => d.toLong }.toSet
  }

  // --- search (SearchingServiceImpl.java:47-67 pipeline) ---------------
  def search(query: String, scope: Option[String] = None,
             offset: Int = 0, limit: Int = 20): SearchResult = {
    require(offset >= 0, s"offset must be non-negative, got $offset")
    require(limit >= 0, s"limit must be non-negative, got $limit")
    if (query == null || query.trim.isEmpty)
      return SearchResult(ok = false, 0, Nil, "Empty search query")

    val inScope = scopeDocIds(scope)
    val n = inScope.size.toLong
    if (n == 0) return SearchResult(ok = false, 0, Nil, "Nothing found")
    val avgdl = inScope.iterator.map(d => dl(d.toInt)).sum.toDouble / n

    // analyze → distinct terms ascending (deterministic summation order)
    val qTerms = Analyzer.analyzeQuery(query)

    // scope-local df; unknown terms (df == 0) silently dropped (Q1 corner)
    val dfMap: Map[String, Long] = qTerms.map { t =>
      t -> postings.getOrElse(t, Array.empty[(Long, Int)])
        .count { case (d, _) => inScope.contains(d) }.toLong
    }.toMap
    val known = qTerms.filter(t => dfMap(t) > 0)

    // 0.85 stopword-threshold prune (SearchingServiceImpl.java:254)
    val surviving = known.filter(t => Scoring.survivesPrune(dfMap(t), n))
    if (surviving.isEmpty)
      return SearchResult(ok = false, 0, Nil, "Nothing found")

    // conjunctive intersection, rarest-df-first with early exit (Q2,
    // restoring the ORDER BY part intent, SURVEY.md §2.3)
    val byRarity = surviving.sortBy(t => (dfMap(t), t))
    var cand: Set[Long] = null
    byRarity.foreach { t =>
      if (cand == null || cand.nonEmpty) {
        val pl = postings(t).collect { case (d, _) if inScope.contains(d) => d }.toSet
        cand = if (cand == null) pl else cand.intersect(pl)
      }
    }
    if (cand.isEmpty) return SearchResult(ok = false, 0, Nil, "Nothing found")

    // BM25, per-term partials summed in ascending term order (§7.4)
    val idf = surviving.map(t => t -> Scoring.idf(dfMap(t), n)).toMap
    val tfOf: Map[String, Map[Long, Int]] = surviving.map(t => t -> postings(t).toMap).toMap
    val scored: Seq[(Long, Double)] = cand.toSeq.map { d =>
      var s = 0.0
      surviving.foreach { t => // ascending term order — qTerms was sorted
        s += Scoring.partialE1(idf(t), tfOf(t)(d).toLong, dl(d.toInt), avgdl)
      }
      (d, s)
    }

    val total = scored.size.toLong
    val ranked = scored.sortBy { case (d, s) => (-s, d) }
    val maxScore = ranked.head._2
    val page = ranked.drop(offset).take(limit)
    val hits = page.map { case (d, s) =>
      val t = docs(d.toInt)
      Hit(d, t.conv_id, t.turn_idx, t.role, s, s / maxScore,
        Snippets.snippet(t.text, surviving.toSet))
    }
    SearchResult(ok = true, total, hits, null)
  }

  // --- stats (C11 analog, StatisticsServiceImpl.java:34-75) ------------
  def docCount: Long = docs.size.toLong
  def termCount: Long = postings.size.toLong
  def df(term: String): Long = postings.get(term).map(_.length.toLong).getOrElse(0L)

  // --- introspection for fixture/query derivation (FIXTURES.md §3) -----
  def vocabulary: Seq[String] = postings.keys.toSeq.sorted
  def postingDocs(term: String): Array[Long] =
    postings.getOrElse(term, Array.empty).map(_._1)
  def avgdlGlobal: Double = dl.sum.toDouble / docs.size
}
