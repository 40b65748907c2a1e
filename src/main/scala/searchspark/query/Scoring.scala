package searchspark.query

/** The scoring contract (SURVEY.md §7.4) — single source of truth for
  * the scalar oracle, the block-max WAND engine, and the block maxScore
  * metadata written at build time.
  *
  * BM25 with fixed k1=1.2, b=0.75:
  *   score(d, q) = Σ_{t ∈ q'} idf(t) · tf / (tf + k1·(1 − b + b·dl/avgdl))
  *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
  *
  * where q' = query terms surviving the reference pipeline semantics:
  * analyzer B1–B4 → unknown terms silently dropped (SURVEY.md §2.3 Q1
  * corner) → terms with df/N ≥ 0.85 pruned
  * (/root/reference/src/main/java/searchengine/services/SearchingServiceImpl.java:254)
  * → CONJUNCTIVE candidate set (`:181-213`).
  *
  * Determinism rules: Double arithmetic; per-term partials accumulated in
  * ascending term order; no parallel reduction of score terms. Tie-break
  * (score DESC, docId ASC) — the reference leaves ties undefined (MySQL
  * ORDER BY), this is our documented deterministic deviation.
  */
object Scoring {

  val K1 = 1.2
  val B = 0.75

  /** Query-time stopword prune threshold (SearchingServiceImpl.java:254). */
  val PruneThreshold = 0.85

  /** The 0.85 prune in exact integer arithmetic (df·100 < 85·N), the
    * same form as the oracle SQL's `df * 100 < 85 * n` — a double
    * division could disagree with it exactly at the threshold. Single
    * source of truth for the oracle and WAND paths. */
  def survivesPrune(df: Long, n: Long): Boolean = df * 100 < 85 * n

  def idf(df: Long, n: Long): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** ×10 fixed-point scale of stored tf/dl (model.ZoneConfig weights are
    * E1 integers; a single-zone build stores tfE1 = 10·tf, and
    * (10·tf)/10.0 is EXACTLY tf in IEEE doubles). Note the dl term is
    * only scale-invariant up to the last ulp — fl((10S)/n) need not be
    * 10·fl(S/n) — which is fine because BOTH scoring paths (engine,
    * scalar oracle) compute in the same E1 units; rank identity
    * is between them, never against a token-unit reformulation. */
  val TfScaleE1 = 10

  /** One term's BM25 partial for a ×10-scaled (tfE1, dlE1) pair. */
  def partialE1(idfT: Double, tfE1: Long, dlE1: Long, avgdlE1: Double): Double = {
    val t = tfE1 / 10.0
    idfT * t / (t + K1 * (1.0 - B + B * dlE1 / avgdlE1))
  }

  /** Query-time upper bound of a term's partial over a posting block:
    * partial is increasing in tf and decreasing in dl, so
    * (maxTfE1, minDl) bounds every (tf, dl) in the block — under ANY
    * current (idf, avgdl), global or scope-local. */
  def blockBound(idfT: Double, maxTfE1: Int, minDl: Long, avgdlE1: Double): Double =
    partialE1(idfT, maxTfE1.toLong, minDl, avgdlE1)
}
