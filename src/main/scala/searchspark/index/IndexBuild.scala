package searchspark.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import searchspark.analyze.Analyzer
import searchspark.model.{Turn, ZoneConfig}
import searchspark.query.Scoring

/** Global scalar corpus statistics (broadcast at query time — the
  * reference recomputes page_count per query via CTE,
  * SearchingServiceImpl.java:240-243; we compute once per snapshot).
  * `avgdl` is in dlE1 units (×10-scaled weighted doc length); the
  * dl/avgdl ratio BM25 consumes is scale-invariant. */
final case class CorpusStats(n: Long, avgdl: Double, totalTurns: Long, skippedBlank: Long)

/** Exact sums over one role's docs: doc count and Σ dlE1. */
final case class DocSums(n: Long, sumDl: Long)

/** One uncompressed posting row as emitted by the TF kernel and by
  * PostingIndex.decode (field order IS the tf frame's column order). */
final case class TfRow(docId: Long, role: String, dlE1: Long, term: String, tfE1: Int)

/** The built index, as DataFrames (persist via BuildPipeline, or cache
  * for tests). Replaces the reference's page/lemma/`index` MySQL tables
  * (SURVEY.md §1.1) with columnar, partition-friendly layouts. No term
  * dictionary is stored (see [[IndexBuild.termDict]]).
  *
  * `tf` is the uncompressed posting rows. The in-memory build caches
  * them, for the posting build; a root loaded by
  * BuildPipeline.loadRelational has no stored tf, and its `tf` is a
  * derived view (the TF kernel over docs_raw) that only rollup readers
  * (StatsService, Main's `terms=` line, graft.Bench) ever run. */
final case class BuiltIndex(
    docs: DataFrame,        // docId, conv_id, turn_idx, role, tool, ts, text
    tf: DataFrame,          // docId, role, dlE1, term, tfE1 (uncompressed postings)
    stats: CorpusStats,
    statsByRole: Map[String, (Long, Double)], // role -> (N, avgdlE1)
    roleList: Seq[String] = Nil, // APPEND-ONLY role dictionary order
    caches: CacheScope = new CacheScope) { // the build's own caches

  /** Compact role ids for the posting codec / scoped scans: position in
    * the APPEND-ONLY `roleList` (cold build: sorted distinct roles;
    * incremental appends only ever add new roles at the END, persisted
    * via stats.json). Ids must never be remapped: kept posting shards
    * are not re-encoded on append, so a rank-in-current-sorted-set
    * mapping would silently corrupt scoped search the moment an append
    * introduced a role that sorts before an existing one. */
  lazy val roleIds: Map[String, Int] =
    (if (roleList.nonEmpty) roleList
     else statsByRole.keys.toSeq.sorted).zipWithIndex.toMap

  def cache(): BuiltIndex = {
    docs.cache(); tf.cache(); this
  }
  def unpersist(): Unit = {
    docs.unpersist(); tf.unpersist()
    caches.release()
  }
}

/** Distributed index build — the replacement for the reference's
  * crawl→lemmatize→row-at-a-time-upsert pipeline
  * (Link.java:188-218 did ≥3 SQL round trips PER LEMMA OCCURRENCE; here
  * the texts are analyzed exactly where they sit — no exchange in the
  * whole build ever carries a text column; only narrow keys, posting
  * rows and id routes move — PlanGuardSpec pins the shape).
  *
  * Dataflow (SURVEY.md §3.2):
  *   transcripts scan
  *     → blank filter + key-dedup + stable docId      (DocIds two-pass: narrow
  *       assignment                                     key rank + positional
  *                                                      zip-back — TEXT BYTES
  *                                                      NEVER CROSS AN
  *                                                      EXCHANGE; the only
  *                                                      shuffles are ~40-byte
  *                                                      key rows and 16-byte
  *                                                      id routes)
  *     → analyzer B1–B4 + per-doc TF + dl             (NARROW typed kernel —
  *                                                     a doc's tokens never
  *                                                     leave their row; zero
  *                                                     shuffle, Zipf-head
  *                                                     terms are a non-issue
  *                                                     because nothing is
  *                                                     grouped by term here)
  *
  * No dictionary is built or stored: a query counts its terms' df from
  * the postings (SearchService.servingDf), and `termDict` /
  * `termsByRole` below derive df over tf for the rare full listing.
  *
  * This object also holds the kernels the persisted build
  * (BuildPipeline) and the append (Incremental) share: `tfFromDocs`
  * and the exact per-role sums behind the stats.
  *
  * The only skew-sensitive step is the posting-SEGMENT build (collect a
  * term's in-shard postings together, one (shard, term) exchange), which
  * Segments.scala bounds by sharding docId ranges — a term's group can
  * never exceed the shard size (SURVEY.md §7.5.2).
  */
object IndexBuild {

  /** Stage: analyzer projection + per-doc TF — ZERO shuffle.
    *
    * A turn's tokens all live in ONE `text` value, so per-(doc, term)
    * counts and the doc length dlE1 never need a regroup: this typed
    * mapPartitions kernel runs B1–B4 (the Form-1 Scala analyzer,
    * pinned == the Catalyst Column form by AnalyzerSpec and == the
    * DuckDB SQL form by the driver's hash checks) and counts terms
    * per doc in one in-memory map, emitting finished
    * (docId, role, dlE1, term, tfE1) rows narrowly.
    *
    * The declarative groupBy form it replaces (kept in the tests as
    * this kernel's cross-check oracle, Oracles.tfFromDocsDeclarative)
    * paid one shuffle over EVERY (doc, term) row plus a
    * dl join back that re-ran the aggregation lineage — at corpus
    * scale the TF shuffle was the build's largest exchange; here it is
    * gone entirely (measured at 131k turns / 5.5M tf rows, local[32]:
    * 3.8 s → sub-second, and the downstream segment shuffle now
    * reads narrow finished rows). A pure-Catalyst narrow form was tried
    * first and reverted: higher-order aggregate/filter lambdas are
    * interpreted, not codegen'd (4x slower) — the kernel is the same
    * primitive-loop pattern as SimOps' similarity kernels.
    *
    * tf is stored as tfE1 = ×10-scaled weighted tf (Scoring.TfScaleE1):
    * single-zone builds store 10·count (scoring divides back exactly);
    * a ZoneConfig reproduces the reference's C5 weighted-rank semantics
    * (rank = tfBody·0.8 if the term appears in body, else tfTitle·1.0 —
    * the reference's body-overwrites-title rule, Link.java:209-216)
    * with zone counts packed into one Long per term (title in the high
    * 32 bits): zone position is the index among RAW tokens, same as
    * the posexplode the declarative zoned branch used.
    *
    * `role` and `dlE1` (both functionally dependent on docId) ride along
    * so the query path and the segment build never join the TF table
    * back to docs. Determinism: output is a pure per-row function of
    * (docId, role, text) — invariant to partitioning and parallelism;
    * row order within a doc is first-occurrence order of each term. */
  def tfFromDocs(docsRaw: DataFrame, zones: Option[ZoneConfig] = None): DataFrame = {
    val spark = docsRaw.sparkSession
    import spark.implicits._
    val cfg = Analyzer.config
    val zoned = zones.isDefined
    val titleTokens = zones.map(_.titleTokens).getOrElse(0)
    val titleW = zones.map(_.titleWeightE1).getOrElse(Scoring.TfScaleE1)
    val bodyW = zones.map(_.bodyWeightE1).getOrElse(Scoring.TfScaleE1)
    docsRaw.select(col("docId"), col("role"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (docId, role, text) =>
          val toks = cfg.tokenize(text)
          // per-term packed counts: title occurrences in the high 32
          // bits, body (or all, unzoned) in the low 32 — one map pass
          val m = new java.util.LinkedHashMap[String, java.lang.Long]()
          var i = 0
          while (i < toks.length) {
            val t = toks(i)
            if (cfg.keepToken(t) && cfg.notStopword(t)) {
              val add = if (zoned && i < titleTokens) 1L << 32 else 1L
              val term = cfg.lemma(t)
              val prev = m.get(term)
              m.put(term, if (prev == null) add else prev + add)
            }
            i += 1
          }
          if (m.isEmpty) Iterator.empty
          else {
            val n = m.size
            val terms = new Array[String](n)
            val tfs = new Array[Int](n)
            var dl = 0L
            var j = 0
            val it = m.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              val packed = e.getValue.longValue()
              val tfT = (packed >>> 32).toInt
              val tfB = (packed & 0xffffffffL).toInt
              val tfE1 =
                if (!zoned) tfB * Scoring.TfScaleE1
                else if (tfB > 0) tfB * bodyW
                else tfT * titleW
              terms(j) = e.getKey
              tfs(j) = tfE1
              dl += tfE1
              j += 1
            }
            (0 until n).iterator.map(k => TfRow(docId, role, dl, terms(k), tfs(k)))
          }
        }
      }
      .toDF("docId", "role", "dlE1", "term", "tfE1")
  }

  /** df over tf, as (term, df): df = distinct docs (tf rows are unique
    * per (docId, term)). The one definition of df outside the query
    * path; a full scan of tf's term column. */
  def termDict(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("df"))

  /** Scope-local df over tf, as (role, term, df) (reference: per-site
    * lemma rows; per-role). No join — role rides in the TF rows. */
  def termsByRole(tf: DataFrame): DataFrame =
    tf.groupBy("role", "term").agg(count(lit(1)).as("df"))

  /** Build the index over a transcript Dataset. `partitions` sizes the
    * range shuffle for docId assignment (≈ input split count). */
  def build(spark: SparkSession, turns: Dataset[Turn], partitions: Int,
            zones: Option[ZoneConfig] = None): BuiltIndex = {
    // Cache discipline is what makes the build scale with cores: without
    // it every downstream job (TF shuffle, dl join, stats,
    // segments) re-runs the whole upstream lineage — source scan +
    // range shuffle + sort — serially re-paying fixed costs that drown
    // the parallel speedup (measured: 0.36 scaling efficiency uncached
    // at 8→32 cores vs near-linear cached).
    // The caches belong to the returned index: `unpersist()` releases them.
    val caches = new CacheScope
    // Input caching is for REPEATABILITY cost, not correctness (the
    // two-pass docId assignment anchors one RDD instance either way).
    // A plain file/table scan is re-scanned instead of cached: the
    // build reads the input twice (narrow key pass, zip walk) and a
    // second parallel columnar scan is cheaper — and scales better —
    // than writing the whole text corpus into the memory cache first
    // (the cache write is the kind of bandwidth-bound stage this
    // build's dataflow otherwise eliminates). Anything non-leaf (a
    // join-derived or generated input) still caches to pin its layout.
    val inputIsTableScan = isRepeatableScan(turns.queryExecution.optimizedPlan)
    val turnsCached = if (inputIsTableScan) turns else turns.cache()
    val totalTurns = turnsCached.count()
    // Zero-text-shuffle assignment: the narrow key pass runs eagerly
    // inside assignWithMeta (rank prefix sums); the text-bearing zip
    // output stays LAZY and materializes exactly once — into the TF
    // kernel below. keyMeta is the cached narrow winner table; every
    // later per-doc question (stats role counts) reads it instead of
    // re-walking texts.
    val (docsRaw, keyMeta) = DocIds.assignWithMeta(spark, turnsCached, partitions, caches)
    val tf = caches.cache(tfFromDocs(docsRaw, zones))

    val (stats, byRole) = corpusStats(keyMeta, tf, totalTurns)
    if (!inputIsTableScan) turnsCached.unpersist()
    BuiltIndex(docsRaw, tf, stats, byRole,
      roleList = byRole.keys.toSeq.sorted, caches = caches)
  }

  /** Global + per-role scalar stats. avgdl (E1 units) = exact Long sum /
    * count (NOT avg(): Double partial sums are order-dependent across
    * parallelism; Long sums are exact, so this is bit-identical to the
    * oracle and across cluster sizes). dl sums come from the tf rows
    * (one tf row per (doc, term), dlE1 functionally dependent on docId →
    * use Σ tfE1 which equals Σ_docs dlE1; zero-term docs contribute 0
    * and are counted via docMeta). `docMeta` is any one-row-per-doc
    * frame with a normalized `role` column — the build passes the
    * NARROW cached winner table so this job never touches text bytes;
    * the pipeline's postings stage passes the persisted docs_raw
    * (parquet column pruning reads role only). */
  def corpusStats(docMeta: DataFrame, tf: DataFrame, totalTurns: Long)
    : (CorpusStats, Map[String, (Long, Double)]) =
    statsFromSums(corpusSums(docMeta, tf), totalTurns)

  /** The exact Long sums behind [[corpusStats]], per role. */
  def corpusSums(docMeta: DataFrame, tf: DataFrame): Map[String, DocSums] = {
    // ONE job total (global scalars derived from the per-role rollups):
    // every extra driver job here is serial time paid identically at
    // every cluster size — pure Amdahl loss on the scaling criterion.
    // The doc-count side scans docsRaw (zero-term docs must count) and
    // the dl side scans tf; a left join runs both aggregations as one
    // job (roles are a handful of rows — the join is a broadcast).
    docMeta.groupBy("role").agg(count(lit(1)).as("n"))
      .join(tf.groupBy("role").agg(sum("tfE1").as("sumdl")), Seq("role"), "left")
      .collect()
      .map(r => Option(r.getString(0)).getOrElse("") ->
        DocSums(r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)))
      .toMap
  }

  /** Corpus stats from exact per-role sums; roles without docs drop out.
    * An append keeps the sums by delta and derives the same Doubles a
    * full recompute would. */
  def statsFromSums(byRole: Map[String, DocSums], totalTurns: Long)
    : (CorpusStats, Map[String, (Long, Double)]) = {
    val live = byRole.filter(_._2.n > 0)
    val nDocs = live.valuesIterator.map(_.n).sum
    val sumDl = live.valuesIterator.map(_.sumDl).sum
    val stats = CorpusStats(nDocs,
      if (nDocs == 0) 0.0 else sumDl.toDouble / nDocs,
      totalTurns, totalTurns - nDocs)
    (stats, live.map { case (role, s) => role -> (s.n, s.sumDl.toDouble / s.n) })
  }

  /** True iff the plan is a bare FILE scan (optionally wrapped in
    * deterministic Project/Filter/alias) — the class of inputs DocIds'
    * repeatable-scan contract names as safe to re-evaluate: file splits
    * are fixed at physical planning, so every pass over the ONE anchored
    * RDD sees the same partition layout without a pinning cache.
    *
    * Everything else falls back to caching (fail-safe): a
    * nondeterministic filter/projection (rand() sampling) would evaluate
    * a DIFFERENT row set on the key pass vs the zip pass, and a non-file
    * relation (JDBC, arbitrary V2 source) gives no per-partition
    * row-order guarantee across re-scans — either silently mis-assigns
    * docIds under the positional zip, so neither may classify as
    * repeatable. V1 must be a HadoopFsRelation; V2 must be a FileTable
    * (parquet/orc/csv/json v2) — the public superclass of every
    * file-based V2 table — not just any relation. */
  private[index] def isRepeatableScan(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation, FileTable}
    def fileBacked(table: org.apache.spark.sql.connector.catalog.Table): Boolean =
      table.isInstanceOf[FileTable] ||
        // Iceberg snapshot tables are repeatable (reads pin a snapshot id)
        // but the jar may be absent at compile time — match by name.
        table.getClass.getName.toLowerCase.contains("iceberg")
    plan match {
      case p: Project =>
        p.projectList.forall(_.deterministic) && isRepeatableScan(p.child)
      case f: LFilter =>
        f.condition.deterministic && isRepeatableScan(f.child)
      case a: SubqueryAlias => isRepeatableScan(a.child)
      case lr: LogicalRelation => lr.relation.isInstanceOf[HadoopFsRelation]
      case r: DataSourceV2ScanRelation => fileBacked(r.relation.table)
      case r: DataSourceV2Relation => fileBacked(r.table)
      case _ => false
    }
  }

  /** Convenience: read a transcripts parquet path as Dataset[Turn]. */
  def readTranscripts(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(path).as[Turn]
  }
}
