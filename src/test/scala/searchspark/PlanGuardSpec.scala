package searchspark

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import searchspark.gen.TranscriptGen
import searchspark.index.BuildPipeline
import searchspark.ops.TextOps

/** Physical-plan regression guard: the properties that make the plans
  * survive a 100× scale-up are asserted, not just eyeballed (BENCH.md
  * "Physical-plan audit"). If a refactor silently introduces a global
  * sort, a shuffle join on the query path, or breaks scan pushdown,
  * this fails before any benchmark notices. */
class PlanGuardSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("TF plan: one shuffle, codegen-able Catalyst analyzer, pruned scan") {
    val p = plan(TextOps.tf(TextOps.documents(spark, sfDir)))
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      s"TF must be a single partial+final agg shuffle:\n$p")
    assert(p.contains("Generate"), "tokenizer must be explode, not a UDTF")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "analyzer must stay pure Catalyst (codegen), no UDF in the hot path")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to the 2 used columns of the 5-column table")
  }

  test("bm25_topk plan: broadcast-only joins, top-k without global sort") {
    val p = plan(TextOps.bm25TopK(TextOps.documents(spark, sfDir),
      Seq("dup", "key", "vector"), 20))
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be per-partition heaps + driver merge, not Sort+Limit")
    assert(p.contains("BroadcastHashJoin"), "stats joins must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffle/cartesian join on the query path:\n$p")
  }

  test("ngramJaccard final plan: shingle pipeline materialized once (cache scan)") {
    // The shingle subtree (tokenize/explode/distinct) is session-cached
    // (TextOps.shinglesCached — shared with fingerprint and every
    // MinHash op), so every consumer branch must read the cache
    // (InMemoryTableScan), never re-run the pipeline: the final plan may
    // contain NO Generate (explode) node above the cache boundary.
    // AQE off: the concrete pre-adaptive tree exposes operator nodes to
    // collect(), and node collection stops at cache boundaries — the
    // InMemoryRelation's own build plan (which legitimately contains the
    // explode) is out-of-tree, so any GenerateExec found here would be a
    // real re-run of the shingle pipeline.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = TextOps.ngramJaccard(TextOps.documents(spark, sfDir))
      q.collect()
      val exec = q.queryExecution.executedPlan
      val p = exec.toString
      assert(p.contains("InMemoryTableScan"),
        s"self-join branches must read the shared shingle cache:\n$p")
      assert(exec.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }.isEmpty,
        s"tokenize/explode must not re-run above the shingle cache:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        "candidate generation must stay an equi-join")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("surprisal/tfidf final plans: TF pipeline materialized once (cache scan)") {
    // Both ops consume the per-(doc, term) TF table on two branches
    // (vocabulary agg + join-back) whose column pruning differs, so the
    // branches never canonicalize equal and exchange reuse cannot fire —
    // TextOps.tfCached pins ONE cache entry instead. Same contract as
    // the shingle-cache pin above: every consumer branch reads the cache
    // (InMemoryTableScan) and NO Generate (tokenize/explode) node
    // appears above the cache boundary.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = TextOps.documents(spark, sfDir)
      Seq(
        "unigramSurprisal" -> TextOps.unigramSurprisal(docs),
        "tfidfTopTerms" -> TextOps.tfidfTopTerms(docs)
      ).foreach { case (name, q) =>
        q.collect()
        val exec = q.queryExecution.executedPlan
        val p = exec.toString
        assert(p.contains("InMemoryTableScan"),
          s"$name: both TF branches must read the shared TF cache:\n$p")
        assert(exec.collect {
          case g: org.apache.spark.sql.execution.GenerateExec => g
        }.isEmpty,
          s"$name: tokenize/explode must not re-run above the TF cache:\n$p")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("engine TF + segment plans: TF narrow, one segment exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import spark.implicits._
    val turns = spark.createDataset(TranscriptGen.localCorpus(42L, 10))
    val idx = searchspark.index.IndexBuild.build(spark, turns, partitions = 2)
    // Plan-node collection stops at cache boundaries (InMemoryTableScan
    // holds its cached plan out-of-tree), which is exactly the contract
    // under test: what does each stage add ABOVE its cached inputs?
    // AQE off so executedPlan is the concrete pre-adaptive tree.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // TF must stay a NARROW typed kernel over the cached docsRaw —
      // zero exchanges of its own
      val tfExec = searchspark.index.IndexBuild.tfFromDocs(idx.docs)
        .queryExecution.executedPlan
      assert(tfExec.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"per-doc TF must not shuffle:\n$tfExec")
      assert(tfExec.toString.contains("MapPartitions"),
        s"TF must be the typed kernel:\n$tfExec")
      // segment build: exactly ONE shuffle (the packed-key repartition);
      // the term-dictionary attach joins must broadcast
      val segExec = searchspark.index.PostingIndex
        .build(spark, idx, shardSize = 128).toDF()
        .queryExecution.executedPlan
      assert(segExec.collect { case e: ShuffleExchangeExec => e }.size == 1,
        s"segment build must shuffle exactly once:\n$segExec")
      assert(segExec.collect { case j: SortMergeJoinExec => j }.isEmpty,
        s"dictionary attach must broadcast, not shuffle-join:\n$segExec")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("no exchange anywhere in the build moves text bytes (r4 dataflow)") {
    // The round-4 build contract: texts are analyzed where they sit.
    // DocIds' two-pass assignment shuffles ~40-byte key rows and
    // 16-byte id routes; TF is narrow; the segment build shuffles
    // packed numerics. Capture EVERY query executed during a full
    // build + segment materialization and assert no shuffle exchange
    // output carries the text column. (The zip-back's RDD partitionBy
    // moves (Int,(Long,Long)) pairs by construction — typed, no text.)
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    val captured = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.synchronized { captured += qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val turns = spark.createDataset(TranscriptGen.localCorpus(7L, 300)).cache()
      turns.count()
      val idx = searchspark.index.IndexBuild.build(spark, turns, partitions = 4)
      val postings = searchspark.index.PostingIndex.build(spark, idx, shardSize = 256)
      postings.toDF().count()
      turns.unpersist()
      // listener delivery is async on the shared bus — poll to a fixpoint
      var last = -1
      var spins = 0
      while (spins < 100 && captured.synchronized(captured.size) != last) {
        last = captured.synchronized(captured.size)
        Thread.sleep(100)
        spins += 1
      }
      // TreeNode.collect visits every node of THIS tree; the recursive
      // cases splice in the out-of-tree plans (adaptive final plans,
      // materialized query stages, cached relations) that generic
      // traversal cannot see. ReusedExchangeExec is a leaf pointer to an
      // exchange already captured in its own right.
      def exchangesOf(p: SparkPlan): Seq[ShuffleExchangeExec] =
        p.collect {
          case e: ShuffleExchangeExec => Seq(e)
          case a: AdaptiveSparkPlanExec => exchangesOf(a.executedPlan)
          case q: QueryStageExec => exchangesOf(q.plan)
          case im: InMemoryTableScanExec => exchangesOf(im.relation.cachedPlan)
        }.flatten
      val exchanges = captured.synchronized(captured.toVector).flatMap(exchangesOf)
      assert(exchanges.nonEmpty,
        "expected to observe the build's narrow exchanges (listener saw none)")
      val offenders = exchanges.filter(_.output.exists(_.name.toLowerCase.contains("text")))
      assert(offenders.isEmpty,
        s"text column crossed an exchange:\n${offenders.map(_.output.mkString(", ")).mkString("\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("ANN query-vector fetch: vec_id equality pushed to the parquet scan") {
    // Every ANN entry point (annTopK, annTopKWithin, Ivf.query) fetches
    // the query embedding through SimOps.vecFetchPlan — at 10^9 vectors
    // this must be a ~one-row-group read, not a full-corpus job (round-4
    // VERDICT wrong #2: Ivf.query scanned the whole cached vector table
    // to read one row). Pin that the equality predicate reaches the scan
    // and the scan prunes to the two used columns.
    val emb = searchspark.ops.SimOps.embeddings(spark, sfDir)
    val p = plan(searchspark.ops.SimOps.vecFetchPlan(emb, 7L))
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,7)]"),
      s"vec_id fetch must push the equality to the parquet scan:\n$p")
    assert(!p.contains("Exchange"), s"one-row fetch must not shuffle:\n$p")
  }

  test("persisted postings scan: query-term filter pushed to parquet") {
    import spark.implicits._
    val root = Files.createTempDirectory("planguard").toString
    BuildPipeline.run(spark,
      spark.createDataset(TranscriptGen.localCorpus(42L, 10)),
      root, "gen:42:10", partitions = 2)
    val p = plan(BuildPipeline.loadPostings(spark, root)
      .filter(col("term").isInCollection(Seq("w0001", "w0002"))).toDF())
    assert(p.contains("PushedFilters: [In(term, [w0001,w0002])]"),
      s"term filter must reach the parquet scan (row-group pruning):\n$p")

    // A docId lookup (the parity path's page hydration, SearchService:
    // docId isin(ids) over idx.docs) must prune on the persisted layout,
    // not full-scan the texts (the engine path reads the docs once, at
    // load, into its serving partitions instead): the
    // pipeline writes docs_raw range-partitioned + sorted by docId, so
    // the pushed In(docId, …) filter skips row groups via parquet
    // min/max stats. Pin BOTH halves: the pushdown reaches the scan,
    // and the loaded table preserves the docId-clustered layout.
    val docs = BuildPipeline.loadRelational(spark, root).docs
    val hp = plan(docs
      .filter(col("docId").isInCollection(Seq(1L, 3L)))
      .select("docId", "conv_id", "turn_idx", "role", "text"))
    assert(hp.contains("PushedFilters: [In(docId, [1,3])]"),
      s"hydration docId filter must reach the parquet scan:\n$hp")
    import org.apache.spark.sql.functions.{max => fmax, min => fmin, spark_partition_id}
    val ranges = docs
      .groupBy(spark_partition_id().as("p"))
      .agg(fmin("docId").as("lo"), fmax("docId").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"persisted docs must stay docId-range-clustered for pruning: ${ranges.toSeq}")
  }
}
