package searchspark

import org.scalatest.funsuite.AnyFunSuite

import searchspark.gen.TranscriptGen
import searchspark.index.{BuildPipeline, IndexBuild, PostingIndex}
import searchspark.oracle.ScalarOracle
import searchspark.query.{SearchEngine, Wand}

/** The WAND engine path must be rank-identical to the oracle too —
  * same gate as RankIdentitySpec but through compressed segments +
  * per-shard block-max scan + per-partition hydration + driver merge. */
class WandSpec extends AnyFunSuite {

  private lazy val turns = QueryFixtures.corpus(TranscriptGen.UnitConvs * 4)
  private lazy val oracle = new ScalarOracle(turns)
  private lazy val spark = TestSpark.spark
  private lazy val idx = {
    import spark.implicits._
    IndexBuild.build(spark, spark.createDataset(turns), partitions = 4).cache()
  }
  private lazy val postings = PostingIndex.build(spark, idx, shardSize = 512).cache()
  private lazy val engine = SearchEngine(spark, idx, postings, shardSize = 512)

  /** Causes' messages of a throwable, outermost first (a task's throw
    * reaches the driver wrapped in a SparkException). */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")

  test("segment build covers every term exactly once per shard") {
    import spark.implicits._
    val perTerm = postings.groupByKey(p => (p.shard, p.term)).count().collect()
    assert(perTerm.forall(_._2 == 1))
    // total postings across segments == tf row count
    val totalPostings = postings.collect().map(_.blocks.map(_.count).sum.toLong).sum
    assert(totalPostings == idx.tf.count())
  }

  test("WAND is rank-identical to the oracle on the query set (unscoped)") {
    val spec = new RankIdentitySpec
    QueryFixtures.deriveQueries(oracle).filter(_.scope.isEmpty).foreach { q =>
      val expect = oracle.search(q.query, None, q.offset, q.limit)
      val got = engine.search(q.query, None, q.offset, q.limit)
      spec.assertSame("wand-" + q.id, got, expect)
    }
  }

  test("SearchEngine hot path (partitioned, shuffle-free) is rank-identical too") {
    val spec = new RankIdentitySpec
    QueryFixtures.deriveQueries(oracle).foreach { q =>
      val expect = oracle.search(q.query, q.scope, q.offset, q.limit)
      val got = engine.search(q.query, q.scope, q.offset, q.limit)
      spec.assertSame("engine-" + q.id, got, expect)
    }
  }

  test("term-stats dictionary cache: warm query identical, one fewer Spark job") {
    val q = QueryFixtures.deriveQueries(oracle).find(_.scope.isEmpty).get

    def countJobs(body: => Unit): Int = IndexChecks.countJobs(spark.sparkContext)(body)

    val cold = engine.search(q.query, None, q.offset, q.limit) // fills the cache
    var warm: searchspark.model.SearchResult = null
    val warmJobs = countJobs { warm = engine.search(q.query, None, q.offset, q.limit) }
    assert(warm.count == cold.count)
    assert(warm.hits.map(h => (h.docId, h.score)) == cold.hits.map(h => (h.docId, h.score)))
    assert(warmJobs == 1, s"warm query should be the scatter job only, saw $warmJobs jobs")
    // unknown terms are cached too (df=0) — still correct, still 1 job
    val miss1 = engine.search(q.query + " qzzzznotaword", None, q.offset, q.limit)
    val missJobs = countJobs { engine.search(q.query + " qzzzznotaword", None, q.offset, q.limit) }
    assert(miss1.hits.map(_.docId) == cold.hits.map(_.docId)) // unknown-term silent drop
    assert(missJobs == 1, s"warm query with an unknown term: $missJobs jobs")
  }

  test("a cold query is two plain jobs and no SQL execution; a warm one is one job") {
    val sc = spark.sparkContext
    val fresh = SearchEngine(spark, idx, postings, shardSize = 512) // empty df cache
    try {
      val qs = QueryFixtures.deriveQueries(oracle)
      Seq(qs.find(_.scope.isEmpty).get, qs.find(_.scope.nonEmpty).get).foreach { q =>
        val execs = IndexChecks.sqlExecutions(spark)
        var cold: searchspark.model.SearchResult = null
        val coldJobs = IndexChecks.countJobs(sc) { cold = fresh.search(q.query, q.scope, q.offset, q.limit) }
        assert(cold.ok, s"fixture sanity: ${q.id} must answer")
        assert(coldJobs == 2, s"cold ${q.id} (scope ${q.scope}): $coldJobs jobs, want df lookup + scatter")
        assert(IndexChecks.sqlExecutions(spark) == execs, s"cold ${q.id} started a SQL execution")
        val warmJobs = IndexChecks.countJobs(sc) { fresh.search(q.query, q.scope, q.offset, q.limit) }
        assert(warmJobs == 1, s"warm ${q.id} (scope ${q.scope}): $warmJobs jobs")
      }
    } finally fresh.close()
  }

  test("a cold and a warm query build no RDD") {
    val sc = spark.sparkContext
    val fresh = SearchEngine(spark, idx, postings, shardSize = 512) // empty df cache
    /** RDDs `body` builds: the next RDD id moves past every one of them. */
    def rddsBuilt(body: => Unit): Int = {
      val before = sc.parallelize(Seq(1)).id
      body
      sc.parallelize(Seq(1)).id - before - 1
    }
    try {
      val qs = QueryFixtures.deriveQueries(oracle)
      Seq(qs.find(_.scope.isEmpty).get, qs.find(_.scope.nonEmpty).get).foreach { q =>
        val cold = rddsBuilt(assert(fresh.search(q.query, q.scope, q.offset, q.limit).ok))
        val warm = rddsBuilt(fresh.search(q.query, q.scope, q.offset, q.limit))
        assert(cold == 0 && warm == 0, s"${q.id}: cold built $cold RDDs, warm $warm")
      }
    } finally fresh.close()
  }

  test("each query job's first program frame is the method that names its phase") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"wandspec-sites-${java.util.UUID.randomUUID()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // the first searchspark frame of the job's (long) call site, as
    // perfbench's tracer reads it to tell the scatter from the df lookup
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          sites.add(e.stageInfos.maxBy(_.stageId).details.linesIterator.map(_.trim)
            .find(_.startsWith("searchspark."))
            .map(_.takeWhile(_ != '(').split('.').takeRight(2).mkString(".")).getOrElse(""))
    }
    val fresh = SearchEngine(spark, idx, postings, shardSize = 512) // empty df cache
    sc.addSparkListener(listener)
    try {
      val q = QueryFixtures.deriveQueries(oracle).find(_.scope.nonEmpty).get
      def sitesOf(body: => Unit): List[String] = {
        sites.clear()
        sc.setJobGroup(group, "query jobs")
        try body finally sc.clearJobGroup()
        org.apache.spark.ListenerBusDrain(sc)
        sites.toArray(Array.empty[String]).toList
      }
      val scatter = "Wand$.searchPartitioned"
      val dfLookup = "SearchService$.servingDf"
      Seq(None, q.scope).foreach { scope =>
        assert(sitesOf(fresh.search(q.query, scope)) == List(dfLookup, scatter), s"cold, scope $scope")
        assert(sitesOf(fresh.search(q.query, scope)) == List(scatter), s"warm, scope $scope")
      }
    } finally { sc.removeSparkListener(listener); fresh.close() }
  }

  test("limit 0 and an offset + limit past Int.MaxValue answer like the oracle") {
    val spec = new RankIdentitySpec
    val q = QueryFixtures.deriveQueries(oracle).find(_.scope.isEmpty).get
    Seq((0, 0), (5, 0), (Int.MaxValue - 5, 10), (0, Int.MaxValue), (3, Int.MaxValue),
      (Int.MaxValue, Int.MaxValue)).foreach { case (offset, limit) =>
      val expect = oracle.search(q.query, None, offset, limit)
      assert(expect.ok && expect.count > 0, s"fixture sanity: offset $offset limit $limit")
      if (limit == Int.MaxValue && offset < expect.count)
        assert(expect.hits.size == expect.count - offset, "an unbounded page holds every hit")
      spec.assertSame(s"offset $offset limit $limit", engine.search(q.query, None, offset, limit), expect)
    }
  }

  test("a negative offset or limit is rejected, naming the value") {
    Seq((-1, 20, "offset must be non-negative, got -1"),
      (0, -3, "limit must be non-negative, got -3")).foreach { case (offset, limit, msg) =>
      val e = intercept[IllegalArgumentException](engine.search("w0001", None, offset, limit))
      assert(e.getMessage.contains(msg), e.getMessage)
      val o = intercept[IllegalArgumentException](oracle.search("w0001", None, offset, limit))
      assert(o.getMessage.contains(msg), o.getMessage)
    }
  }

  test("a scope with stats but no roleId answers Nothing found without a job") {
    val role = idx.statsByRole.keys.min
    val noRoleId = SearchEngine(spark, idx.copy(roleList = Seq("no-such-role")), postings,
      shardSize = 512)
    try {
      assert(!noRoleId.idx.roleIds.contains(role) && idx.statsByRole.contains(role))
      var r: searchspark.model.SearchResult = null
      val jobs = IndexChecks.countJobs(spark.sparkContext) { r = noRoleId.search("w0001", Some(role)) }
      assert(!r.ok && r.error == "Nothing found", s"$r")
      assert(jobs == 0, s"$jobs jobs")
    } finally noRoleId.close()
  }

  test("scoped WAND (role filter in-scan, scope-local bounds) == oracle") {
    val spec = new RankIdentitySpec
    QueryFixtures.deriveQueries(oracle).filter(_.scope.nonEmpty).foreach { q =>
      val expect = oracle.search(q.query, q.scope, q.offset, q.limit)
      val got = engine.search(q.query, q.scope, q.offset, q.limit)
      spec.assertSame("wand-scoped-" + q.id, got, expect)
    }
    // a scope absent from the corpus → Nothing found (reference: unknown
    // site filter yields an empty page set)
    val r = engine.search("w0001", scope = Some("no-such-role"))
    assert(!r.ok && r.error == "Nothing found")
  }

  test("approx total (opt-in): top-k exact, count estimated, default exact") {
    val q = QueryFixtures.deriveQueries(oracle).find(_.id == "q10a").get
    val exact = engine.search(q.query, None, q.offset, q.limit)
    val approx = engine.search(q.query, None, q.offset, q.limit, exactTotal = false)
    assert(approx.hits == exact.hits, "approx mode must never change the page")
    assert(approx.count > 0)
    // estimate stays within 20% of truth on this corpus (uniform-ish
    // match rate; deterministic, so this is a pinned value not a flake)
    assert(math.abs(approx.count - exact.count).toDouble <= 0.2 * exact.count,
      s"approx=${approx.count} exact=${exact.count}")
  }

  test("approx total: skips fire and estimate extrapolates on a separating corpus") {
    // a corpus where block maxima DO separate: 20 high-tf docs for "xx"
    // sit in the first posting block (lowest docIds); every later block
    // has maxTf=1, so with the heap full its bound can't beat the heap
    // min → blocks are skipped and their candidacy extrapolated. The
    // ccc region (xx without yy) is skipped EXACTLY (yy has no docs in
    // that docId range), so only the uniform bbb region is estimated.
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val pads = (1 to 28).map(i => f"pad$i%02d").mkString(" ")
    val turns =
      (0 until 20).map(i => searchspark.model.Turn("aaaa", i, "user",
        Array.fill(50)("xx").mkString(" ") + " yy", null, ts)) ++
      (0 until 1499).map(i => searchspark.model.Turn(f"bbb$i%04d", 0, "user",
        s"xx yy $pads", null, ts)) ++
      (0 until 500).map(i => searchspark.model.Turn(f"ccc$i%04d", 0, "user",
        "xx qq", null, ts)) ++
      (0 until 500).map(i => searchspark.model.Turn(f"ddd$i%04d", 0, "user",
        "yy qq", null, ts))
    val sIdx = IndexBuild.build(spark, spark.createDataset(turns), partitions = 4)
    val sPost = PostingIndex.build(spark, sIdx, shardSize = 4096)
    val sEngine = SearchEngine(spark, sIdx, sPost, shardSize = 4096)
    val exact = sEngine.search("xx yy")
    val approx = sEngine.search("xx yy", exactTotal = false)
    sEngine.close()
    assert(exact.count == 1519, "fixture sanity: aaaa + bbb docs are the candidates")
    assert(approx.hits == exact.hits, "approx must not change the page")
    // candidates are docIds 0..1518; the sample is the bit-mixed
    // systematic one (fmix64(d) mod 8 == 0 — decorrelated from role/
    // docId parity, round-2 ADVICE), so the pinned expectation is
    // 8 × |sampled candidates|: a deterministic value that differs from
    // the truth (proving docs WERE skipped) yet reconstructs it closely
    val sampled = (0L to 1518L).count(d => (Wand.fmix64(d) & 7L) == 0L)
    assert(approx.count == 8L * sampled,
      s"expected the deterministic sample estimate ${8L * sampled}, " +
        s"got ${approx.count} (exact ${exact.count})")
    assert(math.abs(approx.count - exact.count).toDouble <= 0.1 * exact.count,
      s"estimate ${approx.count} strayed >10% from ${exact.count}")
  }

  test("mergeShardTops: per-shard totals resolved, tops bounded to k") {
    val topsA = Array((1L, 9.0), (2L, 7.0))
    val topsB = Array((3L, 8.0), (4L, 6.0))
    // shard A exact (nothing skipped): contributes 5; shard B skipped:
    // contributes max(2·8, 3) = 16 → merged total 21
    val merged = Wand.mergeShardTops(Iterator(
      (5L, 0L, false, topsA), (3L, 2L, true, topsB)), k = 3).toSeq
    assert(merged.size == 1)
    val (total, sample, skipped, top) = merged.head
    assert(total == 21L && sample == 0L && !skipped)
    assert(top.toSeq == Seq((1L, 9.0), (3L, 8.0), (2L, 7.0)))
    assert(Wand.mergeShardTops(Iterator.empty, k = 3).isEmpty)
  }

  test("hot-path driver fan-in scales with partitions, not shards") {
    val fine = PostingIndex.build(spark, idx, shardSize = 64).cache()
    try {
      val fineEngine = SearchEngine(spark, idx, fine, shardSize = 64)
      val nShards = fine.select("shard").distinct().count()
      val nParts = math.max(spark.sparkContext.defaultParallelism / 4, 4)
      assert(nShards > nParts, s"fixture sanity: $nShards shards vs $nParts partitions")
      val q = QueryFixtures.deriveQueries(oracle).find(_.scope.isEmpty).get
      val r = fineEngine.search(q.query, None, q.offset, q.limit)
      fineEngine.close()
      assert(r.ok)
      assert(Wand.lastFanIn > 0 && Wand.lastFanIn <= nParts,
        s"driver merged ${Wand.lastFanIn} entries for $nShards shards; " +
          s"expected ≤ $nParts (one per partition)")
    } finally fine.unpersist()
  }

  test("WAND agrees at different shard sizes (shard layout is invisible)") {
    val p2 = PostingIndex.build(spark, idx, shardSize = 64).cache()
    try {
      val q = QueryFixtures.deriveQueries(oracle).find(_.id == "q11").get
      val e2 = SearchEngine(spark, idx, p2, shardSize = 64)
      val a = engine.search(q.query, None, q.offset, q.limit)
      val b = e2.search(q.query, None, q.offset, q.limit)
      e2.close()
      assert(a.count == b.count)
      assert(a.hits.map(h => (h.docId, h.score)) == b.hits.map(h => (h.docId, h.score)))
    } finally p2.unpersist()
  }

  test("a shardSize that contradicts the postings fails at load, naming both sizes") {
    val fine = PostingIndex.build(spark, idx, shardSize = 64)
    val e = intercept[IllegalArgumentException](SearchEngine(spark, idx, fine))
    assert(e.getMessage.contains(s"shardSize ${PostingIndex.DefaultShardSize}") &&
      e.getMessage.contains("built with 64-doc shards"), e.getMessage)
  }

  test("a top-k doc missing from its partition fails loudly, naming docId and shard") {
    import org.apache.spark.sql.functions.col
    val q = QueryFixtures.deriveQueries(oracle).find(_.scope.isEmpty).get
    val victim = engine.search(q.query, None, q.offset, q.limit).hits.head.docId
    val broken = SearchEngine(spark, idx.copy(docs = idx.docs.filter(col("docId") =!= victim)),
      postings, shardSize = 512)
    try {
      val e = intercept[Throwable](broken.search(q.query, None, q.offset, q.limit))
      val msgs = messages(e)
      assert(msgs.contains("IllegalStateException") &&
        msgs.contains(s"docId $victim (shard ${victim / 512})"), msgs)
    } finally broken.close()
  }

  test("close() leaves none of the engine's RDDs persisted") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("wand-close").toString
    BuildPipeline.run(spark, spark.createDataset(TranscriptGen.localCorpus(42L, 20)),
      root, "gen:42:20", partitions = 2, shardSize = 256)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val loaded = SearchEngine.load(spark, root)
    assert(loaded.shardSize == 256, "load takes the shard size from the build manifest")
    // cold queries fill the engine's df caches, scoped and not
    assert(loaded.search("w0001 w0002").ok)
    loaded.search("w0001 w0002", scope = Some("user"))
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, "fixture sanity: the engine persists")
    loaded.close()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"RDDs still persisted after close(): " +
      leaked.map(id => sc.getPersistentRDDs(id).toString).mkString(", "))
  }
}
