package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.Encoders

import searchspark.index.{IndexBuild, PostingIndex}
import searchspark.model.Turn
import searchspark.oracle.ScalarOracle
import searchspark.query.SearchEngine

/** `search_hot`: steady serving. Set-up builds the index in memory over a
  * seeded transcripts table of ~63k turns (3,000 conversations) with
  * `IndexBuild.build` + a materialized `PostingIndex.build`, and loads it
  * (`SearchEngine.apply`). After a fixed warm-up, two closed-loop clients
  * send a Zipf-popular stream of 1-4-term queries for the run's seconds. */
object SearchHot {
  val Convs = 3000
  val Clients = 2
  val WarmPasses = 1
  val WarmClients = 4
  val GateQueries = 12

  def run(c: Ctx, r: Result): Unit = {
    // conversations are generated where they are written, in parallel;
    // the gate's oracle regenerates the same turns on the driver, beside
    // the write, and is finished before the set-up timer starts
    val path = c.path("corpus")
    val seed = c.seed
    val convs = if (c.small) 50 else Convs
    val gateInputs = Future {
      val turns = Gen.corpus(seed, convs)
      (turns, new ScalarOracle(turns))
    }(ExecutionContext.global)
    c.spark.createDataset(c.sc.parallelize(0L until convs, c.cpus)
      .flatMap(i => Gen.conversation(seed, "c", i)))(Encoders.product[Turn]).write.parquet(path)
    val pool = Gen.queryPool(c.seed)
    val queries = Gen.KindCycle.distinct.flatMap(pool)
    val stream = Gen.stream(c.seed, pool, 100000)
    c.log("corpus written")
    val (turns, oracle) = Await.result(gateInputs, Duration.Inf)
    c.log("oracle built")

    val t0 = System.nanoTime()
    val (idx, buildMs) = Stats.time(c.span("build")(
      IndexBuild.build(c.spark, IndexBuild.readTranscripts(c.spark, path), c.cpus * 2)))
    val ((postings, rows), segMs) = Stats.time(c.span("segments") {
      val p = PostingIndex.build(c.spark, idx).cache()
      (p, p.count())
    })
    val (engine, loadMs) = Stats.time(c.span("load")(SearchEngine(c.spark, idx, postings)))
    r.e2e("setup_s") = Stats.ms(t0) / 1000
    c.log(f"set-up: build $buildMs%.0f ms, segments $segMs%.0f ms, load $loadMs%.0f ms")

    // warm-up, not timed: every pool query `WarmPasses` times (fills the
    // df cache, lets the JIT catch up), with more clients to get it done
    val warm = Seq.fill(WarmPasses)(queries).flatten.toIndexedSeq
    Serving.closedLoop(c, new Result, engine, warm, 120, WarmClients, warm.size)
    c.log("warm")
    val (recs, elapsed) = Serving.closedLoop(c, r, engine, stream, c.seconds, Clients)
    val (p50, qps) = Serving.report(c, r, recs, elapsed)
    r.e2e("latency_p50_ms") = p50
    r.e2e("throughput_per_s") = qps

    if (c.traced) {
      r.layer ++= Serving.phases(c, recs)
      // self-check of the attribution: Spark-job wall plus driver time
      // must add up to the measured query wall within 10%
      r.attempted += 1
      r.check("phase sums")(Option.when(r.layer("query.phase_sum_err") > 0.1)(
        f"job wall + driver time is ${r.layer("query.phase_sum_err") * 100}%.1f%% off the query wall"))
      r.layer("query.load_ms") = loadMs
      r.layer("query.index_mem_mb") = c.storageMb
      r.layer("query.analyze_us") = Serving.analyzeUs(queries)
      r.layer ++= Layers.index(c, c.tracer.get.jobsWhere(c.sc)(s => s == "build" || s == "segments"),
        buildMs + segMs)
      r.layer("index.build_ms") = buildMs
      r.layer("index.segments_ms") = segMs
      r.layer("index.turns_per_s") = idx.stats.totalTurns / ((buildMs + segMs) / 1000)
      r.layer("analyze.tokens_per_s") = Layers.analyzeTokensPerS(turns)
    }

    // correctness gate, outside every timer: corpus stats and posting rows,
    // and a seeded sample of the pool exactly as the scalar oracle answers
    r.attempted += 3
    r.check("doc count")(Option.when(idx.stats.n != oracle.docCount)(s"${idx.stats.n} != ${oracle.docCount}"))
    r.check("avgdl")(Option.when(idx.stats.avgdl != oracle.avgdlGlobal)(s"${idx.stats.avgdl} != ${oracle.avgdlGlobal}"))
    val wantRows = oracle.vocabulary.map(t =>
      oracle.postingDocs(t).map(_ / PostingIndex.DefaultShardSize).distinct.length.toLong).sum
    r.check("posting rows")(Option.when(rows != wantRows)(s"$rows != $wantRows"))
    val rnd = new java.util.SplittableRandom(Gen.mix(c.seed, -3L))
    Seq.fill(GateQueries)(queries(rnd.nextInt(queries.size))).distinct.foreach { q =>
      r.attempt(s"gate '${q.text}'")(engine.search(q.text, q.scope, q.offset)).foreach { got =>
        r.check(s"gate '${q.text}' scope=${q.scope} offset=${q.offset}")(
          Gate.exact(c.gated(got), oracle.search(q.text, q.scope, q.offset, 20)))
      }
    }
    engine.close()
    c.log("gate done")
    // the operator layer has no workload of its own (see README.md): the
    // traced run measures the even half of it, after everything above
    if (c.traced) OpsSuite.run(c, r, half = 0)
  }
}

/** Per-layer numbers shared by the workloads. */
object Layers {

  /** The `index.*` layer over the jobs of one build that took `wallMs`. */
  def index(c: Ctx, jobs: Seq[Tracer.Job], wallMs: Double): Map[String, Double] = {
    val s = c.tracer.get.summary(jobs)
    Map(
      "index.jobs" -> s.jobs.toDouble,
      "index.shuffle_write_mb" -> s.shuffleWrite / 1048576.0,
      "index.spill_mb" -> s.spill / 1048576.0,
      "index.task_skew" -> s.skew,
      "index.busy_frac" -> s.runMs / (wallMs * c.cpus),
      "index.peak_exec_mem_mb" -> s.peakMem / 1048576.0)
  }

  /** Single-threaded `Analyzer.analyze` throughput over a fixed sample
    * of turn texts, timed for ~0.3 s. */
  def analyzeTokensPerS(turns: Seq[Turn]): Double = {
    val texts = turns.take(3000).map(_.text).toArray
    var tokens = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L)
      texts.foreach(t => tokens += searchspark.analyze.Analyzer.analyze(t).length)
    tokens / ((System.nanoTime() - t0) / 1e9)
  }
}
