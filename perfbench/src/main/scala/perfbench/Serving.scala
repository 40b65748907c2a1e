package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import searchspark.analyze.Analyzer
import searchspark.query.SearchEngine

/** Closed-loop query clients and the per-query phase breakdown. */
object Serving {

  /** One answered query: its span id, epoch-ms window and wall ms. */
  final case class Rec(id: Long, startMs: Long, endMs: Long, ms: Double)

  private val ids = new AtomicLong

  /** `clients` threads, each sending its next query from `qs` only after
    * the previous one returned, until `seconds` have passed (or `maxQueries`
    * were sent). A query that throws counts as failed and is not timed.
    * Returns the answered queries and the elapsed seconds. */
  def closedLoop(c: Ctx, r: Result, engine: SearchEngine, qs: IndexedSeq[Gen.Query],
                 seconds: Double, clients: Int, maxQueries: Int = Int.MaxValue): (Seq[Rec], Double) = {
    val next = new AtomicLong
    val recs = mutable.ArrayBuffer.empty[Rec]
    val errors = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (System.nanoTime() < deadline && i < maxQueries) {
          val q = qs((i % qs.size).toInt)
          val id = ids.incrementAndGet()
          val s = System.currentTimeMillis()
          val n0 = System.nanoTime()
          try {
            c.span(s"q:$id")(engine.search(q.text, q.scope, q.offset))
            val rec = Rec(id, s, System.currentTimeMillis(), Stats.ms(n0))
            recs.synchronized(recs += rec)
          } catch {
            case e: Throwable => errors.synchronized(errors += s"query '${q.text}': $e")
          }
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    r.attempted += recs.size + errors.size
    errors.foreach(r.fail)
    (recs.toList, elapsed)
  }

  /** Query latency over answered queries into the per-layer metrics:
    * median, the highest percentile with ten samples beyond it, p99 and
    * queries/s. Returns (p50 ms, queries/s). */
  def report(c: Ctx, r: Result, recs: Seq[Rec], elapsedS: Double): (Double, Double) = {
    val ms = recs.map(_.ms)
    val tail = Stats.tailPct(ms.size)
    val (p50, qps) = (Stats.median(ms), recs.size / elapsedS)
    r.layer("query.samples") = ms.size.toDouble
    r.layer("query.p50_ms") = p50
    r.layer("query.tail_pct") = tail
    r.layer("query.tail_ms") = if (tail == 50.0) p50 else Stats.pct(ms, tail)
    r.layer("query.p99_ms") = Stats.pct(ms, 99)
    r.layer("query.qps") = qps
    val quarters = recs.sortBy(_.startMs).grouped(math.max(1, (recs.size + 3) / 4))
      .map(q => f"${Stats.median(q.map(_.ms))}%.0f").mkString("/")
    c.log(f"${ms.size} queries answered in $elapsedS%.1f s: p50 $p50%.1f ms (by quarter $quarters), " +
      f"p$tail ${r.layer("query.tail_ms")}%.1f ms, $qps%.1f/s")
    (p50, qps)
  }

  /** Per-query phase means from the tracer: Spark jobs by call site
    * (scatter, hydrate, df_lookup, other), driver time (query wall minus
    * the union of its jobs' wall), counts and bytes. `phase_sum_err` is
    * |Σ job walls + driver − wall| / wall over all queries: jobs of one
    * query that overlap, or jobs attributed to the wrong query, show up
    * there. */
  def phases(c: Ctx, recs: Seq[Rec]): Map[String, Double] = {
    val t = c.tracer.get
    val byQuery = t.jobsWhere(c.sc)(_.startsWith("q:")).groupBy(_.span)
    val n = math.max(1, recs.size).toDouble
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var withLookup = 0
    recs.foreach { q =>
      val js = byQuery.getOrElse(s"q:${q.id}", Nil)
      val sum = t.summary(js)
      val cover = union(js.map(j => (math.max(j.start, q.startMs), math.min(j.end, q.endMs))))
      val driver = math.max(0.0, q.ms - cover)
      acc("jobs") += js.size
      acc("tasks") += sum.tasks
      acc("sched") += sum.schedMs
      acc("result") += sum.resultBytes
      acc("driver") += driver
      acc("wall") += q.ms
      acc("phase_sum") += js.map(_.wallMs).sum + driver
      js.foreach { j =>
        val p = Tracer.queryPhase(j.site)
        acc(p) += j.wallMs
        if (p == "scatter") acc("scatter_task") += t.summary(Seq(j)).runMs
      }
      if (js.exists(j => Tracer.queryPhase(j.site) == "df_lookup")) withLookup += 1
    }
    Map(
      "query.jobs_per_query" -> acc("jobs") / n,
      "query.tasks_per_query" -> acc("tasks") / n,
      "query.sched_delay_ms" -> acc("sched") / n,
      "query.scatter_job_ms" -> acc("scatter") / n,
      "query.scatter_task_ms" -> acc("scatter_task") / n,
      "query.hydrate_job_ms" -> acc("hydrate") / n,
      "query.df_lookup_job_ms" -> (if (withLookup == 0) 0.0 else acc("df_lookup") / withLookup),
      "query.df_lookup_frac" -> withLookup / n,
      "query.other_job_ms" -> acc("other") / n,
      "query.driver_ms" -> acc("driver") / n,
      "query.result_kb" -> acc("result") / 1024.0 / n,
      "query.phase_sum_err" -> math.abs(acc("phase_sum") - acc("wall")) / math.max(1e-9, acc("wall")))
  }

  /** Total length of the union of [a, b] intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var end = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered.toDouble
  }

  /** Microseconds per `Analyzer.analyzeQuery` call over the pool, timed
    * single-threaded for ~0.3 s. */
  def analyzeUs(pool: IndexedSeq[Gen.Query]): Double = {
    var calls = 0L
    var sink = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) {
      pool.foreach(q => sink += Analyzer.analyzeQuery(q.text).size)
      calls += pool.size
    }
    if (sink == -1) System.err.println("")
    (System.nanoTime() - t0) / 1e3 / calls
  }
}
