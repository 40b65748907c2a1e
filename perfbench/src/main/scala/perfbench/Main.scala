package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import searchspark.model.SearchResult

/** What one workload run hands back: counts, failures, and metrics.
  * `e2e` holds the end-to-end metrics, `layer` the per-layer ones (only
  * filled when tracing). */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
  }

  /** Run one checked operation: a throw counts as a failure, never as a
    * time. Returns None when it threw. */
  def attempt[T](what: => String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => fail(s"$what: $e"); None }
  }

  def check(what: => String)(mismatch: Option[String]): Unit =
    mismatch.foreach(m => fail(s"$what: $m"))
}

final case class Ctx(spark: SparkSession, cpus: Int, seed: Long, seconds: Double,
                     work: String, tracer: Option[Tracer], inject: Boolean = false,
                     small: Boolean = false) {
  def sc = spark.sparkContext
  def traced: Boolean = tracer.isDefined
  def path(name: String): String = Paths.get(work, name).toString

  /** Tag jobs with a span only in traced runs, so untraced runs pay nothing. */
  def span[T](name: => String)(body: => T): T =
    if (traced) Tracer.span(sc, name)(body) else body

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[perfbench +$up%.1fs] $msg")
  }

  /** An engine answer as the correctness gate sees it. */
  def gated(got: SearchResult): SearchResult = if (inject) Gate.corrupt(got) else got

  /** Spark storage (memory + disk) held right now, MB. */
  def storageMb: Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}

/** Entry point for one workload run in a fresh JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--inject 1]`.
  * Prints one line `PERFBENCH {json}` on stdout. The workload `classes`
  * runs `search_hot` on tiny inputs, so that a JVM started with
  * `-XX:ArchiveClassesAtExit` archives the classes Spark, the build and
  * the queries load. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val cpus = Runtime.getRuntime.availableProcessors
    val probeBefore = HostProbe.run(cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(opt("work"), "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(opt("work"), "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = opt("trace") == "1"
    val ctx = Ctx(spark, cpus, opt("seed").toLong, opt("seconds").toDouble, opt("work"),
      if (trace) Some(Tracer.install(spark.sparkContext)) else None, opt.get("inject").contains("1"),
      small = workload == "classes")
    ctx.log(f"spark up (host probe $probeBefore%.0f ms)")
    val r = new Result
    val gc0 = Stats.gcMs()
    try workload match {
      case "search_hot" => SearchHot.run(ctx, r)
      case "ingest_fresh" => IngestFresh.run(ctx, r)
      case "classes" => SearchHot.run(ctx, r)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.attempted = math.max(r.attempted, 1)
        r.fail(s"workload aborted: $e")
    }
    r.layer("spark.gc_ms") = (Stats.gcMs() - gc0).toDouble
    // the traced run's end-to-end figures; minus an untraced run's, they
    // are the tracing overhead
    r.e2e.foreach { case (k, v) => r.layer(s"traced.$k") = v }
    val probeAfter = HostProbe.run(cpus)
    r.layer("host.probe_ms") = Stats.median(Seq(probeBefore, probeAfter))
    // degraded: the host got more than 30% slower across the run
    r.layer("host.degraded") = if (probeAfter > 1.3 * probeBefore) 1.0 else 0.0
    r.layer("host.cpus") = cpus.toDouble
    System.out.println("PERFBENCH " + json(r))
    System.out.flush()
    spark.stop()
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")

  def json(r: Result): String =
    s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""errors":${r.errors.map(str).mkString("[", ",", "]")},""" +
      s""""e2e":${obj(r.e2e)},"layer":${obj(r.layer)}}"""
}
