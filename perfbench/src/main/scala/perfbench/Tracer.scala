package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The benchmark's SparkListener. Each job is attributed to the span the
  * submitting thread set in the local property [[Tracer.SpanKey]] (a
  * query, a build, an append, an operator) and to a phase named after
  * the first program frame of the job's call site. Stage and task
  * metrics are folded per stage. Nothing inside the program is
  * instrumented. */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = Job(span, frame(details), e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
    s.taskMs += e.taskInfo.duration.toDouble
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.resultBytes += m.resultSize
    }
  }

  /** Every finished job whose span satisfies `p`, after the bus drained. */
  def jobsWhere(sc: SparkContext)(p: String => Boolean): Seq[Job] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(jobs.values.filter(j => j.end >= 0 && p(j.span)).toList)
  }

  private def stagesOf(js: Seq[Job]): Seq[StageAgg] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.taskMs.nonEmpty)
  }

  def summary(js: Seq[Job]): Summary = {
    val ss = stagesOf(js)
    def skew(s: StageAgg) = if (s.taskMs.size < 2) 1.0
      else s.taskMs.max / math.max(1.0, Stats.median(s.taskMs.toSeq))
    Summary(
      jobs = js.size,
      tasks = ss.map(_.taskMs.size).sum,
      runMs = ss.map(_.runMs.toDouble).sum,
      shuffleWrite = ss.map(_.shuffleWrite).sum,
      spill = ss.map(_.spill).sum,
      peakMem = if (ss.isEmpty) 0L else ss.map(_.peakMem).max,
      resultBytes = ss.map(_.resultBytes).sum,
      skew = if (ss.isEmpty) 0.0 else ss.map(skew).max,
      // job wall not covered by the slowest task of each of its stages:
      // task launch, serialization and result fetch
      schedMs = js.map { j =>
        val crit = j.stageIds.flatMap(stages.get).filter(_.taskMs.nonEmpty).map(_.taskMs.max).sum
        math.max(0.0, j.wallMs - crit)
      }.sum)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Job(span: String, site: String, start: Long, var end: Long,
                       stageIds: Seq[Int]) {
    def wallMs: Double = (end - start).toDouble
  }

  final class StageAgg {
    val taskMs = mutable.ArrayBuffer.empty[Double]
    var runMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
    var resultBytes = 0L
  }

  final case class Summary(jobs: Int, tasks: Int, runMs: Double,
                           shuffleWrite: Long, spill: Long, peakMem: Long,
                           resultBytes: Long, skew: Double, schedMs: Double)

  /** `Class.method` of the first program frame in a long call site. */
  def frame(details: String): String =
    details.linesIterator.map(_.trim)
      .find(l => l.startsWith("searchspark.") || l.startsWith("graft."))
      .map(l => l.takeWhile(_ != '(').split('.').takeRight(2).mkString("."))
      .getOrElse("")

  /** Query phase of a job, from its call site. */
  def queryPhase(site: String): String =
    if (site.startsWith("Wand$") && site.contains("searchPartitioned")) "scatter"
    else if (site.startsWith("Wand$")) "hydrate"
    else if (site.startsWith("SearchService$")) "df_lookup"
    else "other"

  def install(sc: SparkContext): Tracer = {
    val t = new Tracer
    sc.addSparkListener(t)
    t
  }

  /** Run `body` with every Spark job it submits tagged with `span`. */
  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }
}
