package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

object Stats {

  /** Nearest-rank percentile, p in [0, 100]. */
  def pct(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  /** The median; the mean of the middle two for an even count. */
  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p90/p95/p99/p99.9 with at least ten samples beyond
    * it; 50 (the median) when there are fewer than 100 samples. */
  def tailPct(n: Int): Double =
    Seq(99.9, 99.0, 95.0, 90.0).find(p => n * (100 - p) / 100 >= 10).getOrElse(50.0)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }
}

/** Fixed-work CPU probe on `threads` threads: each thread runs the same
  * integer loop; the wall time of the whole probe is the host-health
  * reading. It is recorded and compared, never used to drop a run. */
object HostProbe {
  def run(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9e3779b97f4a7c15L + i
        var k = 0
        while (k < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
        if (x == 42L) System.err.println("")
      })
      t.start(); t
    }
    ts.foreach(_.join())
    Stats.ms(t0)
  }
}
