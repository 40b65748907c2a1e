package searchspark.bench

import org.apache.spark.sql.SparkSession

import searchspark.gen.TranscriptGen
import searchspark.index.{CacheScope, DocIds, IndexBuild}

/** Dev probe: isolate the two-pass docId assignment's cost components —
  * (a) the narrow key pass + rank (runs inside assignWithMeta), (b) the
  * zip-back materialization alone (docsRaw count), (c) the TF kernel over
  * the zip output, (d) the TF kernel over a CACHED copy of the same docs
  * (kernel-only control). Usage: runMain searchspark.bench.ZipProbe [convs] [cores]
  */
object ZipProbe {
  def main(args: Array[String]): Unit = {
    val convs = args.lift(0).map(_.toLong).getOrElse(10000L)
    val cores = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[zipprobe $label] ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    (1 to 2).foreach { round =>
      println(s"--- round $round ---")
      val turns = TranscriptGen.corpus(spark, TranscriptGen.DefaultSeed, convs, cores * 2).cache()
      time("gen")(turns.count())
      val (docsRaw, meta) = time("assignWithMeta (key pass + rank)") {
        DocIds.assignWithMeta(spark, turns, cores * 2, new CacheScope)
      }
      time("zip-back count (docsRaw.count)")(docsRaw.count())
      time("zip-back count AGAIN")(docsRaw.count())
      val tf = IndexBuild.tfFromDocs(docsRaw)
      time("tf kernel over zip output (no cache)")(tf.count())
      val tfC = IndexBuild.tfFromDocs(docsRaw).cache()
      time("tf kernel over zip output + CACHE (build's form)")(tfC.count())
      time("cached tf re-count")(tfC.count())
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
