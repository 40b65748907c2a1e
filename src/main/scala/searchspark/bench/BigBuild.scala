package searchspark.bench

import org.apache.spark.sql.SparkSession
import searchspark.gen.TranscriptGen
import searchspark.index.BuildPipeline
import searchspark.query.SearchEngine

/** One-off: persisted (IceLite + parquet + checkpointed) build of an
  * 80,000-conversation corpus, then reopen from disk and query — the
  * full cold-start story at ~2M turns. */
object BigBuild {
  def main(args: Array[String]): Unit = {
    val convs = args.lift(0).map(_.toLong).getOrElse(80000L)
    val cores = args.lift(1).map(_.toInt).getOrElse(32)
    val root = java.nio.file.Files.createTempDirectory("bigbuild").toString
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val turns = TranscriptGen.corpus(spark, TranscriptGen.DefaultSeed, convs, cores * 2).cache()
    val n = turns.count()
    val t0 = System.nanoTime()
    BuildPipeline.run(spark, turns, root, s"gen:42:$convs", partitions = cores * 2)
    val sec = (System.nanoTime() - t0) / 1e9
    // index load + first query: the load builds the serving partitions
    // from the parquet postings and docs, the first query fills the df
    // cache (serving warm-up, paid once per snapshot)
    val t1 = System.nanoTime()
    val engine = SearchEngine.load(spark, root)
    val r = engine.search("w0001 w0002")
    val loadMs = (System.nanoTime() - t1) / 1e6
    val lat = (1 to 10).map { i =>
      val s = System.nanoTime()
      engine.search(if (i % 2 == 0) "w0001 w0002" else "w0010 w0025 w0031")
      (System.nanoTime() - s) / 1e6
    }.sorted
    val qms = lat(lat.size / 2)
    val du = {
      import scala.sys.process._
      Seq("du", "-sb", root).!!.split("\\s+")(0).toLong
    }
    println(f"""{"bench":"persisted-build","turns":$n,"cores":$cores,"sec":$sec%.2f,"rate":${n / sec}%.0f,"index_bytes":$du,"load_ms":$loadMs%.0f,"warm_query_p50_ms":$qms%.1f,"count":${r.count},"top_score":${r.hits.head.score}}""")
    spark.stop()
  }
}
