package searchspark.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, desc}

import searchspark.gen.TranscriptGen
import searchspark.index.IndexBuild
import searchspark.query.SearchEngine

/** Head-query total-count bench: the exact-total contract forces WAND to
  * intersect every conjunctive candidate (BENCH.md round 1: 873 ms at
  * 854k candidates / 2.08M turns). Measures the opt-in estimated-total
  * mode (top-k stays exact) against it at the same corpus size.
  *
  * Usage: runMain searchspark.bench.HeadQueryBench [convs] [cores]
  */
object HeadQueryBench {
  def main(args: Array[String]): Unit = {
    val convs = args.lift(0).map(_.toLong).getOrElse(80000L) // ≈2.08M turns
    val cores = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val turns = TranscriptGen.corpus(spark, TranscriptGen.DefaultSeed, convs, cores * 2).cache()
    turns.count()
    val engine = SearchEngine.fromTurns(spark, turns, partitions = cores * 2,
      shardSize = 16384)
    val idx = engine.idx // one build, shared with the engine

    // worst case: the two highest-df content stems → huge candidate set
    val headTerms = IndexBuild.termDict(idx.tf).filter(col("term").rlike("^w\\d{4}"))
      .orderBy(desc("df")).limit(2).collect().map(_.getString(0))
    val q = headTerms.mkString(" ")

    def timeMs(body: => Unit): Double = {
      val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e6
    }
    engine.search(q); engine.search(q, exactTotal = false) // warm both paths
    val exact = (1 to 5).map(_ => timeMs(engine.search(q))).min
    val approx = (1 to 5).map(_ => timeMs(engine.search(q, exactTotal = false))).min
    val rExact = engine.search(q)
    val rApprox = engine.search(q, exactTotal = false)
    require(rExact.hits.map(_.docId) == rApprox.hits.map(_.docId),
      "approx mode must not change the page")

    println(f"""{"bench":"head-query","turns":${idx.stats.totalTurns},"query":"$q","candidates":${rExact.count},"exact_ms":$exact%.1f,"approx_ms":$approx%.1f,"approx_total":${rApprox.count},"total_rel_err":${math.abs(rApprox.count - rExact.count).toDouble / rExact.count}%.4f}""")
    spark.stop()
  }
}
