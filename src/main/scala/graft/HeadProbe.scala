package graft

import org.apache.spark.sql.SparkSession

import searchspark.gen.TranscriptGen
import searchspark.index.{IndexBuild, PostingIndex}

/** Dev tool: interleaved exact-vs-approx head-query timing to separate
  * real cost from JIT/ordering artifacts. Usage:
  *   tools/run_main.sh graft.HeadProbe [convs] [reps]
  */
object HeadProbe {
  def main(args: Array[String]): Unit = {
    val convs = if (args.length > 0) args(0).toLong else 5000L
    val reps = if (args.length > 1) args(1).toInt else 8
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val turns = TranscriptGen.corpus(spark, TranscriptGen.DefaultSeed, convs, 64)
    val idx = IndexBuild.build(spark, turns, partitions = 64)
    val postings = PostingIndex.build(spark, idx, shardSize = 16384).cache()
    postings.count()
    val engine = searchspark.query.SearchEngine(spark, idx, postings, shardSize = 16384)
    val headTerms = idx.terms.orderBy(org.apache.spark.sql.functions.desc("df"))
      .filter(org.apache.spark.sql.functions.col("term").rlike("^w\\d{4}"))
      .limit(2).collect().map(_.getString(0))
    val headQ = headTerms.mkString(" ")
    def time(body: => Unit): Double = {
      val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e6
    }
    // warm BOTH modes, then interleave
    (1 to 3).foreach { _ =>
      engine.search(headQ); engine.search(headQ, exactTotal = false)
    }
    val ex = collection.mutable.ArrayBuffer[Double]()
    val ap = collection.mutable.ArrayBuffer[Double]()
    (1 to reps).foreach { _ =>
      ex += time(engine.search(headQ))
      ap += time(engine.search(headQ, exactTotal = false))
    }
    println(f"[headprobe] q='$headQ' exact min=${ex.min}%.1f med=${ex.sorted.apply(reps / 2)}%.1f  " +
      f"approx min=${ap.min}%.1f med=${ap.sorted.apply(reps / 2)}%.1f ms")
    spark.stop()
  }
}
