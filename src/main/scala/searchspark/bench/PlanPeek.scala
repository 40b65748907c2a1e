package searchspark.bench
import org.apache.spark.sql.SparkSession

/** Scratch plan probe: run a query warm, then inspect the FINAL adaptive
  * plan (AQE resolves ReusedExchange only after stages materialize, so
  * pre-execution executedPlan understates reuse). */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val turns = searchspark.gen.TranscriptGen.corpus(spark, 42L, 200L, 8)
    val assigned = searchspark.index.DocIds.assign(spark, turns, 8, new searchspark.index.CacheScope)
    assigned.collect()
    val plan = assigned.queryExecution.executedPlan.toString
    println(plan)
    println("Exchange nodes: " + "Exchange ".r.findAllIn(plan).length)
    println("Sort nodes: " + "Sort \\[".r.findAllIn(plan).length)
    println("Window nodes: " + "Window ".r.findAllIn(plan).length)
    spark.stop()
  }
}
