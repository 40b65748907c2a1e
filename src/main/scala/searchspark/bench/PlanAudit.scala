package searchspark.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import searchspark.ops.TextOps

/** Physical-plan audit: dump formatted plans of the load-bearing
  * queries so scan pruning / pushdown / codegen spans can be inspected
  * (and regressions spotted in review). Run: runMain searchspark.bench.PlanAudit */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.001"

    def show(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n========== $name ==========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }

    val docs = TextOps.documents(spark, sfDir)
    show("b5_tf (analyzer + TF agg)", TextOps.tf(docs))
    show("bm25_topk", TextOps.bm25TopK(docs, Seq("dup", "key", "vector"), 20))

    // round-5 ops: the Scaladoc posture claims, checked against the plan —
    // vocab/bits tables must broadcast (1-row totals via BroadcastExchange,
    // AQE may also broadcast the vocab join side), the TF-IDF window must
    // partition by doc_id only, and the batched-ANN query fetch must reach
    // the parquet scan as a pushed `In(vec_id, …)` filter.
    show("text_unigram_surprisal", TextOps.unigramSurprisal(docs))
    show("tfidf_top_terms", TextOps.tfidfTopTerms(docs))
    show("decontaminate_overlap",
      TextOps.decontaminateOverlap(docs, TextOps.EvalFixture))
    val emb = searchspark.ops.SimOps.embeddings(spark, sfDir)
    show("ann_batch_topk (query fetch must push In(vec_id))",
      emb.filter(col("vec_id").isInCollection(Seq(0L, 1L, 2L)))
        .select(col("vec_id"), col("embedding")))
    show("ann_batch_topk (full)",
      searchspark.ops.SimOps.annBatchTopK(emb, Seq(0L, 1L, 2L), 10))

    spark.stop()
  }
}
