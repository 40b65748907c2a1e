package searchspark.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import searchspark.analyze.Analyzer
import searchspark.gen.TranscriptGen
import searchspark.index.{CacheScope, DocIds, IndexBuild}

/** Dev probe: decompose the TF phase — tokenize/explode/lemma scan vs
  * the groupBy shuffle vs the dl join.
  * Usage: runMain searchspark.bench.TfProbe [convs] [cores] */
object TfProbe {
  def main(args: Array[String]): Unit = {
    val convs = args.lift(0).map(_.toLong).getOrElse(5000L)
    val cores = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val turns = TranscriptGen.corpus(spark, TranscriptGen.DefaultSeed, convs, cores * 2).cache()
    turns.count()
    val docsRaw = DocIds.assign(spark, turns, cores * 2, new CacheScope)
    docsRaw.count()
    def time(label: String)(body: => Long): Unit = (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val n = body
      println(f"[tfprobe run$i] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    val tok = col("tok")
    val exploded = docsRaw
      .select(col("docId"), col("role"), explode(Analyzer.tokensCol(col("text"))).as("tok"))
    time("explode only (count)")(exploded.count())
    val filtered = exploded
      .filter(length(tok) > 1 || tok.isInCollection(Analyzer.KeepShort.toSeq.sorted))
      .filter(!tok.isInCollection(Analyzer.Stopwords.toIndexedSeq))
    time("explode+filters")(filtered.count())
    val lemmas = filtered.select(col("docId"), col("role"), Analyzer.lemmaCol(tok).as("term"))
    time("explode+filters+lemma")(lemmas.select(sum(length(col("term")))).count())
    val tf0 = lemmas.groupBy(col("docId"), col("role"), col("term"))
      .agg((count(lit(1)) * 10).cast("int").as("tfE1"))
    time("…+groupBy agg (tf0)")(tf0.count())
    time("full tfFromDocs (incl dl join)")(IndexBuild.tfFromDocs(docsRaw).count())
    spark.stop()
  }
}
