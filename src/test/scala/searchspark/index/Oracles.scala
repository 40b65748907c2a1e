package searchspark.index

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import searchspark.analyze.Analyzer
import searchspark.model.{Turn, ZoneConfig}
import searchspark.query.Scoring

/** Independent forms of the build's kernels, kept as the cross-check
  * oracles StabilitySpec compares the product paths against. */
object Oracles {

  /** The declarative (Catalyst groupBy + dl-join) TF form the
    * IndexBuild.tfFromDocs kernel replaced (StabilitySpec asserts kernel
    * == declarative row-for-row, zoned and unzoned). */
  def tfFromDocsDeclarative(docsRaw: DataFrame, zones: Option[ZoneConfig] = None): DataFrame = {
    val tok = col("tok")
    val tf0 = zones match {
      case None =>
        docsRaw
          .select(col("docId"), col("role"), explode(Analyzer.tokensCol(col("text"))).as("tok"))
          .filter(length(tok) > 1 || tok.isInCollection(Analyzer.KeepShort.toSeq.sorted))
          .filter(!tok.isInCollection(Analyzer.Stopwords.toIndexedSeq))
          .select(col("docId"), col("role"), Analyzer.lemmaCol(tok).as("term"))
          .groupBy(col("docId"), col("role"), col("term"))
          .agg((count(lit(1)) * Scoring.TfScaleE1).cast("int").as("tfE1"))
      case Some(z) =>
        docsRaw
          .select(col("docId"), col("role"),
            posexplode(Analyzer.tokensCol(col("text"))).as(Seq("pos", "tok")))
          .filter(length(tok) > 1 || tok.isInCollection(Analyzer.KeepShort.toSeq.sorted))
          .filter(!tok.isInCollection(Analyzer.Stopwords.toIndexedSeq))
          .select(col("docId"), col("role"),
            (col("pos") < z.titleTokens).as("isTitle"),
            Analyzer.lemmaCol(tok).as("term"))
          .groupBy(col("docId"), col("role"), col("term"))
          .agg(sum(when(col("isTitle"), 1L).otherwise(0L)).as("tfT"),
            sum(when(col("isTitle"), 0L).otherwise(1L)).as("tfB"))
          .select(col("docId"), col("role"), col("term"),
            when(col("tfB") > 0, col("tfB") * z.bodyWeightE1)
              .otherwise(col("tfT") * z.titleWeightE1).cast("int").as("tfE1"))
    }
    // dlE1 = Σ tfE1 per doc, joined back onto the SKINNY tf rows (never
    // the texts table): at bench scale the dl side auto-broadcasts; at
    // cluster scale it's a shuffle join of two narrow tables. (A narrow
    // per-row dl recompute was tried and reverted: higher-order filter()
    // lambdas are interpreted, not codegen'd — it made TF 4x slower.)
    val dl = tf0.groupBy("docId").agg(sum("tfE1").as("dlE1"))
    tf0.join(dl, Seq("docId"))
      .select("docId", "role", "dlE1", "term", "tfE1")
  }

  /** ZipIndex's unfused form: returns df + a dense `name` rank column
    * ordered by `sortCols`.
    * The sorted intermediate is cached in `scope`: the ranks are only
    * valid over that cached layout, so release the scope after the
    * result has been materialized (written, collected or cached). */
  def withRank(df: DataFrame, sortCols: Seq[Column], partitions: Int,
               name: String, scope: CacheScope): DataFrame =
    ZipIndex.rankOverSorted(
      df.repartitionByRange(partitions, sortCols: _*)
        .sortWithinPartitions(sortCols: _*),
      name, scope)

  /** DocIds.assign's single-exchange fused form (round-3's design):
    * key-dedup fused into ZipIndex's range shuffle — ONE wide exchange of
    * the full rows. StabilitySpec pins the zip path against it. */
  def assignViaRangeExchange(spark: SparkSession, turns: Dataset[Turn],
                             partitions: Int, scope: CacheScope): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val sortedDedup = turns.toDF()
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .select(col("conv_id"), col("turn_idx"),
        struct(col("ts"), col("role"), col("tool"), col("text")).as("__v"))
      .repartitionByRange(partitions, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"), col("__v").desc)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("conv_id", "turn_idx").orderBy(col("__v").desc)))
      .filter(col("__rn") === 1)
      .select(col("conv_id"), col("turn_idx"),
        coalesce(col("__v.role"), lit("")).as("role"),
        col("__v.tool").as("tool"), col("__v.ts").as("ts"),
        col("__v.text").as("text"))
    ZipIndex.rankOverSorted(sortedDedup, "docId", scope)
      .select("docId", "conv_id", "turn_idx", "role", "tool", "ts", "text")
  }
}
