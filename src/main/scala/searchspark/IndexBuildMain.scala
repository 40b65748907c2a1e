package searchspark

import org.apache.spark.sql.SparkSession

import searchspark.gen.TranscriptGen
import searchspark.index.{BuildPipeline, IndexBuild}

/** spark-submit entry point for the full index build — the replacement
  * for the reference's `GET /api/startIndexing`
  * (/root/reference/src/main/java/searchengine/controllers/ApiController.java:36-39).
  *
  * Usage (also runnable via `sbt "runMain searchspark.IndexBuildMain ..."`):
  *   spark-submit --class searchspark.IndexBuildMain <jar> \
  *     --root /path/to/index [--transcripts /path/to/parquet | --convs N] \
  *     [--partitions P] [--shard-size S | --append]
  *
  * Cold runs build both stages (docs_raw, postings); re-runs resume
  * from the checkpoint manifest; `--append` routes through the
  * incremental path instead (indexPage analog), at the shard size the
  * root's build manifest records.
  */
object IndexBuildMain {
  def main(args: Array[String]): Unit = {
    var root = ""
    var transcripts: Option[String] = None
    var convs = 500L
    var partitions = 0
    var shardSize: Option[Int] = None
    var appendMode = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--root" => root = args(i + 1); i += 2
        case "--transcripts" => transcripts = Some(args(i + 1)); i += 2
        case "--convs" => convs = args(i + 1).toLong; i += 2
        case "--partitions" => partitions = args(i + 1).toInt; i += 2
        case "--shard-size" => shardSize = Some(args(i + 1).toInt); i += 2
        case "--append" => appendMode = true; i += 1
        case other => sys.error(s"unknown arg: $other")
      }
    }
    require(root.nonEmpty, "--root is required")
    require(!(appendMode && shardSize.isDefined),
      "--shard-size cannot be combined with --append: an append uses the shard size " +
        "the root's build manifest records")

    val spark = SparkSession.builder()
      .appName("searchspark-index-build")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate() // master from spark-submit; sbt runs set SPARK_MASTER
    spark.sparkContext.setLogLevel("WARN")
    val p = if (partitions > 0) partitions
            else spark.sparkContext.defaultParallelism * 2

    val (turns, inputId) = transcripts match {
      case Some(path) => (IndexBuild.readTranscripts(spark, path), s"parquet:$path")
      case None => (TranscriptGen.corpus(spark, TranscriptGen.DefaultSeed, convs, p),
        s"gen:${TranscriptGen.DefaultSeed}:$convs")
    }

    if (appendMode) {
      val rep = searchspark.index.Incremental.append(spark, root, turns)
      println(s"[append] replaced=${rep.replaced} added=${rep.added} " +
        s"shardsRebuilt=${rep.shardsRebuilt} shardsReused=${rep.shardsReused}")
    } else {
      val rep = BuildPipeline.run(spark, turns, root, inputId, p,
        shardSize.getOrElse(searchspark.index.PostingIndex.DefaultShardSize))
      println(s"[build] ran=${rep.ranStages.mkString(",")} " +
        s"skipped=${rep.skippedStages.mkString(",")} docs=${rep.totalRows}")
    }
    spark.stop()
  }
}
