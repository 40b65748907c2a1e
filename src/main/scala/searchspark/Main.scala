package searchspark

import org.apache.spark.sql.SparkSession

import searchspark.gen.TranscriptGen
import searchspark.index.IndexBuild

/** CLI surface of the engine — the `GET /api/search` analog
  * (/root/reference/src/main/java/searchengine/controllers/ApiController.java:66-76).
  *
  * Usage: runMain searchspark.Main <query> [--scope role] [--offset n]
  *        [--limit n] [--convs n] [--transcripts parquetPath]
  *
  * Builds the index over the deterministic generated corpus (or a
  * transcripts parquet path) and runs one search, printing the hits the
  * way the reference's API returns them (count, relevance, snippet).
  */
object Main {
  def main(args: Array[String]): Unit = {
    var query = ""
    var scope: Option[String] = None
    var offset = 0
    var limit = 20 // reference defaults (ApiController.java:69-70)
    var convs = 200
    var path: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--scope" => scope = Some(args(i + 1)); i += 2
        case "--offset" => offset = args(i + 1).toInt; i += 2
        case "--limit" => limit = args(i + 1).toInt; i += 2
        case "--convs" => convs = args(i + 1).toInt; i += 2
        case "--transcripts" => path = Some(args(i + 1)); i += 2
        case q => query = (query + " " + q).trim; i += 1
      }
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("searchspark")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val turns = path match {
      case Some(p) => IndexBuild.readTranscripts(spark, p)
      case None => TranscriptGen.corpus(spark, TranscriptGen.DefaultSeed, convs.toLong, 4)
    }
    val engine = searchspark.query.SearchEngine.fromTurns(spark, turns, partitions = 8)
    val idx = engine.idx
    println(s"[index] docs=${idx.stats.n} skippedBlank=${idx.stats.skippedBlank} " +
      s"terms=${IndexBuild.termDict(idx.tf).count()} avgdl=${f"${idx.stats.avgdl / searchspark.query.Scoring.TfScaleE1}%.2f"}") // display in token units (stats are E1)

    val r = engine.search(query, scope, offset, limit)
    if (!r.ok) println(s"""{"result":false,"error":"${r.error}"}""")
    else {
      println(s"""{"result":true,"count":${r.count}}""")
      r.hits.foreach { h =>
        println(f"  ${h.docId}%6d ${h.conv_id}/${h.turn_idx}%-3d role=${h.role}%-9s " +
          f"score=${h.score}%.6f rel=${h.relevance}%.4f | ${h.snippet.take(120)}")
      }
    }
    spark.stop()
  }
}
