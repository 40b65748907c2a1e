package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Seeded stand-ins for the operator tables (`documents`, `embeddings`,
  * `events`), shaped like the repository's operator testdata: the 30-word technical
  * vocabulary with `dup` appended to ~5% of documents and a few exact
  * duplicate texts, 64-d unit embeddings, and a month of events. */
object OpsData {
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long, event_type: String,
                         value: Double, props: String)

  val Words: Array[String] = ("a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value vector window").split(" ")
  val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")
  val Types = Array("click", "view", "purchase", "signup", "error")

  def write(spark: SparkSession, seed: Long, dir: String, docs: Int, embs: Int, events: Int): Unit = {
    import spark.implicits._
    val r = new SplittableRandom(Gen.mix(seed, -10L))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val ds = (0 until docs).map { i =>
      val t =
        if (i > 0 && r.nextDouble() < 0.002) texts(r.nextInt(texts.size))
        else {
          val w = Seq.fill(10 + r.nextInt(91))(Words(r.nextInt(Words.length))).mkString(" ")
          if (r.nextDouble() < 0.05) w + " dup" else w
        }
      texts += t
      Doc(i, t, Langs(r.nextInt(Langs.length)), s"src${i % 20}", t.length)
    }
    val es = (0 until embs).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Emb(i, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val month = 30L * 24 * 3600 * 1000000L
    val offsets = Array.fill(events)(r.nextLong(month)).sorted
    val vs = offsets.indices.map { i =>
      Event(i, t0.plusNanos(offsets(i) * 1000L), r.nextInt(events / 66 + 1).toLong,
        Types(r.nextInt(Types.length)), math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    ds.toDS().coalesce(1).write.parquet(s"$dir/documents.parquet")
    es.toDS().coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    vs.toDS().coalesce(1).write.parquet(s"$dir/events.parquet")
  }
}

/** The operator layer: the `graft.SparkEntry.queries` operators, each
  * run once, in name order, over seeded tables. A traced run of each
  * workload measures one half (`half` 0: the even positions in name
  * order, 1: the odd ones), which keeps every run well inside its time
  * limit. Each collected answer is written out so run.py can compare it
  * with the operator's oracle SQL in DuckDB. */
object OpsSuite {
  val Docs = 500
  val Embs = 500
  val Events = 10000
  /** `ann_ivf` answers approximately (8 of 16 clusters probed) while its
    * oracle SQL is the exact top-k, so on seeded embeddings the two
    * differ for some seeds (seed 8: IVF misses vec 420, the exact 7th
    * neighbour). It cannot pass an exact gate here; see README.md. */
  val Excluded = Set("ann_ivf")

  def run(c: Ctx, r: Result, half: Int): Unit = {
    val dir = c.path("ops_tables")
    val out = c.path("ops_out")
    OpsData.write(c.spark, c.seed, dir, Docs, Embs, Events)
    val heldBefore = c.storageMb
    val ops = SparkEntry.queries.toSeq.filterNot(o => Excluded(o._1)).sortBy(_._1)
      .zipWithIndex.collect { case (o, i) if i % 2 == half => o }
    val times = ops.flatMap { case (name, fn) =>
      val n0 = System.nanoTime()
      r.attempt(s"op $name")(c.span(s"ops:$name") {
        val df = fn(c.spark, dir)
        (df.schema, df.collect())
      }).map { case (schema, rows) =>
        val ms = Stats.ms(n0)
        c.spark.createDataFrame(rows.toList.asJava, schema).coalesce(1).write.parquet(s"$out/$name")
        name -> ms
      }
    }
    times.foreach { case (name, ms) => r.layer(s"ops.${name}_s") = ms / 1000 }
    r.layer("ops.total_s") = times.map(_._2).sum / 1000
    r.layer("ops.jobs") = c.tracer.get.jobsWhere(c.sc)(_.startsWith("ops:")).size.toDouble
    // Spark storage the operators cached and never released
    r.layer("ops.leaked_cache_mb") = c.storageMb - heldBefore
    Files.write(Paths.get(out, "oracle_sql.json"), new ObjectMapper().writeValueAsBytes(SparkEntry.oracleSql.filter(o => times.exists(_._1 == o._1)).asJava))
  }
}
