package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}

import searchspark.index.{BuildPipeline, IceLite, PostingIndex}
import searchspark.model.SearchResult
import searchspark.oracle.ScalarOracle
import searchspark.query.SearchEngine
import searchspark.streaming.StreamIngest

/** `ingest_fresh`: writes beside reads. Set-up persists a cold build
  * (`BuildPipeline.run`). Each cycle then hands a seeded delta to
  * `StreamIngest.applyBatch` (new conversations and replaced turns
  * carrying the cycle's marker term, blanked turns retracting docs),
  * reloads the engine (`SearchEngine.load`), searches the marker and runs
  * a short burst of pool queries. */
object IngestFresh {
  val Convs = 560
  val Added = 700
  val Replace = 200
  val Retract = 100
  val Recent = 2000
  val MinCycles = 2
  val WarmBurst = 10
  val Burst = 30
  val GateQueries = 10
  val Tables = Seq("docs_raw", "tf", "terms", "terms_by_role", "postings")

  private def snapshots(root: String): Map[String, (Long, Long)] = Tables.flatMap { t =>
    IceLite.currentSnapshot(Paths.get(root, t).toString).map(s => t -> (s.snapshotId, s.files.map(_.bytes).sum))
  }.toMap

  def run(c: Ctx, r: Result): Unit = {
    import c.spark.implicits._
    val base = Gen.corpus(c.seed, Convs)
    val root = c.path("index")
    val parts = c.cpus

    val (_, buildMs) = Stats.time(c.span("build")(
      BuildPipeline.run(c.spark, c.spark.createDataset(base), root, s"seed-${c.seed}", parts)))
    r.e2e("setup_s") = buildMs / 1000
    c.log(f"set-up: persisted build $buildMs%.0f ms")

    val pool = Gen.queryPool(c.seed)
    val queries = Gen.KindCycle.distinct.flatMap(pool)
    // the bursts walk the pool in a seed-independent order: 30 queries
    // are too few to average out a Zipf draw's mix of term counts
    val sweep = Gen.sweep(pool)
    val current = mutable.Map.empty[(String, Int), searchspark.model.Turn]
    base.filter(_.text.trim.nonEmpty).foreach(t => current((t.conv_id, t.turn_idx)) = t)

    val fresh, append, load, written, deltaBytes, rebuiltFrac = mutable.ArrayBuffer.empty[Double]
    val bursts = mutable.ArrayBuffer.empty[Serving.Rec]
    var engine: Option[SearchEngine] = None
    var cycle = 0
    var burstS = 0.0
    var walked = 0
    val start = System.nanoTime()
    while (cycle < MinCycles || System.nanoTime() - start < c.seconds * 1e9) {
      val d = Gen.delta(c.seed, cycle, current.toMap, Added, Replace, Retract, Recent)
      val batch = c.spark.createDataset(d.turns)
      val before = snapshots(root)
      lazy val docsBefore = BuildPipeline.loadRelational(c.spark, root).docs
      val touchedShards = if (c.traced) shardsOf(docsBefore, d.replaced ++ d.retracted) else Set.empty[Long]
      val maxBefore = if (c.traced) maxDocId(docsBefore) else 0L
      engine.foreach(_.close())

      val t = System.nanoTime()
      val appended = r.attempt(s"append $cycle")(c.span(s"append:$cycle")(
        StreamIngest.applyBatch(c.spark, root, batch, cycle.toLong, parts)))
      val appendMs = Stats.ms(t)
      val (loaded, loadMs) = Stats.time(c.span(s"reload:$cycle")(SearchEngine.load(c.spark, root)))
      engine = Some(loaded)
      val hit = r.attempt(s"marker $cycle")(loaded.search(d.marker))
      val freshMs = Stats.ms(t)
      if (appended.contains(true) && hit.isDefined) {
        fresh += freshMs; append += appendMs; load += loadMs
      } else if (appended.contains(false)) r.fail(s"append $cycle was taken for a replay")

      // freshness checks, outside the timers: the marker finds exactly the
      // new and replaced docs, and no retracted doc is left
      hit.foreach { h =>
        val want = d.added.size + d.replaced.size
        r.check(s"marker $cycle count")(Option.when(h.count != want)(s"${h.count} docs, want $want"))
        r.check(s"marker $cycle hits")(h.hits.find(x => !d.added((x.conv_id, x.turn_idx)) &&
          !d.replaced((x.conv_id, x.turn_idx))).map(x => s"unexpected ${x.conv_id}/${x.turn_idx}"))
      }
      r.attempted += 1
      val left = loaded.idx.docs.select("conv_id", "turn_idx").as[(String, Int)]
        .filter(k => d.retracted.contains(k)).count()
      r.check(s"retractions $cycle")(Option.when(left != 0)(s"$left retracted docs still indexed"))

      d.turns.foreach { t =>
        val k = (t.conv_id, t.turn_idx)
        if (d.retracted(k)) current.remove(k) else current(k) = t
      }
      if (c.traced) {
        val after = snapshots(root)
        written += after.collect { case (tb, (id, bytes)) if !before.get(tb).exists(_._1 == id) => bytes.toDouble }.sum
        deltaBytes += d.textBytes.toDouble
        // the shards an append must rebuild: those holding a replaced or
        // retracted doc, and those the new docIds fall into
        val shard = PostingIndex.DefaultShardSize
        val rebuilt = touchedShards ++ ((maxBefore + 1) to maxDocId(loaded.idx.docs)).map(_ / shard).toSet
        val reused = (0L to maxBefore / shard).toSet -- rebuilt
        rebuiltFrac += rebuilt.size.toDouble / (rebuilt.size + reused.size)
      }
      // the first burst holds the JVM's first queries, run while the JIT
      // still compiles the query path: a throw there still fails the run,
      // but its latencies are not measured
      val n = if (cycle == 0) WarmBurst else Burst
      val from = walked % sweep.size
      val (recs, s) = Serving.closedLoop(c, r, loaded, sweep.drop(from) ++ sweep.take(from), 60, 1, n)
      walked += n
      if (cycle > 0) { bursts ++= recs; burstS += s }
      cycle += 1
    }
    r.e2e("latency_p50_ms") = Stats.median(fresh)
    // the rate one client sustains right after a reload, when every term
    // first misses the df cache: 1 / the median burst-query latency (the
    // median, not the mean, because 30 queries carry a few slow outliers)
    r.e2e("throughput_per_s") = 1000 / Stats.median(bursts.map(_.ms))
    Serving.report(c, r, bursts.toSeq, burstS)
    c.log(s"$cycle cycles: fresh ${fresh.map(_.round).mkString("/")} ms, " +
      s"append ${append.map(_.round).mkString("/")} ms, load ${load.map(_.round).mkString("/")} ms")

    if (c.traced) {
      val t = c.tracer.get
      val appends = t.jobsWhere(c.sc)(_.startsWith("append:"))
      val sum = t.summary(appends)
      r.layer ++= Serving.phases(c, bursts.toSeq)
      r.layer("query.load_ms") = Stats.median(load)
      r.layer("query.index_mem_mb") = c.storageMb
      r.layer("index.turns_per_s") = base.size / (buildMs / 1000)
      r.layer ++= Layers.index(c, t.jobsWhere(c.sc)(_ == "build"), buildMs)
      r.layer("ingest.fresh_p50_ms") = Stats.median(fresh)
      r.layer("ingest.append_p50_ms") = Stats.median(append)
      r.layer("ingest.jobs_per_append") = sum.jobs.toDouble / cycle
      r.layer("ingest.shuffle_mb_per_append") = sum.shuffleWrite / 1048576.0 / cycle
      r.layer("ingest.bytes_written_per_delta_byte") = written.sum / deltaBytes.sum
      r.layer("ingest.shards_rebuilt_frac") = Stats.median(rebuiltFrac)
      val textBytes = current.values.map(_.text.getBytes("UTF-8").length.toLong).sum
      r.layer("ingest.bytes_per_text_byte") = snapshots(root).values.map(_._2).sum.toDouble / textBytes
      BuildPipeline.readManifest(root).foreach(_.stages.foreach { case (s, rec) =>
        r.layer(s"index.stage.${s}_ms") = rec.elapsedMs.toDouble
      })
    }

    // correctness gate over the post-cycle turn set; docIds of appended
    // docs differ from a cold build's, so tied scores compare as sets
    val last = engine.get
    val oracle = new ScalarOracle(current.values.toSeq)
    // the oracle's ranking from the top through the whole score group of
    // the page's last hit; a cut-off list whose last hit is still in that
    // group may continue past it, so then the whole ranking
    def ranking(q: Gen.Query): SearchResult = {
      val edge = q.offset + 20
      val head = oracle.search(q.text, q.scope, 0, edge + 100)
      val h = head.hits
      if (h.size < edge + 100 || h.last.score != h(edge - 1).score) head
      else oracle.search(q.text, q.scope, 0, Int.MaxValue / 2)
    }
    val rnd = new java.util.SplittableRandom(Gen.mix(c.seed, -4L))
    Seq.fill(GateQueries)(queries(rnd.nextInt(queries.size))).distinct.foreach { q =>
      r.attempt(s"gate '${q.text}'")(last.search(q.text, q.scope, q.offset)).foreach { got =>
        r.check(s"gate '${q.text}' scope=${q.scope} offset=${q.offset}")(
          Gate.tieTolerant(c.gated(got), ranking(q), q.offset, 20))
      }
    }
    last.close()
    c.log("gate done")
    // the operator layer has no workload of its own (see README.md): the
    // traced run measures the odd half of it, after everything above
    if (c.traced) OpsSuite.run(c, r, half = 1)
  }

  private def shardsOf(docs: DataFrame, keys: Set[(String, Int)]): Set[Long] = {
    import docs.sparkSession.implicits._
    docs.select("conv_id", "turn_idx", "docId").as[(String, Int, Long)]
      .filter(k => keys.contains((k._1, k._2))).collect()
      .map(_._3 / PostingIndex.DefaultShardSize).toSet
  }
  private def maxDocId(docs: DataFrame): Long = docs.agg(max(col("docId"))).head.getLong(0)
}
