package searchspark.bench

import org.apache.spark.sql.SparkSession

import searchspark.gen.TranscriptGen
import searchspark.index.{IndexBuild, PostingIndex}
import searchspark.query.SearchEngine

/** Two-parallelism scaling study (BASELINE.json north_rule: ≥0.8
  * throughput scaling efficiency between N and 4N executors; the
  * sandbox stand-in is local[N] vs local[4N] task parallelism on the
  * same input — see BASELINE.md §(b)).
  *
  * Runs the IDENTICAL deterministic corpus + full index build (docId
  * assignment → TF → dicts → compressed segments, all materialized) at
  * both levels in fresh SparkSessions, reports turns/sec each and
  *   efficiency = (rate_4N / rate_N) / 4.
  *
  * Usage: runMain searchspark.bench.BuildBench [convs] [nLow] [nHigh]
  * Prints one JSON line; paste/update results into BENCH.md.
  */
object BuildBench {

  def runOnce(cores: Int, convs: Long): (Long, Double, Double) = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"buildbench-$cores")
      .config("spark.sql.shuffle.partitions",
        cores * sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_MULT", "1").toInt)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // Shuffle/spill dir on tmpfs when available: every simulated
    // executor on this single host otherwise contends on ONE disk for
    // shuffle files — a sandbox artifact (real cluster executors have
    // their own local disks) that caps the high-parallelism level the
    // same way unpinned ActiveProcessorCount inflated the low one.
    val localDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    if (new java.io.File(localDir).getParentFile.isDirectory)
      builder.config("spark.local.dir", localDir)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      def fullBuild(nConvs: Long): (Long, Double, Double) = {
        // The input is an EXISTING transcripts table (BASELINE.json
        // input_hint says the production input is an Iceberg table):
        // synthesize the corpus once per (convs, layout) onto tmpfs
        // parquet and read THAT — every fullBuild (warm-up and both
        // timed runs, and the post-build hydration search) scans the
        // table instead of re-running the generator lineage, exactly as
        // a cluster build re-scans its input table. The timer covers
        // the table scan + the full build, nothing of corpus synthesis.
        // Layout is LEVEL-INDEPENDENT (fixed 32-way write): both
        // parallelism levels scan the byte-identical table, the way one
        // production table serves clusters of any size. (Corpus CONTENT
        // is generation-parallelism-invariant — StabilitySpec — so any
        // level may write it first.) Path is keyed by (seed, size,
        // generator fingerprint) so a corpus persisted by an OLDER
        // generator misses instead of silently serving both levels.
        val path = s"/dev/shm/graft-corpus-$nConvs-" +
          s"s${TranscriptGen.DefaultSeed}-g${TranscriptGen.GenFingerprint}"
        if (!new java.io.File(path, "_SUCCESS").exists())
          TranscriptGen.corpus(spark, TranscriptGen.DefaultSeed, nConvs, 32)
            .write.mode("overwrite").parquet(path)
        System.err.println(s"[buildbench] corpus $path rows=" +
          s"${spark.read.parquet(path).count()}")
        val turns = IndexBuild.readTranscripts(spark, path)
        val t0 = System.nanoTime()
        val idx = IndexBuild.build(spark, turns, partitions = cores * 2)
        val postings = PostingIndex.build(spark, idx, shardSize = 16384)
        postings.cache()
        postings.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val engine = SearchEngine(spark, idx, postings, shardSize = 16384)
        val r = engine.search("w0001 w0002")
        require(r.ok && r.count > 0, "bench query returned nothing")
        val out = (idx.stats.totalTurns, sec, r.hits.head.score)
        engine.close(); postings.unpersist(); idx.unpersist()
        spark.sharedState.cacheManager.clearCache()
        out
      }
      // warm-up: JIT + codegen caches, excluded from timing
      fullBuild(math.max(200L, convs / 20))
      // best-of-2 timed runs (min damps GC/scheduler noise)
      val a = fullBuild(convs)
      val b = fullBuild(convs)
      System.err.println(f"[buildbench $cores cores] run1=${a._2}%.2f s run2=${b._2}%.2f s")
      require(a._3 == b._3, "scores must be deterministic across runs")
      if (a._2 <= b._2) a else b
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val convs = args.lift(0).map(_.toLong).getOrElse(20000L) // ~520k turns
    if (args.length == 2) {
      // single-level mode: one clean JVM per parallelism level
      // (tools/run_scaling_bench.sh orchestrates and combines) — a
      // shared JVM lets the first level's heap garbage distort the
      // second level's GC behavior
      val cores = args(1).toInt
      val (turns, sec, score) = runOnce(cores, convs)
      println(f"""{"bench":"build-once","turns":$turns,"cores":$cores,"sec":$sec%.2f,"rate":${turns / sec}%.0f,"top_score":$score}""")
      return
    }
    val nLow = args.lift(1).map(_.toInt).getOrElse(8)
    val nHigh = args.lift(2).map(_.toInt).getOrElse(32)

    val (turnsL, secL, scoreL) = runOnce(nLow, convs)
    val (turnsH, secH, scoreH) = runOnce(nHigh, convs)
    require(turnsL == turnsH, "corpus must be identical at both levels")
    require(scoreL == scoreH, "top score must be bit-identical at both levels")

    val rateL = turnsL / secL
    val rateH = turnsH / secH
    val eff = (rateH / rateL) / (nHigh.toDouble / nLow)
    println(f"""{"bench":"build-scaling","turns":$turnsL,"cores_low":$nLow,"sec_low":$secL%.2f,"rate_low":$rateL%.0f,"cores_high":$nHigh,"sec_high":$secH%.2f,"rate_high":$rateH%.0f,"speedup":${rateH / rateL}%.2f,"efficiency":$eff%.3f}""")
  }
}
