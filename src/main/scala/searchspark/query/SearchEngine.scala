package searchspark.query

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import searchspark.index.{BuildPipeline, BuiltIndex, IndexBuild, PostingIndex}
import searchspark.model.{SearchResult, TermPostings, Turn}

/** The user-facing engine facade: one object holding the hot index and
  * serving every query through the block-max WAND path (Wand).
  *
  * At load, the posting rows and the docs are hash-partitioned by shard
  * with one partitioner and zipped into one [[ServingPartition]] per
  * partition (a `term → rows` map and the shard's docs), persisted once.
  * A warm query is then ONE Spark job with no Catalyst plan: each task
  * scores its shards, and hydrates and snippets its own top k; the
  * driver only merges, windows and normalizes relevance. A cold query
  * (a term not yet in the df cache) runs one more plain job over the
  * same partitions to count df; the postings are the index's only store
  * of df.
  *
  * Role-scoped queries take the SAME path: blocks carry per-posting
  * roleIds, and pruning bounds are computed at query time from
  * (maxTfE1, minDl) + scope-local idf/avgdl, which is a valid upper
  * bound under any stats (Scoring.blockBound).
  *
  * `exactTotal=false` opts into estimated totals for head queries
  * (top-k stays exact; see Wand). */
final class SearchEngine private (
    val spark: SparkSession,
    val idx: BuiltIndex,
    val shardSize: Int,
    serving: RDD[ServingPartition]) {

  /** Driver-side term→df dictionary cache: the index is an immutable
    * snapshot, so df per term never changes for the lifetime of this
    * facade. A term missing here is counted from the serving partitions'
    * postings (SearchService.servingDf: one plain job, no Catalyst
    * plan), so a cold query is two jobs; repeat terms skip
    * that job, so a warm query is the scatter job alone. Starts empty at
    * every load. Bounded: cleared if it ever exceeds MaxDfCache distinct
    * terms. */
  private val dfCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val MaxDfCache = 1 << 20

  def search(query: String, scope: Option[String] = None,
             offset: Int = 0, limit: Int = 20,
             exactTotal: Boolean = true): SearchResult = {
    if (dfCache.size > MaxDfCache) dfCache.clear()
    Wand.searchPartitioned(idx, serving, dfCache, query, scope, offset, limit, exactTotal)
  }

  /** Each term's df, globally or within `scope`, as the engine's df
    * lookup counts it from the serving partitions (0 = unknown; a scope
    * without a roleId counts nothing). For checks against a df
    * recomputed from tf; queries go through [[search]]. */
  private[searchspark] def df(terms: Seq[String], scope: Option[String] = None): Map[String, Long] =
    scope.fold(Option(-1))(idx.roleIds.get) match {
      case Some(roleId) => SearchService.servingDf(serving, terms, roleId)
      case None => terms.map(_ -> 0L).toMap
    }

  /** Release everything this engine persisted: the serving partitions
    * (the only thing it persists). */
  def close(): Unit = serving.unpersist()
}

object SearchEngine {

  /** Wrap a built index whose postings were built with `shardSize`-doc
    * shards. The serving partitions are built and materialized EAGERLY
    * by one job, so the first real query runs at warm-path latency; that
    * job also checks `shardSize` against the rows' doc ranges and fails
    * loudly on a mismatch (docs would otherwise land in the wrong
    * partition and hydration could not find them). */
  def apply(spark: SparkSession, idx: BuiltIndex, postings: Dataset[TermPostings],
            shardSize: Int = PostingIndex.DefaultShardSize): SearchEngine = {
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    // serving layout: FEWER, fatter partitions than the build — per-query
    // latency is dominated by task-launch overhead (each query runs one
    // task per partition), not per-task work
    val byShard = new HashPartitioner(math.max(spark.sparkContext.defaultParallelism / 4, 4))
    val rows = postings.rdd.map(p => (p.shard, p)).partitionBy(byShard)
    val docs = idx.docs.select("docId", "conv_id", "turn_idx", "role", "text").rdd
      .map { r =>
        val d = r.getLong(0)
        ((d / shardSize).toInt, ServedDoc(d, r.getString(1), r.getInt(2), r.getString(3), r.getString(4)))
      }
      .partitionBy(byShard)
    val serving = rows
      .zipPartitions(docs, preservesPartitioning = true) { (rs, ds) =>
        Iterator.single(ServingPartition(shardSize, rs.map(_._2), ds.map(_._2)))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bounds = serving.map(p => (p.minShardSize, p.maxShardSize)).collect()
    val (lo, hi) = (bounds.map(_._1).max, bounds.map(_._2).min)
    if (shardSize < lo || shardSize > hi) {
      serving.unpersist()
      val built =
        if (lo == hi) s"they were built with $lo-doc shards"
        else if (hi == Long.MaxValue) s"they need shards of at least $lo docs"
        else s"they need shards of $lo to $hi docs"
      throw new IllegalArgumentException(
        s"shardSize $shardSize contradicts the postings' doc ranges: $built")
    }
    new SearchEngine(spark, idx, shardSize, serving)
  }

  /** Build from a transcript Dataset (tests / Main). */
  def fromTurns(spark: SparkSession, turns: Dataset[Turn], partitions: Int,
                shardSize: Int = PostingIndex.DefaultShardSize): SearchEngine = {
    val idx = IndexBuild.build(spark, turns, partitions)
    apply(spark, idx, PostingIndex.build(spark, idx, shardSize), shardSize)
  }

  /** Load a persisted (IceLite) index built by BuildPipeline, at the
    * shard size its build manifest records. */
  def load(spark: SparkSession, root: String): SearchEngine =
    apply(spark, BuildPipeline.loadRelational(spark, root),
      BuildPipeline.loadPostings(spark, root),
      BuildPipeline.manifestShardSize(root).getOrElse(PostingIndex.DefaultShardSize))
}
