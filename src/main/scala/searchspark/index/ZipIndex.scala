package searchspark.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Columnar dense-rank assignment (the zipWithIndex pattern without
  * leaving the DataFrame world): range-partition on the sort key, sort
  * within partitions, cache the sorted form, count rows per partition
  * (one job on the cache), prefix-sum the offsets on the driver, then
  * derive the rank as `offset(pid) + rowIndexInPartition` where the
  * row index comes from `monotonically_increasing_id()`'s documented
  * layout (partitionId << 33 | index) over the cached partitions.
  *
  * Why not `Dataset.rdd.zipWithIndex`: that path deserializes every row
  * to JVM objects through the encoder and back — measured as a large
  * slice of the build's serial+alloc cost. Here every pass stays in
  * Tungsten rows with whole-stage codegen.
  *
  * Determinism: the rank is the global rank of a unique sort key, so it
  * is invariant to partition boundaries (sampling) and parallelism —
  * same argument and same tests as SURVEY.md §7.3. Caveat: ≤ 2^33 rows
  * per partition (id layout). Offsets reach executors via a BROADCAST
  * join on pid (a plan literal would bloat the plan at 10^6+ cluster
  * partitions; the broadcast side is one narrow row per partition).
  */
object ZipIndex {

  /** Returns `presorted` + a dense `name` rank column, for a
    * range-partitioned, within-partition-sorted DataFrame (DocIds fuses
    * its key-dedup into the same range shuffle): equal sort keys in one
    * partition, partitions ordered by key range, rows sorted within each
    * partition — rank = prefix-sum(partition counts) + in-partition
    * index is the global rank under that contract. The sorted input is
    * cached in `scope`: the ranks are only valid over that cached
    * layout, so release the scope after the result has been
    * materialized (written, collected or cached). */
  def rankOverSorted(presorted: DataFrame, name: String, scope: CacheScope): DataFrame = {
    val sorted = scope.cache(presorted.withColumn("__pid", spark_partition_id()))
    val counts = sorted.groupBy("__pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxPid = if (counts.isEmpty) 0 else counts.keys.max
    val offsets = Seq.newBuilder[(Int, Long)]
    var acc = 0L
    (0 to maxPid).foreach { p => offsets += ((p, acc)); acc += counts.getOrElse(p, 0L) }
    val spark = presorted.sparkSession
    import spark.implicits._
    val offDf = offsets.result().toDF("__pid", "__off")
    sorted
      .withColumn("__mid", monotonically_increasing_id())
      .join(broadcast(offDf), Seq("__pid"))
      .withColumn(name, col("__off") +
        (col("__mid") - shiftleft(col("__pid").cast("long"), 33)))
      .drop("__pid", "__mid", "__off")
  }
}
