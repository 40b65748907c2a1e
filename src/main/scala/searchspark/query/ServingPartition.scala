package searchspark.query

import scala.collection.mutable

import searchspark.index.Segments
import searchspark.model.TermPostings

/** A doc as a hit returns it, plus the text its snippet is cut from. */
final case class ServedDoc(docId: Long, conv_id: String, turn_idx: Int,
                           role: String, text: String)

/** The serving state of one partition, built once at load
  * (SearchEngine.apply). Posting rows and docs are hash-partitioned by
  * shard with ONE partitioner, so each shard's rows and docs meet here:
  *  - `term → rows` (one row per shard, sorted by shard): a query reads
  *    only its own terms' row headers, never the partition's whole
  *    dictionary slice;
  *  - `docId → doc` as a docId-sorted array pair: the partition hydrates
  *    and snippets its own top k, so no second job reads the docs.
  *
  * `minShardSize` / `maxShardSize` bound the shard sizes the rows' doc
  * ranges allow: a row of shard s spanning docs [first, last] needs
  * s·size ≤ first and last < (s+1)·size. SearchEngine checks its
  * shardSize against them at load. */
final class ServingPartition private (
    val shardSize: Int,
    byTerm: java.util.HashMap[String, Array[TermPostings]],
    docIds: Array[Long],
    docs: Array[ServedDoc],
    val minShardSize: Long,
    val maxShardSize: Long) extends Serializable {

  /** The term's rows in this partition's shards (empty if none). */
  def rows(term: String): Array[TermPostings] = {
    val r = byTerm.get(term)
    if (r == null) ServingPartition.NoRows else r
  }

  /** The term's df within this partition's shards: all its postings when
    * `roleId` < 0, else those of that role. 0 when the partition lacks it. */
  def df(term: String, roleId: Int): Long = {
    var n = 0L
    rows(term).foreach(_.blocks.foreach { b =>
      n += (if (roleId < 0) b.count else Segments.countRole(b, roleId))
    })
    n
  }

  /** The doc with this id, or null when this partition lacks it. */
  def doc(docId: Long): ServedDoc = {
    val i = java.util.Arrays.binarySearch(docIds, docId)
    if (i < 0) null else docs(i)
  }
}

object ServingPartition {

  private val NoRows = Array.empty[TermPostings]

  def apply(shardSize: Int, rows: Iterator[TermPostings],
            docs: Iterator[ServedDoc]): ServingPartition = {
    val grouped = mutable.HashMap.empty[String, mutable.ArrayBuffer[TermPostings]]
    var lo = 1L
    var hi = Long.MaxValue
    rows.foreach { r =>
      grouped.getOrElseUpdate(r.term, mutable.ArrayBuffer.empty) += r
      if (r.blocks.nonEmpty) { // blocks are docId-ascending
        lo = math.max(lo, r.blocks.last.lastDoc / (r.shard + 1L) + 1)
        if (r.shard > 0) hi = math.min(hi, r.blocks.head.firstDoc / r.shard)
      }
    }
    val byTerm = new java.util.HashMap[String, Array[TermPostings]](grouped.size * 2)
    grouped.foreach { case (t, rs) => byTerm.put(t, rs.sortBy(_.shard).toArray) }
    val sorted = docs.toArray.sortBy(_.docId)
    new ServingPartition(shardSize, byTerm, sorted.map(_.docId), sorted, lo, hi)
  }

  /** The row of `shard` among `rows` (sorted by shard), or null. */
  def inShard(rows: Array[TermPostings], shard: Int): TermPostings = {
    var lo = 0
    var hi = rows.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val s = rows(mid).shard
      if (s < shard) lo = mid + 1
      else if (s > shard) hi = mid - 1
      else return rows(mid)
    }
    null
  }
}
