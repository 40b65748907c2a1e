package searchspark.query

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD

import searchspark.index.{BuiltIndex, Segments}
import searchspark.model.{Hit, PostingBlock, SearchResult, TermPostings}

/** Block-max conjunctive top-k over the compressed posting index — the
  * engine path for the reference's Q2+Q3
  * (SearchingServiceImpl.java:181-213 iterated IN-list intersection +
  * :103-133 relevance CTEs), executed as per-shard scatter-gather:
  *
  *  - driver: analyze + prune query terms (SearchService.planTerms —
  *    Q1 semantics); per-term idf under the CURRENT stats —
  *    global, or scope-local for role-scoped queries (the reference's
  *    site filter, SearchingServiceImpl.java:52);
  *  - executors: for each doc-range shard, intersect the query terms'
  *    posting lists driving on the RAREST term (the reference's intended
  *    `ORDER BY part` order, defeated in its own code by a HashSet —
  *    SURVEY.md §2.3 — restored here), skipping other lists block-wise
  *    via firstDoc/lastDoc metadata and decoding lazily. Block pruning
  *    bounds are computed AT QUERY TIME from (maxTfE1, minDl) block
  *    metadata + current idf/avgdl (Scoring.blockBound) — valid under
  *    scope-local stats and after incremental stat drift, which a
  *    build-time maxScore would not be. Scoped queries additionally
  *    filter per-posting roleIds during the scan (zero extra shuffle).
  *    Candidates are COUNTED exactly by default (the API returns the
  *    total, :123) while exact scoring is skipped when the Σ block-max
  *    bound can't beat the current heap minimum (strict <: a tied bound
  *    may still win on the docId-asc tie-break, so it must be scored);
  *  - `exactTotal=false` (opt-in; deviates from reference semantics):
  *    the candidacy (intersection) test runs only for (a) a
  *    deterministic systematic SAMPLE of driver docs
  *    (fmix64(docId) mod [[ApproxSampleRate]] == 0 — bit-mixed so the
  *    sample is uncorrelated with role/turn parity) and (b) docs whose
  *    score upper bound
  *    (exact driver partial + range-local other-list maxima) could
  *    still enter the heap. Top-k stays exact — (b) guarantees it —
  *    while `count` becomes sampleCandidates × rate, an unbiased
  *    systematic estimate; shards where nothing was skipped report
  *    their exact count unchanged.
  *  - executors: each PARTITION pre-merges its shards' heaps and counts
  *    into one result ([[mergeShardTops]]), so driver fan-in scales with
  *    partitions (~10^2), never shards (~10^6 at design scale), and
  *    hydrates + snippets that result's top k from its co-partitioned
  *    docs ([[ServingPartition]]);
  *  - driver: merge per-partition tops, window, normalize relevance.
  *
  * Scores are bit-identical to the scalar oracle: per-term partials
  * summed in ascending TERM order (intersection order ≠ summation
  * order). */
object Wand {

  /** Approx-total systematic sampling stride (power of two). */
  val ApproxSampleRate = 8

  /** MurmurHash3 64-bit finalizer — the sampling predicate hashes docId
    * through this before masking. Raw low bits of docId structurally
    * correlate with role (user/assistant alternate by turn_idx and
    * docIds are rank over (conv_id, turn_idx)), which would bias
    * role-scoped approximate counts; fmix64 decorrelates every input
    * bit from every output bit (round-2 ADVICE). */
  private[searchspark] def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33
    x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33
    x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** Per-shard (or per-partition, after [[mergeShardTops]]) result:
    * (exact candidates among intersected docs, sampled candidates,
    * any doc skipped?, top rows). */
  private[searchspark] type ShardTop = (Long, Long, Boolean, Array[(Long, Double)])

  /** Ordering "better first": score DESC, docId ASC. */
  private def better(a: (Long, Double), b: (Long, Double)): Boolean =
    a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)

  /** Merge one PARTITION's shard results into a single ShardTop before
    * anything is shipped to the driver: per-shard totals are resolved
    * here (exact when nothing was skipped in that shard, else the
    * systematic-sample estimate floored at the shard's exact count) and
    * summed, and the tops are folded through one bounded heap. The
    * driver then merges `numPartitions` entries instead of `numShards`
    * — at the design scale (~10^6 shards, PostingIndex.scala:24) that is
    * the difference between ~10^6·k and ~10^2·k driver rows per query
    * (round-2 VERDICT #1). Merged entries report skippedAny=false with
    * the resolved total in the exact slot, which the driver consumes
    * unchanged. */
  private[searchspark] def mergeShardTops(it: Iterator[ShardTop], k: Int): Iterator[ShardTop] = {
    val heap = mutable.PriorityQueue.empty[(Long, Double)](
      Ordering.fromLessThan[(Long, Double)]((a, b) => better(a, b)))
    var total = 0L
    var any = false
    it.foreach { case (exact, sampleCand, skippedAny, top) =>
      any = true
      total += (if (!skippedAny) exact
                else math.max(sampleCand * ApproxSampleRate, exact))
      top.foreach { cand =>
        if (heap.size < k) heap.enqueue(cand)
        else if (better(cand, heap.head)) { heap.dequeue(); heap.enqueue(cand) }
      }
    }
    if (!any) Iterator.empty
    else Iterator.single((total, 0L, false, heap.dequeueAll.toArray.sortWith(better)))
  }

  /** Test-only instrumentation: number of per-partition results the
    * driver merged on the most recent query (must scale with PARTITIONS
    * on the hot path, not shards — WandSpec pins it). */
  @volatile private[searchspark] var lastFanIn: Int = -1

  /** One partition's answer: its resolved candidate total and its top
    * `offset+limit` hits, hydrated and snippeted (relevance is set by
    * the driver, which alone knows the global max score). */
  private type PartitionTop = (Long, Array[Hit])

  /** The query path: ONE Spark job and no Catalyst plan once the query's
    * df values are cached (SearchEngine's dictionary cache); a cold
    * query adds the df lookup, one more plain job over the same
    * partitions (SearchService.servingDf). Each task
    * looks up only the query's terms in its partition's term map, runs
    * [[wandShard]] per shard holding every term, folds the shards with
    * [[mergeShardTops]], and hydrates + snippets that partition's top k
    * from the co-partitioned docs. idf and the term orders ride in the
    * task ([[ScatterTask]]). The driver merges, windows and normalizes
    * relevance.
    *
    * The job is `SparkContext.runJob` on the persisted serving RDD with a
    * named task class, so a query builds no RDD and hands Spark's
    * ClosureCleaner no lambda: the cleaner scans a lambda's declaring
    * class (here `Wand$`, and `RDD` / `SparkContext` for the lambdas of
    * `mapPartitions(...).collect()`) with ASM on every call, which cost
    * more driver time than the WAND kernel itself. The `runJob` call
    * stays in this method: the benchmark's tracer names the scatter
    * phase after it (WandSpec pins the call site). */
  def searchPartitioned(idx: BuiltIndex, serving: RDD[ServingPartition],
                        dfCache: scala.collection.concurrent.Map[String, Long],
                        query: String, scope: Option[String], offset: Int, limit: Int,
                        exactTotal: Boolean): SearchResult = {
    // scope-local stats and df flow through planTerms, which answers
    // "Nothing found" for a scope without stats or without a roleId
    SearchService.planTerms(idx, serving, dfCache, query, scope) match {
      case Left(err) => err
      case Right((surviving, dfMap, n, avgdl)) =>
        // the page's end without Int overflow; the heaps keep at least
        // one entry, so the total stays exact when the page is empty
        val end = math.min(offset.toLong + limit, Int.MaxValue.toLong).toInt
        val k = math.max(end, 1)
        val roleId = scope.fold(-1)(idx.roleIds)
        val idfByTerm = surviving.map(t => t -> Scoring.idf(dfMap(t), n)).toMap
        val termsAsc = surviving.sorted
        val byRarity = surviving.sortBy(t => (dfMap(t), t))
        val task = new ScatterTask(idfByTerm, termsAsc, byRarity, avgdl, k, roleId,
          exactTotal, surviving.toSet)
        val tops = serving.sparkContext.runJob(serving, task, serving.partitions.indices).flatten
        lastFanIn = tops.length

        // partition totals are already resolved by mergeShardTops (exact
        // per shard when nothing was skipped there, else the systematic
        // sample estimate floored at the exact count)
        val total = tops.map(_._1).sum
        if (total == 0) return SearchResult(ok = false, 0, Nil, "Nothing found")
        val merged = tops.flatMap(_._2)
          .sortWith((a, b) => better((a.docId, a.score), (b.docId, b.score)))
        val maxScore = merged.head.score
        val page = merged.slice(offset, end)
          .map(h => h.copy(relevance = h.score / maxScore))
        SearchResult(ok = true, total, page.toIndexedSeq, null)
    }
  }

  /** The scatter job's task: [[partitionTop]] over each serving
    * partition of the task's split (there is one). A named class, not a
    * lambda, so ClosureCleaner leaves it alone (see
    * [[searchPartitioned]]). */
  private final class ScatterTask(idfByTerm: Map[String, Double],
                                  termsAsc: Seq[String], byRarity: Seq[String],
                                  avgdl: Double, k: Int, roleId: Int, exactTotal: Boolean,
                                  qSet: Set[String])
      extends ((TaskContext, Iterator[ServingPartition]) => Array[PartitionTop]) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[ServingPartition]): Array[PartitionTop] =
      it.flatMap(p => partitionTop(p, idfByTerm, termsAsc, byRarity, avgdl, k, roleId,
        exactTotal, qSet)).toArray
  }

  /** One partition's share of a query, run on the executor. Shards are
    * found through the rarest term's rows (a shard lacking any query
    * term holds no conjunctive candidate); the partition's top k is
    * hydrated from its own docs, so a miss there is a broken layout and
    * fails loudly. */
  private def partitionTop(p: ServingPartition, idfByTerm: Map[String, Double],
                           termsAsc: Seq[String], byRarity: Seq[String],
                           avgdl: Double, k: Int, roleId: Int, exactTotal: Boolean,
                           qSet: Set[String]): Iterator[PartitionTop] = {
    val rows = byRarity.map(p.rows).toArray
    if (rows.exists(_.isEmpty)) return Iterator.empty
    val perShard = rows.head.iterator.flatMap { driverRow =>
      val lists = rows.map(rs => ServingPartition.inShard(rs, driverRow.shard))
      if (lists.contains(null)) None
      else Some(wandShard(lists, idfByTerm, termsAsc, byRarity, avgdl, k, roleId, exactTotal))
    }
    mergeShardTops(perShard, k).map { case (total, _, _, top) =>
      (total, top.map { case (d, s) =>
        val doc = p.doc(d)
        if (doc == null)
          throw new IllegalStateException(
            s"top-k docId $d (shard ${d / p.shardSize}) is missing from its serving " +
              "partition's docs: the postings and docs are not co-partitioned")
        Hit(d, doc.conv_id, doc.turn_idx, doc.role, s, 0.0, Snippets.snippet(doc.text, qSet))
      })
    }
  }

  /** Lazily-decoded posting list cursor with block skipping; block-max
    * bounds computed once per query from current (idf, avgdl). */
  private final class ListCursor(blocks: Array[PostingBlock],
                                 idfT: Double, avgdl: Double) {
    private val bounds: Array[Double] =
      blocks.map(b => Scoring.blockBound(idfT, b.maxTfE1, b.minDl, avgdl))
    private var rmi = 0 // rangeMax pointer (driver ranges are monotone)

    /** Max bound over this list's blocks overlapping [first, last];
      * 0.0 ⟺ no overlap (bounds are strictly positive), which proves
      * the driver range can hold no conjunctive candidate at all. */
    def rangeMax(first: Long, last: Long): Double = {
      while (rmi < blocks.length && blocks(rmi).lastDoc < first) rmi += 1
      var i = rmi
      var m = 0.0
      while (i < blocks.length && blocks(i).firstDoc <= last) {
        if (bounds(i) > m) m = bounds(i)
        i += 1
      }
      m
    }

    private var bi = 0 // current block index
    private var decoded: (Array[Long], Array[Int], Array[Long], Array[Int]) = _
    private var decodedBi = -1

    /** Advance to the block that could contain `d`; false if exhausted. */
    private def seekBlock(d: Long): Boolean = {
      while (bi < blocks.length && blocks(bi).lastDoc < d) bi += 1
      bi < blocks.length
    }

    /** Current block's max partial bound after a successful find. */
    var curBlockMax: Double = 0.0

    /** Find doc `d`; returns (tfE1, dlE1) or null. Monotone-increasing
      * `d` across calls (driver list is sorted). */
    def find(d: Long): (Int, Long) = {
      if (!seekBlock(d)) return null
      val b = blocks(bi)
      curBlockMax = bounds(bi)
      if (b.firstDoc > d) return null
      if (decodedBi != bi) { decoded = Segments.decodeBlock(b); decodedBi = bi }
      val (docs, tfs, dls, _) = decoded
      var lo = 0
      var hi = docs.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (docs(mid) < d) lo = mid + 1
        else if (docs(mid) > d) hi = mid - 1
        else return (tfs(mid), dls(mid))
      }
      null
    }
  }

  /** One shard's conjunctive block-max scan. `roleId` ≥ 0 restricts the
    * candidate set to docs of that role (scope filter at scan level). */
  private def wandShard(lists: Array[TermPostings],
                        idfByTerm: Map[String, Double],
                        termsAsc: Seq[String], byRarity: Seq[String],
                        avgdl: Double, k: Int, roleId: Int,
                        exactTotal: Boolean): ShardTop = {
    val byTerm = lists.map(l => l.term -> l).toMap
    val driver = byTerm(byRarity.head)
    val driverBounds = driver.blocks.map(b =>
      Scoring.blockBound(idfByTerm(driver.term), b.maxTfE1, b.minDl, avgdl))
    val others = byRarity.tail.map(t =>
      t -> new ListCursor(byTerm(t).blocks, idfByTerm(t), avgdl)).toArray

    // bounded heap of the k best; head (the PQ max) = the WORST kept
    // entry, so "a < b iff a is better than b"
    val heap = mutable.PriorityQueue.empty[(Long, Double)](
      Ordering.fromLessThan[(Long, Double)]((a, b) => better(a, b)))
    var count = 0L
    var sampleCand = 0L
    var skippedAny = false
    val sampleMask = ApproxSampleRate - 1L // power of two

    val found = mutable.HashMap.empty[String, (Int, Long)]
    var dbi = 0
    while (dbi < driver.blocks.length) {
      val db = driver.blocks(dbi)
      val dbBound = driverBounds(dbi)
      // range-local bounds of the other lists over this driver block
      var rangeSum = 0.0
      var rangeEmpty = false
      var oi = 0
      while (oi < others.length) {
        val m = others(oi)._2.rangeMax(db.firstDoc, db.lastDoc)
        if (m == 0.0) rangeEmpty = true
        rangeSum += m
        oi += 1
      }
      if (rangeEmpty) {
        // some term has NO docs in this doc range → zero conjunctive
        // candidates here; skipping is EXACT in both modes (sampled
        // docs here would contribute 0 candidates)
      } else {
        val (docs, tfs, dls, roles) = Segments.decodeBlock(db)
        val idfDriver = idfByTerm(driver.term)
        var i = 0
        while (i < docs.length) {
          if (roleId < 0 || roles(i) == roleId) {
            val d = docs(i)
            val sampled = (fmix64(d) & sampleMask) == 0L
            // a doc must be intersected if it's in the count sample, the
            // heap is still filling, or its upper bound (exact driver
            // partial + range-local other maxima) could enter the heap
            val mustForTopK = heap.size < k ||
              Scoring.partialE1(idfDriver, tfs(i).toLong, dls(i), avgdl) + rangeSum >= heap.head._2
            if (exactTotal || sampled || mustForTopK) {
              found.clear()
              found(driver.term) = (tfs(i), dls(i))
              var bound = dbBound
              var ok = true
              var j = 0
              while (ok && j < others.length) {
                val (t, cur) = others(j)
                val hit = cur.find(d)
                if (hit == null) ok = false
                else { found(t) = hit; bound += cur.curBlockMax }
                j += 1
              }
              if (ok) {
                count += 1
                if (sampled) sampleCand += 1
                val prune = heap.size >= k && bound < heap.head._2
                if (!prune) {
                  // exact score: ascending term order (determinism contract)
                  var s = 0.0
                  termsAsc.foreach { t =>
                    val (tfE1, dlE1) = found(t)
                    s += Scoring.partialE1(idfByTerm(t), tfE1.toLong, dlE1, avgdl)
                  }
                  val cand = (d, s)
                  if (heap.size < k) heap.enqueue(cand)
                  else if (better(cand, heap.head)) { heap.dequeue(); heap.enqueue(cand) }
                }
              }
            } else skippedAny = true
          }
          i += 1
        }
      }
      dbi += 1
    }
    (count, sampleCand, skippedAny, heap.dequeueAll.toArray.sortWith(better))
  }
}
