package searchspark.index

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, struct, trim}
import org.apache.spark.sql.types._

import searchspark.model.Turn

/** One output row of docId assignment (the zip-back emit type). */
final case class DocRow(docId: Long, conv_id: String, turn_idx: Int,
    role: String, tool: String, ts: java.sql.Timestamp, text: String)

/** Narrow per-key winner row: everything docId assignment decides,
  * WITHOUT the text (the winner's text is attached by row address —
  * `winMid` — in a zip that never moves text bytes). `contested` marks
  * keys whose winner could not be decided from (ts, role, tool) alone
  * (duplicate rows tied on all three; the exact max-text tie-break then
  * runs on just those keys). */
final case class KeyWin(conv_id: String, turn_idx: Int, role: String,
    tool: String, ts: java.sql.Timestamp, winMid: Long, contested: Boolean)

/** Stable dense docId assignment (SURVEY.md §7.3).
  *
  * docId = rank of (conv_id, turn_idx) in lexicographic order over the
  * indexable (non-blank) turns. Computed scale-out in TWO passes so that
  * TEXT BYTES NEVER CROSS AN EXCHANGE (round-3 verdict #1: texts
  * dominated the build's shuffle bytes and kept the memory-bandwidth
  * ceiling in sight):
  *
  *  1. narrow key pass — project (conv_id, turn_idx, ts, role, tool)
  *     plus a row address (`monotonically_increasing_id`, = partition
  *     << 33 | position), range-shuffle THOSE ~40-byte rows on the key,
  *     pick the per-key winner while streaming the sorted runs, and
  *     rank the winners (ZipIndex prefix-sum — two narrow jobs, no
  *     global sort bottleneck);
  *  2. zip-back — route (winMid, docId) pairs to the winner rows'
  *     ORIGINAL partitions (an exchange of two Longs per doc) and walk
  *     each source partition once, attaching docIds by position. The
  *     texts are read exactly where they already sit; non-winner
  *     duplicates and nothing else are dropped in the same walk.
  *
  * The zip is the one place the engine drops to the RDD API: Catalyst
  * has no positional join, and expressing this as an equi-join would
  * shuffle the texts — the exact cost this design removes.
  *
  * Deterministic at ANY parallelism: range boundaries may differ
  * between runs, but the id is the global rank of a unique key, which
  * is invariant to where the boundaries fall; winner VALUES are pure
  * max-tuple functions of the input. Row addresses are layout-dependent
  * but only ever route values computed deterministically. (Tested in
  * StabilitySpec, including zip-form == range-exchange-form equality on
  * a duplicate-heavy fixture.)
  *
  * CONTRACT: `turns` must be a repeatable scan — a cached Dataset, a
  * file/table scan, or a local relation. The key pass and the zip pass
  * each evaluate the input plan once and must see identical partition
  * layouts; plans containing their own exchanges (e.g. join outputs)
  * can legally re-coalesce between evaluations under AQE — such callers
  * need a single range exchange over the full rows instead (the tests'
  * Oracles.assignViaRangeExchange; Incremental ranks its fresh keys
  * with a window over the resolved delta).
  * The zip walk verifies every routed address resolves and fails loudly
  * on a violation rather than mis-assigning.
  *
  * Replaces the reference's AUTO_INCREMENT page ids
  * (/root/reference/src/main/java/searchengine/model/Page.java:11-13),
  * which are insertion-order-dependent and racey under its concurrent
  * crawl; ours are a pure function of the input.
  */
object DocIds {

  val schema: StructType = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = true),
    StructField("tool", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("text", StringType, nullable = true)))

  /** A turn is indexable when its text is not blank. */
  def indexable: Column = col("text").isNotNull && trim(col("text")) =!= ""

  /** The per-key winner is the max of this tuple over indexable rows. */
  def payload: Column = struct(col("ts"), col("role"), col("tool"), col("text"))

  /** The SINGLE deterministic key-dedup used by cold builds AND
    * incremental deltas (they must agree or cold-vs-incremental
    * equivalence breaks): keep the max (ts, role, tool, text) tuple per
    * (conv_id, turn_idx) — mirroring the reference's unique
    * (site_id, path(255)) upsert (A5/C1, Link.java:172-186) without
    * dropDuplicates' arbitrary-row pick. Blank-text turns (the
    * failed-fetch analog, Link.java:110-116) are excluded. */
  def dedupIndexable(turns: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit, max}
    turns
      .filter(indexable)
      .groupBy("conv_id", "turn_idx")
      .agg(max(payload).as("v"))
      .select(col("conv_id"), col("turn_idx"),
        // null roles normalized to "" AT INGEST: every downstream
        // role-keyed structure (role dictionary, per-posting roleIds,
        // scoped filters, per-role stats) assumes non-null equality
        coalesce(col("v.role"), lit("")).as("role"), col("v.tool").as("tool"),
        col("v.ts").as("ts"), col("v.text").as("text"))
  }

  /** Assign ids over the indexable subset of `turns` — the zero-text-
    * shuffle path (see class doc). Returns only the docs DataFrame;
    * [[assignWithMeta]] additionally exposes the narrow per-doc winner
    * table so the build's stats jobs never have to re-walk the texts. */
  def assign(spark: SparkSession, turns: Dataset[Turn], partitions: Int,
             scope: CacheScope): DataFrame =
    assignWithMeta(spark, turns, partitions, scope)._1

  /** [[assign]] plus the cached NARROW per-doc metadata
    * (docId, conv_id, turn_idx, role, tool, ts) — one row per surviving
    * doc, winner values, role normalized. Scanning it costs nothing
    * text-shaped; IndexBuild.corpusStats runs on it. Both frames read
    * the winners cached in `scope`: release it only after the docs are
    * materialized. */
  def assignWithMeta(spark: SparkSession, turns: Dataset[Turn],
                     partitions: Int, scope: CacheScope): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import spark.implicits._
    // ONE RDD instance anchors every pass: row addresses
    // (partition << 33 | position) are computed over it and the zip
    // walks it, so the layout the addresses name is pinned by a single
    // lineage. (Two separate Catalyst evaluations of the same logical
    // plan are NOT interchangeable here: ConvertToLocalRelation can
    // collapse a local-relation plan to one driver partition in one
    // evaluation and not the other — measured, not hypothetical.)
    //
    // The RDD carries INTERNAL rows, not Turn objects: the key pass must
    // not pay a per-row text decode (UTF8String → String alloc of every
    // text) just to read five small key fields — with the encoder form
    // that decode was the pass's dominant cost (measured ~2× on the
    // docIds phase at 1M turns). Field access is by ordinal; text bytes
    // are converted exactly once, at winner emit in the zip walk. Rows
    // from toRdd are reused mutable buffers — every pass extracts
    // primitives/strings immediately and never holds a row reference.
    val base = turns.toDF()
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
    val sch = base.schema
    val iCid = sch.fieldIndex("conv_id")
    val iTix = sch.fieldIndex("turn_idx")
    val iRole = sch.fieldIndex("role")
    val iText = sch.fieldIndex("text")
    val iTool = sch.fieldIndex("tool")
    val iTs = sch.fieldIndex("ts")
    def str(r: InternalRow, i: Int): String =
      if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    def tsMicros(r: InternalRow): java.lang.Long =
      if (r.isNullAt(iTs)) null else java.lang.Long.valueOf(r.getLong(iTs))
    val srcRdd = base.queryExecution.toRdd

    // ---- pass 1: narrow key pass — only ~40-byte key rows enter the
    // range exchange; the texts are dropped at the source. ts rides as
    // raw epoch micros (TimestampType's wire form): Long order == the
    // timestamp order the dedup tuple needs, minus the boxing.
    val keys = spark.createDataset(
      srcRdd.mapPartitionsWithIndex { (pid, it) =>
        var i = 0L
        val pbase = pid.toLong << 33
        it.map { r =>
          val addr = pbase | i; i += 1
          (str(r, iCid), r.getInt(iTix), tsMicros(r),
            str(r, iRole), str(r, iTool), addr)
        }
      })
      .repartitionByRange(partitions, col("_1"), col("_2"))
      // same interpreted struct ordering as dedupIndexable's max(): the
      // first row of each key run is the max-(ts, role, tool) winner;
      // address desc disambiguates full ties deterministically
      .sortWithinPartitions(col("_1"), col("_2"),
        struct(col("_3"), col("_4"), col("_5")).desc, col("_6").desc)
      .as[(String, Int, java.lang.Long, String, String, Long)]
    // Contested-key counter: bumped while the winners materialize (the
    // rank pass's cache+count job), so the normal all-keys-decided case
    // skips the contested collect job entirely — one fewer driver job
    // in the build's serial constant. Retry-inflation is harmless: the
    // accumulator only GATES the exact collect below, which recomputes
    // the truth from the cached winners.
    val contestedAcc = spark.sparkContext.longAccumulator("docids-contested")
    val perKey = keys.mapPartitions { it =>
      new Iterator[KeyWin] {
        private var cur = if (it.hasNext) it.next() else null
        override def hasNext: Boolean = cur != null
        override def next(): KeyWin = {
          val (cid, tix, ts, role, tool, mid) = cur
          var contested = false
          var nxt: (String, Int, java.lang.Long, String, String, Long) = null
          var scanning = true
          while (scanning) {
            if (!it.hasNext) scanning = false
            else {
              val n = it.next()
              if (n._1 == cid && n._2 == tix) {
                // duplicate key: the winner is decided by (ts, role,
                // tool) unless this row TIES the sorted run's head on
                // all three — then only the texts can break the tie
                if (!contested &&
                    java.util.Objects.equals(n._3, ts) &&
                    java.util.Objects.equals(n._4, role) &&
                    java.util.Objects.equals(n._5, tool)) contested = true
              } else { nxt = n; scanning = false }
            }
          }
          cur = nxt
          if (contested) contestedAcc.add(1L)
          KeyWin(cid, tix, if (role == null) "" else role, tool,
            if (ts == null) null else DateTimeUtils.toJavaTimestamp(ts),
            mid, contested)
        }
      }
    }
    // rank over the (still range-sorted) winners; caches the narrow rows
    val winners0 = ZipIndex.rankOverSorted(perKey.toDF(), "docId", scope)

    // ---- contested fix-up: exact max-(ts, role, tool, text) tie-break,
    // evaluated only over the (normally zero) tied keys — the one case
    // where texts must be compared, confined to a broadcast-filtered
    // subset instead of a corpus-wide shuffle
    val contestedKeys =
      if (contestedAcc.value == 0L) Array.empty[(String, Int)]
      else winners0.filter(col("contested"))
        .select("conv_id", "turn_idx").as[(String, Int)].collect()
    val winners =
      if (contestedKeys.isEmpty) winners0
      else {
        val keySet = spark.sparkContext.broadcast(contestedKeys.toSet)
        val resolved = spark.createDataset(
          srcRdd.mapPartitionsWithIndex { (pid, it) =>
            var i = 0L
            val pbase = pid.toLong << 33
            it.flatMap { r =>
              val addr = pbase | i; i += 1
              if (keySet.value((str(r, iCid), r.getInt(iTix))))
                Some((str(r, iCid), r.getInt(iTix), tsMicros(r),
                  str(r, iRole), str(r, iTool), str(r, iText), addr))
              else None
            }
          })
          .groupBy(col("_1").as("conv_id"), col("_2").as("turn_idx"))
          .agg(max(struct(col("_3"), col("_4"), col("_5"), col("_6"),
            col("_7"))).getField("_7").as("__resolvedMid"))
        winners0.join(broadcast(resolved), Seq("conv_id", "turn_idx"), "left")
          .withColumn("winMid",
            coalesce(col("__resolvedMid"), col("winMid")))
      }

    // ---- pass 2: zip-back — texts stay put
    val docs = attachByAddress(spark, srcRdd, winners,
      iCid, iTix, iRole, iText, iTool, iTs)
    val meta = winners0.select("docId", "conv_id", "turn_idx", "role", "tool", "ts")
    (docs, meta)
  }

  /** Route (winMid → docId) to each source partition and walk it once,
    * emitting the winner rows with their ids. Moves 16 bytes per doc;
    * text bytes move zero times — and are decoded to JVM strings exactly
    * once, here at winner emit. */
  private def attachByAddress(spark: SparkSession,
                              srcRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                              winners: DataFrame,
                              iCid: Int, iTix: Int, iRole: Int,
                              iText: Int, iTool: Int, iTs: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import spark.implicits._
    val numPart = srcRdd.getNumPartitions
    require(numPart < (1 << 30), s"partition count $numPart exceeds the id layout")
    val routed = winners.select("winMid", "docId").as[(Long, Long)].rdd
      .map { case (mid, id) => ((mid >>> 33).toInt, (mid & ((1L << 33) - 1), id)) }
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = numPart
        override def getPartition(key: Any): Int = {
          val p = key.asInstanceOf[Int]
          require(p < numPart,
            s"row address names partition $p of $numPart — DocIds.assign " +
              "requires a repeatable input scan (see contract)")
          p
        }
      })
    val rows = srcRdd.zipPartitions(routed) { (src, win) =>
      val addrs = win.map(_._2).toArray
      scala.util.Sorting.quickSort(addrs)(Ordering.by(_._1))
      def str(r: InternalRow, i: Int): String =
        if (r.isNullAt(i)) null else r.getUTF8String(i).toString
      new Iterator[DocRow] {
        private var pos = 0L
        private var j = 0
        private var nextRow: DocRow = advance()
        private def advance(): DocRow = {
          while (j < addrs.length && src.hasNext) {
            val t = src.next()
            val want = addrs(j)._1
            if (pos == want) {
              val role = str(t, iRole)
              val d = DocRow(addrs(j)._2, str(t, iCid), t.getInt(iTix),
                if (role == null) "" else role, str(t, iTool),
                if (t.isNullAt(iTs)) null
                else DateTimeUtils.toJavaTimestamp(t.getLong(iTs)),
                str(t, iText))
              pos += 1; j += 1
              return d
            }
            if (pos > want)
              throw new IllegalStateException(
                "unresolvable row address — DocIds.assign requires a " +
                  "repeatable input scan (see contract)")
            pos += 1
          }
          if (j < addrs.length)
            throw new IllegalStateException(
              s"${addrs.length - j} routed docIds found no source row — " +
                "DocIds.assign requires a repeatable input scan (see contract)")
          null
        }
        override def hasNext: Boolean = nextRow != null
        override def next(): DocRow = {
          val r = nextRow; nextRow = advance(); r
        }
      }
    }
    spark.createDataset(rows).toDF()
  }
}
