package searchspark.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log operators over the `events` table (event_id, ts, user_id,
  * event_type, value, props) — the interaction-log side of a
  * training-data pipeline, where raw click/view streams are segmented
  * into sessions before they become conversation-shaped training rows.
  * (The reference has no event analytics; this extends the engine to
  * the log-shaped table the test corpus ships, the same way the dedup/
  * ANN family extends it to `documents`/`embeddings`.)
  *
  * Cross-engine exactness discipline (matches TextOps): timestamps are
  * compared as epoch MICROSECOND integers (`unix_micros` here,
  * `epoch_us` in DuckDB — identical under the session's pinned UTC
  * timezone), and the `value` double becomes `floor(value * 100)` once
  * per event before any aggregation, so only integers are ever summed
  * or compared across engines. */
object EventOps {

  def events(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")

  /** Default session gap: 4 hours, in microseconds. */
  val DefaultGapUs: Long = 4L * 3600L * 1000000L

  /** Tumbling-window temporal rollup: per (window, event_type), the
    * event count, distinct-user count, and integer value sum. The
    * window is pure integer arithmetic — start = ts_us − pmod(ts_us,
    * windowUs), the floor, so a pre-1970 event lands in the window that
    * contains it (truncating `div` would round it up toward the epoch)
    * — so Spark and DuckDB agree exactly
    * (Spark's `window()` function and DuckDB's `time_bucket` would each
    * round through their own timestamp types; integer division of epoch
    * micros sidesteps both).
    *
    * Plan at 100 TB: one map-side-combined aggregation keyed by
    * (window_start, event_type) — bounded cardinality (buckets ×
    * types), no skew (each key aggregates its slice of the scan). The
    * distinct-user count adds the standard two-phase expand; swap in an
    * approx sketch when exactness isn't required. */
  def windowedCounts(ev: DataFrame, windowUs: Long = 3600L * 1000000L): DataFrame =
    ev.select(
      unix_micros(col("ts").cast("timestamp")).as("ts_us"),
      col("event_type"),
      col("user_id"),
      floor(col("value") * 100).cast("long").as("value_e2"))
      // integer floor via pmod, never double division: at epoch-micro
      // magnitudes a double quotient can land on the wrong side of a
      // bucket edge
      .select(expr(s"ts_us - pmod(ts_us, ${windowUs}L)").as("window_start_us"),
        col("event_type"), col("user_id"), col("value_e2"))
      .groupBy("window_start_us", "event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        sum("value_e2").as("value_e2_sum"))
      .orderBy("window_start_us", "event_type")

  /** Sessionize an event log: per user, a new session starts at the
    * first event and whenever the gap to the previous event exceeds
    * `gapUs`. Emits one row per session with event count, exact start/
    * end/duration in epoch micros, and the integer value sum.
    *
    * Ties on `ts` order by `event_id`, so the session assignment is
    * engine-deterministic even with duplicate timestamps.
    *
    * Plan at 100 TB: ONE shuffle — the window partitions by user_id
    * (bounded by a single user's history, the same no-skew-funnel class
    * as the per-doc windows in [[TextOps.tfidfTopTerms]]; a user's
    * events fit a partition by construction, unlike a
    * partition-by-shingle window). The session aggregation groups by
    * (user_id, session_seq), and HashPartitioning(user_id) already
    * satisfies that clustering, so Catalyst adds NO second exchange —
    * the groupBy runs on the window's own partitioning (pinned by
    * PipelineOpsSpec's plan assertion). */
  def sessionize(ev: DataFrame, gapUs: Long = DefaultGapUs): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val base = ev.select(
      col("user_id"),
      col("event_id"),
      // the parquet column is TIMESTAMP_NTZ; the cast re-types the naive
      // wall-clock under the session's pinned UTC zone, so unix_micros
      // equals DuckDB's epoch_us of the same naive value exactly
      unix_micros(col("ts").cast("timestamp")).as("ts_us"),
      floor(col("value") * 100).cast("long").as("value_e2"))
    val sessions = base
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum("new_sess").over(w))
    sessions.groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"),
        max("ts_us").as("end_us"),
        sum("value_e2").as("value_e2_sum"))
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("start_us"), col("end_us"),
        (col("end_us") - col("start_us")).as("duration_us"),
        col("value_e2_sum"))
      .orderBy("user_id", "session_seq")
  }
}
