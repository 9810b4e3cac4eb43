package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Prometheus's counter-rate shape restated as a pure windowed
  * aggregation, so the SAME query runs as a batch job and as a
  * Structured Streaming aggregation with no stateful custom code:
  * per (event_type, tumbling window), `(v_last − v_first) / (ts_last −
  * ts_first)` where first/last are (ts, event_id)-lexicographic — the
  * composite key keeps endpoint selection deterministic when replicated
  * data carries tied timestamps (ScaleUp's sf1 has 100k ties). Null
  * rate when the window has a single distinct timestamp.
  *
  * This is the streaming-friendly cousin of PromQL `rate()` ([[graft.functions.RangeKernel]]):
  * the full PromQL rate() interpolates at arbitrary grid points, which
  * needs each series' whole sample arrays; the windowed form trades that
  * for a shape `max_by`/`min_by` can express — ONE shuffle on
  * (event_type, window), map-side combinable, state = one row per open
  * window in streaming.
  */
object StreamRate {

  /** `events`: normalized frame (ts = epoch seconds double). */
  def batch(events: DataFrame, windowSeconds: Long): DataFrame =
    events.groupBy(col("event_type"),
        (floor(col("ts") / windowSeconds.toDouble).cast(DoubleType) *
          windowSeconds.toDouble).as("win_start"))
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("t0"), max("ts").as("t1"),
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("v0"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("v1"))
      .select(col("event_type"), col("win_start"), col("n_events"),
        when(col("t1") > col("t0"),
          round((col("v1") - col("v0")) / (col("t1") - col("t0")), 6))
          .as("rate"))

  /** Streaming twin: identical aggregation over Spark's `window()` on
    * the event-time column. Drive with complete mode (or add a
    * watermark upstream for append). */
  def streaming(events: DataFrame, windowSeconds: Long): DataFrame =
    events.withColumn("t", timestamp_seconds(col("ts")))
      .groupBy(col("event_type"),
        window(col("t"), s"$windowSeconds seconds"))
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("t0"), max("ts").as("t1"),
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("v0"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("v1"))
      .select(col("event_type"),
        col("window.start").cast(DoubleType).as("win_start"),
        col("n_events"),
        when(col("t1") > col("t0"),
          round((col("v1") - col("v0")) / (col("t1") - col("t0")), 6))
          .as("rate"))
}
