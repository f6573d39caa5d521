package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Funnel

/**
 * Streaming twin of the anomaly query (SparkEntry q_anomaly):
 * trailing-window z-scores over per-(series, day) counts of an
 * unbounded event stream — the monitoring analytic as a live
 * pipeline instead of a daily batch. Two stages, the
 * [[StreamingDedup]] changelog discipline (the per-key stateful
 * stage emits bounded summaries; the cross-row analytic stays a
 * rollup over the sink):
 *
 *  1. [[dailyCounts]] — a watermarked tumbling 1-day window count in
 *     APPEND mode: a (day, series) cell emits exactly once, when the
 *     watermark passes the day's end, so streaming state is
 *     open-days × series (bounded by the watermark delay), never
 *     event-sized. [[run]] lands the cells in a batch_id-partitioned
 *     parquet sink (overwrite per partition — the replay-idempotent
 *     foreachBatch discipline; a cell can only ever be duplicated as
 *     an IDENTICAL row by a replayed batch rewriting its own
 *     partition).
 *  2. [[score]] — the EXACT batch operator over the sink:
 *     [[Funnel.densifyDaily]] zero-fills outage days (a day with no
 *     events emits no cell — exactly the day that must score), then
 *     [[Funnel.anomalies]]'s engine-exact trailing z. Batch parity is
 *     by construction (same scoring code) and spec-proven end-to-end
 *     against the batch form on the same out-of-order events.
 *
 * Day boundaries: window(ts, "1 day") buckets days in the session
 * timezone, as does the batch form's date_trunc — run both under one
 * session timezone (the suite pins UTC).
 *
 * Emission semantic: a day becomes scorable once the watermark
 * passes its end — anomalies surface with at most `watermark` +
 * one-trigger delay. Events later than the watermark are dropped by
 * the windowed aggregate (the standard append-mode contract); size
 * the delay to the pipeline's real lateness bound.
 */
object StreamingAnomaly {

  /** Stage 1: finalized daily (day, event_type, cnt) cells. */
  def dailyCounts(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      watermark: String = "1 day"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 day").as("w"), col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("day"), col("event_type"), col("cnt"))

  /** Land finalized cells in a replay-safe parquet sink. */
  def run(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      sinkPath: String,
      checkpoint: String,
      watermark: String = "1 day"
  ): StreamingQuery =
    ForeachBatch.start(dailyCounts(events, tsCol, typeCol, watermark), checkpoint) { (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$sinkPath/batch_id=$batchId")
    }

  /** Stage 2: score the sink with the exact batch operator. */
  def score(
      spark: SparkSession,
      sinkPath: String,
      lookback: Int = 7,
      zThreshold: Double = 3.0
  ): DataFrame = {
    val cells = spark.read.option("basePath", sinkPath).parquet(sinkPath)
      .select(col("day"), col("event_type"), col("cnt"))
      // append mode emits a cell exactly once and a replayed batch
      // overwrites its own partition, so duplicates can only be
      // identical rows — dropDuplicates is exact, not lossy
      .dropDuplicates("day", "event_type")
    Funnel.anomalies(
      Funnel.densifyDaily(cells, "event_type", "day", "cnt"),
      seriesCol = "event_type", periodCol = "day", cntCol = "cnt",
      lookback = lookback, zThreshold = zThreshold)
  }
}
