package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import EventBuffer.{micros, timestamp}

/**
 * Sessionization: gap-based user sessions, in both execution modes.
 *
 *  - [[batch]]: lag + running-sum window formulation — one shuffle on
 *    user_id; this is the oracle-checked semantics.
 *  - [[streaming]]: the same semantics over an unbounded stream via
 *    `flatMapGroupsWithState` (custom per-key state + event-time
 *    timeout) — the reference's online processing path
 *    (yupana-spark ETLFunctions DStream ingest) taken to Structured
 *    Streaming's stateful API. Sessions are emitted when the
 *    watermark passes their gap timeout.
 *
 * At scale the state store shards by user_id across executors; batch
 * mode's window shuffle has the same key, so both modes partition
 * identically.
 */
object Sessionize extends Serializable {

  case class Ev(user_id: Long, ts: Timestamp, value: Double, event_id: Long)
  case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      sum_value: Double
  )

  /** Batch formulation: lag → gap flag → running sum → group. */
  def batch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapMicros = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn(
        "is_new",
        when(col("prev_us").isNull || (unix_micros(col("ts")) - col("prev_us")) > gapMicros, 1L).otherwise(0L)
      )
      .withColumn("sid", sum(col("is_new")).over(run))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value")
      )
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"), col("sum_value"))
  }

  /** Split a user's accumulated events into gap-separated sessions. */
  private def toSessions(userId: Long, evs: Seq[(Long, Double, Long)], gapMicros: Long): List[Session] = {
    val sorted = evs.sortBy(e => (e._1, e._3))
    val out = scala.collection.mutable.ListBuffer.empty[Session]
    var start = 0L; var last = 0L; var n = 0L; var sum = BigDecimal(0)
    for ((us, v, _) <- sorted) {
      if (n == 0L) { start = us; last = us; n = 1; sum = BigDecimal(v) }
      else if (us - last > gapMicros) {
        out += Session(userId, timestamp(start), timestamp(last), n, sum.toDouble)
        start = us; last = us; n = 1; sum = BigDecimal(v)
      } else { last = us; n += 1; sum += BigDecimal(v) }
    }
    if (n > 0) out += Session(userId, timestamp(start), timestamp(last), n, sum.toDouble)
    out.toList
  }

  /**
   * Streaming formulation with custom state: buffer a user's open
   * events; when the event-time timeout fires (watermark passed
   * last-event + gap), close and emit that user's sessions.
   */
  def streaming(spark: SparkSession, events: Dataset[Ev], gapMinutes: Int, watermark: String = "10 minutes"): Dataset[Session] = {
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    // buffered as (epochMicros, value, event_id)
    EventBuffer.stage(events, watermark, gapMinutes, (e: Ev) => e.user_id)(
      e => (micros(e.ts), e.value, e.event_id))(
      _._1, (user, evs) => toSessions(user, evs, gapMicros).iterator)
  }
}
