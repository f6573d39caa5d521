package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import EventBuffer.{micros, timestamp}

/**
 * Streaming twin of [[graft.operators.Funnel.retention]] — cohort
 * retention over an unbounded event stream, completing the
 * event-analytics trio's streaming story (funnel: [[StreamingFunnel]];
 * paths: a lead() window, stateless per microbatch). Retention is a
 * CROSS-user aggregate, so the per-user stateful stage emits the
 * per-user summary and the matrix stays a rollup over the sink (the
 * [[StreamingDedup]] changelog discipline):
 *
 *  1. per user, buffer (ts, isAnchor) pairs in keyed state — raw
 *     timestamps, because a late-but-EARLIER anchor changes t0 and
 *     with it every period number (incremental period state would
 *     lock in the wrong cohort; the buffer replay cannot);
 *  2. when the event-time timeout fires, replay the batch operator's
 *     exact arithmetic over the buffer (t0 = min anchor; period =
 *     floorDiv of epoch-second deltas — the engine-exact floor-epoch
 *     form) and emit one row per DISTINCT (user, period): bounded
 *     output, weeks not events;
 *  3. [[matrix]] rolls the emitted rows into the same
 *     (cohort, period_n, n_cohort, n_active, retention) shape as the
 *     batch operator — cohort truncation runs as a Spark expression
 *     there, so timezone semantics match the batch form by
 *     construction, and `countDistinct` keeps a replayed user's
 *     re-emitted rows idempotent.
 *
 * The inactivity horizon is the emission semantic (the
 * [[StreamingFunnel]] contract): retention as of `inactivityMinutes`
 * of a user's silence, and batch parity holds for any user whose
 * history fits one quiescence window — spec-proven by replaying the
 * same out-of-order events through both forms. A user who RESUMES
 * after the horizon begins a NEW journey: state was emitted and
 * removed, so the resumed events re-derive their own t0 (a resumed
 * run with a fresh anchor cohorts as a re-acquisition; one with no
 * anchor is excluded, like batch's anchorless users). This is the
 * deliberate price of bounded state — an unbounded-exact form would
 * need per-user state retained forever or event-sized emission — and
 * it matches how production retention treats long-dormant returns
 * (resurrection IS a new cohort journey). Size `inactivityMinutes`
 * to the longest within-journey silence the analysis must bridge;
 * the spec pins the re-opened-user semantics explicitly.
 */
object StreamingRetention extends Serializable {

  case class REv(user_id: Long, ts: Timestamp, event_type: String)
  case class UserPeriod(user_id: Long, t0: Timestamp, period_n: Int)

  /** The batch operator's arithmetic over a buffer: t0 = the user's
    * MIN anchor; every event at/after t0 lands in period
    * floorDiv(tsSec − t0Sec, periodSeconds) — identical to the batch
    * form's timestamp→long cast (floor micros to seconds) and floor
    * division. Users with no anchor emit nothing (pre-anchor activity
    * is excluded on both sides). */
  private[streaming] def toRows(
      userId: Long, evs: Seq[(Long, Boolean)], periodSeconds: Long): Seq[UserPeriod] = {
    val anchors = evs.collect { case (us, true) => us }
    if (anchors.isEmpty) Nil
    else {
      val t0 = anchors.min
      val t0Sec = Math.floorDiv(t0, 1000000L)
      evs.map(_._1).filter(_ >= t0)
        .map(us => Math.floorDiv(Math.floorDiv(us, 1000000L) - t0Sec, periodSeconds).toInt)
        .distinct.sorted
        .map(p => UserPeriod(userId, timestamp(t0), p))
    }
  }

  def streaming(
      spark: SparkSession,
      events: Dataset[REv],
      anchorType: String = "signup",
      periodSeconds: Long = 7L * 24 * 3600,
      inactivityMinutes: Int = 30,
      watermark: String = "10 minutes"
  ): Dataset[UserPeriod] = {
    import spark.implicits._
    require(periodSeconds > 0, "periodSeconds must be positive")

    // buffered as (epochMicros, isAnchor)
    EventBuffer.stage(events, watermark, inactivityMinutes, (e: REv) => e.user_id)(
      e => (micros(e.ts), e.event_type == anchorType))(
      _._1, (user, evs) => toRows(user, evs, periodSeconds).iterator)
  }

  /** Roll emitted [[UserPeriod]] rows into the batch operator's output
    * shape. Cohort truncation is a Spark expression HERE (not in the
    * stateful stage), so timezone semantics match
    * [[graft.operators.Funnel.retention]] by construction;
    * `countDistinct` makes a replayed user's re-emitted rows
    * idempotent. */
  def matrix(rows: DataFrame, cohortTrunc: String = "week"): DataFrame = {
    val withCohort = rows.withColumn("cohort", date_trunc(cohortTrunc, col("t0")))
    val cohortSizes = withCohort
      .groupBy(col("cohort"))
      .agg(countDistinct(col("user_id")).as("n_cohort"))
    withCohort
      .groupBy(col("cohort"), col("period_n"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(broadcast(cohortSizes), Seq("cohort"))
      .withColumn("retention", col("n_active").cast("double") / col("n_cohort").cast("double"))
      .select(col("cohort"), col("period_n"), col("n_cohort"), col("n_active"), col("retention"))
  }
}
