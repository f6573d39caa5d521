package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import EventBuffer.{micros, timestamp}

/**
 * Streaming twin of [[graft.operators.Funnel.funnel]] — the per-user
 * conversion funnel over an unbounded event stream, by the
 * [[Sessionize]] discipline: buffer a user's events in keyed state,
 * and when the event-time timeout fires (watermark passed the user's
 * last event + the inactivity horizon) run EXACTLY the batch funnel's
 * chaining over the buffer and emit one row. Buffering is what makes
 * out-of-order arrival exact: a late-but-earlier `view` can both
 * improve step 1 and requalify a click that preceded the previously
 * known view — incremental anchor state would lock in the wrong
 * chain, the replay over the sorted buffer cannot.
 *
 * A funnel never structurally "closes" (a user may convert next
 * month), so the inactivity horizon is the emission semantic: the
 * funnel as of `inactivityMinutes` of silence — the same horizon
 * choice the session operator makes, and at 100 TB the state store
 * shards by user exactly like the batch form's one user-key exchange.
 * Batch parity for quiesced users is spec-proven (StreamingSpec
 * replays the same events through both forms).
 */
object StreamingFunnel extends Serializable {

  case class FEv(user_id: Long, ts: Timestamp, event_type: String, event_id: Long)
  case class FunnelRow(
      user_id: Long,
      ts_step1: Option[Timestamp],
      ts_step2: Option[Timestamp],
      ts_step3: Option[Timestamp],
      steps_completed: Int
  )

  /** The batch cascade over a sorted buffer: first event of step i
    * strictly after the then-known step i−1 anchor wins (ascending
    * order makes first-qualify the running minimum — the same strict->
    * chaining as the window form, tie order by event_id). */
  private[streaming] def toFunnelRow(
      userId: Long, evs: Seq[(Long, String, Long)], steps: Seq[String]): FunnelRow = {
    val sorted = evs.sortBy(e => (e._1, e._3))
    val anchors = Array.fill[Option[Long]](steps.length)(None)
    for ((us, tpe, _) <- sorted; i <- steps.indices) {
      if (anchors(i).isEmpty && tpe == steps(i) &&
        (i == 0 || anchors(i - 1).exists(us > _))) anchors(i) = Some(us)
    }
    val completed = anchors.lastIndexWhere(_.isDefined) + 1
    FunnelRow(
      userId,
      anchors.lift(0).flatten.map(timestamp),
      anchors.lift(1).flatten.map(timestamp),
      anchors.lift(2).flatten.map(timestamp),
      completed)
  }

  /**
   * @param steps exactly three step types (the emitted row shape);
   *              the batch operator generalizes to N.
   */
  def streaming(
      spark: SparkSession,
      events: Dataset[FEv],
      steps: Seq[String],
      inactivityMinutes: Int = 30,
      watermark: String = "10 minutes"
  ): Dataset[FunnelRow] = {
    import spark.implicits._
    require(steps.length == 3, "the streaming twin emits the 3-step row shape")

    // buffered as (epochMicros, type, event_id)
    EventBuffer.stage(events, watermark, inactivityMinutes, (e: FEv) => e.user_id)(
      e => (micros(e.ts), e.event_type, e.event_id))(
      _._1, (user, evs) => Iterator.single(toFunnelRow(user, evs, steps)))
  }
}
