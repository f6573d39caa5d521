package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * The keyed event buffer of the streaming twins ([[Sessionize]],
 * [[StreamingFunnel]], [[StreamingRetention]]): buffer a user's events
 * in `flatMapGroupsWithState` state; when the event-time timeout fires
 * (the watermark passed the user's last event plus the silence
 * horizon), hand the whole buffer to the twin's emit function and
 * remove the state. Each twin keeps only its event tuple and its emit.
 */
private[graft] object EventBuffer {

  /** A user's buffered events, the state row. Its schema is
    * `struct<events: array<tuple>>` over the twin's own tuple, as each
    * twin's former state class had, so existing checkpoints restart
    * against the same state schema. */
  case class Buf[E](events: List[E])

  /** Exact micros↔Timestamp conversions (Spark's own): `getTime` /
    * `new Timestamp(ms)` truncate to milliseconds, which both shifts
    * gap decisions at sub-ms boundaries and degrades emitted
    * timestamps vs the batch forms' min(ts)/max(ts). */
  def micros(ts: Timestamp): Long = DateTimeUtils.fromJavaTimestamp(ts)
  def timestamp(us: Long): Timestamp = DateTimeUtils.toJavaTimestamp(us)

  /** The stage over `events` (event time in their `ts` column), keyed
    * by `user`: each event is buffered as `event(e)`, whose epoch
    * micros `at` reads; a user's buffer is emitted `horizonMinutes`
    * of event time after its last event. */
  def stage[In, E, Out: Encoder](
      events: Dataset[In], watermark: String, horizonMinutes: Int, user: In => Long)(
      event: In => E)(
      at: E => Long, emit: (Long, List[E]) => Iterator[Out])(implicit buf: Encoder[Buf[E]]): Dataset[Out] = {
    def update(userId: Long, in: Iterator[In], state: GroupState[Buf[E]]): Iterator[Out] = {
      val held = state.getOption.fold(List.empty[E])(_.events)
      if (state.hasTimedOut) {
        state.remove()
        emit(userId, held)
      } else {
        val all = held ++ in.map(event).toList
        state.update(Buf(all))
        state.setTimeoutTimestamp(all.map(at).max / 1000L + horizonMinutes * 60L * 1000L)
        Iterator.empty
      }
    }
    events
      .withWatermark("ts", watermark)
      .groupByKey(user)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }
}
