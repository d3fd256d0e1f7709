package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import SortBuffer.toUs

/** Custom sessionization with explicit state + event-time timeout
  * (`flatMapGroupsWithState`) — the general form of what
  * `session_window` (Olap.q29) does declaratively, for when per-session
  * logic doesn't fit the built-in operator (custom close conditions,
  * per-session payloads, side outputs).
  *
  * A session CLOSES two ways: an in-batch gap > `gapMinutes`, or the
  * event-time watermark passing the session's timeout (EventTimeTimeout)
  * — so closed sessions are emitted exactly once (Append mode) and state
  * size is bounded by one open session per active user.
  */
object SessionTracker {

  final case class Ev(user_id: Long, ts: Timestamp)
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  final case class ClosedSession(
      user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  def track(events: Dataset[Ev], gapMinutes: Int,
      watermarkDelay: String = "10 minutes"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def update(userId: Long, batch: Iterator[Ev],
        state: GroupState[OpenSession]): Iterator[ClosedSession] = {
      if (batch.isEmpty && state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator.single(ClosedSession(userId, s.startUs, s.lastUs, s.n))
      }
      val sorted = batch.map(e => toUs(e.ts)).toArray.sorted
      var open = state.getOption
      val closed = Seq.newBuilder[ClosedSession]
      sorted.foreach { t =>
        open match {
          case Some(s) if t - s.lastUs > gapUs =>
            closed += ClosedSession(userId, s.startUs, s.lastUs, s.n)
            open = Some(OpenSession(t, t, 1))
          case Some(s) if t < s.startUs - gapUs =>
            // cross-batch straggler (allowed by the watermark) that falls
            // more than a gap BEFORE the open session: its own session,
            // closed immediately — never silently merged
            closed += ClosedSession(userId, t, t, 1)
          case Some(s) =>
            open = Some(s.copy(
              startUs = math.min(s.startUs, t),
              lastUs = math.max(s.lastUs, t),
              n = s.n + 1))
          case None =>
            open = Some(OpenSession(t, t, 1))
        }
      }
      open.foreach { s =>
        state.update(s)
        // close via watermark once event time moves past last + gap
        state.setTimeoutTimestamp((s.lastUs + gapUs) / 1000L)
      }
      closed.result().iterator
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
