package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import SortBuffer.toUs

/** Sessionization on the state-v2 TIMER facility: the transformWithState
  * twin of [[SessionTracker]] (flatMapGroupsWithState +
  * EventTimeTimeout), closing idle sessions from
  * `handleExpiredTimer` when the watermark passes last-event + gap.
  * Timers are the one arbitrary-state v2 capability the rest of the
  * streaming surface doesn't exercise ([[ValueTracker]]/[[TwaStream]]/
  * [[PackingStream]] are timer-free); per key exactly ONE timer is
  * live — registered on update, the previous one explicitly deleted —
  * so timer-store size tracks active users exactly like the state
  * store. Session semantics are bit-identical to SessionTracker
  * (in-batch gap close, straggler isolation, watermark close);
  * StreamingTimerSpec runs both on one stream and diffs the output.
  */
object TimerSessions {

  import SessionTracker.{ClosedSession, Ev}

  /** Open session plus the expiry of the one live timer guarding it. */
  final case class OpenT(startUs: Long, lastUs: Long, n: Long, timerMs: Long)

  class Processor(gapUs: Long)
      extends StatefulProcessor[Long, Ev, ClosedSession] {
    @transient private var open: ValueState[OpenT] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenT](
        "open_session", Encoders.product[OpenT], TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      val sorted = rows.map(e => toUs(e.ts)).toArray.sorted
      var cur: Option[OpenT] = if (open.exists()) Some(open.get()) else None
      val prevTimer = cur.map(_.timerMs)
      val closed = Seq.newBuilder[ClosedSession]
      sorted.foreach { t =>
        cur match {
          case Some(s) if t - s.lastUs > gapUs =>
            closed += ClosedSession(key, s.startUs, s.lastUs, s.n)
            cur = Some(OpenT(t, t, 1, 0L))
          case Some(s) if t < s.startUs - gapUs =>
            // cross-batch straggler more than a gap BEFORE the open
            // session: its own session, closed immediately (same
            // contract as SessionTracker — never silently merged)
            closed += ClosedSession(key, t, t, 1)
          case Some(s) =>
            cur = Some(s.copy(
              startUs = math.min(s.startUs, t),
              lastUs = math.max(s.lastUs, t),
              n = s.n + 1))
          case None =>
            cur = Some(OpenT(t, t, 1, 0L))
        }
      }
      cur.foreach { s =>
        // one live timer per key: re-arm at last + gap (ceil to ms so
        // the timer can never fire before the microsecond deadline)
        val expiry = (s.lastUs + gapUs + 999L) / 1000L
        prevTimer.filter(p => p != 0L && p != expiry)
          .foreach(getHandle.deleteTimer)
        if (!prevTimer.contains(expiry)) getHandle.registerTimer(expiry)
        open.update(OpenT(s.startUs, s.lastUs, s.n, expiry))
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
      // update always deletes the stale timer, so a firing timer IS the
      // session's current guard; defensive check anyway (an expiry for
      // state that moved on must be a no-op, never a duplicate close)
      if (!open.exists()) return Iterator.empty
      val s = open.get()
      if (s.timerMs != expiredTimerInfo.getExpiryTimeInMs) return Iterator.empty
      open.clear()
      Iterator.single(ClosedSession(key, s.startUs, s.lastUs, s.n))
    }
  }

  /** Append-mode stream of closed sessions, timer-driven. */
  def track(events: Dataset[Ev], gapMinutes: Int,
      watermarkDelay: String = "10 minutes"): Dataset[ClosedSession] = {
    implicit val enc: Encoder[ClosedSession] = Encoders.product[ClosedSession]
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(
        new Processor(gapMinutes * 60L * 1000000L),
        TimeMode.EventTime(), OutputMode.Append(), enc)
  }
}
