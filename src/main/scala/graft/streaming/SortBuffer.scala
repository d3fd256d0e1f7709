package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** The watermark sort-buffer of the order-sensitive per-key streams
  * ([[FunnelStream]], [[ScdStream]]). Each event parks in per-key
  * ListState until the watermark passes it; then the parked events
  * strictly below the watermark go to [[fold]] in (µs, tiebreak) order.
  * Watermarks are monotone and rows later than the watermark are dropped
  * upstream, so successive drains cover non-overlapping, increasing time
  * ranges and the global fold order is the batch order. One event-time
  * timer per key, armed just after the earliest parked event, drains the
  * buffer without new traffic.
  */
private[streaming] abstract class SortBuffer[I, O]
    extends StatefulProcessor[Long, I, O] {
  import SortBuffer.Parked

  @transient private var parked: ListState[Parked] = _
  @transient private var timerMs: ValueState[Long] = _

  /** Opens the subclass's own state. */
  protected def open(): Unit

  protected def park(row: I): Parked

  /** Folds the events that just became final, sorted by (us, tie). */
  protected def fold(key: Long, ready: Array[Parked], nPending: Long): Iterator[O]

  override final def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    parked = getHandle.getListState[Parked](
      "parked", Encoders.product[Parked], TTLConfig.NONE)
    timerMs = getHandle.getValueState[Long](
      "timer_ms", Encoders.scalaLong, TTLConfig.NONE)
    open()
  }

  private def advance(key: Long, incoming: Array[Parked],
      timerValues: TimerValues): Iterator[O] = {
    val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
    val (ready, pending) =
      (parked.get().toArray ++ incoming).partition(_.us < wmUs)
    java.util.Arrays.sort(ready, Ordering.by((p: Parked) => (p.us, p.tie)))
    parked.clear()
    if (pending.nonEmpty) parked.appendList(pending)
    // ms granularity: fire strictly after the earliest parked microsecond
    val was = if (timerMs.exists()) timerMs.get() else 0L
    val want = if (pending.isEmpty) 0L else pending.map(_.us).min / 1000L + 1L
    if (was != 0L && was != want) getHandle.deleteTimer(was)
    if (want != 0L && was != want) getHandle.registerTimer(want)
    timerMs.update(want)
    fold(key, ready, pending.length.toLong)
  }

  override final def handleInputRows(key: Long, rows: Iterator[I],
      timerValues: TimerValues): Iterator[O] =
    advance(key, rows.map(park).toArray, timerValues)

  override final def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[O] =
    advance(key, Array.empty, timerValues)
}

private[streaming] object SortBuffer {

  /** A parked event: µs event time, tiebreak, the attribute the fold reads. */
  final case class Parked(us: Long, tie: Long, v: String)

  /** Full microsecond precision: `Timestamp.getTime` is millis-only. */
  def toUs(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000L
}
