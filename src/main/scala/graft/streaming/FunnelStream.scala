package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, ValueState}

import SortBuffer.{Parked, toUs}

/** Streaming twin of the q218 funnel
  * ([[graft.operators.Temporal.funnelPerUser]]): view → click →
  * purchase with ordered first-qualifying semantics over an
  * out-of-order event stream.
  *
  * The semantics are ORDER-SENSITIVE — a click converts only if a view
  * precedes it in (event-time, event_id) order, so an event cannot fold
  * on arrival while an earlier view may still be in flight. The events
  * wait in the watermark sort-buffer ([[SortBuffer]]) and fold through
  * the funnel automaton in (us, event_id) order; the final snapshots are
  * bit-equal to the batch funnel (FunnelStreamSpec proves it on a
  * shuffled stream). State per user is the folded triple plus the
  * parked events inside the watermark delay — bounded by delay ×
  * per-user rate, the [[NearDupStream]] contract.
  */
object FunnelStream {

  /** Input event (ts drives the watermark). */
  final case class FEv(user_id: Long, ts: Timestamp, event_id: Long,
      event_type: String)

  /** Folded stage timestamps (-1 = not reached) + events folded. */
  final case class Folded(vUs: Long, cUs: Long, pUs: Long, nDone: Long)

  /** Per-trigger snapshot; the row with the max n_done per user is the
    * final answer (n_done grows monotonically).
    */
  final case class Snap(user_id: Long, v_us: Option[Long],
      c_us: Option[Long], p_us: Option[Long], n_done: Long, n_pending: Long)

  class Processor extends SortBuffer[FEv, Snap] {
    @transient private var folded: ValueState[Folded] = _

    override protected def open(): Unit =
      folded = getHandle.getValueState[Folded](
        "folded", Encoders.product[Folded], TTLConfig.NONE)

    override protected def park(e: FEv): Parked =
      Parked(toUs(e.ts), e.event_id, e.event_type)

    override protected def fold(key: Long, ready: Array[Parked],
        nPending: Long): Iterator[Snap] = {
      var st = if (folded.exists()) folded.get() else Folded(-1L, -1L, -1L, 0L)
      ready.foreach { e =>
        e.v match {
          case "view" if st.vUs < 0 => st = st.copy(vUs = e.us)
          case "click" if st.cUs < 0 && st.vUs >= 0 => st = st.copy(cUs = e.us)
          case "purchase" if st.pUs < 0 && st.cUs >= 0 =>
            st = st.copy(pUs = e.us)
          case _ => ()
        }
      }
      st = st.copy(nDone = st.nDone + ready.length)
      folded.update(st)
      def opt(v: Long) = if (v < 0) None else Some(v)
      Iterator.single(Snap(key, opt(st.vUs), opt(st.cUs), opt(st.pUs),
        st.nDone, nPending))
    }
  }

  /** Append-mode stream of per-user funnel snapshots. */
  def track(events: Dataset[FEv],
      watermarkDelay: String = "10 minutes"): Dataset[Snap] = {
    implicit val enc: Encoder[Snap] = Encoders.product[Snap]
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new Processor,
        TimeMode.EventTime(), OutputMode.Append(), enc)
  }
}
