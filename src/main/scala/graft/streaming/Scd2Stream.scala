package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

import Ripen._

/** Streaming twin of the q34 SCD Type-2 build — live CDC dimension
  * versioning: each emitted row is a CLOSED version, bit-equal to the
  * corresponding `effective_to IS NOT NULL` row of
  * [[graft.operators.Windows.scd2]] over the key's closed-event
  * prefix. The OPEN version (batch's `is_current` row) lives in state
  * — a version only becomes Append-final when the next change closes
  * it, so the stream never emits a row it would have to retract.
  *
  * State per key is O(1) + the watermark-lag pending buffer: events
  * the watermark has closed fold in (us, tie) order through the same
  * collapse rule the batch lag applies (a repeat of the open state is
  * a no-op); a state CHANGE closes the open version (emits) and opens
  * the next.
  */
object Scd2Stream {

  /** One change event. `tie` is the deterministic tiebreak under
    * equal timestamps (the batch event_id). */
  final case class ScdEvent(key: Long, state: String,
                            ts: java.sql.Timestamp, tie: Long) {
    def us: Long = ts.getTime / 1000L * 1000000L + ts.getNanos / 1000L
  }

  /** pending: buffered (us, tie, state) the watermark hasn't closed;
    * openState/openFrom/version: the live version (version 0 = none
    * yet). */
  final case class ScdState(pending: List[(Long, Long, String)],
                            openState: String, openFrom: Long, version: Long)

  final case class ScdRow(key: Long, state: String, effective_from: Long,
                          effective_to: Long, version: Long)

  /** Transition, exposed for unit tests. */
  def scdUpdate(key: Long, events: Iterator[ScdEvent],
                state: GroupState[ScdState]): Iterator[ScdRow] =
    fold(state, ScdState(Nil, "", Long.MinValue, 0L)) { (st0, wm) =>
      val (closing, pending) = ripen(
        st0.pending ++ events.map(e => (e.us, e.tie, e.state)), wm)(
        _._1, c => (c._1, c._2))
      val (st, out) = scan(st0, closing) { case (st, (us, _, s)) =>
        if (st.version == 0L) (ScdState(Nil, s, us, 1L), None)
        else if (s == st.openState) (st, None) // the batch lag filter
        // the batch lead: the open version closes AT the change
        else (ScdState(Nil, s, us, st.version + 1L),
          Some(ScdRow(key, st.openState, st.openFrom, us, st.version)))
      }
      Next(out, Option.when(pending.nonEmpty || st.version > 0L)(
        st.copy(pending = pending)), pending.map(_._1).minOption)
    }

  /** Streaming entry: Append-final CLOSED versions per key. `events`
    * must carry an event-time watermark on the column `ts` derives
    * from. The live open version per key is state, not output — read
    * it from the batch operator or a state-store query.
    */
  def scd2Versions(events: Dataset[ScdEvent]): Dataset[ScdRow] =
    Ripen(events)(_.key)(scdUpdate)
}
