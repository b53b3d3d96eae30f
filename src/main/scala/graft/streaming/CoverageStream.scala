package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

import graft.functions.PqCodes.round6
import Ripen._

/** Streaming twin of the q33 interval-union COVERAGE sweep — live
  * per-user active time with overlaps counted once (billing meters,
  * uptime, session activity), each emitted row bit-equal to
  * [[graft.operators.Windows.intervalCoverage]] run over the key's
  * prefix of events at or below the row's anchor.
  *
  * Mechanics: each event opens [ts, ts+dur); events the watermark has
  * CLOSED merge into the key's disjoint open-interval list; an
  * interval whose end the watermark has passed can never gain overlap
  * (new events arrive at or above the watermark), so it folds into a
  * running covered sum and leaves state — state is O(pending +
  * unfoldable intervals), bounded by the watermark lag and the
  * interval length, NEVER by history. Events still inside the
  * watermark stay buffered: a frame never reads an event that batch
  * arithmetic over its anchor's prefix would not.
  *
  * The one exception to the [[Ripen]] rule: an event finalizes only
  * once the watermark is strictly past it (it ripens as the instant
  * one µs later), so an event exactly at the watermark stays pending.
  * CoverageStreamSpec's stream test pins this — its flusher lands
  * exactly on the final watermark and must not finalize.
  */
object CoverageStream {

  /** One keyed event (reuses the SloMonitor shape). */
  type KeyEvent = SloMonitor.KeyEvent

  /** pending: buffered event micros the watermark hasn't closed;
    * open: merged disjoint [s, e) intervals still near the watermark;
    * coveredClosed: folded covered micros; n/s0/e1: exact stats over
    * merged events; anchor: last emitted frame's anchor micros. */
  final case class CovState(pending: List[Long], open: List[(Long, Long)],
                            coveredClosed: Long, n: Long, s0: Long, e1: Long,
                            anchor: Long)

  final case class CovRow(key: String, as_of: Long, n_intervals: Long,
                          covered_micros: Long, span_micros: Long,
                          utilization: Double)

  /** Merge one [s, e) into a sorted disjoint list (half-open:
    * back-to-back intervals fuse, the q33 rule). */
  private[streaming] def merge(ivs: List[(Long, Long)],
                               s: Long, e: Long): List[(Long, Long)] = {
    val (before, rest) = ivs.span(_._2 < s)  // strictly before, no touch
    val (overlap, after) = rest.span(_._1 <= e) // touches or overlaps
    val ms = if (overlap.isEmpty) s else s min overlap.head._1
    val me = if (overlap.isEmpty) e else e max overlap.map(_._2).max
    before ::: (ms, me) :: after
  }

  /** Transition, exposed for unit tests. */
  def covUpdate(durSec: Long)(
      key: String, events: Iterator[KeyEvent],
      state: GroupState[CovState]): Iterator[CovRow] =
    fold(state, CovState(Nil, Nil, 0L, 0L, Long.MaxValue, Long.MinValue,
        Long.MinValue)) { (st0, wm) =>
      val durUs = durSec * 1000000L
      // exact event micros: getTime truncates to millis, the sub-milli
      // remainder rides getNanos — batch unix_micros sees both. An
      // event ripens one µs after its instant (see the object doc)
      val (closing, pending) = ripen(st0.pending ++ events.map(e =>
        e.ts.getTime / 1000L * 1000000L + e.ts.getNanos / 1000L), wm)(
        _ + 1L, identity)
      val st = closing.foldLeft(st0) { (s, us) =>
        s.copy(open = merge(s.open, us, us + durUs), n = s.n + 1L,
          s0 = s.s0 min us, e1 = s.e1 max (us + durUs), anchor = s.anchor max us)
      }
      // fold intervals the watermark has passed: nothing arriving
      // above it can extend them
      val (dead, live) = st.open.partition(iv => ripe(iv._2, wm))
      val covered = st.coveredClosed + dead.map { case (s, e) => e - s }.sum
      val rows =
        if (st.anchor == st0.anchor) Nil
        else {
          val total = covered + live.map { case (s, e) => e - s }.sum
          val span = st.e1 - st.s0
          List(CovRow(key, st.anchor, st.n, total, span,
            round6(total.toDouble / span.toDouble)))
        }
      Next(rows, Option.when(pending.nonEmpty || live.nonEmpty || st.n > 0L)(
        st.copy(pending = pending, open = live, coveredClosed = covered)),
        pending.minOption.map(_ + 1L))
    }

  /** Streaming entry: per-key coverage frames, one per advanced
    * per-key anchor (the key's latest watermark-closed event),
    * Append-final. `events` must carry an event-time watermark on the
    * column `ts` derives from.
    */
  def coverageFrames(events: Dataset[KeyEvent],
                     durSec: Long): Dataset[CovRow] = {
    require(durSec >= 1, s"coverageFrames: durSec $durSec must be >= 1")
    Ripen(events)(_.key)(covUpdate(durSec))
  }
}
