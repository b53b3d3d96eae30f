package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

import Ripen._

/** Streaming twin of the batch session-path miner
  * (`operators.LogMining.sessionPathStrings`): emit each gap-split
  * session's first-`maxLen` event types as one "a>b>c" path string
  * when the watermark closes the session. Downstream counting (the
  * r21 histogram) is an ordinary streaming aggregation over the
  * emitted paths.
  *
  * Parity with the batch op: the state keeps the session's `maxLen`
  * SMALLEST (tsUs, id) events — inserted in sorted order, trimmed to
  * maxLen, so the session MINIMUM is never evicted — and the gap
  * decision replays the batch op's sorted-adjacency rule even for
  * out-of-order arrivals: an event after last continues iff
  * ts − last <= gap (the identical strictly-greater break test); an
  * event INSIDE the open session's [start, last] span always joins
  * (inserting within a span never changes sorted-adjacency
  * membership); an event before the start joins iff start − ts <=
  * gap. Two divergences from the batch global sort remain and are
  * inherent to incremental state (shared with streaming Sessionize):
  * a within-allowance straggler that would bridge an ALREADY-CLOSED
  * earlier session into this one cannot re-merge it, and a
  * pre-start straggler beyond the gap closes immediately as a
  * singleton even if a later straggler would have joined it. Events
  * later than the watermark allowance land in no session at all
  * (the repo-wide watermark contract). State per key is O(maxLen) —
  * a billion-user stream holds a billion tiny lists, never rows.
  *
  * Timestamps carry full µs precision (via `toInstant`, whose nanos
  * survive Spark's µs-grain TimestampType round-trip), so batch and
  * stream resolve sub-ms co-timed events by the SAME (tsUs, id)
  * order — no ms-truncation divergence.
  */
object SessionPaths {

  final case class Ev(key: String, ts: java.sql.Timestamp, id: Long,
                      etype: String) {
    def tsUs: Long = {
      val i = ts.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
  }

  final case class HeadEv(tsUs: Long, id: Long, etype: String)

  final case class PathState(lastUs: Long, head: List[HeadEv])

  final case class SessionPath(key: String, path: String)

  private def pathOf(head: List[HeadEv]): String =
    head.sortBy(e => (e.tsUs, e.id)).map(_.etype).mkString(">")

  private def insert(head: List[HeadEv], e: HeadEv, maxLen: Int): List[HeadEv] =
    ((e :: head).sortBy(x => (x.tsUs, x.id))).take(maxLen)

  /** Core transition, exposed for unit tests. The gap decision
    * replays the batch sorted-adjacency rule (see the object doc):
    * after last → the strictly-greater break test; inside the open
    * span → always joins; before the start → joins iff within gap
    * of the start (the head's minimum, which sorted-insert never
    * evicts), else it closes immediately as the pre-start singleton
    * the batch sort would have made of it.
    */
  def update(gapUs: Long, maxLen: Int)(
      key: String, events: Iterator[Ev],
      state: GroupState[PathState]): Iterator[SessionPath] = {
    def one(e: Ev) = HeadEv(e.tsUs, e.id, e.etype)
    def close(s: PathState) = SessionPath(key, pathOf(s.head))
    Ripen.sessions(state, events.toSeq.sortBy(e => (e.tsUs, e.id)))(
      e => PathState(e.tsUs, List(one(e))),
      (s, e) =>
        if (e.tsUs >= s.lastUs) {
          if (e.tsUs - s.lastUs <= gapUs)
            (PathState(e.tsUs, insert(s.head, one(e), maxLen)), None)
          else // gap exceeded: close, start anew
            (PathState(e.tsUs, List(one(e))), Some(close(s)))
        } else if (e.tsUs >= s.head.head.tsUs ||
                   s.head.head.tsUs - e.tsUs <= gapUs) {
          // out-of-order but inside the span (or within gap of the
          // start): in global sort order it belongs to this session
          (PathState(s.lastUs, insert(s.head, one(e), maxLen)), None)
        } else {
          // a pre-start straggler beyond the gap: its own session,
          // emitted in place (the documented singleton caveat)
          (s, Some(SessionPath(key, e.etype)))
        },
      close, s => s.lastUs + gapUs)
  }

  /** Streaming entry point: `events` must carry an event-time
    * watermark on the timestamp column `ts` derives from.
    */
  def paths(events: Dataset[Ev], gapUs: Long, maxLen: Int): Dataset[SessionPath] = {
    require(maxLen > 0, s"sessionPaths: maxLen $maxLen must be positive")
    Ripen(events)(_.key)(update(gapUs, maxLen))
  }
}
