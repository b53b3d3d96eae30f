package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

import Ripen._

/** Streaming twin of the batch transition miner (the lag step of
  * `operators.LogMining.rareTransitions`): emit each key's adjacent
  * (src, dst) template edges as the WATERMARK finalizes their order —
  * the live feed the r24 rarity scorer (an ordinary streaming
  * aggregation over these edges) consumes.
  *
  * Parity with the batch lag: events buffer per key until the
  * watermark passes their timestamp; finalization sorts the ripe
  * prefix by (tsUs, id) — the batch window's exact order, µs-accurate
  * via toInstant — and emits its adjacent pairs, chaining through the
  * key's last finalized event so batch boundaries never lose an edge.
  * Any arrival within the watermark allowance therefore lands in its
  * sorted position BEFORE the events around it finalize, and the
  * emitted edge multiset equals the batch lag's exactly (spec-pinned
  * across out-of-order, cross-batch arrivals). The one divergence is
  * the repo-wide watermark contract: an event later than the
  * allowance is outside the guarantee — it may be dropped upstream,
  * or finalize out of order here if it slips through.
  *
  * State per key: the unripe tail (bounded by rate x allowance) plus
  * ONE finalized boundary event — after a flush, O(1) forever, the
  * AlertEdges precedent. Timeouts drive idle-key flushes: a quiet key
  * wakes when the watermark can ripen its OLDEST pending event (the
  * [[Ripen]] rule), so its ripe prefix never waits on newer events.
  */
object Transitions {

  final case class Ev(key: String, ts: java.sql.Timestamp, id: Long,
                      tpl: String) {
    def tsUs: Long = {
      val i = ts.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
  }

  final case class BufEv(tsUs: Long, id: Long, tpl: String)

  final case class TState(last: Option[BufEv], buf: List[BufEv])

  final case class Edge(key: String, src_template: String,
                        dst_template: String)

  /** Core transition, exposed for unit tests. */
  def update(key: String, events: Iterator[Ev],
             state: GroupState[TState]): Iterator[Edge] =
    fold(state, TState(None, Nil)) { (prev, wm) =>
      val (done, tail) = ripen(
        prev.buf ++ events.map(e => BufEv(e.tsUs, e.id, e.tpl)), wm)(
        _.tsUs, b => (b.tsUs, b.id))
      val chain = prev.last.toList ++ done
      val edges = chain.sliding(2).collect {
        case a :: b :: Nil => Edge(key, a.tpl, b.tpl)
      }.toList
      val last = done.lastOption.orElse(prev.last)
      Next(edges, Option.when(tail.nonEmpty || last.nonEmpty)(TState(last, tail)),
        tail.map(_.tsUs).minOption)
    }

  /** Streaming entry point: `events` must carry an event-time
    * watermark on the column `ts` derives from; `tpl` is the
    * row-local r18 template (LogMining.template), computed upstream.
    */
  def edges(events: Dataset[Ev]): Dataset[Edge] = Ripen(events)(_.key)(update)
}
