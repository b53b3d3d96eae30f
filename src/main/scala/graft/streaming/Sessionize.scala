package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

import Ripen._

/** Custom streaming state beyond windowed aggregation: inactivity
  * sessionization via [[Ripen.sessions]] — the Spark-native
  * answer where the reference would need hand-rolled state in its
  * window loop.
  *
  * A session = consecutive events of one key with gaps < `gapSec`;
  * it closes once the watermark ripens its last joinable instant
  * (last_event + gap, exclusive) — in-band or on the idle-key timeout.
  * State per key is O(1) (bounds, count, sum), so state-store size is
  * #active-keys, not #events — the property that matters at 100 TB:
  * a billion-key stream holds a billion tiny structs, never raw rows.
  */
object Sessionize {

  /** `ts` must be the watermarked event-time column — event-time
    * timeout requires the watermark column to survive into the
    * grouped Dataset.
    */
  final case class Event(key: String, ts: java.sql.Timestamp, value: Double) {
    def tsSec: Long = ts.getTime / 1000L
  }

  final case class SessionState(
      start: Long, lastTs: Long, n: Long, sum: Double)

  final case class Session(
      key: String, start: Long, end: Long, n: Long, sum: Double,
      durationSec: Long)

  /** Core transition function, exposed for unit tests. */
  def update(gapSec: Long)(
      key: String, events: Iterator[Event],
      state: GroupState[SessionState]): Iterator[Session] = {
    def start(e: Event) = SessionState(e.tsSec, e.tsSec, 1L, e.value)
    def close(s: SessionState) =
      Session(key, s.start, s.lastTs, s.n, s.sum, s.lastTs - s.start)
    Ripen.sessions(state, events.toSeq.sortBy(_.tsSec))(start,
      (s, e) =>
        if (e.tsSec - s.lastTs < gapSec)
          (s.copy(lastTs = math.max(s.lastTs, e.tsSec), n = s.n + 1,
            sum = s.sum + e.value), None)
        else (start(e), Some(close(s))), // gap exceeded inside the batch
      close, s => (s.lastTs + gapSec) * 1000000L - 1L)
  }

  /** Streaming entry point: `events` must carry an event-time
    * watermark on a timestamp column from which `tsSec` was derived.
    */
  def sessions(events: Dataset[Event], gapSec: Long): Dataset[Session] =
    Ripen(events)(_.key)(update(gapSec))
}
