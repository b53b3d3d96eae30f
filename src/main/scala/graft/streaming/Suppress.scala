package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

import Ripen._

/** Streaming twin of r34's alert suppression (`Windows.suppressAlerts`)
  * — the live fatigue gate an alert manager applies as alerts arrive:
  * per key, an alert survives only if at least `suppressUs` has passed
  * since the last SURVIVING alert. The kept-decision feeds back into
  * itself, which is exactly what per-key state is for: ONE timestamp
  * (the last survivor's) decides every future alert, so state is O(1)
  * per key and the batch op's whole per-key sort never materializes.
  *
  * Parity with the batch op is exact by construction under the
  * AlertEdges delivery contract: alerts for one key arrive across
  * micro-batches in non-decreasing (ts, id) order (within a batch any
  * order — the update sorts). A row at or before the last PROCESSED
  * (ts, id) is a replay and is ignored, never re-decided — the same
  * stale-delivery floor AlertEdges applies. Out-of-order delivery
  * beyond a replay is the upstream's watermark problem, not this
  * gate's: a late alert older than an already-decided survivor cannot
  * be un-suppressed in ANY online semantics.
  *
  * Keys are the alerting population (bounded by construction — the
  * r23 alerts-not-events contract); wire a processing-time timeout
  * upstream if keys churn.
  */
object Suppress {

  final case class Alert(key: Long, tsUs: Long, id: Long)

  /** lastTs/lastId: the last PROCESSED alert (replay floor);
    * lastKeptTs: the last SURVIVOR's timestamp (the suppression
    * anchor). Long.MinValue = no survivor yet. */
  final case class SuppressState(lastTs: Long, lastId: Long, lastKeptTs: Long)

  /** Core transition, exposed for unit tests. */
  def update(suppressUs: Long)(key: Long, alerts: Iterator[Alert],
             state: GroupState[SuppressState]): Iterator[Alert] =
    Ripen.replay(state, SuppressState(Long.MinValue, Long.MinValue,
      Long.MinValue), alerts)(a => (a.tsUs, a.id), s => (s.lastTs, s.lastId)) {
      (st, a) =>
        val keep = st.lastKeptTs == Long.MinValue ||
          a.tsUs >= st.lastKeptTs + suppressUs
        (SuppressState(a.tsUs, a.id, if (keep) a.tsUs else st.lastKeptTs),
          Option.when(keep)(a))
    }

  /** Kept alerts, Append-mode (a survivor decision is final). */
  def kept(alerts: Dataset[Alert], suppressSec: Long): Dataset[Alert] = {
    require(suppressSec > 0, s"Suppress.kept: suppressSec $suppressSec must be > 0")
    Ripen(alerts)(_.key, timeout = false)(update(suppressSec * 1000000L))
  }
}
