package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

import Ripen._

/** Streaming twin of r23's alert-edge suppression — the live
  * fire/resolve dedup an alert manager applies to an anomaly verdict
  * stream (`streaming/Anomaly`'s output, or any (key, hour, verdict)
  * source): an hour emits only when its verdict DIFFERS from the
  * previous scored hour's, so a sustained incident pages once and
  * resolves once.
  *
  * Parity with the batch op is exact by construction: the batch rule
  * compares each scored hour against the PREVIOUS SCORED hour (not
  * the previous emission), so the state tracks every verdict it
  * sees — two fields per key — and emission is a pure function of
  * (previous verdict, this verdict) with the same
  * absent-means-false floor. Verdicts inside one batch process in
  * hour order; stale hours (at or before the last seen) are ignored
  * — Anomaly emits each hour exactly once on watermark close, so a
  * stale delivery is a replay, not information.
  *
  * State is O(1) per key with no timeout by default: alert keys are
  * the monitored population (bounded by construction, unlike user
  * keys); wire a processing-time timeout upstream if keys churn.
  */
object AlertEdges {

  final case class Verdict(key: String, hrStart: Long, isAnomaly: Boolean)

  final case class Edge(key: String, hrStart: Long, edge: String)

  final case class LastVerdict(hrStart: Long, isAnomaly: Boolean)

  /** Core transition, exposed for unit tests. A fresh key's floor
    * is a quiet verdict before every hour (absent means false). */
  def update(key: String, verdicts: Iterator[Verdict],
             state: GroupState[LastVerdict]): Iterator[Edge] =
    Ripen.replay(state, LastVerdict(Long.MinValue, false), verdicts)(
      _.hrStart, _.hrStart) { (last, v) =>
      (LastVerdict(v.hrStart, v.isAnomaly),
        Option.when(v.isAnomaly != last.isAnomaly)(
          Edge(key, v.hrStart, if (v.isAnomaly) "fire" else "resolve")))
    }

  def edges(verdicts: Dataset[Verdict]): Dataset[Edge] =
    Ripen(verdicts)(_.key, timeout = false)(update)
}
