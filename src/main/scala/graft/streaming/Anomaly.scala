package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

import graft.functions.PqCodes.round6
import Ripen._

/** Streaming twin of the batch rolling z-score rate anomaly
  * (`operators.Windows.rateAnomaly`, r16): per-key hourly event
  * counts scored against the trailing-24h mean/population-stddev,
  * live. An hour is scored exactly once — when the event-time
  * watermark passes its end, so late data inside the watermark still
  * lands in its hour — and the state per key is O(trailing window):
  * at most ~
  * `trailingHours` + pending (count, hour) pairs, never raw events.
  * A billion-key stream holds a billion tiny maps — the same bound
  * as [[Sessionize]].
  *
  * Decision parity: the transition function accumulates the SAME
  * hourly counts the batch op aggregates and applies the SAME
  * mean/variance/z arithmetic (exact long sums → one IEEE64
  * division each — identical bits), so stream and batch flag the
  * same hours with the same scores; the spec pins equality on a
  * multi-batch run.
  */
object Anomaly {

  final case class Event(key: String, ts: java.sql.Timestamp) {
    def hr: Long = ts.getTime / 1000L / 3600L
  }

  /** counts: hour -> event count, scored and pending hours alike
    * (scored hours stay as trailing history until they age out of
    * every future hour's 24h frame); scoredUpTo: highest hour already
    * emitted-or-skipped (Long.MinValue initially).
    */
  final case class AnomState(counts: Map[Long, Long], scoredUpTo: Long)

  final case class Alert(
      key: String, hr_start: Long, n_events: Long,
      mean_trailing: Double, z_score: Option[Double], is_anomaly: Boolean)

  /** Score one complete hour against the trailing window in `counts`
    * — the batch operator's arithmetic verbatim. Returns None below
    * the minHistory floor (unscored, like the batch filter).
    */
  private[streaming] def score(key: String, hr: Long, counts: Map[Long, Long],
                               trailingHours: Int, minHistory: Int,
                               zThreshold: Double): Option[Alert] = {
    val trailing = counts.view
      .filterKeys(h => h >= hr - trailingHours && h <= hr - 1).values.toSeq
    val tn = trailing.size
    if (tn < minHistory) None
    else {
      val c = counts(hr)
      val ts = trailing.sum
      // BigInt, matching the batch op's DECIMAL sum of squares: a
      // Long sum of squares wraps first at ~6e8 events/hour × 24h,
      // exactly where the parity contract must still hold
      val tss = trailing.map(v => BigInt(v) * BigInt(v)).sum
      val nd = tn.toDouble
      val mean = ts.toDouble / nd
      val variance = tss.toDouble / nd - mean * mean
      val z =
        if (variance > 0.0) Some((c.toDouble - mean) / math.sqrt(variance))
        else if (c.toDouble == mean) Some(0.0)
        else None
      Some(Alert(key, hr * 3600L, c, round6(mean), z.map(round6),
        z.map(v => math.abs(v) >= zThreshold).getOrElse(true)))
    }
  }

  /** Transition function, exposed for unit tests. */
  def update(trailingHours: Int, minHistory: Int, zThreshold: Double)(
      key: String, events: Iterator[Event],
      state: GroupState[AnomState]): Iterator[Alert] =
    hourlyUpdate(trailingHours, events, state)((h, counts) =>
      score(key, h, counts, trailingHours, minHistory, zThreshold))

  /** The [[Ripen.Hours.scored]] step over [[AnomState]], shared with
    * the streaming EWMA forecast ([[Ewma]]) — only the scorer differs.
    */
  private[streaming] def hourlyUpdate[A](trailingHours: Int,
      events: Iterator[Event], state: GroupState[AnomState])(
      scoreFn: (Long, Map[Long, Long]) => Option[A]): Iterator[A] =
    fold(state, AnomState(Map.empty, Long.MinValue)) { (st, wm) =>
      Hours.scored(st.counts, st.scoredUpTo, events.map(_.hr), wm,
        trailingHours)(scoreFn)(AnomState)
    }

  /** Streaming entry: `events` must carry an event-time watermark on
    * the column `ts` derives from.
    */
  def alerts(events: Dataset[Event], trailingHours: Int = 24,
             minHistory: Int = 12, zThreshold: Double = 3.0): Dataset[Alert] =
    Ripen(events)(_.key)(update(trailingHours, minHistory, zThreshold))
}
