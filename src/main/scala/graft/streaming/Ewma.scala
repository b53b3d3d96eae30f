package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

import graft.functions.PqCodes.round6
import Anomaly.{AnomState, Event}
import Ripen._

/** Streaming twin of the batch EWMA rate forecast
  * (`operators.Windows.ewmaForecast`, r20): per-key hourly counts
  * forecast from the trailing window with dyadic (α=1/2) weights,
  * live. Rides [[Anomaly.hourlyUpdate]] ([[Ripen.Hours.scored]]) — the
  * same per-key O(trailing-window) state, exactly-once scoring on
  * watermark close, eviction, and idle-key self-destruct; only the
  * scorer differs.
  *
  * Decision parity with the batch op: the weights 2^(trailingHours−d)
  * are exact longs, numerator and denominator are exact long sums
  * (integer addition is order-free, so the fold here and Spark's
  * distributed aggregate produce identical bits), and the forecast is
  * the SAME single IEEE division — the spec pins stream == batch on a
  * multi-batch run.
  */
object Ewma {

  final case class Forecast(
      key: String, hr_start: Long, n_events: Long,
      ewma_forecast: Double, is_spike: Boolean, is_drop: Boolean)

  /** The batch operator's dyadic arithmetic verbatim: weight
    * 2^(trailingHours−d) for the count d hours back, missing hours
    * renormalized away, None below the minHistory floor.
    */
  private[streaming] def score(key: String, hr: Long, counts: Map[Long, Long],
                               trailingHours: Int, minHistory: Int,
                               spikeFactor: Double): Option[Forecast] = {
    val trailing = counts.view
      .filterKeys(h => h >= hr - trailingHours && h <= hr - 1).toSeq
    if (trailing.size < minHistory) None
    else {
      val c = counts(hr)
      var num = 0L
      var den = 0L
      trailing.foreach { case (h, v) =>
        val w = 1L << (trailingHours - (hr - h)).toInt
        num += v * w
        den += w
      }
      val fc = num.toDouble / den.toDouble
      Some(Forecast(key, hr * 3600L, c, round6(fc),
        c.toDouble >= spikeFactor * fc, c.toDouble <= fc / spikeFactor))
    }
  }

  /** Transition function, exposed for unit tests. */
  def update(trailingHours: Int, minHistory: Int, spikeFactor: Double)(
      key: String, events: Iterator[Event],
      state: GroupState[AnomState]): Iterator[Forecast] =
    Anomaly.hourlyUpdate(trailingHours, events, state)((h, counts) =>
      score(key, h, counts, trailingHours, minHistory, spikeFactor))

  /** Streaming entry: `events` must carry an event-time watermark on
    * the column `ts` derives from.
    */
  def forecasts(events: Dataset[Event], trailingHours: Int = 24,
                minHistory: Int = 12,
                spikeFactor: Double = 3.0): Dataset[Forecast] =
    Ripen(events)(_.key)(update(trailingHours, minHistory, spikeFactor))
}
