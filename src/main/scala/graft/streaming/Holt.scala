package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

import graft.functions.PqCodes.round6
import Anomaly.Event
import Ripen._

/** Streaming twin of the batch Holt linear-trend forecast
  * (`operators.Windows.holtForecast`, r39): per-key hourly counts run
  * through the SAME precomputed dyadic filter, live.
  *
  * The step is [[Ripen.Hours.scored]], the per-hour scoring shared
  * with [[Anomaly]] and [[Ewma]]; only the state differs. The batch
  * op's scoring gate is the key's history SPAN (hr ≥ first hr +
  * window), and `AnomState` does not carry the first hour — extending
  * it would change the state schema under the r16/r20 twins'
  * checkpoints (the SloMonitor v2 lesson) — so [[HoltState]] adds
  * `firstHr`, taken over every arriving hour before eviction can
  * forget the oldest, and the gate is exact.
  *
  * Decision parity: the filter coefficients are the IDENTICAL longs
  * ([[graft.operators.Windows.holtCoeffs]]), zero-filled absent hours
  * contribute nothing on either side, dot products fold as BigInt
  * (the batch DECIMAL), and forecast/slope are the same two IEEE
  * divisions by the power-of-two denominator. The spec pins stream ==
  * batch on a multi-batch run.
  */
object Holt {

  final case class HoltState(counts: Map[Long, Long], scoredUpTo: Long,
                             firstHr: Long)

  final case class Forecast(
      key: String, hr_start: Long, n_events: Long,
      holt_forecast: Double, holt_slope: Double,
      is_spike: Boolean, is_drop: Boolean)

  /** The batch operator's filter arithmetic verbatim: zero-filled
    * trailing counts, integer dot products, span gate, ≥1 present
    * trailing hour (the batch inner join).
    */
  private[streaming] def score(key: String, hr: Long,
                               counts: Map[Long, Long], firstHr: Long,
                               window: Int,
                               spikeFactor: Double): Option[Forecast] = {
    if (hr < firstHr + window) None
    else {
      val (lc, bc, s) = graft.operators.Windows.holtCoeffs(window)
      val den = math.pow(2.0, s)
      val ys = (0 until window).map(i => counts.getOrElse(hr - window + i, 0L))
      if (ys.forall(_ == 0L)) None
      else {
        val num = ys.indices.map(i => BigInt((lc(i) + bc(i)).toLong) * ys(i)).sum
        val bnum = ys.indices.map(i => BigInt(bc(i).toLong) * ys(i)).sum
        val f = num.toDouble / den
        val sl = bnum.toDouble / den
        val c = counts(hr)
        Some(Forecast(key, hr * 3600L, c, round6(f), round6(sl),
          f > 0.0 && c.toDouble >= spikeFactor * f,
          f > 0.0 && c.toDouble <= f / spikeFactor))
      }
    }
  }

  /** Transition function, exposed for unit tests. */
  def update(window: Int, spikeFactor: Double)(
      key: String, events: Iterator[Event],
      state: GroupState[HoltState]): Iterator[Forecast] =
    fold(state, HoltState(Map.empty, Long.MinValue, Long.MaxValue)) { (st, wm) =>
      val hrs = events.map(_.hr).toSeq
      val firstHr = hrs.foldLeft(st.firstHr)(_ min _)
      Hours.scored(st.counts, st.scoredUpTo, hrs.iterator, wm, window)(
        (h, counts) => score(key, h, counts, firstHr, window, spikeFactor))(
        HoltState(_, _, firstHr))
    }

  /** Streaming entry: `events` must carry an event-time watermark on
    * the column `ts` derives from.
    */
  def forecasts(events: Dataset[Event], window: Int = 16,
                spikeFactor: Double = 3.0): Dataset[Forecast] =
    Ripen(events)(_.key)(update(window, spikeFactor))
}
