package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

import graft.functions.PqCodes.round6
import Ripen._

/** Streaming twins of the r26/r27/r28 batch SRE frames — the last
  * three rungs of the monitoring ladder live: an on-call deployment
  * reads burn rate, seasonal deviation, and incident MTTR off the
  * stream, not a nightly batch. Each twin maintains the SAME hourly
  * histogram the batch operator aggregates and applies the SAME
  * arithmetic (exact long sums → the identical rounded IEEE
  * divisions), so every emitted frame is bit-equal to the batch
  * operator run over the stream prefix it summarizes — pinned by
  * SloMonitorSpec across micro-batch boundaries.
  *
  * Emission model (shared, on [[Ripen.Hours]]): a frame is anchored
  * at the latest RIPE event hour, exactly like the batch anchor
  * `max(_hr)`; it emits when that anchor advances, tagged `as_of`
  * (Append-mode safe — one frame per anchor, never a retraction).
  * Hours the watermark has not ripened stay pending: a frame never
  * reads an hour that could still grow.
  *
  * State bounds: burn keeps ≤ maxWindow + pending (hour → (n, e))
  * pairs in ONE group; seasonal keeps |keys|·168 fold-in sums plus
  * |keys|·(168 + pending) recent hours in ONE group (the monitored
  * population is bounded by construction — the AlertEdges contract);
  * incidents keeps O(1) per alert key.
  */
object SloMonitor {

  // ------------------------------------------------------------ r26 burn

  /** One raw event: timestamp + error flag. */
  final case class ErrEvent(ts: java.sql.Timestamp, isError: Boolean) {
    def hr: Long = ts.getTime / 1000L / 3600L
  }

  /** hours: hour → (events, errors); anchor: latest emitted frame's
    * anchor hour (Long.MinValue before the first frame). */
  final case class BurnState(hours: Map[Long, (Long, Long)], anchor: Long)

  final case class BurnFrame(
      as_of: Long, window_hours: Int, n_total: Long, n_errors: Long,
      err_rate: Double, burn_rate: Double, page: Boolean)

  /** Fold one event into an hour → (events, errors) histogram. */
  private def tally(m: Map[Long, (Long, Long)], e: ErrEvent) = {
    val (n, er) = m.getOrElse(e.hr, (0L, 0L))
    m.updated(e.hr, (n + 1L, er + (if (e.isError) 1L else 0L)))
  }

  /** Transition, exposed for unit tests. */
  def burnUpdate(slo: Double, windowsHours: Seq[Int], pageAt: Double)(
      key: String, events: Iterator[ErrEvent],
      state: GroupState[BurnState]): Iterator[BurnFrame] =
    fold(state, BurnState(Map.empty, Long.MinValue)) { (st0, wm) =>
      val maxW = windowsHours.max
      val hours = events.foldLeft(st0.hours)(tally)
      val anchor = Hours.fresh(hours.keys, st0.anchor, wm).lastOption
      val frames = anchor.toList.flatMap(a => windowsHours.sorted.map { w =>
        // the batch filter verbatim: _hr > anchor - w (and closed)
        val in = hours.view.filter { case (h, _) => h > a - w && h <= a }
        val nT = in.map(_._2._1).sum
        val nE = in.map(_._2._2).sum
        val rate = nE.toDouble / nT.toDouble
        val burn = round6(rate / (1.0 - slo))
        BurnFrame(a * 3600L, w, nT, nE, round6(rate), burn, burn >= pageAt)
      })
      // hours no future anchor's deepest window reaches evict
      val kept = hours.filter(kv => Hours.live(kv._1, maxW, wm))
      Next(frames, Option.when(kept.nonEmpty)(
        BurnState(kept, anchor.getOrElse(st0.anchor))),
        Hours.wake(kept.keys, wm, idle = Some(maxW)))
    }

  /** Streaming entry: `events` must carry an event-time watermark on
    * the column `ts` derives from. Emits one multiwindow frame per
    * advanced anchor hour — each frame bit-equal to
    * [[graft.operators.Windows.burnRate]] over the prefix of events
    * in hours ≤ as_of/3600.
    */
  def burnFrames(events: Dataset[ErrEvent], slo: Double = 0.995,
                 windowsHours: Seq[Int] = Seq(1, 6, 24, 72),
                 pageAt: Double = 14.4): Dataset[BurnFrame] = {
    require(slo > 0 && slo < 1, s"burnFrames: slo $slo must be in (0,1)")
    require(windowsHours.nonEmpty && windowsHours.forall(_ > 0),
      s"burnFrames: bad windows $windowsHours")
    Ripen(events)(_ => "all")(burnUpdate(slo, windowsHours, pageAt))
  }

  // ----------------------------------------------------- r31 budget status

  /** hours: trailing-period histogram hour → (events, errors); h0:
    * first event hour ever seen (the batch op's corpus `min(_hr)` —
    * a Long, kept after its hour evicts); anchor: latest emitted
    * frame's anchor. */
  final case class BudgetState(hours: Map[Long, (Long, Long)], h0: Long,
                               anchor: Long)

  final case class BudgetFrame(
      as_of: Long, period_hours: Long, elapsed_hours: Long, n_total: Long,
      n_errors: Long, err_rate: Double, budget_used_frac: Double,
      recent_burn: Double, hours_to_exhaustion: Option[Double],
      exhausted: Boolean)

  /** Transition, exposed for unit tests. The arithmetic is the batch
    * [[graft.operators.Windows.budgetStatus]] chain verbatim — the
    * same exact long sums, the same IEEE divisions in the same
    * association order — so each frame is bit-equal to the batch row
    * over the frame's prefix. */
  def budgetUpdate(slo: Double, periodHours: Int, recentHours: Int)(
      key: String, events: Iterator[ErrEvent],
      state: GroupState[BudgetState]): Iterator[BudgetFrame] =
    fold(state, BudgetState(Map.empty, Long.MaxValue, Long.MinValue)) { (st0, wm) =>
      val budget = 1.0 - slo
      val evs = events.toSeq
      val h0 = evs.foldLeft(st0.h0)(_ min _.hr)
      val hours = evs.foldLeft(st0.hours)(tally)
      val anchor = Hours.fresh(hours.keys, st0.anchor, wm).lastOption
      val frames = anchor.toList.map { a =>
        // the batch filter verbatim: _hr > anchor - period (and closed)
        val in = hours.view
          .filter { case (h, _) => h > a - periodHours && h <= a }
        val nT = in.map(_._2._1).sum
        val nE = in.map(_._2._2).sum
        val rn = in.filter(_._1 > a - recentHours).map(_._2._1).sum
        val re = in.filter(_._1 > a - recentHours).map(_._2._2).sum
        val elapsed = (a - h0 + 1L) min periodHours.toLong
        val rate = nE.toDouble / nT.toDouble
        val used = rate / budget * elapsed.toDouble / periodHours.toDouble
        val recentBurn = re.toDouble / rn.toDouble / budget
        val proj = if (re == 0L) None
          else Some(round6(((1.0 - used) * periodHours.toDouble / recentBurn) max 0.0))
        BudgetFrame(a * 3600L, periodHours.toLong, elapsed, nT, nE,
          round6(rate), round6(used), round6(recentBurn), proj, used >= 1.0)
      }
      // hours no future anchor's period window reaches evict; h0
      // survives as a Long (the batch min is corpus-global)
      val kept = hours.filter(kv => Hours.live(kv._1, periodHours, wm))
      Next(frames, Option.unless(kept.isEmpty && h0 == Long.MaxValue)(
        BudgetState(kept, h0, anchor.getOrElse(st0.anchor))),
        Hours.wake(kept.keys, wm))
    }

  /** Streaming twin of the r31 batch budget-status report: one frame
    * per advanced anchor hour, each bit-equal to
    * [[graft.operators.Windows.budgetStatus]] over the prefix of
    * events in hours ≤ as_of/3600. State is ≤ periodHours + pending
    * histogram pairs plus two longs, in ONE group.
    */
  def budgetFrames(events: Dataset[ErrEvent], slo: Double = 0.995,
                   periodHours: Int = 720,
                   recentHours: Int = 168): Dataset[BudgetFrame] = {
    require(slo > 0 && slo < 1, s"budgetFrames: slo $slo must be in (0,1)")
    require(periodHours >= 1 && recentHours >= 1 && recentHours <= periodHours,
      s"budgetFrames: bad periodHours=$periodHours recentHours=$recentHours")
    Ripen(events)(_ => "all")(budgetUpdate(slo, periodHours, recentHours))
  }

  // ------------------------------------------------------------ r32 canary

  /** hours: "key hr" → count over the trailing before+after windows
    * (bounded by |keys|·(b+a) + pending — the bounded-population
    * contract); anchor: latest emitted frame's anchor. */
  final case class CanaryState(hours: Map[String, Long], anchor: Long)

  final case class CanaryRow(
      as_of: Long, key: String, n_before: Long, n_after: Long,
      rate_before: Double, rate_after: Double, rate_ratio: Option[Double],
      share_before: Double, share_after: Double, z_score: Option[Double])

  /** Transition, exposed for unit tests. The batch
    * [[graft.operators.Windows.canaryCompare]] arithmetic verbatim —
    * exact long window sums, the same IEEE division order — so each
    * per-key row is bit-equal to the batch row over the frame's
    * prefix. An anchor whose before-window holds no event at all
    * (a stream's first hours) emits no frame — every share_before
    * would be 0/0, undefined in the batch operator too — but the
    * anchor still advances. */
  def canaryUpdate(beforeHours: Int, afterHours: Int)(
      key: String, events: Iterator[KeyEvent],
      state: GroupState[CanaryState]): Iterator[CanaryRow] =
    fold(state, CanaryState(Map.empty, Long.MinValue)) { (st0, wm) =>
      val hours = events.foldLeft(st0.hours)((m, e) =>
        Hours.count(m, e.key + Sep + e.hr))
      val anchor = Hours.fresh(hours.keys.map(hrOf), st0.anchor, wm).lastOption
      val rows = anchor.toList.flatMap { a =>
        // the batch filter verbatim: hr > anchor - (b+a), closed only
        val in = hours.toSeq.filter { case (k, _) =>
          val h = hrOf(k)
          h > a - (beforeHours + afterHours) && h <= a
        }
        val byKey = in.groupMapReduce(kv => keyOf(kv._1))(kv =>
          if (hrOf(kv._1) > a - afterHours) (0L, kv._2) else (kv._2, 0L)
        )((x, y) => (x._1 + y._1, x._2 + y._2))
        val tb = byKey.values.map(_._1).sum
        val ta = byKey.values.map(_._2).sum
        if (tb == 0L) Nil
        else byKey.toSeq.sortBy(_._1).map { case (k, (nb, na)) =>
          val pb = nb.toDouble / tb.toDouble
          val pa = na.toDouble / ta.toDouble
          val pooled = (nb + na).toDouble / (tb + ta).toDouble
          val ratio = if (nb == 0L) None
            else Some(round6((na.toDouble / afterHours.toDouble) /
              (nb.toDouble / beforeHours.toDouble)))
          val z = if (ta == 0L || pooled == 0.0 || pooled == 1.0) None
            else Some(round6((pa - pb) /
              math.sqrt(pooled * (1.0 - pooled) *
                (1.0 / tb.toDouble + 1.0 / ta.toDouble))))
          CanaryRow(a * 3600L, k, nb, na,
            round6(nb.toDouble / beforeHours.toDouble),
            round6(na.toDouble / afterHours.toDouble), ratio, round6(pb),
            round6(pa), z)
        }
      }
      val kept = hours.filter(kv =>
        Hours.live(hrOf(kv._1), beforeHours + afterHours, wm))
      Next(rows, Option.when(kept.nonEmpty)(
        CanaryState(kept, anchor.getOrElse(st0.anchor))),
        Hours.wake(kept.keys.map(hrOf), wm))
    }

  /** Streaming twin of the r32 batch canary comparison: one full
    * per-key frame per advanced anchor hour, each row bit-equal to
    * [[graft.operators.Windows.canaryCompare]] over the prefix of
    * events in hours ≤ as_of/3600. Single-group state ≤
    * |keys|·(before+after) + pending counts.
    */
  def canaryFrames(events: Dataset[KeyEvent], beforeHours: Int,
                   afterHours: Int): Dataset[CanaryRow] = {
    require(beforeHours >= 1 && afterHours >= 1,
      s"canaryFrames: bad beforeHours=$beforeHours afterHours=$afterHours")
    Ripen(events)(_ => "all")(canaryUpdate(beforeHours, afterHours))
  }

  // -------------------------------------------------------- r27 seasonal

  /** One keyed event (the Anomaly.Event shape). */
  final case class KeyEvent(key: String, ts: java.sql.Timestamp) {
    def hr: Long = ts.getTime / 1000L / 3600L
  }

  /** h0: first event hour ever seen; anchor: latest emitted frame's
    * anchor; hist: "key\u0000how" → historical count (hours already
    * folded below the last-week boundary — permanent, ≤ |keys|·168
    * entries); recent: "key\u0000hr" → count for hours at or above
    * the boundary (incl. pending).
    *
    * State-key schema v2 (separator " " -> NUL): a checkpoint written
    * by the earlier space-separated version cannot be resumed --
    * restart such a query with a fresh checkpoint directory (the same
    * contract as [[graft.operators.Dedup.streamingNearDupCandidates]]
    * state schema v2). Old-format keys are detected loudly on first
    * read rather than mis-parsed.
    */
  final case class SeasonState(h0: Long, anchor: Long,
                               hist: Map[String, Long], recent: Map[String, Long])

  final case class SeasonRow(
      as_of: Long, key: String, how: Long, n_hist: Long, slots_hist: Long,
      baseline_mean: Option[Double], n_last: Long, ratio: Option[Double])

  private val Sep = "\u0000"
  private def pm(a: Long, m: Long): Long = ((a % m) + m) % m

  // "key NUL hr" state keys (canary, seasonal); a key without the NUL
  // comes from the v1 schema and is refused, never mis-parsed
  private def sepAt(k: String): Int = {
    val i = k.lastIndexOf(Sep)
    require(i >= 0,
      s"monitor state key '$k' predates the v2 NUL-separated " +
        "key schema; resume is not supported — restart the query with " +
        "a fresh checkpoint directory")
    i
  }
  private def hrOf(k: String): Long = k.substring(sepAt(k) + 1).toLong
  private def keyOf(k: String): String = k.substring(0, sepAt(k))

  /** Transition, exposed for unit tests. */
  def seasonUpdate(key: String, events: Iterator[KeyEvent],
                   state: GroupState[SeasonState]): Iterator[SeasonRow] =
    fold(state, SeasonState(Long.MaxValue, Long.MinValue, Map.empty,
        Map.empty)) { (st0, wm) =>
      val evs = events.toSeq
      val h0 = evs.foldLeft(st0.h0)(_ min _.hr)
      val recent0 = evs.foldLeft(st0.recent)((m, e) =>
        Hours.count(m, e.key + Sep + e.hr))
      val anchor = Hours.fresh(recent0.keys.map(hrOf), st0.anchor, wm).lastOption
      // the batch boundary verbatim: hb clamps to h0 so a sub-week
      // corpus has an EMPTY history window, never a negative one
      val hb = anchor.fold(Long.MinValue)(a => h0 max (a - 167L))
      // fold hours now strictly below the boundary into history
      val (old, recent) = recent0.partition(kv => hrOf(kv._1) < hb)
      val hist = old.foldLeft(st0.hist) { case (m, (k, c)) =>
        val hk = keyOf(k) + Sep + pm(hrOf(k), 168L)
        m.updated(hk, m.getOrElse(hk, 0L) + c)
      }
      val rows = anchor.toList.flatMap { a =>
        val last = recent.toSeq
          .filter { case (k, _) => hrOf(k) <= a }
          .groupMapReduce { case (k, _) => keyOf(k) + Sep + pm(hrOf(k), 168L) }(_._2)(_ + _)
        val weeks = (hb - h0) / 168L
        val rem = pm(hb - h0, 168L)
        (hist.keySet ++ last.keySet).toSeq.sorted.map { hk =>
          val k = keyOf(hk); val how = hrOf(hk)
          val nHist = hist.getOrElse(hk, 0L)
          val nLast = last.getOrElse(hk, 0L)
          val slots = weeks +
            (if (pm(how - pm(h0, 168L) + 168L, 168L) < rem) 1L else 0L)
          val base = if (slots > 0L) Some(round6(nHist.toDouble / slots.toDouble))
                     else None
          val ratio = base.map(b => round6((nLast.toDouble + 1.0) / (b + 1.0)))
          SeasonRow(a * 3600L, k, how, nHist, slots, base, nLast, ratio)
        }
      }
      // flush pending closed-hour frames even with no further events;
      // history is permanent (the bounded-population contract), so no
      // self-destruct wake — idle state is |keys|*168 longs, not events
      Next(rows, Option.unless(h0 == Long.MaxValue && recent.isEmpty &&
        hist.isEmpty)(SeasonState(h0, anchor.getOrElse(st0.anchor), hist, recent)),
        Hours.wake(recent.keys.map(hrOf), wm))
    }

  /** Streaming entry: one full (key, hour-of-week) seasonal frame per
    * advanced anchor hour, each bit-equal to
    * [[graft.operators.Windows.seasonalBaseline]] over the prefix of
    * events in hours ≤ as_of/3600.
    */
  def seasonalFrames(events: Dataset[KeyEvent]): Dataset[SeasonRow] =
    Ripen(events)(_ => "all")(seasonUpdate)

  // ------------------------------------------------------- r28 incidents

  /** nIncidents: fires seen; openFireSec: fire hr_start of the open
    * incident (None when resolved); sumDur/nClosed: exact closed
    * duration sums; maxDur: longest closed duration; lastEdgeSec:
    * stale-replay floor (the AlertEdges rule).
    */
  final case class IncidentState(
      nIncidents: Long, openFireSec: Option[Long], sumDur: Long,
      nClosed: Long, maxDur: Option[Long], lastEdgeSec: Long)

  final case class IncidentSummary(
      key: String, as_of: Long, n_incidents: Long, n_open: Long,
      mttr_hours: Option[Double], max_hours: Option[Long])

  /** Transition, exposed for unit tests. Consumes the r23 edge stream
    * ([[AlertEdges.edges]] output): fire opens, resolve closes and
    * banks the duration — the batch lead-pairing replayed as O(1)
    * running state. One summary row emits per processed edge,
    * tagged as_of = the edge's hr_start; the latest row per key IS
    * the batch [[graft.operators.Windows.incidents]] row over the
    * same edges.
    */
  def incidentUpdate(key: String, edges: Iterator[AlertEdges.Edge],
                     state: GroupState[IncidentState]): Iterator[IncidentSummary] =
    Ripen.replay(state, IncidentState(0L, None, 0L, 0L, None, Long.MinValue),
        edges)(_.hrStart, _.lastEdgeSec) { (st0, e) =>
      val st = e.edge match {
        case "fire" if st0.openFireSec.isEmpty =>
          st0.copy(nIncidents = st0.nIncidents + 1L,
            openFireSec = Some(e.hrStart), lastEdgeSec = e.hrStart)
        case "resolve" if st0.openFireSec.isDefined =>
          val dur = (e.hrStart - st0.openFireSec.get) / 3600L
          st0.copy(openFireSec = None, sumDur = st0.sumDur + dur,
            nClosed = st0.nClosed + 1L,
            maxDur = Some(st0.maxDur.fold(dur)(_ max dur)),
            lastEdgeSec = e.hrStart)
        // a fire while open / resolve while closed cannot come out
        // of the alternating edge stream; ignore rather than corrupt
        case _ => st0.copy(lastEdgeSec = e.hrStart)
      }
      (st, Option.when(st.nIncidents > 0L)(IncidentSummary(key, e.hrStart,
        st.nIncidents, if (st.openFireSec.isDefined) 1L else 0L,
        if (st.nClosed > 0L) Some(round6(st.sumDur.toDouble / st.nClosed.toDouble))
        else None,
        // batch max_hours is max over CLOSED durations; an open
        // incident contributes null there and nothing here
        st.maxDur)))
    }

  /** Streaming entry over the live edge stream. State is O(1) per
    * alert key with no timeout (the AlertEdges bounded-population
    * contract). */
  def incidents(edges: Dataset[AlertEdges.Edge]): Dataset[IncidentSummary] =
    Ripen(edges)(_.key, timeout = false)(incidentUpdate)

  // ---------------------------------------------------------- r29 storms

  /** One fire edge with the watermarked event time (the column must
    * reach the stateful operator for event-time timeout to engage). */
  final case class FireEdge(key: String, ts: java.sql.Timestamp) {
    def sec: Long = ts.getTime / 1000L
  }

  /** The open storm: start/last fire (seconds), fire count, distinct
    * keys so far. Bounded by the storm's own key population. */
  final case class StormAgg(start: Long, last: Long, n: Long, keys: Seq[String])

  final case class StormRow(
      storm_start: Long, storm_end: Long, n_fires: Long, n_keys: Long,
      span_hours: Long, keys: String)

  /** Transition, exposed for unit tests. Fires arrive globally
    * hour-monotone ACROSS batches (an hour's edges emit when the
    * upstream watermark passes it, and the watermark is global), so
    * one sorted fold per batch replays the batch op's (hr, key)
    * order. A storm closes either when a later fire trails it by
    * more than the gap, or when the watermark passes last + gap —
    * the emitted row is final (Append-safe). */
  def stormUpdate(gapHours: Int)(
      key: String, fires: Iterator[FireEdge],
      state: GroupState[StormAgg]): Iterator[StormRow] = {
    val gapSec = gapHours * 3600L
    def start(f: FireEdge) = StormAgg(f.sec, f.sec, 1L, Seq(f.key))
    def closed(a: StormAgg): StormRow = {
      val ks = a.keys.sorted
      StormRow(a.start, a.last, a.n, ks.length.toLong,
        (a.last - a.start) / 3600L, ks.mkString(","))
    }
    Ripen.sessions(state, fires.toSeq.sortBy(f => (f.sec, f.key)))(start,
      (a, f) =>
        if (f.sec - a.last > gapSec) (start(f), Some(closed(a)))
        else (StormAgg(a.start, a.last max f.sec, a.n + 1L,
          if (a.keys.contains(f.key)) a.keys else a.keys :+ f.key), None),
      // the last joinable instant: any µs of second last + gap
      closed, a => (a.last + gapSec + 1L) * 1000000L - 1L)
  }

  // ----------------------------------------------------------- r30 cusum

  /** h0: first event hour (final once the watermark passes it — later
    * arrivals below the watermark are dropped upstream); base: present
    * warmup hours (hour → count, ≤ warmupHours entries, permanent);
    * pending: hours the watermark hasn't closed; p/pminClamped: the
    * closed-form chart state (prefix sum and min(0, min P_j), exact
    * micros) over scored closed hours processed in hour order.
    */
  final case class CusumState(h0: Long, base: Map[Long, Long],
                              pending: Map[Long, Long],
                              p: Long, pminClamped: Long)

  final case class CusumRow(key: String, hr_start: Long, n_events: Long,
                            baseline_micros: Long, cusum_micros: Long,
                            is_change: Boolean)

  /** Transition, exposed for unit tests. Hours close in ascending
    * order as the watermark advances; each closed hour either folds
    * into the warmup window (hr < h0 + warmup, all such hours are
    * closed before any scored hour closes) or scores one chart row.
    * The recursion state is O(1): S_t = P_t − min(0, min_j P_j) needs
    * only the running prefix sum and clamped running min — the same
    * closed form the batch operator's windows compute.
    */
  def cusumUpdate(warmupHours: Int, slackDen: Int, hFactor: Int)(
      key: String, events: Iterator[KeyEvent],
      state: GroupState[CusumState]): Iterator[CusumRow] =
    fold(state, CusumState(Long.MaxValue, Map.empty, Map.empty, 0L, 0L)) {
      (st0, wm) =>
        val hrs = events.map(_.hr).toSeq
        val h0 = hrs.foldLeft(st0.h0)(_ min _)
        val all = hrs.foldLeft(st0.pending)(Hours.count)
        val (st, out) = scan(st0, Hours.fresh(all.keys, Long.MinValue, wm)) {
          (st, h) =>
            val c = all(h)
            if (h < h0 + warmupHours) (st.copy(base = st.base.updated(h, c)), None)
            else {
              // every warmup hour is < h and closed: the baseline is final
              val bm = st.base.values.sum * 1000000L / st.base.size
              val p = st.p + c * 1000000L - (bm + bm / slackDen)
              val pmin = st.pminClamped min p
              (st.copy(p = p, pminClamped = pmin), Some(CusumRow(key,
                h * 3600L, c, bm, p - pmin, p - pmin > bm * hFactor)))
            }
        }
        // flush pending closed hours even if the key goes quiet
        val pending = all.filterNot(kv => Hours.ripe(kv._1, wm))
        Next(out, Option.unless(h0 == Long.MaxValue && pending.isEmpty)(
          st.copy(h0 = h0, pending = pending)), Hours.wake(pending.keys, wm))
    }

  /** Streaming twin of the r30 batch CUSUM chart: emits one final row
    * per scored closed hour per key, each bit-equal to the
    * [[graft.operators.Windows.cusumChangepoint]] row over the prefix
    * of events in hours ≤ that row's hour (integer-micro arithmetic
    * shared verbatim). State is ≤ warmupHours + pending hour counts
    * plus two longs per key.
    */
  def cusumFrames(events: Dataset[KeyEvent], warmupHours: Int = 24,
                  slackDen: Int = 4, hFactor: Int = 5): Dataset[CusumRow] = {
    require(warmupHours >= 1, s"cusumFrames: warmupHours $warmupHours must be >= 1")
    require(slackDen >= 1 && hFactor >= 1,
      s"cusumFrames: slackDen $slackDen / hFactor $hFactor must be >= 1")
    Ripen(events)(_.key)(cusumUpdate(warmupHours, slackDen, hFactor))
  }

  /** Streaming twin of the r29 batch storm grouping: consumes the
    * [[AlertEdges.edges]] stream (fires gate storms; resolves pass
    * through only to advance the watermark), emits one final row per
    * closed storm — each equal to the batch
    * [[graft.operators.Windows.alertStorms]] row over the same
    * fires. Single-group state = ONE open storm. */
  def storms(edges: Dataset[AlertEdges.Edge],
             gapHours: Int = 2): Dataset[StormRow] = {
    require(gapHours >= 1, s"storms: gapHours $gapHours must be >= 1")
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val fires = edges.toDF()
      .withColumn("_ts", timestamp_seconds(col("hrStart")))
      .withWatermark("_ts", "0 seconds")
      .filter(col("edge") === "fire")
      .select(col("key"), col("_ts").as("ts")).as[FireEdge]
    Ripen(fires)(_ => "all")(stormUpdate(gapHours))
  }
}
