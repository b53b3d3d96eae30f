package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one ripening fold behind every stateful streaming twin — the
  * per-window state the reference keeps and cleans between fires
  * (squeryer.go:178-210), put behind a single contract the way
  * Structured Streaming puts per-key state behind `mapGroupsWithState`.
  *
  * A twin is its state type plus a step `(state, watermarkMs) =>
  * Next`; this object owns the rest: reading the state, the one
  * ripeness rule, the remove-when-empty vs update decision, the
  * timeout re-arm, and the keyed Append-mode wiring (the only
  * `flatMapGroupsWithState` call under `streaming/`). The families
  * that share steps share one helper each: hourly histograms
  * ([[Hours]]), gap sessions ([[sessions]]), replay-floor folds
  * ([[replay]]) and batch-sequenced graph rungs ([[sequenced]]).
  *
  * Ripeness: an event at `us` is final once `us <= watermark` — the
  * predicate Spark itself drops late rows with, so nothing at or
  * below the watermark can still arrive and finalizing it loses
  * nothing. A key with unripe work wakes exactly when its EARLIEST
  * pending instant ripens ([[wakeMs]]).
  */
object Ripen {

  // encoders for every twin's key, event, state and output types
  implicit val strEnc: Encoder[String] = Encoders.STRING
  implicit val longEnc: Encoder[Long] = Encoders.scalaLong
  implicit def productEnc[T <: Product : TypeTag]: Encoder[T] =
    Encoders.product[T]

  /** The one ripeness rule (µs event time vs the ms watermark). */
  def ripe(us: Long, wmMs: Long): Boolean = us <= wmMs * 1000L

  /** The event-time timeout that wakes a key as soon as `us` ripens:
    * Spark fires once timeout < watermark, and `us` ripens at
    * watermark ceil(us / 1000). Spark rejects a timeout <= 0, so an
    * instant in the epoch's first millisecond wakes one ms late. */
  def wakeMs(us: Long): Long = (Math.floorDiv(us + 999L, 1000L) - 1L) max 1L

  /** One step's result: rows to emit, the next state (None removes
    * the key) and the instant whose ripening must wake an idle key. */
  final case class Next[+S, +O](out: Iterable[O], state: Option[S],
                              wakeUs: Option[Long] = None)

  /** The transition skeleton every twin's `update` is built from. */
  def fold[S, O](state: GroupState[S], init: => S)(
      step: (S, Long) => Next[S, O]): Iterator[O] =
    settle(state, init)(step(_, state.getCurrentWatermarkMs()))

  // no watermark read: Spark refuses it on a query without one
  private def settle[S, O](state: GroupState[S], init: => S)(
      step: S => Next[S, O]): Iterator[O] =
    commit(state, step(state.getOption.getOrElse(init)))

  private def commit[S, O](state: GroupState[S], n: Next[S, O]): Iterator[O] = {
    n.state match {
      case Some(s) =>
        state.update(s)
        n.wakeUs.foreach(us => state.setTimeoutTimestamp(wakeMs(us)))
      case None => state.remove()
    }
    n.out.iterator
  }

  /** Keyed, Append-mode wiring of a transition; `timeout` engages the
    * event-time timeout (the input must carry a watermark). */
  def apply[K: Encoder, E, S: Encoder, O: Encoder](events: Dataset[E])(
      key: E => K, timeout: Boolean = true)(
      update: (K, Iterator[E], GroupState[S]) => Iterator[O]): Dataset[O] =
    events.groupByKey(key).flatMapGroupsWithState[S, O](OutputMode.Append(),
      if (timeout) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout())(update)

  /** Buffered ripening: the ripe part of `buf`, sorted by `order`, and
    * the unripe rest (whose earliest instant is the wake time). */
  def ripen[P, T: Ordering](buf: List[P], wmMs: Long)(
      us: P => Long, order: P => T): (List[P], List[P]) = {
    val (r, rest) = buf.partition(p => ripe(us(p), wmMs))
    (r.sortBy(order), rest)
  }

  /** Fold `events` in order through `f`, collecting what it emits. */
  def scan[S, E, O](s0: S, events: Seq[E])(
      f: (S, E) => (S, Option[O])): (S, List[O]) = {
    val out = List.newBuilder[O]
    val s = events.foldLeft(s0) { (s, e) =>
      val (n, o) = f(s, e); o.foreach(out += _); n
    }
    (s, out.result())
  }

  /** Gap sessions (Sessionize, SessionPaths, storms): time-sorted
    * events fold into the open session — `next` extends it, or emits
    * and replaces it — and the open session closes once `dueUs`, its
    * last joinable instant, ripens (which is also when it wakes). */
  def sessions[S, E, O](state: GroupState[S], events: Seq[E])(
      start: E => S, next: (S, E) => (S, Option[O]),
      close: S => O, dueUs: S => Long): Iterator[O] = {
    val (open, out) = scan(state.getOption, events) {
      case (None, e)    => (Some(start(e)), None)
      case (Some(s), e) => val (n, o) = next(s, e); (Some(n), o)
    }
    commit(state, open match {
      case Some(s) if ripe(dueUs(s), state.getCurrentWatermarkMs()) =>
        Next(out :+ close(s), None)
      case _ => Next(out, open, open.map(dueUs))
    })
  }

  /** Replay-floor folds (AlertEdges, Suppress, incidents): arrivals
    * fold in `order`; one at or below the state's `floor` is a replay
    * and is skipped, never re-decided. No timeout: the keys are the
    * monitored population, bounded by construction. */
  def replay[S, E, O, T](state: GroupState[S], init: S, arrivals: Iterator[E])(
      order: E => T, floor: S => T)(f: (S, E) => (S, Option[O]))(
      implicit ord: Ordering[T]): Iterator[O] =
    settle(state, init) { s0 =>
      val (s, out) = scan(s0, arrivals.toSeq.sortBy(order)) { (s, e) =>
        if (ord.gt(order(e), floor(s))) f(s, e) else (s, None)
      }
      Next(out, Some(s))
    }

  /** Batch-sequenced folds (the graph rungs): a micro-batch without
    * arrivals emits nothing and keeps the state; otherwise `f` folds
    * them into the next state and the deltas it tags with that
    * state's batch sequence. No timeout: the labelings are monotone
    * stores, nothing ever closes. */
  def sequenced[S, E, O](state: GroupState[S], init: S, arrivals: Iterator[E])(
      f: (S, Seq[E]) => (S, Iterable[O])): Iterator[O] =
    settle(state, init) { s0 =>
      val es = arrivals.toSeq
      if (es.isEmpty) Next(Nil, Some(s0))
      else { val (s, out) = f(s0, es); Next(out, Some(s)) }
    }

  /** Hourly histograms (Anomaly, Ewma, Holt and the SloMonitor frames):
    * an hour bucket ripens with its last µs, i.e. once the watermark
    * reaches the next hour. */
  object Hours {
    def endUs(h: Long): Long = (h + 1L) * 3600000000L - 1L
    def ripe(h: Long, wmMs: Long): Boolean = Ripen.ripe(endUs(h), wmMs)

    def count[H](m: Map[H, Long], h: H): Map[H, Long] =
      m.updated(h, m.getOrElse(h, 0L) + 1L)

    /** The ripe hours above `done`, oldest first. */
    def fresh(hours: Iterable[Long], done: Long, wmMs: Long): Seq[Long] =
      hours.filter(h => h > done && ripe(h, wmMs)).toSeq.distinct.sorted

    /** Retention: hour `h` stays while hour h + window is unripe —
      * only then can a trailing window over a still-open hour reach
      * it. */
    def live(h: Long, window: Int, wmMs: Long): Boolean = !ripe(h + window, wmMs)

    /** Per-hour scoring (Anomaly, Ewma, Holt): fold the hours `hrs`
      * into `counts`, score every newly ripe hour exactly once, oldest
      * first, keep the history a trailing `window` over a still-open
      * hour can reach, and self-destruct idle keys. `mk` builds the
      * next state from (kept counts, last scored hour). */
    def scored[S, A](counts: Map[Long, Long], done: Long, hrs: Iterator[Long],
                     wmMs: Long, window: Int)(
        score: (Long, Map[Long, Long]) => Option[A])(
        mk: (Map[Long, Long], Long) => S): Next[S, A] = {
      val all = hrs.foldLeft(counts)(count)
      val ready = fresh(all.keys, done, wmMs)
      val kept = all.filter(kv => live(kv._1, window, wmMs))
      Next(ready.flatMap(score(_, all)),
        Option.when(kept.nonEmpty)(mk(kept, ready.lastOption.getOrElse(done))),
        wake(kept.keys, wmMs, Some(window)))
    }

    /** Wake at the oldest unripe hour; with none and an `idle` window,
      * once the newest hour ages out of it (idle keys self-destruct). */
    def wake(hours: Iterable[Long], wmMs: Long,
             idle: Option[Int] = None): Option[Long] =
      hours.filterNot(ripe(_, wmMs)).minOption
        .orElse(idle.flatMap(w => hours.maxOption.map(_ + w)))
        .map(endUs)
  }
}
