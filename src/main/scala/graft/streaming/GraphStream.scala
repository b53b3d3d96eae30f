package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

import Ripen._

/** Streaming rung for the graph family (q37–q40 / d27): INCREMENTAL
  * CONNECTED COMPONENTS over micro-batched edge arrivals — the
  * labeling a live dedup deployment maintains as near-dup pairs
  * stream out of [[graft.operators.Dedup.streamingNearDupCandidates]].
  *
  * Semantics are [[graft.operators.Dedup.incrementalComponents]]
  * applied per micro-batch (the d27 contraction discipline): each
  * batch's edges CONTRACT through the current labeling (an already
  * seen endpoint stands in as its component rep, a new one as
  * itself), a min-root union-find merges the contracted graph, and
  * only the ids whose label CHANGED (plus newly seen ids) emit as a
  * delta frame tagged `as_of` = the batch sequence — Append-safe, no
  * retraction: a min-label can only merge downward, so every change
  * is a fresh (as_of, id, component) row and folding deltas by max
  * as_of reconstructs the full labeling at any prefix.
  *
  * Exactness (the d27 argument verbatim): reps are the MIN of their
  * cluster and the union-find roots at the smaller rep, so after any
  * batch the folded labeling equals one-shot batch
  * [[graft.operators.Dedup.connectedComponents]] over every edge seen
  * so far — GraphStreamSpec pins both the prefix and the final frame
  * against the batch operator on a split edge stream.
  *
  * State bound: ONE (id → component) map over the ids that appeared
  * in any edge — the component STORE, not the edge set (edges are
  * consumed by contraction and never kept). This is the same
  * bounded-store contract as d25/d27's batch stores; a corpus whose
  * near-dup graph has more nodes than executor state should shard by
  * a partition key upstream, exactly as the batch store does.
  */
object GraphStream {

  /** One undirected edge arrival. */
  final case class EdgeArrival(id1: Long, id2: Long)

  /** batch: frames emitted so far; comp: id → component (min of its
    * cluster). */
  final case class CcState(batch: Long, comp: Map[Long, Long])

  /** Delta row: `id`'s label became `component` as of batch `as_of`.
    * Fold by max as_of per id for the full labeling. */
  final case class CcDelta(as_of: Long, id: Long, component: Long)

  /** Transition, exposed for unit tests. */
  def ccUpdate(key: String, edges: Iterator[EdgeArrival],
               state: GroupState[CcState]): Iterator[CcDelta] =
    Ripen.sequenced(state, CcState(0L, Map.empty), edges) { (st0, es) =>
      val asOf = st0.batch + 1
      val comp = st0.comp
      // min-root union-find over the CONTRACTED batch graph: an endpoint
      // enters as its current component rep (itself when new)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val newIds = scala.collection.mutable.LinkedHashSet.empty[Long]
      es.foreach { e =>
        if (!comp.contains(e.id1)) newIds += e.id1
        if (!comp.contains(e.id2)) newIds += e.id2
        val a = comp.getOrElse(e.id1, e.id1)
        val b = comp.getOrElse(e.id2, e.id2)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // store ids whose component's rep merged downward re-point;
      // newly seen ids enter the store (and the delta stream) labeled
      // with their merged rep — themselves when unpaired with history
      val moved = comp.iterator.flatMap { case (id, c) =>
        val m = find(c); Option.when(m != c)(id -> m)
      }.toVector ++ newIds.iterator.map(id => id -> find(id))
      (CcState(asOf, comp ++ moved),
        moved.map { case (id, m) => CcDelta(asOf, id, m) })
    }

  /** Streaming entry: `edges` is a streaming Dataset of undirected
    * edge arrivals; emits delta frames per micro-batch. Append mode,
    * no watermark (the labeling is monotone — nothing ever closes).
    */
  def ccDeltas(edges: Dataset[EdgeArrival]): Dataset[CcDelta] =
    Ripen(edges)(_ => "all", timeout = false)(ccUpdate)

  // ---------------------------------------------------------------
  // Weighted single-source shortest paths (the q39 Bellman-Ford rung)
  // ---------------------------------------------------------------

  /** One weighted directed edge arrival (w >= 0 by contract). */
  final case class WEdgeArrival(src: Long, dst: Long, w: Long)

  /** adj: src -> (dst -> MIN weight seen) — min-relaxation only ever
    * uses the lightest parallel edge, so the store is pair-grain, not
    * arrival-grain; dist: reached node -> shortest distance. */
  final case class SsspState(batch: Long, adj: Map[Long, Map[Long, Long]],
                             dist: Map[Long, Long])

  /** Delta row: `id`'s shortest distance from the seed set improved
    * to `dist` as of batch `as_of`. Distances only DECREASE under
    * edge insertions, so the stream is Append-safe and folding by max
    * as_of per id reconstructs the full distance map at any prefix. */
  final case class SsspDelta(as_of: Long, id: Long, dist: Long)

  /** Transition (exposed for unit tests): merge the batch's edges
    * into the min-weight adjacency, then relax to FIXPOINT from the
    * affected frontier — the insert-only case of incremental SSSP
    * (Ramalingam–Reps): a new or lightened edge (u,v) can only
    * improve v through dist(u), and improvements propagate forward
    * through the STORED adjacency, so the fixpoint equals batch
    * Bellman-Ford (graft.operators.Graph.shortestPaths run to
    * convergence) over every edge seen so far. State is the
    * pair-grain adjacency + the distance map — SSSP, unlike CC,
    * cannot consume its edges: a later improvement must re-relax
    * through old edges (the documented store bound; shard upstream
    * past executor state, as d25/d27).
    */
  def ssspUpdate(seeds: Set[Long])(key: String,
                                   edges: Iterator[WEdgeArrival],
                                   state: GroupState[SsspState])
      : Iterator[SsspDelta] =
    Ripen.sequenced(state, SsspState(0L, Map.empty, Map.empty), edges) { (st0, es) =>
      val asOf = st0.batch + 1
      var adj = st0.adj
      val dist = scala.collection.mutable.HashMap.from(st0.dist)
      // seeds enter at 0 on first sight (batch 1 when state is empty)
      val work = scala.collection.mutable.Queue.empty[Long]
      if (st0.batch == 0L) seeds.foreach { s => dist(s) = 0L; work += s }
      es.foreach { e =>
        require(e.w >= 0L, s"ssspDeltas: negative weight ${e.w} on " +
          s"(${e.src}, ${e.dst}) — insert-only incremental SSSP needs w >= 0")
        val row = adj.getOrElse(e.src, Map.empty)
        if (row.get(e.dst).forall(e.w < _)) {
          adj = adj.updated(e.src, row.updated(e.dst, e.w))
          // the new/lightened edge is itself a relaxation source
          if (dist.contains(e.src)) work += e.src
        }
      }
      val changed = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      while (work.nonEmpty) {
        val u = work.dequeue()
        val du = dist(u)
        adj.getOrElse(u, Map.empty).foreach { case (v, w) =>
          val nd = du + w
          if (dist.get(v).forall(nd < _)) {
            dist(v) = nd
            changed(v) = nd
            work += v
          }
        }
      }
      // first-batch seeds emit their 0 rows even without improvement
      if (st0.batch == 0L) seeds.foreach(s => changed.getOrElseUpdate(s, 0L))
      (SsspState(asOf, adj, dist.toMap),
        changed.map { case (id, d) => SsspDelta(asOf, id, d) })
    }

  /** Streaming entry: weighted directed edge arrivals against a FIXED
    * seed set; emits distance-improvement deltas per micro-batch.
    * Append mode, no watermark (insert-only distances are monotone).
    */
  def ssspDeltas(edges: Dataset[WEdgeArrival],
                 seeds: Set[Long]): Dataset[SsspDelta] = {
    require(seeds.nonEmpty, "ssspDeltas: empty seed set")
    Ripen(edges)(_ => "all", timeout = false)(ssspUpdate(seeds))
  }

  // ---------------------------------------------------------------
  // Weighted label propagation (the q40 community rung)
  // ---------------------------------------------------------------

  /** adj: (src, dst) pair-grain SUMMED weight (batch LPA sums _w over
    * parallel edges, so the pair total is sufficient state). */
  final case class LpaState(batch: Long, adj: Map[Long, Map[Long, Long]],
                            lab: Map[Long, Long])

  /** Delta row: `id`'s community label became `label` as of batch
    * `as_of` (NOT monotone — labels can move in any direction; fold
    * by max as_of per id for the full labeling). */
  final case class LpaDelta(as_of: Long, id: Long, label: Long)

  /** Transition (exposed for unit tests): LPA has no incremental
    * decomposition — a single new edge can re-label an arbitrary
    * fraction of the graph, so the honest streaming contract is
    * RECOMPUTE-ON-ARRIVAL: merge the batch's edges into the pair-grain
    * weight store, replay the batch operator's exact semantics
    * (labels init to own id over ALL seen nodes, `iters` synchronous
    * rounds, per-(dst, label) weight sums, argmax ties to the
    * smallest label, no-incoming keeps previous) over the stored
    * graph, and emit only the ids whose label CHANGED vs the last
    * emission (every id on first sight). Folding deltas by max as_of
    * equals batch graft.operators.Graph.labelPropagation over every
    * prefix — GraphStreamSpec pins it. State is the pair-grain
    * weighted edge store (LPA, like SSSP, cannot consume edges).
    */
  def lpaUpdate(iters: Int)(key: String, edges: Iterator[WEdgeArrival],
                            state: GroupState[LpaState])
      : Iterator[LpaDelta] =
    Ripen.sequenced(state, LpaState(0L, Map.empty, Map.empty), edges) { (st0, es) =>
      val asOf = st0.batch + 1
      val adj = es.foldLeft(st0.adj) { (adj, e) =>
        val row = adj.getOrElse(e.src, Map.empty)
        adj.updated(e.src, row.updated(e.dst, row.getOrElse(e.dst, 0L) + e.w))
      }
      val nodes = (adj.keysIterator ++
        adj.valuesIterator.flatMap(_.keysIterator)).toSet
      var lab: Map[Long, Long] = nodes.iterator.map(n => n -> n).toMap
      for (_ <- 0 until iters) {
        // per-(dst, label) weight sums under the PREVIOUS round's labels
        val scores = scala.collection.mutable.HashMap
          .empty[(Long, Long), Long]
        adj.foreach { case (src, row) =>
          val l = lab(src)
          row.foreach { case (dst, w) =>
            scores((dst, l)) = scores.getOrElse((dst, l), 0L) + w
          }
        }
        val best = scores.toSeq
          .groupBy(_._1._1)
          .map { case (dst, ss) =>
            dst -> ss.map { case ((_, l), m) => (l, m) }
              .minBy { case (l, m) => (-m, l) }._1
          }
        lab = lab.map { case (id, old) => id -> best.getOrElse(id, old) }
      }
      (LpaState(asOf, adj, lab), lab.toSeq.sortBy(_._1).collect {
        case (id, l) if !st0.lab.get(id).contains(l) => LpaDelta(asOf, id, l)
      })
    }

  /** Streaming entry: weighted directed edge arrivals; emits
    * label-change deltas per micro-batch under the batch operator's
    * fixed-`iters` synchronous semantics. Append mode (changes emit
    * as fresh rows; fold by max as_of).
    */
  def lpaDeltas(edges: Dataset[WEdgeArrival], iters: Int): Dataset[LpaDelta] = {
    require(iters >= 0 && iters <= 50, s"lpaDeltas: iters $iters not in [0, 50]")
    Ripen(edges)(_ => "all", timeout = false)(lpaUpdate(iters))
  }
}
