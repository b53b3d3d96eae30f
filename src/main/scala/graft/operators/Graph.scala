package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components (which live
  * with their consumer in [[Dedup]]): exact breadth-first reachability
  * and PageRank, the two traversal primitives a lineage/link-analysis
  * workload asks of a corpus-scale engine. Both are driver-LOOPED but
  * executor-EXECUTED: the driver only sequences a bounded number of
  * DataFrame rounds (the Lloyd discipline from Similarity.trainCoarse
  * — the loop bound is a loud parameter, never data-dependent), and
  * each round is one distributed join/aggregate; no vertex data ever
  * collects to the driver.
  */
object Graph {

  /** Exact minimum-hop BFS from a seed set: every node reachable
    * within `maxHops` directed edges, labeled with its TRUE shortest
    * hop count (first-visit BFS — a node joins `known` at the level
    * it is first reached, and levels expand in order, so the label is
    * the minimum over all paths; the q37 oracle proves it against a
    * full recursive path enumeration's min()).
    *
    * Shape at scale: level h is ONE equi-join of the frontier against
    * the edge table on `src` + an anti-join against the known set —
    * both shuffles on the node key, both sized by the FRONTIER (the
    * growing `known` set joins as the anti side, which AQE broadcasts
    * while it is small). The driver loop runs at most `maxHops`
    * rounds (a loud contract, like the Lloyd iteration count) with
    * one `isEmpty` probe per round for early exit; intermediate
    * levels persist and seal away at the end. Undirected graphs pass
    * both edge directions.
    *
    * Output: (id, hops) — seeds at hops 0, one row per reached node.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 64,
      s"bfsHops: maxHops $maxHops not in [0, 64] — the driver loop is bounded by it")
    // persisted once: every level joins the SAME edge frame twice
    // (frontier expand + nothing else) — unpersisted, a 4-level run
    // re-scans the source table ~8 times (measured 10.0s → 3.7s at
    // sf0.1 on the q37 graph from this one persist)
    val e = edges.select(col(srcCol).cast("long").as("_src"),
      col(dstCol).cast("long").as("_dst")).persist()
    var known = seeds.select(col(seedCol).cast("long").as("id"))
      .distinct().withColumn("hops", lit(0)).persist()
    var frontier = known
    val persisted = Seq.newBuilder[DataFrame]
    persisted += e
    persisted += known
    var h = 0
    var done = maxHops == 0
    while (!done) {
      h += 1
      // rename-then-using-join: at level 2+ the frontier DERIVES from
      // the edge frame, so qualified references (frontier("id") ===
      // e("_src")) are ambiguous self-join attrs — the rename mints a
      // fresh column and the using-join resolves by name
      val next = frontier.select(col("id").as("_src"))
        .join(e, Seq("_src"))
        .select(col("_dst").as("id")).distinct()
        .join(known.select(col("id")), Seq("id"), "left_anti")
        .withColumn("hops", lit(h))
        .persist()
      persisted += next
      if (next.isEmpty) done = true
      else {
        known = known.unionByName(next).persist()
        persisted += known
        frontier = next
        if (h >= maxHops) done = true
      }
    }
    Caching.sealOver(known, persisted.result(): _*)
  }

  /** Bounded-round Bellman-Ford: exact minimum-WEIGHT distances from
    * a seed set over non-negatively-or-arbitrarily weighted directed
    * edges, where round k's frontier state is provably min over all
    * paths of ≤ k EDGES (the union-min relaxation: dist_k(v) =
    * min(dist_{k-1}(v), min_{(u,v)} dist_{k-1}(u) + w)). The bounded
    * formulation sidesteps negative-cycle divergence entirely — the
    * answer is well-defined for ANY weights — and the q39 oracle
    * proves it against a full ≤maxRounds-edge path enumeration's
    * min(total weight).
    *
    * Shape at scale: each round is one frontier-against-edges
    * equi-join + one dst-keyed min aggregate — the [[bfsHops]] shape
    * with min(dist) replacing first-visit; the driver sequences at
    * most `maxRounds` rounds (loud contract) with one changed-probe
    * per round for early exit. Weights are exact longs, so
    * comparisons never tie-break on IEEE noise.
    *
    * Output: (id, dist) — seeds at 0, one row per node reachable
    * within maxRounds edges.
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    weightCol: String, seeds: DataFrame, seedCol: String,
                    maxRounds: Int): DataFrame = {
    require(maxRounds >= 0 && maxRounds <= 64,
      s"shortestPaths: maxRounds $maxRounds not in [0, 64] — the driver loop is bounded by it")
    val e = edges.select(col(srcCol).cast("long").as("_src"),
      col(dstCol).cast("long").as("_dst"),
      col(weightCol).cast("long").as("_w")).persist()
    var dist = seeds.select(col(seedCol).cast("long").as("id"))
      .distinct().withColumn("dist", lit(0L)).persist()
    val persisted = Seq.newBuilder[DataFrame]
    persisted += e
    persisted += dist
    var r = 0
    var done = maxRounds == 0
    while (!done) {
      r += 1
      val cand = dist.select(col("id").as("_src"), col("dist"))
        .join(e, Seq("_src"))
        .select(col("_dst").as("id"), (col("dist") + col("_w")).as("dist"))
      val next = dist.unionByName(cand)
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
        .persist()
      persisted += next
      // early exit: no node improved this round (exact long compare)
      val improved = next.as("n")
        .join(dist.as("d"), col("n.id") === col("d.id"), "left")
        .filter(col("d.id").isNull || col("n.dist") < col("d.dist"))
      if (improved.isEmpty) done = true
      else {
        dist = next
        if (r >= maxRounds) done = true
      }
    }
    Caching.sealOver(dist, persisted.result(): _*)
  }

  /** Synchronous weighted LABEL PROPAGATION (Raghavan et al. 2007
    * made deterministic): every node starts as its own label; each
    * round, a node adopts the label with the largest incoming WEIGHT
    * sum among its neighbors' previous-round labels, ties to the
    * SMALLEST label — the argmax is over exact long sums and the
    * tie-break is total, so a fixed iteration count gives ONE answer
    * any engine can replay (the q40 oracle replays all rounds in
    * SQL). Nodes with no incoming edge keep their previous label.
    * Undirected graphs pass both edge directions.
    *
    * Shape at scale: each round is one label-against-edges equi-join
    * + one (dst, label) weight aggregate + a per-node top-1 window
    * (map-side WindowGroupLimit) — the same bounded driver-sequenced
    * discipline as the rest of the family.
    *
    * Output: (id, label) after `iters` rounds.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iters: Int,
                       undirected: Boolean = false): DataFrame = {
    require(iters >= 0 && iters <= 50,
      s"labelPropagation: iters $iters not in [0, 50]")
    val eSel = edges.select(col(srcCol).cast("long").as("_src"),
      col(dstCol).cast("long").as("_dst"),
      col(weightCol).cast("long").as("_w"))
    // persisted hash-partitioned for the per-round exchanges (r17/r18),
    // long-exact sums making the layout answer-invariant:
    //  - directed: partitioned on _src — each round's label⋈edges join
    //    then moves only the label frame, never the (far larger) edges;
    //  - undirected=true (the caller PROMISES the edge multiset is
    //    symmetric: both directions present with equal weights, as the
    //    q40/q40b symmetrized graphs are by construction): partitioned
    //    on _dst — round 1's aggregates then run EXCHANGE-FREE on the
    //    persisted layout, and later rounds flip the join orientation
    //    (join labels on _dst, emit the score at _src): on a symmetric
    //    multiset the flipped emission is the SAME score multiset
    //    under (src,dst)→(dst,src), so the answer is identical while
    //    the join still moves only labels. An asymmetric input with
    //    undirected=true computes the TRANSPOSE propagation — the flag
    //    is a layout promise, not a hint.
    val e = (if (undirected) eSel.repartition(col("_dst"))
             else eSel.repartition(col("_src"))).persist()
    val nodes = e.select(col("_src").as("id"))
      .unionByName(e.select(col("_dst").as("id"))).distinct().persist()
    val persisted = Seq.newBuilder[DataFrame]
    persisted += e
    persisted += nodes
    var lab = nodes.withColumn("label", col("id")).persist()
    persisted += lab
    for (r <- 0 until iters) {
      // round 1 shortcut (r17, the q40b 100× adjudication): labels
      // are still the node ids, so label⋈edges IS the edge list —
      // skip the join entirely. Round 1 carries the maximum
      // (node, label) pair mass (every src a distinct label), so this
      // is the round where the saved join matters most.
      val scores0 =
        if (r == 0) e.select(col("_dst"), col("_src").as("label"), col("_w"))
        else if (undirected)
          // orientation flip (see the layout note above): labels meet
          // the edges at _dst where e already lives, the score lands
          // at _src — relabeled _dst so the aggregate below is shared
          lab.select(col("id").as("_dst"), col("label"))
            .join(e, Seq("_dst"))
            .select(col("_src").as("_dst"), col("label"), col("_w"))
        else lab.select(col("id").as("_src"), col("label"))
          .join(e, Seq("_src"))
          .select(col("_dst"), col("label"), col("_w"))
      // r18 (the q40b band close): round 1's (dst, label) pairs carry
      // the MAXIMUM pair mass by construction (every src a distinct
      // label), so map-side combine cannot collapse anything and the
      // two aggregates below would redistribute the full edge mass
      // TWICE — once clustered on (dst, label), once on dst. One
      // explicit hash redistribution on _dst lets BOTH run
      // exchange-free: HashPartitioning on a subset of the grouping
      // keys satisfies their required clustering, and the argmax
      // groups by the same key through the alias. Later rounds keep
      // the combine-first shape — labels have collapsed, so partial
      // aggregation shrinks the shuffle far below edge mass (measured
      // 120M → 14.7M at the 100× probe) and a blind repartition would
      // move MORE, not less. The undirected layout is already
      // clustered on _dst, so round 1 there needs NO redistribution
      // at all — zero full-edge shuffles.
      val scored =
        if (r == 0 && !undirected) scores0.repartition(col("_dst"))
        else scores0
      val scores = scored.groupBy(col("_dst").as("id"), col("label"))
        .agg(sum(col("_w")).as("_m"))
      // argmax as ONE map-side-combining aggregate instead of a
      // row_number window (r17): the key struct(_m, ~label) is UNIQUE
      // within a node's rows (label is the group key of the previous
      // aggregate), and ~label — bitwise NOT, a total-order-reversing
      // bijection on ALL longs with no negation overflow — makes
      // "largest weight, then smallest label" one max_by. Same exact
      // answer as the window, but partial aggregation collapses hub
      // nodes map-side where a sort-window shuffled every row.
      val best = scores.groupBy(col("id"))
        .agg(max_by(col("label"),
          struct(col("_m"), col("label").bitwiseXOR(lit(-1L)))).as("_nl"))
      val next = lab.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("_nl"), col("label")).as("label"))
        .persist()
      persisted += next
      lab = next
    }
    Caching.sealOver(lab, persisted.result(): _*)
  }

  /** PageRank with a FIXED iteration count and deterministic
    * arithmetic: ranks over a weighted directed graph, each iteration
    * r' = (1−d)/N + d·Σ_in (r(u)·w(u,v)/W(u)), dangling mass
    * redistributed uniformly. Weights and N are exact longs; the rank
    * sums run through DECIMAL(38,18) so accumulation order cannot
    * change the IEEE result — the same float discipline as the
    * oracle-exact aggregate family (SURVEY §5), which is what lets a
    * SQL oracle replay all `iters` iterations bit for bit.
    *
    * Shape at scale: the expensive part of a corpus-derived graph is
    * building the weighted edge list (an aggregate the CALLER runs —
    * this operator takes edges as given); each iteration here is one
    * join + one dst-keyed aggregate, `iters` rounds sequenced by the
    * driver (bounded, loud). Output: (id, rank) for every node;
    * edges with a null end are dropped.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, d: Double = 0.85, iters: Int = 3): DataFrame = {
    require(iters >= 0 && iters <= 50, s"pageRank: iters $iters not in [0, 50]")
    require(d > 0 && d < 1, s"pageRank: damping $d not in (0, 1)")
    // persisted: THREE setup consumers read the edge projection
    // (nodes, outW, the share join) and on a corpus-derived graph its
    // lineage is the expensive part (t45 tokenizes the whole corpus,
    // q38b aggregates lineitem). An edge with a null end joins no
    // node: a null _dst would otherwise read as "no out-edge" in the
    // rank join and count its source's whole rank as dangling mass
    // while that source's real edges still contribute
    val e = edges.select(col(srcCol).cast("long").as("_src"),
      col(dstCol).cast("long").as("_dst"),
      col(weightCol).cast("long").as("_w"))
      .filter(col("_src").isNotNull && col("_dst").isNotNull).persist()
    val nodes = e.select(col("_src").as("id"))
      .unionByName(e.select(col("_dst").as("id"))).distinct().persist()
    val outW = e.groupBy(col("_src")).agg(sum(col("_w")).as("_ow"))
    // edge share: w / W(src), one exact division per edge, reused
    // every iteration — persisted ALREADY hash-partitioned on the
    // per-iteration join key, so each round's rank⋈share exchange
    // moves only the |nodes|-sized rank frame, never the edge frame
    // (the dominant mass on a corpus-scale graph; the decimal
    // contribution sums are order-exact, so the layout is free to
    // choose)
    val share = e.join(outW, "_src")
      .select(col("_src"), col("_dst"),
        (col("_w").cast("double") / col("_ow").cast("double")).as("_sh"))
      .repartition(col("_src"))
      .persist()
    val n = nodes.count()
    val persisted = Seq.newBuilder[DataFrame]
    persisted += e
    persisted += nodes
    persisted += share
    // r20 iteration shape (guide §1.2 step 1 / §2.4 — the per-query
    // cost at bench scale was STAGE COUNT, ~43 stages of sub-second
    // tasks): one LEFT join replaces the old inner-join + dangling
    // semi-join pair — a rank row with no out-edges (null match) IS
    // the dangling mass, tagged by `_dang` instead of a second pass —
    // and the (dang?, id) aggregate computes contributions AND the
    // dangling sum in ONE exchange. The rank frame itself is
    // single-consumer per round now, so it doesn't persist at all
    // (the old code cached every round's rank to pay for its two
    // readers); only the |V|-row aggregate persists (two readers:
    // contrib rows + the 1-row dangling-mass filter). Arithmetic is
    // bit-identical: the same per-edge decimal(38,18) products, the
    // same decimal dangling fold (grouped first — decimal addition is
    // exact and associative), the same single IEEE combine.
    var rank: DataFrame = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 0 until iters) {
      val agg = rank.join(share, rank("id") === share("_src"), "left")
        .select(col("_dst").isNull.as("_dang"), col("_dst").as("id"),
          when(col("_dst").isNull, col("rank").cast("decimal(38,18)"))
            .otherwise((col("rank") * col("_sh")).cast("decimal(38,18)"))
            .as("_c"))
        .groupBy(col("_dang"), col("id")).agg(sum(col("_c")).as("_s"))
        .persist()
      persisted += agg
      val contrib = agg.filter(!col("_dang"))
        .select(col("id"), col("_s").cast("double").as("_in"))
      val dangMass = agg.filter(col("_dang"))
        .agg(coalesce(sum(col("_s")), lit(0)).cast("double").as("_dm"))
      rank = nodes
        .join(contrib, Seq("id"), "left")
        .crossJoin(dangMass)
        .select(col("id"),
          (lit((1.0 - d) / n) +
            lit(d) * (coalesce(col("_in"), lit(0.0)) + col("_dm") / n))
            .as("rank"))
    }
    Caching.sealOver(rank.select(col("id"), round(col("rank"), 9).as("rank")),
      persisted.result(): _*)
  }
}
