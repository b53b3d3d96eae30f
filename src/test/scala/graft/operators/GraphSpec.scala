package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Graph traversal operators (q37/q38): exact min-hop BFS and
  * fixed-iteration PageRank on hand-checkable graphs.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(es: (Long, Long)*) = es.toDF("src", "dst")
  private def seeds(ids: Long*) = ids.toDF("id")

  test("bfsHops labels every node with its true shortest hop count") {
    // 1→2→3→4 plus a shortcut 1→3: node 3 is 1 hop, not 2
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 3L)
    val got = Graph.bfsHops(e, "src", "dst", seeds(1L), "id", maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("bfsHops respects the hop cap and survives cycles") {
    // ring 0→1→2→3→0: cap 2 reaches {0,1,2}; the cycle cannot loop
    // forever because visited nodes never re-enter the frontier
    val ring = edges(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 0L)
    val capped = Graph.bfsHops(ring, "src", "dst", seeds(0L), "id", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(capped == Map(0L -> 0, 1L -> 1, 2L -> 2))
    // full traversal terminates by frontier exhaustion before the cap
    val full = Graph.bfsHops(ring, "src", "dst", seeds(0L), "id", maxHops = 50)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(full == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3))
  }

  test("bfsHops: disconnected nodes never appear; multiple seeds take the nearer one") {
    val e = edges(1L -> 2L, 10L -> 11L, 2L -> 10L)
    val got = Graph.bfsHops(e, "src", "dst", seeds(1L, 10L), "id", maxHops = 9)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 10 is a seed (0 hops), so 11 is 1 hop — not 3 via 1→2→10→11
    assert(got == Map(1L -> 0, 2L -> 1, 10L -> 0, 11L -> 1))
    intercept[IllegalArgumentException](
      Graph.bfsHops(e, "src", "dst", seeds(1L), "id", maxHops = 65))
  }

  test("shortestPaths: a cheap 2-hop path beats an expensive direct edge") {
    // 1→3 costs 5 direct; 1→2→3 costs 1+1=2
    val e = Seq((1L, 3L, 5L), (1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val s1 = Seq(1L).toDF("id")
    val got = Graph.shortestPaths(e, "src", "dst", "w", s1, "id", maxRounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // bounded semantics: with ONE round only the direct edge is
    // reachable — round k is min over <=k-edge paths, exactly
    val one = Graph.shortestPaths(e, "src", "dst", "w", s1, "id", maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 0L, 2L -> 1L, 3L -> 5L))
    intercept[IllegalArgumentException](
      Graph.shortestPaths(e, "src", "dst", "w", s1, "id", maxRounds = 65))
  }

  test("shortestPaths terminates early on convergence and survives cycles") {
    // ring with weights: 0→1 (1), 1→2 (1), 2→0 (1) — converges after
    // 2 rounds; maxRounds=50 must not run 50 rounds of jobs (early
    // exit) and the cycle must not lower any distance below truth
    val ring = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 0L, 1L)).toDF("src", "dst", "w")
    val got = Graph.shortestPaths(ring, "src", "dst", "w",
        Seq(0L).toDF("id"), "id", maxRounds = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("pageRank conserves total mass and ranks the sink highest") {
    // 1→3, 2→3 (weight 1 each): 3 is a dangling sink whose mass
    // redistributes uniformly; total rank stays 1 every iteration
    val e = Seq((1L, 3L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val got = Graph.pageRank(e, "src", "dst", "w", d = 0.85, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(math.abs(got.values.sum - 1.0) < 1e-6, s"mass: ${got.values.sum}")
    assert(got(3L) > got(1L) && got(1L) == got(2L), got.toString)
    // a null-dst edge out of 1 is dropped, not counted as 1's whole
    // rank going dangling: mass stays 1 and the ranks are unchanged
    val withNull = Seq((1L, Option(3L), 1L), (2L, Option(3L), 1L), (1L, None, 1L))
      .toDF("src", "dst", "w")
    val gotNull = Graph.pageRank(withNull, "src", "dst", "w", d = 0.85, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(gotNull.values.sum - 1.0) < 1e-6, s"mass: ${gotNull.values.sum}")
    assert(gotNull == got, gotNull.toString)
  }

  test("labelPropagation: two weight-tight cliques keep separate labels; min-label wins ties") {
    // clique A = {0,1,2} (heavy internal edges), clique B = {10,11,12},
    // one weak bridge 2-10: after 3 rounds each clique converges to
    // its minimum member's label and the bridge does not merge them
    def clique(ids: Seq[Long], w: Long) =
      for (a <- ids; b <- ids if a != b) yield (a, b, w)
    val e = (clique(Seq(0L, 1L, 2L), 10L) ++ clique(Seq(10L, 11L, 12L), 10L) ++
      Seq((2L, 10L, 1L), (10L, 2L, 1L))).toDF("src", "dst", "w")
    val got = Graph.labelPropagation(e, "src", "dst", "w", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.filter(_._1 < 10).values.toSet == Set(0L), got.toString)
    assert(got.filter(_._1 >= 10).values.toSet == Set(10L), got.toString)
    // isolated-direction node: a pure source keeps its own label
    val e2 = Seq((5L, 6L, 1L)).toDF("src", "dst", "w")
    val got2 = Graph.labelPropagation(e2, "src", "dst", "w", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2(5L) == 5L && got2(6L) == 5L, got2.toString)
    intercept[IllegalArgumentException](
      Graph.labelPropagation(e2, "src", "dst", "w", iters = 99))
  }

  test("labelPropagation undirected layout equals the directed path on a symmetric graph") {
    // the r18 orientation flip is a pure layout change: on a
    // symmetric edge multiset both paths must produce the identical
    // labeling (the clique+bridge fixture exercises real ties)
    def clique(ids: Seq[Long], w: Long) =
      for (a <- ids; b <- ids if a != b) yield (a, b, w)
    val e = (clique(Seq(0L, 1L, 2L), 10L) ++ clique(Seq(10L, 11L, 12L), 10L) ++
      Seq((2L, 10L, 1L), (10L, 2L, 1L))).toDF("src", "dst", "w")
    for (iters <- Seq(1, 2, 3)) {
      val directed = Graph.labelPropagation(e, "src", "dst", "w", iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val flipped = Graph.labelPropagation(e, "src", "dst", "w", iters,
          undirected = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(directed == flipped, s"iters=$iters: $directed vs $flipped")
    }
  }

  test("pageRank weights matter: the heavier edge carries more rank") {
    // 0 splits 3:1 between 1 and 2; both feed back to 0
    val e = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
      .toDF("src", "dst", "w")
    val got = Graph.pageRank(e, "src", "dst", "w", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) > got(2L), got.toString)
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
    intercept[IllegalArgumentException](
      Graph.pageRank(e, "src", "dst", "w", d = 1.5))
    intercept[IllegalArgumentException](
      Graph.pageRank(e, "src", "dst", "w", iters = 99))
  }
}
