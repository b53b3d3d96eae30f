package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression tests: the 100 TB properties (pushdown,
  * broadcast, partial top-k) must survive refactors, not just the
  * row-level results.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("q01: shipdate filter reaches the parquet scan; columns pruned") {
    val p = plan("q01_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "unused columns must not be read")
  }

  test("s17: the metadata predicate reaches the embeddings scan") {
    // pre-filter strategy: label=1 must prune at the parquet footer,
    // not post-rank — the property that makes filtered search exact
    // AND cheap when the predicate is selective
    val p = plan("s17_filtered_ann")
    assert(p.contains("EqualTo(label,1)"), p.take(2000))
  }

  test("q03: star join is a broadcast chain, no shuffle before partial agg") {
    // simple mode: one tree, no repeated node-detail section
    val p = SparkEntry.queries("q03_multijoin")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(p.split("BroadcastHashJoin").length - 1 == 4, p)
    assert(!p.contains("SortMergeJoin"), "dims must broadcast, not shuffle")
  }

  test("q03: revenue pre-aggregates per orderkey BELOW the join (eager agg)") {
    // the 10× lesson: stats-free size estimates once picked LINEITEM's
    // pruned scan as the broadcast build side — the biggest table
    // shipped whole to every task. The eager per-orderkey partial agg
    // shrinks the join input by the lines-per-order factor at any
    // scale; this gate pins (a) an aggregate keyed on l_orderkey
    // exists, and (b) no broadcast ever BUILDS from the raw lineitem
    // line stream (l_extendedprice below a BroadcastExchange).
    val p = plan("q03_multijoin")
    assert("Keys \\[1\\]: \\[l_orderkey".r.findFirstIn(p).isDefined
      && p.contains("partial_sum"),
      "per-orderkey partial agg must exist: " + p)
    val broadcastSections = p.split("BroadcastExchange").drop(1)
    assert(!broadcastSections.exists(_.take(400).contains("l_extendedprice")),
      "the raw lineitem line stream must never be a broadcast build side")
  }

  test("q06: anti join broadcasts the orders side") {
    val p = plan("q06_anti_join")
    assert(p.contains("BroadcastHashJoin LeftAnti"), p)
  }

  test("s01: top-k gets a map-side WindowGroupLimit") {
    val p = plan("s01_ann_brute")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("vec_dot"), "dot product must use the codegen expression")
  }

  // WindowGroupLimit nodes (partial + final per top-k window, simple
  // mode) of every key whose ranking runs through Similarity's shared
  // rank stage; the recall/equality reports count their brute-force
  // twin's window too
  Seq("s02_ann_lsh" -> 8, "s03_ann_ivf" -> 8, "s11_pq_adc" -> 2,
      "s12_ivf_pq" -> 10, "s14_hamming_topk" -> 3, "s15_matryoshka" -> 3,
      "s16_knn_graph" -> 2, "s20_int8_ann" -> 2, "s26_ann_index" -> 4,
      "s32_ivf_exact" -> 2, "s33_lsh_portable" -> 2, "s44_store_adc" -> 2)
    .foreach { case (key, limits) =>
      test(s"$key: every top-k keeps its map-side WindowGroupLimit") {
        val p = SparkEntry.queries(key)(spark, dir).queryExecution
          .explainString(ExplainMode.fromString("simple"))
        assert(p.split("WindowGroupLimit").length - 1 == limits, p)
      }
    }

  test("q20: as-of join is one key shuffle, no join node, no row blowup") {
    val p = SparkEntry.queries("q20_asof_join")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Join"), "union-merge as-of must not plan a join: " + p)
    // one Exchange for the window partition key (+ the final orderBy range
    // exchange); nothing quadratic.
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p)
  }

  test("q42: bitemporal double PIT stays join-free end to end") {
    // both transaction-time snapshots are literal filters and both
    // as-of legs are union-merge — a Join node anywhere means a
    // snapshot became a join or an as-of leg regressed to a range join
    val p = SparkEntry.queries("q42_bitemporal")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Join"), "bitemporal PIT must not plan a join: " + p)
    // user_id windows (2 scd2 chains + 2 as-of merges) + the final
    // event_id orderBy are the only exchanges; nothing quadratic
    assert(p.split("Exchange hashpartitioning").length - 1 <= 4, p)
  }

  test("q43: exact-moment profile is one aggregate — no window, no join") {
    val p = SparkEntry.queries("q43_stats_moments")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p)
  }

  test("q44: last-touch attribution is window + aggregate, join-free") {
    val p = SparkEntry.queries("q44_attribution")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Join"), p)
    // user_id window + touch aggregate; nothing quadratic
    assert(p.split("Exchange hashpartitioning").length - 1 <= 2, p)
  }

  test("q45: islands are one user shuffle feeding window + aggregate, join-free") {
    val p = SparkEntry.queries("q45_activity_islands")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Join"), p)
    // (user,day) dedup + the user window; the final orderBy is a range
    // exchange, nothing quadratic
    assert(p.split("Exchange hashpartitioning").length - 1 <= 2, p)
    assert(p.contains("Window"), "the day - row_number grouping needs the window: " + p)
  }

  test("q46: the cumulative window runs over the per-day aggregate, not events") {
    val p = SparkEntry.queries("q46_user_growth")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Join"), p)
    // the single-partition exchange must feed from the day-keyed
    // aggregate (≤|days| rows), never the raw event stream — the q35
    // stated-bound contract for global windows
    val single = p.split("Exchange SinglePartition")
    assert(single.length - 1 == 1, p)
    assert(single(1).contains("HashAggregate(keys=[day"),
      "global window must consume the per-day aggregate: " + p)
  }

  test("q59: the segment report is sealed — one orders scan at seal time") {
    // the customer frame feeds four consumers (anchor, quintiles,
    // assignment, report); sealing the <=125-row result over the
    // persisted frame means the final plan is a checkpoint scan and
    // NO consumer re-reads orders
    val p = SparkEntry.queries("q59_rfm")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("FileScan parquet"), p)
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("q63: the DESC value ranks are pid-partitioned, no global value window") {
    val p = SparkEntry.queries("q63_abc_analysis")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("windowspecdefinition(_pid"), p.take(1500))
    assert(!p.contains("windowspecdefinition(_x"), p.take(1500))
  }

  test("q62: the first-week join is user-keyed on the deduped activity frame") {
    val p = SparkEntry.queries("q62_new_vs_returning")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    val keyed = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[user_id".r
    assert(keyed.findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q61: one user shuffle carries sessions, breaks, numbering AND the report") {
    val p = SparkEntry.queries("q61_session_kpis")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Join"), p)
    // lag + cumsum + session aggregate all ride the user_id
    // partitioning; the final report is a 1-row aggregate
    assert(p.split("Exchange hashpartitioning").length - 1 <= 2, p)
  }

  test("q58: the lag join is user-keyed against the aggregated view frame") {
    val p = SparkEntry.queries("q58_conversion_lag")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    val keyed = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[user_id".r
    assert(keyed.findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the view filter prunes at the parquet footer on both scans
    assert(p.contains("EqualTo(event_type,view)")
      && p.contains("EqualTo(event_type,purchase)"), p)
  }

  test("q57: cumulative weights are pid-partitioned, never a per-key global window") {
    val p = SparkEntry.queries("q57_weighted_median")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("windowspecdefinition(_pid"),
      "the packSequences prefix discipline: " + p.take(1500))
    assert(!p.contains("windowspecdefinition(_k, _x"),
      "a per-key value window would put each group's corpus slice in one task: "
        + p.take(1500))
  }

  test("s38: seeds broadcast; per-query top-k gets a map-side WindowGroupLimit") {
    val p = SparkEntry.queries("s38_knn_classify")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(p.contains("vec_dot"), "dot product must use the codegen expression")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the labeled seed set must broadcast: " + p.take(2000))
  }

  test("q67: trailing windows expand the (user, day) grain with a broadcast day axis") {
    val p = SparkEntry.queries("q67_stickiness")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the day axis broadcasts onto the (user, day) frame — the range
    // join must never shuffle or sort the corpus-derived side
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), "trailing distincts are joins, not windows: " + p)
  }

  test("q69: the lag window consumes the week aggregate, never the order stream") {
    val p = SparkEntry.queries("q69_wow_growth")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.indexOf("HashAggregate", winIdx) > winIdx,
      "the lag must run over the weekly aggregate: " + p)
  }

  test("q72: every parent key set stays below a broadcast or key shuffle, no cartesian") {
    val p = SparkEntry.queries("q72_ri_audit")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "every RI check must be an equi-join: " + p)
  }

  test("q73: the gap lag runs at customer grain with one key exchange") {
    val p = SparkEntry.queries("q73_purchase_intervals")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS")
      || p.split("Exchange hashpartitioning").length - 1 >= 1,
      "the window must partition on o_custkey, not collapse to one task: " + p)
    assert(p.split("Exchange hashpartitioning").length - 1 >= 1, p)
  }

  test("q66: the overlap join is a key equi-join, never a cartesian") {
    val p = SparkEntry.queries("q66_fifo_allocation")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the range predicate must ride a _k equi-join: " + p)
  }

  test("q64: rank maps are pid-partitioned value-grain frames, no per-key row window") {
    val p = SparkEntry.queries("q64_spearman")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("windowspecdefinition(_pid"),
      "the packSequences prefix discipline: " + p.take(1500))
    assert(!p.contains("windowspecdefinition(_k, _x")
      && !p.contains("windowspecdefinition(_k, _y"),
      "a per-key value window would put each group's corpus slice in one task: "
        + p.take(1500))
  }

  test("q65: histogram is two aggregates + broadcast 1-row frames, no window") {
    val p = SparkEntry.queries("q65_histogram")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Window"), "histogram must not plan a window: " + p)
    assert(!p.contains("SortMergeJoin"),
      "the min/max frame and bin counts must broadcast: " + p)
  }

  test("q56: dims broadcast; the rank window runs on the supplier aggregate") {
    val p = SparkEntry.queries("q56_topk_others")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(p.split("BroadcastHashJoin").length - 1 == 2, p)
    assert(!p.contains("SortMergeJoin"), "supplier/nation must broadcast: " + p)
    // the window's sort input is the (nation, supplier) aggregate —
    // a Window directly over the raw line stream would sort the
    // corpus; the partial agg below the first exchange pins the
    // reduction happens map-side first
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.indexOf("HashAggregate", winIdx) > winIdx,
      "the rank window must consume the aggregate: " + p)
  }

  test("q55: global ranks are pid-partitioned; only the 10-row decile frame windows globally") {
    val p = SparkEntry.queries("q55_lorenz_gini")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("windowspecdefinition(_pid"),
      "ranks must come from the distributed prefix: " + p.take(1500))
    assert(!p.contains("windowspecdefinition(_x"),
      "a global value window would serialize the customer frame: " + p.take(1500))
  }

  test("q51: the ECDF cumsums are pid-partitioned, never a global value window") {
    val p = SparkEntry.queries("q51_ks_drift")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // the packSequences discipline: cumulative counts run inside each
    // range partition (windowspec keyed on _pid), and no window ever
    // orders the raw value axis in one partition
    assert(p.contains("windowspecdefinition(_pid"), p.take(2000))
    assert(!p.contains("windowspecdefinition(_x"),
      "a global value-axis window would serialize the corpus: " + p.take(2000))
  }

  test("q54: one digit-grain aggregate; the total is the only nested-loop join") {
    val p = SparkEntry.queries("q54_benford")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(p.split("BroadcastNestedLoopJoin").length - 1 == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("ReadSchema: struct<o_totalprice"),
      "only the audited column may be read: " + p)
  }

  test("q53: the contingency machinery runs on the sealed cell frame only") {
    val p = SparkEntry.queries("q53_chi2_independence")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the event stream aggregates ONCE into the sealed (etype, dow)
    // frame; domains, grid, totals and windows all derive from it —
    // zero parquet scans may remain in the final plan
    assert(!p.contains("FileScan parquet"),
      "a FileScan here means a grid branch re-scanned the events: " + p)
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("q52: rank sums ride the same pid-partitioned ECDF, no global window") {
    val p = SparkEntry.queries("q52_mannwhitney")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("windowspecdefinition(_pid"), p.take(2000))
    assert(!p.contains("windowspecdefinition(_x"), p.take(2000))
  }

  test("q50: all 64 bootstrap resamples fold in ONE corpus scan") {
    val p = SparkEntry.queries("q50_bootstrap_ci")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(p.split("FileScan parquet").length - 1 == 1,
      "the online bootstrap must not rescan per replicate: " + p)
    assert(!p.contains("Join"), p)
    // the stack() reshape runs on the |keys| aggregated frame — the
    // tree prints parents first, so the replicate-fold aggregate must
    // appear BELOW the Generate, never the raw rows
    val gen = p.indexOf("Generate stack")
    assert(gen >= 0 && p.indexOf("HashAggregate(keys=[key", gen) > gen,
      "replicate reshape must consume the aggregate, not the rows: " + p.take(1500))
  }

  test("q49: the basket join is keyed on the order, the total is a 1-row broadcast") {
    val p = SparkEntry.queries("q49_basket_lift")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // pair generation must be an equi-join on the order key (per-key
    // work quadratic in basket size, never corpus size); the only
    // nested-loop join allowed is the broadcast 1-row order total
    assert(p.split("BroadcastNestedLoopJoin").length - 1 == 1, p)
    val keyed = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[ok".r
    assert(keyed.findFirstIn(p).isDefined,
      "the pair join must key on the order: " + p)
  }

  test("q48: the distinct-pair space crosses the wire, not the row space") {
    val p = SparkEntry.queries("q48_dq_profile")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // one stack generator, then a (col_name, value)-keyed PARTIAL
    // aggregate below the first exchange — the row-multiplied frame
    // collapses map-side; only distinct pairs shuffle
    assert(p.contains("Generate stack"), p)
    assert(!p.contains("Join"), p)
    assert(p.split("Exchange hashpartitioning").length - 1 == 2, p)
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    val partialIdx = p.indexOf("HashAggregate(keys=[col_name#", firstExchange)
    assert(partialIdx >= 0 && p.substring(partialIdx).contains("partial_count"),
      "map-side partial on (col_name, value) must precede the shuffle: " + p)
  }

  test("q47: gap fill is lead+explode, never a spine join") {
    val p = SparkEntry.queries("q47_daily_balance")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Join"), "fill ranges come from lead(), not a spine join: " + p)
    assert(p.contains("Generate explode"), "the spine must be a generator: " + p)
    // (user,day) aggregate + user window; final orderBy is a range
    // exchange, nothing quadratic
    assert(p.split("Exchange hashpartitioning").length - 1 <= 2, p)
  }

  test("r40: the zero-filled grid builds by broadcast; pairs join at hour grain") {
    val p = SparkEntry.queries("r40_rate_correlation")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("CartesianProduct"),
      "the key axis must broadcast onto the hour axis: " + p)
    assert(!p.contains("Window"), "correlation is folds, not windows: " + p)
  }

  test("r39: the Holt filter runs at hour grain off the cached histogram, no window") {
    val p = SparkEntry.queries("r39_holt_forecast")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // sealed output is a checkpoint scan; the shape check is that the
    // plan stays window-free (the filter IS a join+aggregate) — the
    // hour-grain/caching discipline is pinned by r20/r35's shared
    // hourly-histogram machinery
    assert(!p.contains("Window"), "the dyadic filter must not plan a window: " + p)
  }

  test("r35: one event-grain histogram; stat frames broadcast onto the cached hourly") {
    // the sealed public op is a checkpoint scan (d33 precedent), so
    // pin the UNSEALED core; the persisted hourly shows as
    // InMemoryTableScan in every reuse branch — the event stream must
    // scan exactly once
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val (out, hourly) = graft.operators.Windows
      .madOutliersPlan(ev, "ts", "event_type", 5.0)
    try {
      val p = out.queryExecution.explainString(ExplainMode.fromString("simple"))
      assert(!p.contains("SortMergeJoin"),
        "the |keys|-row stat frames must broadcast: " + p)
      // 2 joins in the output chain + the med join recomputed inside
      // the mad broadcast build (over the cache — a |keys×hours| frame)
      assert(p.split("BroadcastHashJoin").length - 1 <= 3, p)
      // every consumer reads the cache (explain reprints the cached
      // relation's build plan — with its FileScan — at each reference,
      // so equal counts mean NO branch scans the file directly)
      assert(p.split("InMemoryTableScan").length - 1 >= 3, p)
      assert(p.split("FileScan parquet").length == p.split("InMemoryRelation").length,
        "every event scan must sit inside the cached relation build: " + p)
    } finally { hourly.unpersist(); () }
  }

  test("r37: candidate scan is key-partitioned windows at hour grain, join-free") {
    val p = SparkEntry.queries("r37_changepoint")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Join"), p.take(1500))
    assert(p.contains("windowspecdefinition(key"),
      "cumulative/rank windows must partition by key: " + p.take(1500))
  }

  test("r36: the pair join runs at hour grain on the cached histogram") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val (out, hourly) = graft.operators.Windows
      .trendTestPlan(ev, "ts", "event_type")
    try {
      val p = out.queryExecution.explainString(ExplainMode.fromString("simple"))
      // the event stream scans once into the cached hourly frame; the
      // S/slope pair join and the tie aggregate both read the cache
      assert(p.split("FileScan parquet").length == p.split("InMemoryRelation").length,
        "every event scan must sit inside the cached relation build: " + p)
      assert(p.split("InMemoryTableScan").length - 1 >= 3, p)
      // the pair join is keyed (plus the hour range as a post-filter
      // or join condition) — never a cartesian over hours of
      // different keys
      assert(!p.contains("CartesianProduct"), p)
    } finally { hourly.unpersist(); () }
  }

  test("r34: error filter reaches the scan; one key shuffle, no join/window") {
    val p = plan("r34_alert_suppression")
    assert(p.contains("EqualTo(event_type,error)"),
      "alert filter must prune at the parquet footer: " + p.take(2000))
    val s = SparkEntry.queries("r34_alert_suppression")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!s.contains("Join") && !s.contains("Window "), s)
    assert(s.split("Exchange hashpartitioning").length - 1 == 1, s)
  }

  // d33's result is sealed (localCheckpoint scan), so its join shape is
  // not inspectable post-hoc; the digest-keyed join is pinned by the
  // operator's oracle hash + SparseCosineSpec instead.

  test("q21: range join broadcasts the bucket dim as a nested-loop join") {
    val p = plan("q21_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s02: multi-table signatures come from the fused lsh_sigs expression") {
    val p = plan("s02_ann_lsh")
    assert(p.contains("lsh_sigs"), p)
    assert(p.contains("BroadcastHashJoin"), "query side must broadcast: " + p)
  }

  test("r01: parse is a single-pass regex inside one codegen stage") {
    val p = plan("r01_regex_parse")
    assert(p.contains("regex_groups"), p)
    assert(!p.contains("regexp_extract"), "no per-field regex re-runs")
  }

  test("r12: sessionization rides ONE user_id shuffle end to end") {
    val p = SparkEntry.queries("r12_sessionize")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // both window ops AND the session aggregate reuse the same
    // hashpartitioning(user_id) exchange; only the final orderBy adds
    // its range exchange
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p)
  }

  test("r21: session paths ride one user shuffle + the bounded path histogram") {
    val p = SparkEntry.queries("r21_session_paths")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // hashpartitioning(user_id) serves both windows AND the
    // per-session fold (user ⊆ (user, session) clustering); the only
    // other hash exchange is the path-key histogram, whose key domain
    // is bounded by |event types|^maxLen, not the corpus
    assert(p.split("Exchange hashpartitioning").length - 1 == 2, p)
  }

  test("p14: the weighted sample's global top-k is a TakeOrdered, not a sort") {
    val p = SparkEntry.queries("p14_weighted_sample")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(p.contains("TakeOrderedAndProject"), p)
    // zero hash exchanges before it: the key is a narrow projection
    assert(p.split("Exchange hashpartitioning").length - 1 == 0, p)
  }

  test("t29: the corpus card is one narrow pass into one rollup aggregate") {
    val p = SparkEntry.queries("t29_corpus_card")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the rollup's single partial/final aggregate pair = one exchange
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q31: retention is three bounded exchanges, no window over the corpus") {
    val p = SparkEntry.queries("q31_retention")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(p.split("Exchange hashpartitioning").length - 1 <= 3, p)
    assert(!p.contains("Window"), p)
  }

  test("p15: BFD packing shuffles once, on the shard key, pairs only") {
    val p = SparkEntry.queries("p15_pack_bestfit")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // same contract as p12: the corpus collapses to (id, n) pairs
    // before the one shard-key exchange; the fold is row-local
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p)
  }

  test("d24: prefix-filtered join plans no cartesian and keeps the verify candidate-only") {
    val p = SparkEntry.queries("d24_allpairs_exact")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d08: the benchmark shingle side broadcasts; filters reach the scan") {
    val p = plan("d08_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "bench shingles must broadcast: " + p)
    // the % 50 split must prune at the scan, not post-join
    assert(p.contains("NOT ((doc_id"), p)
  }

  test("d19: bloom sweep never joins on the shingle key") {
    val p = SparkEntry.queries("d19_bloom_decontaminate")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the ONLY join is the broadcast of the one-row bitmap; the corpus
    // side is a narrow probe filter — a shingle-keyed join here would
    // mean the prefilter degenerated into d08's exact sweep
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    // shuffles: the bitmap's single-row aggregate, the per-doc hit
    // count, and the final orderBy — nothing keyed by shingle
    assert(!p.contains("hashpartitioning(shingle"), p)
  }

  test("t22: repetition signals are one compiled narrow pass — no join, no aggregate") {
    val p = SparkEntry.queries("t22_gopher_repetition")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // all A2 signals are within-document: an (id, n, gram) shuffle or
    // a per-doc aggregate here means the op regressed to the exploded
    // formulation (measured 6.2s vs 0.9s at sf0.1, shuffle poison at
    // scale); the only exchanges are the explicit input spread and the
    // final orderBy
    assert(p.contains("repetition_stats"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("q29: funnel joins broadcast the shrinking survivor sets") {
    val p = SparkEntry.queries("q29_funnel")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // each step joins the full event scan against the prior step's
    // first-ts aggregate — a per-user set that only shrinks, so it must
    // broadcast rather than reshuffle the events side. The union's three
    // count branches re-derive the steps (v: 0 joins, c: 1, p: 2).
    assert(p.split("BroadcastHashJoin").length - 1 == 3, p)
    assert(!p.contains("SortMergeJoin"), "survivor sets must broadcast: " + p)
  }

  test("r15: multiline assembly rides ONE user_id shuffle") {
    val p = SparkEntry.queries("r15_multiline")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the running-header-count window partitions by user_id; the
    // (user_id, rec_no) aggregate is satisfied by that same subset
    // partitioning, so no second hash exchange (orderBy adds range)
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p)
  }

  test("r14: rate alert pushes the event_type filter nowhere — single scan, one shuffle") {
    val p = SparkEntry.queries("r14_rate_alert")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // conditional agg = one pass over events, one window_start shuffle
    // (+ the final orderBy range exchange); no join, no second scan
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("t12: the frequent-line set broadcasts into the anti join") {
    // corpus-side lines must anti-join a BROADCAST boilerplate set —
    // a shuffled anti join would move the whole corpus by line text.
    // The operator deliberately leaves the decision to the planner
    // (no forced hint: the set's bound grows with the corpus), so the
    // assertion runs the query and reads the FINAL adaptive plan.
    val df = SparkEntry.queries("t12_boilerplate")(spark, dir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("s08: random projection is one narrow pass — no join, no aggregate") {
    val p = SparkEntry.queries("s08_random_projection")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Join"), "sign matrix must embed as literals: " + p)
    assert(!p.contains("HashAggregate"),
      "per-dim sums must be row-local vec_dot loops, not aggregates: " + p)
    // the only exchange is the final orderBy's range partitioning
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("p04: two-phase salted quota — salted exchange, then a bounded source-key exchange") {
    val p = SparkEntry.queries("p04_source_quota")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // phase 1 shuffles on (source, salt) — two keys — so a mega-source
    // spreads over saltBuckets tasks; phase 2's source-key exchange
    // moves only phase-1 survivors (<= saltBuckets * cap per source),
    // with map-side WindowGroupLimit bounding both stages' inputs
    assert(p.split("Exchange hashpartitioning").length - 1 == 2, p)
    assert("hashpartitioning\\(source#\\d+, _w0#\\d+L".r
      .findFirstIn(p).isDefined, p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("Join"), p)
  }

  test("d15: paragraph-dedup winners come from an aggregate, not a window") {
    val p = SparkEntry.queries("d15_para_dedup")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // min-struct winner = hash aggregate with map-side partials (a
    // boilerplate paragraph in a million docs combines locally); a
    // row_number window over md5(para) would be the hot-partition
    // formulation this operator exists to avoid
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min"), "winner must pre-aggregate map-side: " + p)
  }

  test("p06: the token-budget prefix sum never windows over corpus-keyed data") {
    // (t16's equivalent gate is impossible from outside: sealOver cuts
    // its lineage to a checkpoint scan; its split-equality spec pins
    // the head/residual behavior instead)
    val p = SparkEntry.queries("p06_token_budget")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // exactly two windows: the local cumsum partitioned by the
    // value-derived hash bucket, and the prefix over per-bucket
    // TOTALS — whose single-partition exchange ingests only the
    // <= 4096-row bucket aggregate, never corpus-keyed rows
    assert(p.split("\\bWindow \\[").length - 1 == 2, p)
    assert(p.contains("windowspecdefinition(_b#"), p)
    assert(p.split("Exchange SinglePartition").length - 1 == 1, p)
    assert("Exchange SinglePartition[\\s\\S]{0,200}HashAggregate\\(keys=\\[_b".r
      .findFirstIn(p).isDefined, p)
  }

  test("d14: cross-corpus candidates verify against shingles via broadcast") {
    val p = SparkEntry.queries("d14_cross_dedup")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the candidate pair set is the SMALL side everywhere it joins
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("t17: BM25 filters tokens to the broadcast query vocabulary before any exchange") {
    val p = SparkEntry.queries("t17_bm25")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the semi-join against the query vocabulary must be broadcast
    // (the full token stream never shuffles to find its matches), and
    // the per-query top-k must run as a map-side group limit
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  // (t18's window-over-histogram gate is impossible from outside:
  // pplBuckets seals its result, so the visible plan is a checkpoint
  // scan. Its value-cut semantics are pinned row-level in
  // PplBucketsSpec instead — same situation as t16, noted at p06.)

  test("s14: Hamming shortlist + rerank are both map-side group limits; query codes broadcast") {
    val p = SparkEntry.queries("s14_hamming_topk")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(p.split("WindowGroupLimit").length - 1 >= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("vec_dot"), "codes and rerank must use the codegen expression: " + p)
  }

  test("r16: the anomaly window runs per event_type over hourly aggregates, never SinglePartition") {
    val p = SparkEntry.queries("r16_rate_anomaly")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("windowspecdefinition(key#"), p)
  }

  test("p08: temperature selection is the salted two-phase shape with a broadcast quota map") {
    val p = SparkEntry.queries("p08_temperature")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // same skew discipline as p04: phase 1 ranks within (source, salt),
    // phase 2 only over bounded survivors; the per-source caps arrive
    // as a broadcast, never a shuffle join. (No WindowGroupLimit here:
    // the rank bound is a per-source COLUMN, and the group-limit
    // rewrite needs a literal — the salted split is what bounds the
    // sort inputs instead.)
    assert("hashpartitioning\\(source#\\d+, _w0#\\d+L".r
      .findFirstIn(p).isDefined, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t23: divergence never windows and only broadcast-joins its tiny frames") {
    // the sealed public form plans as a checkpoint scan — assert on
    // the raw internals, which is what actually executes at seal time
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (res, counts) = operators.TextStats.corpusDivergenceRaw(docs, "source", "text")
    try {
      val p = res.queryExecution.explainString(ExplainMode.fromString("simple"))
      // the (group, token) nnz join may shuffle (distinct pairs, flat
      // keys), but the totals/group/lnQ frames must all broadcast and
      // nothing may funnel through a global window
      assert(!p.contains("windowspecdefinition"), p)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    } finally counts.unpersist()
  }

  test("r18: template mining counts in a hash aggregate over the corpus pass") {
    // the query result now seals (lineage cut), so the shape gate
    // reads the UNSEALED internals — the spanDedupRaw rule
    import spark.implicits._
    val lines = Seq("a 1", "a 2", "b 9").toDF("value")
    val (raw, counts) = operators.LogMining.templatesRaw(lines, "value")
    try {
      val p = raw.queryExecution.explainString(ExplainMode.fromString("simple"))
      assert(p.contains("HashAggregate"), p)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
      // the example fetch's second corpus pass must be hash-only: the
      // 4-regex masking may appear on the tiny post-semi-join remnant,
      // never under the semi join itself
      val semiSide = p.split("LeftSemi").last
      assert(!semiSide.contains("regexp_replace"),
        "masking ran under the semi join (full-corpus second regex pass): " + p)
    } finally { counts.unpersist(); () }
  }

  test("d22: KMV sketches fold map-side; the corpus pass runs once (sealed)") {
    val p = SparkEntry.queries("d22_source_overlap")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the corpus never reaches the pair math: both join sides read the
    // sealed sketch, so no FileScan of documents survives in this plan
    assert(!p.contains("FileScan"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), "source list must broadcast: " + p)
    // the union bottom-k gets the partial+final group-limit treatment
    assert(p.split("WindowGroupLimit").length - 1 == 2, p)
  }

  test("q30: the KMV aggregate is one ObjectHashAggregate pass with map-side partials") {
    val p = plan("q30_distinct_kmv")
    assert(p.contains("partial_kmv_sketch"), "partials must combine map-side: " + p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"), "the corpus pass must stay hash-based: " + p)
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_returnflag:string>"),
      "columns must prune to the two used: " + p)
  }

  test("p09: the stage map broadcasts; the corpus never windows or shuffles for it") {
    val p = SparkEntry.queries("p09_curriculum")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exactly one Window — over the score histogram, never the corpus
    assert(p.split("\\bWindow\\b").length - 1 == 1, p)
  }

  test("p12: greedy packing shuffles once, on the shard key, pairs only") {
    val p = SparkEntry.queries("p12_pack_greedy")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // one exchange pair for the shard groupBy (+ the orderBy's range
    // exchange from the query wrapper); never a join or window
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    val exchanges = p.split("Exchange").length - 1
    assert(exchanges <= 2, s"expected <=2 exchanges (shard hash + output range): $p")
    // only id and text reach the scan — the fold sees (id, n) pairs
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("p13: epoch repetition is one narrow zero-shuffle explode") {
    val p = SparkEntry.queries("p13_epoch_repeat")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // the only exchange is the output orderBy's range partition
    assert(p.split("Exchange").length - 1 <= 1, p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"), p)
  }

  test("p11: diversity sampling assigns in-row (no join); two-phase salted windows") {
    val p = SparkEntry.queries("p11_diverse_sample")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // literal-centroid assignment: no join anywhere in the plan
    assert(!p.contains("Join"), p)
    // phase 1 on (cluster, salt), phase 2 on cluster — never one
    // K-task hot window over the whole corpus
    assert(p.split("\\bWindow\\b").length - 1 == 2, p)
  }

  test("s20: int8 search broadcasts query codes and ranks via WindowGroupLimit") {
    val p = plan("s20_int8_ann")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query codes must broadcast, never shuffle the corpus: " + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("s22: PC projection is one narrow zero-shuffle pass over the corpus") {
    val p = SparkEntry.queries("s22_pc_project")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // loadings and means are literals: no join, no aggregate, and the
    // only exchange is the final orderBy's range partitioning
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("s25: whitening projection is one narrow zero-shuffle pass") {
    val p = SparkEntry.queries("s25_pc_whiten")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // k*d loadings + d means are literals; the k-way expand is a
    // row-local explode — no join, no aggregate, no hash exchange
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("s29: the assignment pass is zero-shuffle literal codegen") {
    val p = SparkEntry.queries("s29_kmeans_train")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // centroids ride as one array literal; the argmin is row-local —
    // no join, no aggregate, no hash exchange (only the output sort's
    // range exchange survives)
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("array_min(zip_with("), p)
  }

  test("s32: the probe side broadcasts; top-k gets WindowGroupLimit") {
    val p = SparkEntry.queries("s32_ivf_exact")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // candidates = probed lists only: the tiny query-probe frame is
    // the broadcast build side of the cluster join, never the corpus
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("vec_dot"), p)
  }

  test("p23: the per-bucket rank windows are partitioned, never global") {
    val p = SparkEntry.queries("p23_length_batches")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the local rank partitions by (_pid, _cap) and the offset window
    // by _cap over the #partitions-sized frame — no window runs with
    // an empty partition spec over the corpus
    assert(p.contains("windowspecdefinition(_pid"), p)
    assert(!p.contains("windowspecdefinition(_h"), p)
  }

  test("t38: per-doc top-k gets a map-side WindowGroupLimit partial") {
    val p = SparkEntry.queries("t38_tfidf_terms")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(p.contains("WindowGroupLimit"), p)
    // the (doc, term) tf aggregate combines map-side
    assert(p.contains("partial_count"), p)
  }

  test("s33: the probe-expanded query side broadcasts; the corpus side never exchanges for the join") {
    val p = SparkEntry.queries("s33_lsh_portable")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // bucket join = BroadcastHashJoin with the 22x-exploded QUERY side
    // as the build — the corpus-side signature rows (the side that
    // scales) must not shuffle to meet it
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("vec_dot"), "projections must ride the codegen expression")
    // final top-k is a partitioned window with a map-side group limit
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("d31: the diff join carries digests, never text") {
    val p = SparkEntry.queries("d31_corpus_diff")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the only wide op is the full-outer id join over (id, md5, source)
    assert(p.contains("FullOuter"), p)
    val exchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("text#")),
      "document text must not ride a shuffle: " + exchanges.mkString("\n"))
  }

  test("q38: the corpus-scale lag window runs once, sealed — never re-planned per consumer") {
    // trans feeds dict twice and edges twice; unsealed, the event
    // stream's user_id window re-executed for each — the gate pins
    // that NO user_id exchange survives into the final plan (the lag
    // ran exactly once inside the seal; everything downstream reads
    // the ≤|types|² edge frame)
    val p = SparkEntry.queries("q38_pagerank")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("hashpartitioning(user_id"),
      "the event lag window must be sealed, not re-planned: " + p)
  }

  test("m07: the overlap join runs on the md5 fp key, never audio bytes") {
    val p = SparkEntry.queries("m07_audio_overlap")(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the chunk explode collapses to (id, fp) BEFORE any exchange:
    // no binary blob column survives into a shuffle
    val exchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("_b#")),
      "audio bytes must not ride a shuffle: " + exchanges.mkString("\n"))
  }

  test("q22: two-level aggregate, no count-distinct expand") {
    // the r16 regression fix: count(distinct) alongside other
    // aggregates planned an Expand that tripled the isolated wall —
    // the gate pins the pair-grain pre-aggregate shape instead
    val p = SparkEntry.queries("q22_approx_distinct")(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Expand"), "count-distinct expand crept back: " + p)
    assert(p.contains("partial_count"), p)
  }

  test("t49: the ranked vocabulary is sealed — one scan feeds both consumers") {
    // total + the cut join both read the materialized term frame;
    // unsealed, the corpus tokenize-and-count would run twice
    val p = SparkEntry.queries("t49_vocab_coverage")(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("FileScan"),
      "the vocabulary must be sealed, not re-scanned per consumer: " + p)
  }

  test("d38: the planning table is sealed — consumers never re-run the pair join") {
    // pairOverlaps seals the FINISHED frame: the |splits|-row plan
    // table materializes once and the returned plan is a bare scan —
    // no shingle self-join, no document scan survives downstream
    val p = SparkEntry.queries("d38_lsh_plan")(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("FileScan") && !p.contains("text#"),
      "the planner result must be sealed, not re-derived: " + p)
  }

  test("s44: the serve path reads the store, never corpus vectors; ADC broadcasts") {
    val p = SparkEntry.queries("s44_store_adc")(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    // probes + ADC tables ride broadcast exchanges into the postings join
    assert(p.split("BroadcastExchange").length - 1 >= 2, p)
    val exchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(!exchanges.exists(_.contains("embedding#")),
      "corpus vectors must not ride a serve-time shuffle: " + exchanges.mkString("\n"))
  }

  test("r42: the gzip JSONL scan sees a MULTI-FILE layout") {
    // unsplittable codecs make the FILE the parallelism unit: one
    // giant gz is one task at any cluster size (readJsonl throws on
    // that shape). This pins the other half: the memoized writer
    // really shards — the scan\'s input is >1 file, so at production
    // file sizes the partition count scales with files. (At this SF
    // the files are tiny and Spark correctly BIN-PACKS them into one
    // partition via openCostInBytes — packing small files is the
    // desired behavior, so the gate is on the layout, not the pack.)
    val df = SparkEntry.queries("r42_jsonl_gz")(spark, dir)
    val files = df.inputFiles
    assert(files.length > 1, s"gz layout has ${files.length} file(s)")
    assert(files.exists(_.endsWith(".gz")), files.take(3).mkString(","))
  }

  test("r43: the WARC scan sees a multi-archive layout") {
    val df = SparkEntry.queries("r43_warc")(spark, dir)
    val files = df.inputFiles
    assert(files.length > 1, s"warc layout has ${files.length} file(s)")
    assert(files.forall(_.contains(".warc")), files.take(3).mkString(","))
  }
}
