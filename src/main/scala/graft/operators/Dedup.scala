package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora.
  *
  * Every near-dup pair finder is one chain of shared stages,
  * signature → bucket join → verify, and only the stage choice differs
  * between entries:
  *  - signature: word n-gram [[shingles]] feed the portable k=8 md5
  *    MinHash ([[portableSigs]], persisted as [[portableSignatureStore]]);
  *    [[minHashLsh]] and its stream twin hash shingles row-locally into
  *    xxhash64 band arrays ([[bandHashes]]); SimHash and 4-chunk
  *    fingerprints band their own bits.
  *  - bucket join: ONE (band, key) join, [[bucketPairs]] — candidates
  *    form inside buckets, O(sum of bucket²), never O(n²). The portable
  *    keys come from [[portableBands]] (4 bands of r=2).
  *  - verify, on candidate pairs only: exact Jaccard over shingle
  *    digests ([[verifyJaccard]], ratio [[jaccard]]), the signature
  *    agreement estimate ([[sigMatches]]), popcount Hamming or
  *    Levenshtein.
  * The recall-1.0 rungs skip the signature: [[pairOverlaps]] joins on
  * the shingle itself and [[allPairsJaccard]] on prefix tokens, both
  * verifying with the same ratio. Exact dedup is one shuffle on the
  * text hash ([[normalized]] first for the C4 rung).
  *
  * Sealing semantics: entries that cache intermediates return an
  * EAGERLY materialized result via [[Caching.sealOver]] — construction
  * runs a Spark job, unlike a plain lazy DataFrame. They are
  * [[incrementalComponents]], [[sigStoreDedup]], [[lshCandidates]],
  * the [[pairOverlaps]] family ([[jaccardPairs]], [[jaccardPairsSweep]],
  * [[containmentPairs]], [[lshPlan]]), [[allPairsJaccard]],
  * [[minHashLsh]], [[simHashPairs]], [[chunkedHammingPairs]] (so
  * [[simHashPortablePairs]]), [[dupSubstringSpans]], [[spanDedup]],
  * [[cutDupSubstrings]] and [[allPairsCosine]]; [[sourceOverlapKmv]]
  * seals its sketch frame at construction too. With
  * `SparkContext.setCheckpointDir` set the sealed result is a reliable
  * checkpoint (survives executor loss); without one it lives in
  * executor storage only — set a checkpoint dir on real clusters.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per identical `textCol`. The
    * groupBy key is (xxhash64, md5) of the text — 24 bytes shuffled
    * instead of documents, and the combined 192-bit key makes a
    * false merge vanishingly unlikely even at 10^10+ docs, where a
    * lone 64-bit hash hits birthday collisions. `min(id)` picks the
    * canonical row deterministically.
    *
    * NULL texts group together (SQL GROUP-BY-null semantics): all
    * null-text rows count as duplicates of one another. Filter nulls
    * upstream if they should instead be dropped or kept individually.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("text_hash"),
        md5(col(textCol).cast("binary")).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** NORMALIZED exact dedup — the C4/CCNet practice between d01's
    * byte-exact and d02's fuzzy: hash AFTER lowercasing, stripping
    * punctuation, and collapsing whitespace, so "Hello,  World!" and
    * "hello world" are the same document. Catches the enormous class
    * of near-dups that differ only in casing/punctuation/whitespace
    * (re-rendered pages, copy-paste mangling) at d01's one-shuffle
    * cost — no shingles, no bands. The normalization is an RE2-safe
    * regex pair ([^letters/digits/space] strip, whitespace collapse)
    * the oracle replays verbatim. Docs normalizing to EMPTY (pure
    * punctuation) still group — with each other, not with genuine
    * text. Output: (keep_id, n_dups) per normalized-identity class.
    */
  def normalizedExact(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val norm = normalized(col(textCol))
    df.groupBy(xxhash64(norm).as("text_hash"),
        md5(norm.cast("binary")).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** Streaming exact dedup: drop rows whose `textCol` hash was
    * already seen, with state bounded by the watermark (a duplicate
    * arriving later than `delay` after the original passes through —
    * the price of bounded state on an unbounded stream). The state
    * store holds 8-byte hashes, not documents.
    */
  def streamingExact(df: DataFrame, tsCol: String, textCol: String,
                     delay: String): DataFrame =
    df.withColumn("_text_hash", xxhash64(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("_text_hash")
      .drop("_text_hash")

  /** Streaming twin of [[normalizedExact]]: the SAME normalization
    * expression keys the watermark-bounded dedup state, so a
    * re-rendered/re-punctuated copy arriving on the live stream drops
    * exactly when the batch operator would have grouped it (parity
    * spec-pinned across micro-batches). State = 8-byte hashes of
    * normalized text, never documents.
    */
  def streamingNormalizedExact(df: DataFrame, tsCol: String,
                               textCol: String, delay: String): DataFrame =
    df.withColumn("_norm_hash", xxhash64(normalized(col(textCol))))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("_norm_hash")
      .drop("_norm_hash")

  /** The C4 normalization both exact-dedup rungs key on: lower-case,
    * strip everything but letters, digits and whitespace, collapse
    * whitespace runs, trim. */
  private def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(
      lower(text), "[^\\p{L}\\p{N}\\s]", ""), "\\s+", " "))

  /** Streaming NEAR-dup candidates: each arriving document computes
    * its MinHash signature row-locally (shingles → base hashes →
    * [[graft.functions.MinHashRow]], one fused pass), explodes into
    * LSH bands, and a per-(band, bucket) state cell remembers the
    * bucket's OWNER — the earliest document seen so far, by
    * (event time, then id). Arrivals emit a candidate pair against
    * the owner; when a smaller (ts, id) document arrives late, it
    * takes ownership and a (newOwner, oldOwner) pair links the two.
    * Same banding math as the batch path, so thresholds transfer.
    *
    * Determinism: the exact pair LIST depends on how the input splits
    * into micro-batches (append mode cannot retract pairs already
    * emitted against a superseded owner), but every emitted pair
    * connects documents of the same bucket and every non-owner is
    * connected to the owner chain — so the pairs always SPAN the same
    * bucket cluster, and downstream [[connectedComponents]] resolution
    * yields batching-independent components. Pair orientation
    * converges to the (min ts, min id) owner.
    *
    * State per bucket is ONE (id, ts, maxTs) — bounded further by the
    * event-time timeout (watermark + `delay`), after which the bucket
    * forgets. A pair can surface via several bands; callers dedupe
    * downstream if exact-once pairs matter.
    *
    * State schema v2 (ownerTs added): a checkpoint written by the
    * earlier (id, maxTs) version cannot be resumed — restart such a
    * query with a fresh checkpoint directory.
    */
  def streamingNearDupCandidates(df: DataFrame, idCol: String, textCol: String,
                                 tsCol: String, delay: String,
                                 shingleN: Int = 3, numHashes: Int = 16,
                                 bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // same fused shingle_hashes -> minhash_row pipeline and the same
    // band expression as the batch path, so batch and streaming band
    // hashes are interchangeable; docs with no shingles are dropped for
    // the same degenerate-bucket reason as in minHashLsh
    val banded = df
      .withColumn("_hs", graft.functions.ShingleHashes.of(col(textCol), shingleN))
      .filter(size(col("_hs")) > 0)
      .withColumn("_sig", graft.functions.MinHashRow.sig(col("_hs"), numHashes))
      .select(col(idCol).as("id"), col(tsCol).as("ts"),
        posexplode(bandHashes(col("_sig"), numHashes, bands)).as(Seq("band", "band_hash")))
      .withWatermark("ts", delay)

    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    banded.as[(Long, java.sql.Timestamp, Int, Long)]
      .groupByKey { case (_, _, band, bh) => (band, bh) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, Long), rows: Iterator[(Long, java.sql.Timestamp, Int, Long)],
         state: GroupState[(Long, Long, Long)]) => { // (ownerId, ownerTs, maxTs)
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // each id at its earliest ts in this batch, ordered (ts, id)
            val arrivals = rows.map(t => (t._2.getTime, t._1)).toSeq
            val ids = arrivals.groupBy(_._2)
              .map { case (id, ts) => (ts.map(_._1).min, id) }.toSeq.sorted
            val prev = state.getOption
            val (batchTs, batchId) = ids.head
            // owner = global min by (ts, id) across state + this batch
            val (ownerId, ownerTs) = prev match {
              case Some((oid, ots, _))
                if ots < batchTs || (ots == batchTs && oid <= batchId) => (oid, ots)
              case _ => (batchId, batchTs)
            }
            // timeout must be monotone: a late-but-valid row in this
            // batch must not pull an existing bucket's expiry earlier
            val maxTs = math.max(prev.map(_._3).getOrElse(0L), arrivals.map(_._1).max)
            state.update((ownerId, ownerTs, maxTs))
            state.setTimeoutTimestamp(maxTs, delay)
            // a superseded owner stays connected via (newOwner, oldOwner)
            val ownerChain = prev match {
              case Some((oid, _, _)) if oid != ownerId => Iterator((ownerId, oid))
              case _ => Iterator.empty
            }
            ownerChain ++ ids.iterator.map(_._2)
              .filter(_ != ownerId).map(id => (ownerId, id))
          }
        })
      .toDF("id1", "id2")
  }

  /** Connected components over an undirected pair list: every node
    * gets the MINIMUM id reachable from it as its component label —
    * the cluster-resolution step that turns near-dup PAIRS into
    * dedup groups. Ids are cast to long on BOTH paths so the output
    * schema (id long, component long) never depends on pair count.
    *
    * Candidate-pair graphs are orders of magnitude smaller than the
    * corpus, so up to `driverThreshold` pairs the components come from
    * a driver-side union-find with path compression (one collect of
    * (long, long) pairs — bounded, and far cheaper than 2 Spark jobs
    * per propagation round). Past the threshold the distributed
    * large-star/small-star alternation runs (the MapReduce CC
    * algorithm of Kiveris et al.): each round rewires every node's
    * larger neighbors (large-star) then its smaller ones (small-star)
    * to the neighborhood minimum, converging to min-rooted stars in
    * O(log n) rounds — INDEPENDENT of graph diameter, where min-label
    * propagation needs diameter-many rounds and a 100 TB chain of
    * near-dups (diameter in the millions) would never finish.
    * Non-convergence within `maxIter` throws rather than silently
    * returning partial labels (duplicates surviving dedup unnoticed
    * is worse than a loud failure). The distributed path returns a
    * PERSISTED DataFrame — unpersist it when done.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          driverThreshold: Long = 1L << 20,
                          onRound: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    val p = pairs.select(col("id1").cast("long").as("id1"),
      col("id2").cast("long").as("id2")).persist()
    try {
      val nPairs = p.count()
      if (nPairs <= driverThreshold) {
        val spark = pairs.sparkSession
        import spark.implicits._
        val es = p.as[(Long, Long)].collect()
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        es.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        return parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "component")
      }
      starComponents(p, maxIter, onRound)
    } finally p.unpersist()
  }

  /** Large-star/small-star alternation over edges kept oriented
    * (u > v). Each round:
    *  - large-star: for every node s, each strictly LARGER neighbor d
    *    is rewired to m = min(neighborhood(s) ∪ {s});
    *  - small-star: for every node u (now with all-smaller neighbors),
    *    u and each neighbor are rewired to the neighborhood minimum.
    * Both steps preserve connectivity and the u > v orientation, and
    * the edge set reaches its fixpoint — min-rooted stars — in
    * O(log n) rounds. Convergence is detected by an edge-set
    * fingerprint (count + XOR of edge hashes — order-independent and
    * overflow-free on distinct edges, unlike an ANSI-mode sum).
    */
  private def starComponents(p: DataFrame, maxIter: Int,
                             onRound: (Int, Long) => Unit): DataFrame = {
    // each round references the previous edge set several times, so the
    // logical plan DOUBLES per round — lineage must be cut, not just
    // cached, or the driver OOMs building the plan around round ~8.
    // localCheckpoint(eager) materializes and truncates; a cluster
    // deployment with executor churn would use reliable checkpointing
    // (setCheckpointDir + checkpoint) at the same spot.
    var e = p.filter(col("id1") =!= col("id2"))
      .select(greatest(col("id1"), col("id2")).as("u"),
        least(col("id1"), col("id2")).as("v"))
      .distinct().localCheckpoint(true)
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(col("u"), col("v")).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var cur = fingerprint(e)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // large-star over the symmetric view
      val sym = e.select(col("u").as("s"), col("v").as("d"))
        .unionAll(e.select(col("v").as("s"), col("u").as("d")))
      val mins = sym.groupBy("s").agg(min(col("d")).as("minD"))
        .select(col("s"), least(col("minD"), col("s")).as("m"))
      val ls = sym.join(mins, "s").filter(col("d") > col("s"))
        .select(col("d").as("u"), col("m").as("v")).distinct()
      // small-star: all neighbors of u are now smaller than u
      val sMins = ls.groupBy("u").agg(min(col("v")).as("m"))
      val withMin = ls.join(sMins, "u")
      val next = withMin.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(withMin.select(col("u"), col("m").as("v")))
        .distinct().localCheckpoint(true) // eager: safe to drop e below
      val nextFp = fingerprint(next)
      // the fingerprint (count + XOR) could in principle collide across
      // different edge sets; confirm the claimed fixpoint with one exact
      // anti-join — counts already match, so empty anti-join = set
      // equality. Runs once, at convergence.
      converged = nextFp == cur &&
        next.join(e, Seq("u", "v"), "left_anti").isEmpty
      cur = nextFp
      e.unpersist()
      e = next
      iter += 1
      // observer hook (r17): lets a scale probe RECORD the O(log n)
      // alternation (round index, edge count) without production
      // logging in the operator
      onRound(iter, nextFp._1)
    }
    if (!converged) {
      e.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter star rounds; " +
          "raise maxIter")
    }
    // fixpoint edges are stars (node -> component min); roots label themselves
    val labels = e.groupBy(col("u").as("id")).agg(min(col("v")).as("component"))
      .unionAll(e.select(col("v").as("id"), col("v").as("component")).distinct())
      .groupBy("id").agg(min(col("component")).as("component"))
      .persist()
    labels.count() // materialize before releasing the edge cache
    e.unpersist()
    labels
  }

  /** Every row of `df` labeled with its near-dup component (rows in no
    * pair label themselves). The shared core of resolveKeepers and the
    * d06 resolution query.
    */
  def components(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs)
    df.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
  }

  /** INCREMENTAL component resolution — the append-mode d06, closing
    * the corpus-append trilogy (d25 signature store finds a new
    * batch's candidate matches, d26 sketch stores fold its stats,
    * this folds its EDGES into yesterday's component labeling without
    * re-running CC over history): new pairs' endpoints CONTRACT
    * through the store (an old id stands in as its component rep, a
    * new id as itself), [[connectedComponents]] runs on that
    * contracted graph — proportional to the NEW edges, not the
    * corpus — and the store re-points only where components merged.
    *
    * Exactness: an old rep is the MIN of its cluster and new ids are
    * themselves, so the contracted CC's min-label is the true min of
    * every merged cluster — the result equals one-shot CC over all
    * ids and all pairs ever seen (the d27 oracle computes exactly
    * that; spec pins a chain bridging two old components through a
    * new doc). Pairs may touch old ids (the d25 match output) or be
    * new-new; untouched components and unpaired new ids keep their
    * labels.
    *
    * Output: the UNIFIED (id, component) store over old ∪ new — the
    * next run's input.
    */
  def incrementalComponents(store: DataFrame, newIds: DataFrame,
                            idCol: String, pairs: DataFrame): DataFrame = {
    val lab1 = store.select(col("id").as("id1"), col("component").as("_c1"))
    val lab2 = store.select(col("id").as("id2"), col("component").as("_c2"))
    val contracted = pairs
      .join(lab1, Seq("id1"), "left")
      .join(lab2, Seq("id2"), "left")
      .select(coalesce(col("_c1"), col("id1")).as("id1"),
        coalesce(col("_c2"), col("id2")).as("id2"))
    val cc = connectedComponents(contracted).persist()
    val merged = cc.select(col("id").as("_rep"), col("component").as("_mc"))
    val oldResolved = store
      .join(merged, store("component") === merged("_rep"), "left")
      .select(col("id"), coalesce(col("_mc"), col("component")).as("component"))
    // an id present in BOTH the store and the new batch (a re-sent
    // doc) keeps its store row only — without the anti join it would
    // emit twice and a later run reading the output as a store would
    // see duplicate labels
    val newResolved = newIds
      .select(col(idCol).cast("long").as("id"))
      .join(store.select(col("id")), Seq("id"), "left_anti")
      .join(merged.withColumnRenamed("_rep", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("_mc"), col("id")).as("component"))
    Caching.sealOver(oldResolved.unionByName(newResolved), cc)
  }

  /** Dedup REPORT CARD — the per-source duplication drift view a
    * curation run gates between stages (the t29 rule applied to
    * dedup): every doc labels with its near-dup component and the
    * component's size, then one source-keyed aggregate reports how
    * much of each source is duplicated text, how many clusters it
    * participates in, and its largest cluster. A source whose
    * dup_rate jumps between crawls is the classic mirror/SEO-farm
    * signal; a giant max_cluster is boilerplate. Components may span
    * sources, so a doc's "duplicated" verdict is corpus-global —
    * per-source numbers attribute it to where the docs live.
    *
    * Shape at scale: component resolution is the d06 machinery; the
    * size attach is one component-keyed aggregate + join (components
    * are near-dup clusters, orders of magnitude smaller than the
    * corpus); the report is one aggregate over |sources| groups.
    * Output: (source, n_docs, n_dup_docs, dup_rate, n_clusters,
    * max_cluster).
    */
  def dedupReport(df: DataFrame, idCol: String, sourceCol: String,
                  pairs: DataFrame): DataFrame = {
    val comps = components(df.select(col(idCol), col(sourceCol)), idCol, pairs)
    val sizes = comps.groupBy(col("component")).agg(count(lit(1)).as("_csz"))
    comps.join(sizes, "component")
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("_csz") > 1, 1L).otherwise(0L)).cast("long").as("n_dup_docs"),
        countDistinct(when(col("_csz") > 1, col("component"))).cast("long")
          .as("n_clusters"),
        max(col("_csz")).cast("long").as("max_cluster"))
      .withColumn("dup_rate", round(
        col("n_dup_docs").cast("double") / col("n_docs").cast("double"), 6))
      .select(col(sourceCol), col("n_docs"), col("n_dup_docs"),
        col("dup_rate"), col("n_clusters"), col("max_cluster"))
  }

  /** SNAPSHOT DIFF between two corpus versions — the churn gate a
    * curation pipeline runs between crawls (alongside [[dedupReport]]'s
    * duplication drift): every id classifies as added (new only),
    * removed (old only), changed (both sides, content digest differs),
    * or unchanged, then one source-keyed rollup reports the churn. A
    * source whose churn_rate spikes between snapshots is the classic
    * re-crawl / template-change / pipeline-bug signal — and the
    * per-status counts are exactly what an INCREMENTAL re-curation
    * (63's dynamic partition overwrite) needs to size its work.
    *
    * Shape at scale: content collapses to a 16-byte md5 digest BEFORE
    * the join, so the full-outer id join — the only wide op — carries
    * (id, digest, source)-class rows, never text; with both snapshots
    * bucketed by id (47) it is shuffle-free. The rollup is one
    * aggregate over |sources| groups. A doc's source attributes to the
    * NEW side when present (renames follow the live corpus), the old
    * side for removals.
    *
    * Output: (source, n_added, n_removed, n_changed, n_unchanged,
    * churn_rate) — churn = (added + removed + changed) / all rows the
    * source touched in either snapshot.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String, sourceCol: String): DataFrame = {
    // presence is a flag per side, NOT digest nullability: a NULL text
    // yields a NULL md5, and a digest-null test would misclassify an id
    // present on both sides as added/removed. Digests compare
    // null-safely (<=>) so null-vs-null is unchanged, null-vs-text
    // changed.
    def digests(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol).cast("long").as("id"),
        md5(col(textCol)).as(s"_h$side"), col(sourceCol).as(s"_s$side"),
        lit(true).as(s"_p$side"))
    val joined = digests(oldDf, "o")
      .join(digests(newDf, "n"), Seq("id"), "full_outer")
      .withColumn("status",
        when(col("_po").isNull, lit("added"))
          .when(col("_pn").isNull, lit("removed"))
          .when(!(col("_ho") <=> col("_hn")), lit("changed"))
          .otherwise(lit("unchanged")))
      .withColumn("source", coalesce(col("_sn"), col("_so")))
    joined.groupBy(col("source"))
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).cast("long").as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).cast("long").as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).cast("long").as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).cast("long").as("n_unchanged"),
        count(lit(1)).cast("long").as("_n"))
      .withColumn("churn_rate", round(
        (col("n_added") + col("n_removed") + col("n_changed")).cast("double") /
          col("_n").cast("double"), 6))
      .select(col("source"), col("n_added"), col("n_removed"),
        col("n_changed"), col("n_unchanged"), col("churn_rate"))
  }

  /** Materialize the deduplicated corpus: keep exactly one row (the
    * minimum id) per near-dup component; rows in no pair keep
    * themselves.
    */
  def resolveKeepers(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    components(df, idCol, pairs).filter(col(idCol) === col("component"))

  /** Materialize the deduplicated corpus keeping the BEST row per
    * near-dup component — ranked by `scoreCol` descending, ties to the
    * smallest id — rather than the arbitrary minimum id. This is the
    * resolution a training-data pipeline actually wants: among near
    * duplicates, keep the highest-quality copy. One window over the
    * component (shuffle on component, skew-free: components are near-dup
    * clusters, orders of magnitude smaller than the corpus).
    */
  def resolveKeepBest(df: DataFrame, idCol: String, scoreCol: String,
                      pairs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol))
    components(df, idCol, pairs)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .drop("_rk")
  }

  /** Soft dedup (the reweighting alternative to dropping — SoftDeDup,
    * He et al. 2024): every member of a near-dup component keeps its
    * row but trains with weight 1/|component|, so the cluster
    * contributes one document's worth of mass in total while
    * coverage (the copies' small diffs) survives. Rows in no pair are
    * singletons at weight 1.
    *
    * Shape at scale: [[components]] plus ONE count window partitioned
    * by component — a single shuffle on component ids, no size join
    * and no second consumer of the components frame (the earlier
    * groupBy-sizes + join-back evaluated `components` twice per the
    * two-consumer rule). Component partitions are near-dup clusters,
    * orders of magnitude smaller and flatter than the corpus, so the
    * window never concentrates; the weight is a round-6 of an exact
    * small-integer ratio, so the op stays oracle-exact.
    * Output: input id + (component, cluster_size, weight).
    */
  def softDedupWeights(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
    components(df, idCol, pairs)
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("weight",
        round(lit(1.0) / col("cluster_size").cast("double"), 6))
  }

  /** Word n-gram shingles as a distinct exploded (id, shingle) table.
    * lower+split is the normalization the verification side must
    * mirror exactly.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shinglesRaw(df, idCol, textCol, n).distinct()

  /** Multiset variant (no distinct shuffle) — enough for MinHash
    * signatures, whose element-wise min ignores duplicates.
    */
  def shinglesRaw(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    if (n == 1)
      df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("shingle"))
    else
      df.withColumn("_toks", tokens(col(textCol)))
        .filter(size(col("_toks")) >= n)
        .select(col(idCol).as("id"), explode(shingleArray(col("_toks"), n)).as("shingle"))

  /** A text's word tokens: lower-cased and split on whitespace runs.
    * Leading or trailing whitespace yields an empty token, and it is
    * kept: an empty or blank text is the one-shingle set {""}. */
  private def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** The shingle definition of [[shinglesRaw]] and of the stream
    * twin's row-local signature: the tokens themselves at n = 1, else
    * the sliding n-grams of the compiled shingle_strings expression
    * (the combinator form, transform + slice + concat_ws, runs
    * interpreted per gram; gram strings are byte-identical either
    * way). Repeats are kept. */
  private def shingleArray(toks: Column, n: Int): Column =
    if (n == 1) toks else graft.functions.ShingleStrings.of(toks, n)

  /** Signature stage of the portable chain: k=8 md5 MinHash
    * components, sig_i = min over the doc's shingles of
    * unhex(md5("i:shingle")), as (id, i, sig) from (id, shingle).
    * Internal digests are the 16-byte unhex'd form: Spark's BinaryType
    * min is unsigned-byte-ordered and lowercase hex is
    * order-isomorphic to it, so min(unhex(x)) == unhex(min(x)) and
    * every decision is bitwise the hex chain's (the one an oracle
    * replays), at half the shuffle width. */
  private[graft] def portableSigs(sh: DataFrame): DataFrame = sh
    .select(col("id"), explode(sequence(lit(0), lit(7))).as("i"), col("shingle"))
    .groupBy("id", "i")
    .agg(min(unhex(md5(concat(col("i"), lit(":"), col("shingle"))))).as("sig"))

  /** Bucket keys of the portable chain: 4 bands of r=2 over the k=8
    * components, bkey = unhex(md5(sig_2b ++ sig_2b+1)), as
    * (id, band, bkey). */
  private[graft] def portableBands(sigs: DataFrame): DataFrame = sigs
    .groupBy(col("id"), expr("i div 2").as("band"))
    .agg(unhex(md5(concat(
      min(when(col("i") % 2 === 0, col("sig"))),
      min(when(col("i") % 2 === 1, col("sig")))))).as("bkey"))

  /** Bucket keys of the fused MinHash chain: `bands` xxhash64 band
    * hashes over consecutive rows of a `numHashes`-long signature
    * array. [[minHashLsh]] and [[streamingNearDupCandidates]] both
    * band through it, so their bucket keys are interchangeable. */
  private def bandHashes(sig: Column, numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    array((0 until bands).map { b =>
      xxhash64((b * r until (b + 1) * r).map(i => element_at(sig, i + 1)): _*)
    }: _*)
  }

  /** Bucket stage: every pair of an `a` row and a `b` row that agree
    * on all `keys` (a band and its bucket key), once. A `self` join
    * pairs a frame with itself and keeps a.id < b.id only. `out`
    * selects the pair through the `a.`/`b.` qualifiers; payload
    * columns (a signature, fingerprint chunks) ride along in it, so
    * the verify needs no join back. */
  private[graft] def bucketPairs(a: DataFrame, b: DataFrame, keys: Seq[String],
                                 self: Boolean,
                                 out: Seq[Column] = Seq(col("a.id").as("id1"),
                                   col("b.id").as("id2"))): DataFrame = {
    val same = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    a.as("a").join(b.as("b"), if (self) same && col("a.id") < col("b.id") else same)
      .select(out: _*)
      .distinct()
  }

  /** Jaccard ratio from an intersection count and the two set sizes. */
  private def jaccard(inter: Column, sz1: Column, sz2: Column): Column =
    inter.cast("double") / (sz1 + sz2 - inter).cast("double")

  /** Per-id set size (id, sz) of an (id, element) table. */
  private def setSizes(sh: DataFrame): DataFrame =
    sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))

  /** (id, tok) 16-byte shingle digests: joins on them agree with a
    * shingle-keyed join absent an md5 collision, which the signature
    * stages already presuppose. */
  private def digests(sh: DataFrame): DataFrame =
    sh.select(col("id"), unhex(md5(col("shingle"))).as("tok"))

  /** Verify stage: exact Jaccard of the candidate pairs (id1, id2)
    * only. `d1`/`d2` are each side's (id, tok) element digests and
    * `sz1`/`sz2` its (id, sz) set sizes; the intersection is a
    * digest-equality count over candidate docs' elements. Output:
    * (id1, id2, jaccard) at or above `tau`, jaccard rounded to 6dp
    * after the cut. */
  private def verifyJaccard(cand: DataFrame, d1: DataFrame, sz1: DataFrame,
                            d2: DataFrame, sz2: DataFrame, tau: Double): DataFrame =
    cand
      .join(d1.select(col("id").as("id1"), col("tok").as("s1")), "id1")
      .join(d2.select(col("id").as("id2"), col("tok").as("s2")), "id2")
      .filter(col("s1") === col("s2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n"))
      .join(sz1.select(col("id").as("id1"), col("sz").as("sz1")), "id1")
      .join(sz2.select(col("id").as("id2"), col("sz").as("sz2")), "id2")
      .withColumn("jaccard", jaccard(col("n"), col("sz1"), col("sz2")))
      .filter(col("jaccard") >= tau)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))

  /** Verify stage of the signature store: per candidate pair (`l`,
    * `r`), how many of the k=8 portable components of `lSigs` and
    * `rSigs` agree, as `matches` — E[matches/8] = J, the MinHash
    * unbiased estimator. Touches candidate pairs only, 8 rows each. */
  private[graft] def sigMatches(cand: DataFrame, l: String, lSigs: DataFrame,
                                r: String, rSigs: DataFrame): DataFrame =
    cand
      .join(lSigs.select(col("id").as(l), col("i"), col("sig").as("_s1")), l)
      .join(rSigs.select(col("id").as(r), col("i"), col("sig").as("_s2")), Seq(r, "i"))
      .groupBy(l, r)
      .agg(sum(when(col("_s1") === col("_s2"), 1L).otherwise(0L)).as("matches"))

  /** The portable MinHash chain, end to end: [[shingles]] →
    * [[portableSigs]] → [[portableBands]] → [[bucketPairs]] →
    * [[verifyJaccard]] over shingle digests. `b = None` is the self
    * form (d11: pairs within `a`, id1 < id2, one shingle frame for
    * both sides); `Some(b)` pairs `a` rows with `b` rows only (d14).
    * The md5 family keeps every stage oracle-expressible. Output:
    * (id1, id2, jaccard) at or above `tau`.
    */
  private[graft] def portableNearDup(a: DataFrame, b: Option[DataFrame],
                                     idCol: String, textCol: String,
                                     shingleN: Int, tau: Double): DataFrame = {
    def side(df: DataFrame) = {
      val sh = shingles(df, idCol, textCol, shingleN)
      (sh, portableBands(portableSigs(sh)), setSizes(sh))
    }
    val (shA, bandsA, szA) = side(a)
    val (shB, bandsB, szB) = b.fold((shA, bandsA, szA))(side)
    verifyJaccard(bucketPairs(bandsA, bandsB, Seq("band", "bkey"), self = b.isEmpty),
      digests(shA), szA, digests(shB), szB, tau)
  }

  /** Cross-corpus near-dedup: flag INCOMING documents that are near
    * duplicates of any EXISTING document — the "dedupe the new crawl
    * against everything already in the training set" step, where a
    * self-join is the wrong shape because existing-vs-existing pairs
    * are not wanted.
    *
    * The portable MinHash chain ([[portableNearDup]]: k=8 md5
    * signatures, 4 bands of r=2) with an incoming × existing band
    * join: candidates form only where a band bucket holds docs from
    * BOTH corpora, then the exact jaccard verifies candidates only.
    *
    * At 100 TB: each side shuffles (id, band, bkey) triples — the
    * bkey a 16-byte unhex'd digest, never text; the verify join
    * touches candidate pairs only, keyed on shingle digests (16
    * bytes) rather than shingle strings. Output: (doc_id, matched_id,
    * jaccard) for every incoming doc × existing doc pair at or above
    * `minJaccard` — no binary surfaces, so the DuckDB twin runs the
    * hex chain unchanged.
    */
  def crossNearDupPortable(incoming: DataFrame, existing: DataFrame,
                           idCol: String, textCol: String,
                           shingleN: Int = 3,
                           minJaccard: Double = 0.5): DataFrame =
    portableNearDup(incoming, Some(existing), idCol, textCol, shingleN, minJaccard)
      .toDF("doc_id", "matched_id", "jaccard")

  /** EDIT-DISTANCE-verified near-dup pairs — the fuzzy-dedup rung for
    * SHORT documents where shingle Jaccard is coarse (titles, queries,
    * code lines: one edit flips 3 of a 10-shingle set, but the edit
    * RATIO stays 0.97): candidates come from the d11 portable
    * MinHash+LSH banding (never all pairs), the verify is Levenshtein
    * similarity 1 − lev/max(len) over the first `clipChars`
    * characters of each side. The clip bounds the O(len²) DP row-local
    * cost at corpus scale — the standard fuzzy-dedup approximation,
    * applied identically in the oracle (substr both sides), so the
    * output is still hash-exact.
    *
    * Shape at scale: one shingle explode → one (id, i) signature
    * aggregate → one band self-join (candidate-only, the d02/d11
    * maxBucket story applies) → the clipped texts join back by id and
    * the DP runs once per CANDIDATE pair. Output: (id1, id2, lev,
    * edit_sim) for pairs at or above `minSim`.
    */
  def editVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, minSim: Double = 0.8,
                        clipChars: Int = 256): DataFrame = {
    require(minSim > 0 && minSim <= 1,
      s"editVerifiedPairs: minSim $minSim must be in (0,1]")
    require(clipChars >= 1, s"editVerifiedPairs: clipChars $clipChars must be >= 1")
    val bands = portableBands(portableSigs(shingles(docs, idCol, textCol, shingleN)))
    val cand = bucketPairs(bands, bands, Seq("band", "bkey"), self = true)
    val clipped = docs.select(col(idCol).as("id"),
      substring(col(textCol), 1, clipChars).as("_t"))
    val sim = lit(1.0) - col("lev").cast("double") /
      greatest(length(col("_t1")), length(col("_t2")), lit(1)).cast("double")
    cand
      .join(clipped.select(col("id").as("id1"), col("_t").as("_t1")), "id1")
      .join(clipped.select(col("id").as("id2"), col("_t").as("_t2")), "id2")
      .withColumn("lev", levenshtein(col("_t1"), col("_t2")).cast("long"))
      .withColumn("edit_sim", round(sim, 6))
      .filter(col("edit_sim") >= minSim)
      .select(col("id1"), col("id2"), col("lev"), col("edit_sim"))
  }

  /** The "write" half of signature-store dedup: k=8 portable md5
    * MinHash signatures ([[portableSigs]]), one (id, i, sig) row per
    * component — the ~130-bytes-per-doc artifact a corpus append
    * workflow PERSISTS so later batches dedup against it without ever
    * re-reading (or even retaining) the old text. Same family as
    * d11/d14, so the store is oracle-expressible and any consumer
    * built on those chains can share it. Internal representation is
    * the 16-byte unhex'd digest; write it out as-is, parquet binary.
    */
  def portableSignatureStore(df: DataFrame, idCol: String, textCol: String,
                             shingleN: Int = 3): DataFrame =
    portableSigs(shingles(df, idCol, textCol, shingleN))

  /** The "read" half: near-dedup INCOMING documents against a
    * [[portableSignatureStore]] with NO access to the stored corpus's
    * text — the realistic 100 TB append shape, where yesterday's
    * petabytes are cold and only their signatures stay hot.
    *
    * Candidates form where a band bucket (4 bands of r=2 over the k=8
    * components, the d11/d14 banding) holds an incoming doc and a
    * stored doc; similarity is then ESTIMATED as the fraction of
    * matching signature components ([[sigMatches]]) because exact
    * verification would need the cold text. `minMatches` of k=8 gates
    * the output (default 4 ≈ J 0.5); banding guarantees any pair with
    * 2 adjacent matching components in one band surfaces, and the
    * estimate is exact arithmetic on the stored digests, so the whole
    * chain is oracle-expressible. Output: (doc_id, matched_id,
    * matches, est_jaccard).
    *
    * At scale: incoming side pays one shingle explode + one (id, i)
    * aggregate; the store contributes 9 rows per stored doc (8 sigs
    * + derived bands) with NO text column anywhere in the plan; the
    * band join keys on 16-byte digests; the component-match join
    * touches candidate pairs only, 8 rows each.
    */
  def sigStoreDedup(store: DataFrame, incoming: DataFrame,
                    idCol: String, textCol: String,
                    shingleN: Int = 3, minMatches: Int = 4): DataFrame = {
    require(minMatches >= 1 && minMatches <= 8,
      s"sigStoreDedup: minMatches $minMatches not in [1,8]")
    val sigIn = portableSignatureStore(incoming, idCol, textCol, shingleN)
      .persist() // band derivation + component-match verify
    val cand = bucketPairs(portableBands(sigIn), portableBands(store),
      Seq("band", "bkey"), self = false,
      Seq(col("a.id").as("doc_id"), col("b.id").as("matched_id")))
    Caching.sealOver(
      sigMatches(cand, "doc_id", sigIn, "matched_id", store)
        .filter(col("matches") >= minMatches)
        .withColumn("est_jaccard", round(col("matches") / lit(8.0d), 6)),
      sigIn)
  }

  /** STREAMING twin of [[sigStoreDedup]]: dedup a live document
    * stream against a static [[portableSignatureStore]] with ZERO
    * streaming state — no watermark, no aggregation, no dropDuplicates.
    *
    * The trick is that a doc's whole signature is ROW-LOCAL: sig_i =
    * array_min over its shingle array of md5(i:shingle) — the same
    * values the batch store aggregates over the same shingles
    * ([[shingleArray]]), computed inside one projection. Bands derive
    * row-locally too, posexplode to 4 (band, bkey) rows, and the ONLY
    * wide op is a stream-static equi-join against the store's band
    * table. A pair that collides in several bands would surface once
    * per band; instead of a stateful distinct, each joined row carries
    * BOTH band arrays and keeps itself only if its band index is the
    * FIRST index where the two arrays agree — a row-local tie-break
    * that emits each pair exactly once. Match counting is a zip_with
    * over the two sig arrays. Works identically on a batch frame (it
    * is the same plan minus the micro-batch driver), which is what the
    * parity spec pins.
    *
    * State at 100 TB: none on the stream; the static side is the
    * ~130-bytes/doc store, shuffled once per micro-batch by the join
    * (broadcast it if it fits; Spark replans the static side per
    * batch). Output: (doc_id, matched_id, matches, est_jaccard),
    * append-mode safe.
    */
  def sigStoreDedupStream(store: DataFrame, stream: DataFrame,
                          idCol: String, textCol: String,
                          shingleN: Int = 3, minMatches: Int = 4): DataFrame = {
    require(minMatches >= 1 && minMatches <= 8,
      s"sigStoreDedupStream: minMatches $minMatches not in [1,8]")
    def bandsOf(sigs: String): Column = expr(
      s"""transform(sequence(0, 3),
           b -> md5(concat(element_at($sigs, 2*b + 1), element_at($sigs, 2*b + 2))))""")
    // static side: one row per stored doc with its sig + band arrays
    val storeDocs = store.groupBy(col("id"))
      .agg(expr("transform(array_sort(collect_list(struct(i, sig))), x -> x.sig)")
        .as("_ssigs"))
      .withColumn("_sbands", bandsOf("_ssigs"))
    val storeBands = storeDocs.select(col("id").as("matched_id"),
      col("_ssigs"), col("_sbands"),
      posexplode(col("_sbands")).as(Seq("_b", "_bkey")))
    // stream side: fully row-local signature + bands
    val sigExprs = (0 until 8).map(i =>
      array_min(transform(col("_sh"), s => unhex(md5(concat(lit(i + ":"), s))))))
    val streamed = stream
      .filter(col(idCol).isNotNull)
      .withColumn("_sh", array_distinct(shingleArray(tokens(col(textCol)), shingleN)))
      .filter(size(col("_sh")) > 0)
      .withColumn("_sigs", array(sigExprs: _*))
      .withColumn("_bands", bandsOf("_sigs"))
      .select(col(idCol).as("doc_id"), col("_sigs"), col("_bands"),
        posexplode(col("_bands")).as(Seq("_qb", "_qkey")))
    streamed.join(storeBands,
        col("_qb") === col("_b") && col("_qkey") === col("_bkey"))
      // emit each pair once: only the FIRST band index where the two
      // band arrays agree owns the pair (row-local, no distinct state)
      .filter(col("_qb") === expr(
        "element_at(filter(sequence(0, 3), b -> element_at(_bands, b + 1) = element_at(_sbands, b + 1)), 1)"))
      .withColumn("matches", expr(
        "aggregate(zip_with(_sigs, _ssigs, (a, b) -> IF(a = b, 1L, 0L)), 0L, (acc, x) -> acc + x)"))
      .filter(col("matches") >= minMatches)
      .select(col("doc_id"), col("matched_id"), col("matches"),
        round(col("matches") / lit(8.0d), 6).as("est_jaccard"))
  }

  /** Candidate pairs from LSH buckets (id1 < id2, distinct). The
    * band table is persisted: the self-join would otherwise recompute
    * the whole shingle→signature DAG for each side.
    *
    * `maxBucket` drops buckets holding more than that many docs
    * BEFORE the self-join — a degenerate bucket (boilerplate shingles
    * hashing together) contributes O(bucket²) pairs and ~zero signal;
    * at 100 TB this cap is what keeps the join near-linear. Pairs that
    * genuinely agree will share one of their other b-1 bands.
    */
  def lshCandidates(bandsDf: DataFrame, maxBucket: Option[Int] = None): DataFrame = {
    val pruned = maxBucket match {
      case Some(m) =>
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_hash"))
        bandsDf.withColumn("_bsz", count(lit(1)).over(wb))
          .filter(col("_bsz") <= m).drop("_bsz")
      case None => bandsDf
    }
    val bands = pruned.persist()
    // sealed: the candidate set (tiny, the whole point of LSH) comes
    // back materialized and the band-table cache block is released
    Caching.sealOver(bucketPairs(bands, bands, Seq("band", "band_hash"), self = true), bands)
  }

  /** Shared overlap core of [[jaccardPairs]] and [[containmentPairs]]:
    * one shuffle on the shingle, yielding (id1, id2, inter, sz1, sz2)
    * for every pair with at least one shared shingle. Persists the
    * shingle table for its three uses within the plan (cleared by the
    * caller's session lifecycle).
    */
  private def pairOverlaps(shDf: DataFrame)(finish: DataFrame => DataFrame): DataFrame = {
    // the self-join shuffles on the shingle DIGEST (16 bytes), not
    // the variable-length shingle string; intersection counts agree
    // with a string-keyed join absent an md5 collision (~2^-128/pair)
    val sh = shDf.withColumn("shingle", unhex(md5(col("shingle"))))
      .persist() // used three times: sizes + both join sides
    val sizes = setSizes(sh)
    val overlaps = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "sz1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "sz2"), "id2")
    // `finish` applies the caller's threshold BEFORE sealing, so only
    // the small post-filter pair set materializes
    Caching.sealOver(finish(overlaps), sh)
  }

  /** LSH PARAMETER PLANNER (the b×r decision every banded-MinHash
    * deployment makes before a 100 TB run: d34 grades ONE trained
    * signature scheme against truth; this compares ACROSS schemes
    * analytically): for each (bands, rows) split of the permutation
    * budget, the S-curve P(candidate | s) = 1 − (1 − s^r)^b evaluated
    * at every observed pair's EXACT jaccard yields the scheme's
    * expected candidate mass, expected recall at the tau cut, and
    * expected false-positive mass — the three numbers that pick the
    * operating point.
    *
    * Exactness: s is ONE pinned division of exact counts; the powers
    * are LEFT-ASSOCIATIVE repeated multiplication (an identical IEEE
    * chain on both engine sides — never libm pow, whose last ulp is
    * implementation-defined); the tau cut compares scaled integers
    * (tauDen·inter ≥ tauNum·union); per-pair terms round to 6dp and
    * fold through DECIMAL(24,8) (the t13/s23 discipline).
    *
    * Shape at scale: the pair frame is the d04 truth chain — a
    * PLANNING query over a bounded sample corpus by contract (the
    * production dedup never runs all-pairs); the (b, r) axis is
    * |splits| broadcast rows.
    * Output: (bands, rows_per_band, n_pairs, n_true, exp_candidates,
    * exp_recall_at_tau, exp_fp), ordered by rows_per_band.
    */
  def lshPlan(shDf: DataFrame, tauNum: Int, tauDen: Int,
              splits: Seq[(Int, Int)]): DataFrame = {
    require(tauNum >= 0 && tauDen >= 1, s"lshPlan: bad tau $tauNum/$tauDen")
    require(splits.nonEmpty && splits.forall { case (b, r) => b >= 1 && r >= 1 },
      "lshPlan: (bands, rows) splits must be >= 1")
    // left-associative x*x*...*x (n factors) — the pinned power chain
    def chain(c: Column, n: Int): Column =
      (2 to n).foldLeft(c)((acc, _) => acc * c)
    def powCase(base: Column, sel: Column, ns: Seq[Int]): Column =
      ns.distinct.sorted.foldLeft(lit(null).cast("double")) {
        case (acc, n) => when(sel === n, chain(base, n)).otherwise(acc)
      }
    pairOverlaps(shDf) { ov =>
      val spark = ov.sparkSession
      import spark.implicits._
      val br = broadcast(splits.map { case (b, r) => (b.toLong, r.toLong) }
        .toDF("bands", "rows_per_band"))
      val union = col("sz1") + col("sz2") - col("inter")
      val withP = ov.crossJoin(br)
        .withColumn("_s", jaccard(col("inter"), col("sz1"), col("sz2")))
        .withColumn("_true",
          col("inter") * lit(tauDen.toLong) >= union * lit(tauNum.toLong))
        .withColumn("_sr",
          powCase(col("_s"), col("rows_per_band"), splits.map(_._2)))
        .withColumn("_q", lit(1.0) - col("_sr"))
        .withColumn("_qb", powCase(col("_q"), col("bands"), splits.map(_._1)))
        .withColumn("_p6", round(lit(1.0) - col("_qb"), 6))
      withP.groupBy(col("bands"), col("rows_per_band"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("_true"), 1L).otherwise(0L)).as("n_true"),
          round(sum(col("_p6").cast("decimal(24,8)")).cast("double"), 6)
            .as("exp_candidates"),
          when(sum(when(col("_true"), 1L).otherwise(0L)) > 0L,
            round(sum(when(col("_true"), col("_p6")).cast("decimal(24,8)"))
              .cast("double")
              / sum(when(col("_true"), 1L).otherwise(0L)).cast("double"), 6))
            .as("exp_recall_at_tau"),
          round(coalesce(
            sum(when(!col("_true"), col("_p6")).cast("decimal(24,8)"))
              .cast("double"), lit(0.0)), 6).as("exp_fp"))
        .orderBy("rows_per_band")
    }
  }

  /** Exact Jaccard for every pair of docs that shares >= 1 shingle,
    * computed distributively: join on shingle -> count intersections,
    * join per-doc sizes -> |A|+|B|-|∩|. Restrict `sh` (e.g. to LSH
    * candidates or a partition key) before calling at scale.
    */
  def jaccardPairs(shDf: DataFrame, minJaccard: Double): DataFrame =
    pairOverlaps(shDf)(_
      .withColumn("jaccard", jaccard(col("inter"), col("sz1"), col("sz2")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard")))

  /** Threshold SWEEP over ONE overlap computation (r19): a savings
    * curve (d37) evaluates several taus over the same corpus, and each
    * independent [[jaccardPairs]] call re-ran the whole shingle
    * self-join — the sweep seals the UNROUNDED-jaccard pair frame once
    * at the lowest tau and every tau filters it. Pair membership per
    * tau is identical to an independent jaccardPairs(shDf, tau) call:
    * the filter compares the same unrounded division, and the emitted
    * jaccard column rounds only after the cut. */
  def jaccardPairsSweep(shDf: DataFrame,
                        taus: Seq[Double]): Seq[(Double, DataFrame)] = {
    require(taus.nonEmpty, "jaccardPairsSweep: empty tau list")
    val all = pairOverlaps(shDf)(_
      .withColumn("_jraw", jaccard(col("inter"), col("sz1"), col("sz2")))
      .filter(col("_jraw") >= taus.min)
      .select(col("id1"), col("id2"), col("_jraw")))
    taus.map(tau => tau -> all.filter(col("_jraw") >= tau)
      .select(col("id1"), col("id2"), round(col("_jraw"), 6).as("jaccard")))
  }

  /** Containment pairs: max(|A∩B|/|A|, |A∩B|/|B|) >= minContainment.
    * Catches the ASYMMETRIC duplicates jaccard misses — a short
    * document wholly quoted inside a long boilerplate wrapper has low
    * jaccard (union is large) but containment ~1.0 from the short
    * side. Same single shuffle-on-shingle shape as [[jaccardPairs]].
    */
  def containmentPairs(shDf: DataFrame, minContainment: Double): DataFrame =
    pairOverlaps(shDf)(_
      .withColumn("containment",
        greatest(col("inter").cast("double") / col("sz1").cast("double"),
          col("inter").cast("double") / col("sz2").cast("double")))
      .filter(col("containment") >= minContainment)
      .select(col("id1"), col("id2"), round(col("containment"), 6).as("containment")))

  /** EXACT all-pairs Jaccard similarity join via prefix filtering
    * (Chaudhuri et al. 2006 SSJoin; Bayardo et al. 2007 AllPairs /
    * PPJoin family): every pair of documents whose distinct-token
    * sets have Jaccard >= tau, recall 1.0 by construction — the
    * exact rung of the dedup ladder between d01 (identity) and the
    * d02/d11 LSH approximations, for when a miss is not acceptable.
    *
    * Prefix-filter lemma: order every token set by ONE global total
    * order — document frequency ascending (rarest first), token as
    * tiebreak. J(x,y) >= tau implies |x∩y| >= ceil(tau·max(|x|,|y|))
    * (union >= max, intersection is an integer), and two sets with
    * overlap >= a must share an element within each one's first
    * |·| − a + 1 tokens under the shared order. With
    * a = ceil(tau·max) >= ceil(tau·|x|), the length
    * p(x) = |x| − ceil(tau·|x|) + 1 prefix suffices for BOTH sides,
    * so joining prefixes on a shared token yields a candidate
    * SUPERSET; the exact-jaccard verify then touches candidates only.
    * The size filter tau·|x| <= |y| <= |x|/tau (also implied by
    * J >= tau) prunes cross-size candidates before the verify join.
    *
    * At 100 TB: the join keys are each document's RAREST tokens —
    * high-df tokens are pushed out of prefixes by the global order
    * itself, so bucket sizes shrink exactly where a naive token join
    * explodes; that inversion is the whole algorithm. Shuffles: one
    * token distinct, one df aggregate + df-attach join, one id
    * window (rank + size in the same window pass), the prefix
    * self-join, and the candidate-only verify — each carrying narrow
    * (id, digest)-class rows. No cap, no sampling, no recall knob.
    *
    * Cost tracks the PREFIX LENGTH (1−tau)·|doc| and the output
    * mass, not the corpus — measured on the 10× Gen10x corpus
    * (50k docs, 250,600 true 3-gram pairs, every doc 10×-duplicated,
    * the candidate-heavy worst case): tau=0.5 → 216s, tau=0.8 → 39s,
    * tau=0.9 → 10s for the same ~250k pairs, vs 6.8s for the d02 LSH
    * chain that finds them approximately. At dedup-grade tau the
    * exact join is LSH-competitive WITH the recall-1.0 guarantee; at
    * low tau prefer LSH and spend the savings on its verify.
    */
  def allPairsJaccard(df: DataFrame, idCol: String, textCol: String,
                      tau: Double, shingleN: Int = 1,
                      maxCandidateFactor: Option[Double] = None): DataFrame = {
    require(tau > 0 && tau <= 1, s"allPairsJaccard: tau $tau not in (0,1]")
    maxCandidateFactor.foreach(f =>
      require(f > 0, s"allPairsJaccard: maxCandidateFactor $f must be > 0"))
    // distinct token/shingle sets; the 16-byte digest stands in for
    // the token everywhere (the pairOverlaps rule: counts and
    // equality agree with the string form absent an md5 collision).
    // shingleN chooses the set element: 1 = word sets (cheap, but on
    // vocabulary-sharing corpora word-set jaccard is weakly
    // discriminative and the OUTPUT itself can go quadratic — no
    // algorithm beats its own output size); 3 = the d02/d04 shingle
    // unit, whose rare-gram prefixes keep candidates near the true
    // pair count. Measured, sf0.1 full corpus at tau=0.5: unigrams
    // emit 8.9M of 12.5M possible pairs (degenerate by construction);
    // 3-gram shingles emit the true ~256 near-dup pairs.
    val toks = digests(shingles(df, idCol, textCol, shingleN))
      .persist() // df aggregate + ranked build + both verify sides
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("_df"))
    val wId = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    val ranked = toks.join(dfreq, "tok")
      .withColumn("_rn", row_number().over(wId.orderBy(col("_df"), col("tok"))))
      .withColumn("_sz", count(lit(1)).over(wId))
      .persist() // both sides of the prefix self-join
    val prefix = ranked
      .filter(col("_rn") <= col("_sz") - ceil(col("_sz") * tau) + lit(1))
    val rawCand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
        col("b._sz") >= col("a._sz") * tau && col("a._sz") >= col("b._sz") * tau)
      .select(col("a.id").as("id1"), col("b.id").as("id2")).distinct()
    val sizes = ranked.select(col("id"), col("_sz").as("sz")).distinct()
    // candidate-explosion guard (the lshCandidates maxBucket
    // discipline, adapted to an EXACT join where pruning would break
    // recall): on a degenerate corpus — unigram sets over a shared
    // vocabulary, tau too low — the candidate set itself goes
    // quadratic and no verify can claw that back. When set, fail
    // BEFORE the verify join with both counts, instead of letting a
    // 100 TB run discover it in stage 40. The count pays one extra
    // job over the persisted candidate frame, which the verify join
    // then reuses.
    val cand = maxCandidateFactor match {
      case Some(f) =>
        val c = rawCand.persist()
        val nCand = c.count()
        val nDocs = sizes.count()
        require(nCand <= f * nDocs,
          s"allPairsJaccard: $nCand candidate pairs exceed " +
            s"$f x $nDocs docs — the corpus is degenerate for this " +
            s"(tau=$tau, shingleN=$shingleN) configuration; raise tau, " +
            s"use shingleN=3, or switch to minHashLsh with maxBucket")
        c
      case None => rawCand
    }
    Caching.sealOver(verifyJaccard(cand, toks, sizes, toks, sizes, tau),
      toks, ranked, cand) // cand unpersist is a no-op when the guard is off
  }

  /** Full MinHash+LSH near-dedup: returns verified pairs with exact
    * Jaccard >= threshold among LSH candidates.
    *
    * Candidate pairs (tiny — the whole point of LSH) broadcast
    * against the shingle table, so exact verification touches only
    * the shingles of candidate docs; nothing in the plan recomputes
    * the signature DAG (shingles and candidates are persisted, used
    * by two branches each).
    */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 2, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.5, maxBucket: Option[Int] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // The whole signature side is a NARROW map per document:
    // shingle_hashes (fused tokenize+hash, no shingle strings) →
    // MinHashRow (fused k-permutation minima) → band hashes, all in
    // one projection. The only wide ops are the band self-join and the
    // candidate verify; nothing document-sized ever shuffles. The
    // verify side recomputes shingle hashes ONLY for candidate docs
    // (tiny broadcast semi-join) and compares hash sets — the standard
    // hashed-shingle Jaccard, collision odds ~2^-64 per pair.
    // docs too short to have any shingle are dropped BEFORE banding:
    // an empty shingle set would give every short doc the identical
    // all-MaxValue signature and collapse them into one degenerate
    // bucket (O(m^2) candidate pairs of unrelated docs)
    val bandTable = df
      .select(col(idCol).as("id"),
        graft.functions.ShingleHashes.of(col(textCol), shingleN).as("_hs"))
      .filter(size(col("_hs")) > 0)
      .select(col("id"), graft.functions.MinHashRow.sig(col("_hs"), numHashes).as("_sig"))
      .select(col("id"), posexplode(bandHashes(col("_sig"), numHashes, bands)).as(Seq("band", "band_hash")))
    // lshCandidates seals its result (materialized, lineage-free) —
    // no extra persist needed to reuse it on two branches below
    val cand = lshCandidates(bandTable, maxBucket)
    // broadcast the candidate side only while it FITS (r17, surfaced
    // by the 100× dup-chain probe): organic candidate sets are
    // thousands of pairs and broadcast is right; a dup-heavy corpus
    // reaches millions (25M pairs ≈ 400 MB serialized) and at 100 TB
    // the set is unbounded — past the budget the verify joins run as
    // ordinary shuffle joins instead of OOMing the driver. cand is
    // sealed/materialized, so the count is one cheap job, not a
    // recompute.
    val candN = cand.count()
    val candFits = candN <= 4000000L
    val candIds = cand.select(explode(array(col("id1"), col("id2"))).as("id")).distinct()
    val candIdsJ = if (candFits) broadcast(candIds) else candIds
    val sh = df
      .select(col(idCol).as("id"),
        explode(graft.functions.ShingleHashes.of(col(textCol), shingleN)).as("shingle"))
      .join(candIdsJ, "id").distinct().persist()
    val sizes = setSizes(sh)
    val inter = (if (candFits) broadcast(cand) else cand)
      .join(sh.as("s1"), col("s1.id") === col("id1"))
      .join(sh.as("s2"),
        col("s2.id") === col("id2") && col("s1.shingle") === col("s2.shingle"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("inter"))
    Caching.sealOver(
      inter
        .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "sz1"), "id1")
        .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "sz2"), "id2")
        .withColumn("jaccard", jaccard(col("inter"), col("sz1"), col("sz2")))
        .filter(col("jaccard") >= threshold)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard")),
      sh)
  }

  /** SimHash: 64-bit signature; bit j is the sign of the sum over
    * tokens of ±1 according to bit j of the token hash. One explode +
    * one groupBy(doc) with [[graft.functions.SimHashAgg]] — a single
    * mergeable 64-counter aggregate (was 64 separate conditional-sum
    * columns; identical output, bit j set iff counter > 0) — no
    * shuffle beyond the doc-key one.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy(col("id"))
      .agg(graft.functions.SimHashAgg.sig(col("h")).as("simhash"))

  /** SimHash near-dup pairs with hamming distance <= maxDist, found
    * via pigeonhole banding: the 64-bit signature splits into
    * maxDist+1 bands, so any pair within maxDist differing bits must
    * agree exactly on at least one band; same-band buckets are the
    * candidates, then exact popcount verifies. Works for any
    * maxDist in [0, 63] (maxDist=3 → the classic 4x16-bit split).
    */
  def simHashPairs(sigDf: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, "maxDist must be in [0, 63]")
    val nb = maxDist + 1
    val w = 64 / nb // last band also takes the 64 % nb remainder bits
    val sig = sigDf.persist() // self-joined below; don't recompute the 64-agg DAG twice
    val banded = sig.select(col("id"), col("simhash"),
      explode(array((0 until nb).map { b =>
        val width = if (b == nb - 1) 64 - w * (nb - 1) else w
        val mask = if (width >= 64) -1L else (1L << width) - 1L
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * w).bitwiseAND(mask).as("bh"))
      }: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = bucketPairs(banded, banded, Seq("band", "bh"), self = true,
      Seq(col("a.id").as("id1"), col("a.simhash").as("s1"),
        col("b.id").as("id2"), col("b.simhash").as("s2")))
    Caching.sealOver(
      cand
        .withColumn("dist", bit_count(col("s1").bitwiseXOR(col("s2"))))
        .filter(col("dist") <= maxDist)
        .select(col("id1"), col("id2"), col("dist")),
      sig)
  }

  /** Portable SimHash twin of [[simHash]]+[[simHashPairs]] on an md5
    * hash family an external ANSI-SQL engine can evaluate identically,
    * so the WHOLE chain is oracle-checkable. The 64-bit fingerprint is
    * carried as four 16-bit int chunks (c0..c3) parsed from the first
    * 16 hex digits of md5(token) with instr-arithmetic; per-bit signs
    * weight by token count; pairs come from pigeonhole banding on the
    * four chunks and popcount-verify hamming <= 3. Same shuffle shape
    * as the fast variant: one token explode + one doc-key aggregate +
    * one band self-join.
    */
  def simHashPortablePairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("h", md5(col("tok")))
    def dg(p: Int) = s"(instr('0123456789abcdef', substr(h, $p, 1)) - 1)"
    def chunk(k: Int) =
      s"((((${dg(4 * k + 1)}) * 16 + ${dg(4 * k + 2)}) * 16 + ${dg(4 * k + 3)}) * 16 + ${dg(4 * k + 4)})"
    val withChunks = (0 to 3).foldLeft(toks)((d, k) => d.withColumn(s"c$k", expr(chunk(k))))
    val sumCols = for (k <- 0 to 3; j <- 0 to 15) yield
      sum(col("cnt") *
          (expr(s"(CAST(floor(c$k / ${1 << (15 - j)}) AS INT) % 2)") * 2 - 1))
        .as(s"s${k}_$j")
    val sums = withChunks.groupBy("id").agg(sumCols.head, sumCols.tail: _*)
    val fps = sums.select(col("id") +: (0 to 3).map { k =>
      (0 to 15).map(j =>
        when(col(s"s${k}_$j") > 0, lit(1 << (15 - j))).otherwise(lit(0)))
        .reduce(_ + _).as(s"f$k")
    }: _*)
    chunkedHammingPairs(fps)
  }

  /** Pigeonhole pairs over a 64-bit fingerprint carried as four
    * 16-bit chunks (id, f0..f3): hamming <= 3 means at least one
    * chunk agrees exactly, so chunk-equality buckets are a complete
    * candidate set and an exact popcount verifies. The shared back
    * half of [[simHashPortablePairs]] (text fingerprints) and the
    * multimodal perceptual-hash dedup (image fingerprints) — one
    * implementation so the two cannot drift. Persists the input
    * fingerprint frame for its two self-join sides (sealed over on
    * return). Output: (id1, id2, hamming).
    */
  def chunkedHammingPairs(fpsIn: DataFrame): DataFrame = {
    val fps = fpsIn.persist() // self-joined below; don't recompute the fingerprint DAG twice
    val fs = (0 to 3).map(k => s"f$k")
    val banded = fps.select((col("id") +: fs.map(col)) :+
        explode(array((0 to 3).map(k =>
          struct(lit(k).as("band"), col(s"f$k").as("bh"))): _*)).as("bb"): _*)
      .select((col("id") +: fs.map(col)) :+ col("bb.band").as("band") :+ col("bb.bh").as("bh"): _*)
    Caching.sealOver(
      bucketPairs(banded, banded, Seq("band", "bh"), self = true,
          col("a.id").as("id1") +: col("b.id").as("id2") +: (0 to 3).flatMap(k =>
            Seq(col(s"a.f$k").as(s"a$k"), col(s"b.f$k").as(s"b$k"))))
        .withColumn("hamming", (0 to 3).map(k =>
          bit_count(col(s"a$k").bitwiseXOR(col(s"b$k")))).reduce(_ + _).cast("long"))
        .filter(col("hamming") <= 3)
        .select(col("id1"), col("id2"), col("hamming")),
      fps)
  }

  /** Shared front of the exact-substring family (d16 spans / d18
    * cut): tokenize, shingle, hash, and mark corpus-duplicated
    * k-grams. Returns (base, grams, dupes); grams comes back
    * PERSISTED — the caller owns sealing over it.
    *
    * Zero-length tokens (leading whitespace) are dropped BEFORE gram
    * building: an empty first token would inflate n_toks, shift every
    * gram window, and make two docs differing only in leading
    * whitespace hash the same phrase differently — the same rule as
    * unigramLogProb's tokenizer. grams persists because the gram
    * stream feeds both the dup count and the mark join. base is
    * deliberately NOT persisted even though two consumers read it:
    * caching the tokenized corpus (the pipeline's biggest
    * intermediate, all text re-boxed as string arrays) breaks the
    * tokenize→shingle→md5 codegen fusion and pays array
    * materialization + cached-read costs that a 6× d16 bench
    * regression traced to this exact persist — re-running the fused
    * narrow tokenize per consumer is the cheap side of the tradeoff.
    * Grams come from the compiled shingle_strings pass
    * (position i = start i); hashes shuffle as 16-byte binary digests
    * (internal key only, half the hex-string width).
    */
  private def dupGrams(df: DataFrame, idCol: String, textCol: String,
                       k: Int): (DataFrame, DataFrame, DataFrame) = {
    require(k >= 1, s"k=$k must be >= 1")
    val base = df.select(col(idCol).as("id"),
        filter(split(lower(col(textCol)), "\\s+"),
          t => length(t) > 0).as("_toks"))
      .withColumn("_n", size(col("_toks")))
    val grams = base
      .filter(col("_n") >= k)
      .select(col("id"), posexplode(
        graft.functions.ShingleStrings.of(col("_toks"), k))
        .as(Seq("start", "_g")))
      .select(col("id"), col("start").cast("long").as("start"),
        unhex(md5(col("_g"))).as("_h"))
      .persist()
    val dupes = grams.groupBy(col("_h"))
      .agg(count(lit(1)).as("_c")).filter(col("_c") > 1)
      .select(col("_h"))
    (base, grams, dupes)
  }

  /** Exact duplicated-substring SPANS (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better"
    * exact-substring family, arXiv:2107.06499, done the Spark way):
    * every k-token window whose content appears MORE THAN ONCE in the
    * corpus — across documents or repeated within one — marks its
    * token span; per document the overlapping spans merge and the
    * operator reports how many tokens sit inside duplicated
    * substrings. The downstream cut/filter decision is the caller's
    * (Lee et al. cut the spans; a filter drops docs above a
    * dup_frac).
    *
    * Their suffix array is a shared-memory structure; the
    * distributed equivalent of its "repeated substring of length >= k
    * exists" predicate is exactly "some k-gram occurs twice", and
    * k-grams shuffle as md5 hashes with map-side partial counts.
    * Span merging is a per-document sorted fold (one higher-order
    * aggregate over gram starts — no k× row blowup, no window).
    * Shape: gram hashes shuffle once for the count, once for the
    * dup-mark join (planner/AQE decide broadcast vs shuffle, skew
    * split absorbs boilerplate grams), plus one id shuffle for the
    * fold. Output: (id, n_toks, n_dup_toks, dup_frac).
    */
  def dupSubstringSpans(df: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    val (base, grams, dupes) = dupGrams(df, idCol, textCol, k)
    // covered tokens = fold over the doc's sorted dup-gram starts:
    // each start s adds max(0, s + k - max(end, s)) new tokens
    val spans = grams.join(dupes, "_h")
      .groupBy(col("id"))
      .agg(aggregate(array_sort(collect_list(col("start"))),
        struct(lit(0L).as("cov"), lit(Long.MinValue).as("end")),
        (acc, s) => struct(
          (acc.getField("cov") + greatest(lit(0L),
            s + k - greatest(acc.getField("end"), s))).as("cov"),
          greatest(acc.getField("end"), s + k).as("end")),
        acc => acc.getField("cov")).as("_dup"))
    Caching.sealOver(
      base.select(col("id"), col("_n"))
        .join(spans, Seq("id"), "left")
        .select(col("id"), col("_n").cast("long").as("n_toks"),
          coalesce(col("_dup"), lit(0L)).cast("long").as("n_dup_toks"),
          round(coalesce(col("_dup"), lit(0L)).cast("double")
            / col("_n").cast("double"), 6).as("dup_frac")),
      grams)
  }

  /** PARAGRAPH-level exact cross-corpus dedup (the RefinedWeb /
    * CCNet-style curation step between line-level C4 scrubbing and
    * whole-document dedup): every distinct paragraph survives exactly
    * ONCE in the corpus — in its first occurrence, ordered by
    * (id, position) — and every other copy is dropped, including
    * later repeats inside the same document. Documents are then
    * reassembled from their surviving paragraphs in order; a document
    * whose every paragraph appeared earlier elsewhere drops out.
    *
    * Shape at scale: paragraphs explode narrow; the winner per
    * paragraph is min(struct(id, pos)) grouped by md5(para) — a hash
    * aggregate whose map-side partials absorb even a
    * million-duplicate boilerplate paragraph (no window, no hot
    * partition). Survivors are selected by an INNER JOIN on the full
    * (hash, id, pos) triple: the mass of duplicate rows spreads
    * across partitions by (id, pos), so the join has no hot key
    * either. Reassembly is one id shuffle. Paragraph text shuffles
    * exactly twice (join + reassembly), hashes otherwise.
    * Output: (id, text_clean, n_kept, n_dropped).
    */
  def paraDedup(df: DataFrame, idCol: String, textCol: String,
                sep: String = "\n\n"): DataFrame = {
    val paras = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      // unhex: the 16-byte binary digest, not the 32-char hex string —
      // the key is internal (never surfaces in output), and binary
      // equality classes are identical, at half the shuffle width
      .withColumn("_h", unhex(md5(col("para"))))
    val winners = paras.groupBy(col("_h"))
      .agg(min(struct(col("id"), col("pos"))).as("_w"))
      .select(col("_h"), col("_w.id").as("id"), col("_w.pos").as("pos"))
    val totals = paras.groupBy(col("id")).agg(count(lit(1)).as("_n_tot"))
    paras.join(winners, Seq("_h", "id", "pos"))
      .groupBy(col("id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s("para")), sep).as("text_clean"),
        count(lit(1)).as("_n_kept"))
      .join(totals, "id")
      .select(col("id"), col("text_clean"),
        col("_n_kept").cast("long").as("n_kept"),
        (col("_n_tot") - col("_n_kept")).cast("long").as("n_dropped"))
  }

  /** C4's dedup unit — "we discarded all but one of any
    * three-sentence span occurring more than once in the data set"
    * (Raffel et al. 2020 §2.2): every `spanLen`-sentence sliding
    * window is hashed; the corpus-first occurrence (min (id, start))
    * of each span is canonical and every OTHER occurrence marks its
    * sentences for removal; documents are reassembled from surviving
    * sentences in order. The sentence-granularity sibling of
    * [[paraDedup]] (whole paragraphs) and [[cutDupSubstrings]]
    * (k-token grams).
    *
    * Sentences split on terminal punctuation via regexp_extract_all
    * with an alternation ('sentence with terminator' | 'trailing
    * fragment') that needs NO lookbehind — RE2-safe, so an oracle
    * replays the exact same segmentation. Reassembly single-space
    * joins surviving sentences (defined on the sentence stream, the
    * cutDupSubstrings convention). Docs with fewer than `spanLen`
    * sentences form no spans and survive whole; a fully-duplicated
    * doc keeps an empty text_clean rather than vanishing.
    *
    * Shape at scale: span hashing is row-LOCAL (a sequence+slice+md5
    * transform over the doc's own sentence array — spans never
    * explode as text); 16-byte span digests shuffle once for the
    * winner aggregate (map-side min-struct partials absorb
    * boilerplate spans, no hot window); only NON-winner occurrences
    * explode to their spanLen covered positions — proportional to
    * DUPLICATED volume, like the d18 cut — and one id shuffle
    * reassembles. Output: (id, text_clean, n_sents, n_dropped).
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                spanLen: Int = 3): DataFrame = {
    val (res, spans) = spanDedupRaw(df, idCol, textCol, spanLen)
    Caching.sealOver(res, spans)
  }

  /** Unsealed internals: (result, persisted spans frame). Plan specs
    * assert the shape BEFORE sealOver hides it behind a checkpoint
    * scan (the corpusDivergenceRaw device); callers use [[spanDedup]].
    */
  private[graft] def spanDedupRaw(df: DataFrame, idCol: String,
                                  textCol: String,
                                  spanLen: Int): (DataFrame, DataFrame) = {
    require(spanLen >= 1, s"spanLen=$spanLen must be >= 1")
    val sents = filter(
      transform(
        regexp_extract_all(col(textCol),
          lit("[^.!?]+[.!?]+|[^.!?]+"), lit(0)),
        s => trim(s)),
      s => length(s) > 0)
    val base = df.select(col(idCol).as("id"), sents.as("_sents"))
      .withColumn("_n", size(col("_sents")))
    // (id, start, spanHash) — hashes computed inside the row, then
    // exploded narrow; docs too short for a span contribute nothing
    val spans = base.filter(col("_n") >= spanLen)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), col("_n") - spanLen),
        // control-char-joined: an empty separator would alias spans
        // whose sentence boundaries differ ("ab","c" vs "a","bc")
        i => unhex(md5(concat_ws("\u0001",
          slice(col("_sents"), i + 1, lit(spanLen)))))))
        .as(Seq("start", "_h")))
      // two consumers (winner aggregate + removals anti-join): persist
      // the narrow digest stream, as dupGrams does for `grams`;
      // spanDedup's sealOver releases it
      .persist()
    val winners = spans.groupBy(col("_h"))
      .agg(min(struct(col("id"), col("start"))).as("_w"))
      .select(col("_h"), col("_w.id").as("id"),
        col("_w.start").as("start"))
    // sentences covered by any non-canonical duplicated span
    val removals = spans.join(winners, Seq("_h", "id", "start"), "left_anti")
      .select(col("id"),
        explode(sequence(col("start"), col("start") + (spanLen - 1))).as("pos"))
      .distinct()
    val kept = base
      .select(col("id"), posexplode(col("_sents")).as(Seq("pos", "sent")))
      .join(removals, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("sent")))),
          s => s("sent")), " ").as("_clean"),
        count(lit(1)).as("_kept"))
    (base.select(col("id"), col("_n"))
      .join(kept, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("_clean"), lit("")).as("text_clean"),
        col("_n").cast("long").as("n_sents"),
        (col("_n") - coalesce(col("_kept"), lit(0L)))
          .cast("long").as("n_dropped")),
     spans)
  }

  /** The CUT step of exact duplicated-substring dedup —
    * [[dupSubstringSpans]] reports how much of each document sits in
    * corpus-duplicated substrings; this operator actually removes
    * those tokens (what Lee et al. 2021 do to the training set) and
    * returns the surviving text. A token survives when NO k-gram
    * containing it occurs more than once in the corpus; cutting
    * reassembles the survivors in order, single-space-joined (the op
    * is defined on the token stream, like the paper's — original
    * inter-token whitespace is not preserved).
    *
    * Shape at scale: the duplicate-gram predicate is the d16 chain
    * (gram md5 count > 1, map-side partials, 16-byte digests). Only
    * DUP grams explode to their k covered positions — the k× blowup
    * is proportional to duplicated volume, not corpus volume; the
    * token stream anti-joins those (id, pos) pairs and one id-keyed
    * aggregation rebuilds each document. Output: (id, text_clean,
    * n_toks, n_dup_toks); a fully-duplicated doc keeps an empty
    * text_clean rather than vanishing.
    */
  def cutDupSubstrings(df: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    val (base, grams, dupes) = dupGrams(df, idCol, textCol, k)
    val covered = grams.join(dupes, "_h")
      .select(col("id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .distinct()
    val toks = base
      .select(col("id"), posexplode(col("_toks")).as(Seq("pos", "tok")))
      .withColumn("pos", col("pos").cast("long"))
    val kept = toks.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s("tok")), " ").as("_clean"),
        count(lit(1)).as("_kept"))
    Caching.sealOver(
      base.select(col("id"), col("_n"))
        .join(kept, Seq("id"), "left")
        .select(col("id"), coalesce(col("_clean"), lit("")).as("text_clean"),
          col("_n").cast("long").as("n_toks"),
          (col("_n") - coalesce(col("_kept"), lit(0L))).cast("long").as("n_dup_toks")),
      grams)
  }

  /** Winnowing fingerprint near-dup pairs (Schleimer, Wilkerson,
    * Aiken 2003 — the MOSS algorithm): hash every k-gram, slide a
    * w-gram window over the hash sequence, and keep each window's
    * minimum hash (rightmost minimum on ties) as a fingerprint; two
    * documents sharing at least `minShared` distinct fingerprint
    * hashes are reported as a candidate near-dup pair. Winnowing's
    * guarantee: any shared substring of length >= w + k - 1 tokens
    * produces at least one shared fingerprint, while only ~2/(w+1) of
    * grams are kept — a tunable density/recall dial between whole-doc
    * MinHash (d02) and the exact k-gram predicate (d16).
    *
    * The rightmost-min-on-ties rule is ONE window aggregate here: the
    * gram hash (32-bit, from the md5 hex prefix — portable) and the
    * position pack into a single long, h·2³¹ + (2³¹−1−pos), whose MIN
    * over the w-row frame is exactly "min hash, rightmost position".
    * The pack is total: positions are array indices (IntegerType,
    * ≤ 2³¹−1 by construction), so h·2³¹ + (2³¹−1−pos) stays within
    * a positive signed long for every representable position.
    *
    * Shape at scale: gram hashing is narrow; the sliding window is
    * one id-keyed shuffle (grams shuffle as 20-byte (id, start, enc)
    * rows, never text); fingerprints are ~2/(w+1) of grams, and the
    * pair join runs on the fingerprint hash with distinct-(id, h)
    * inputs. A boilerplate phrase shared by millions of docs would
    * make its fingerprint bucket quadratic — `maxBucket` prunes such
    * degenerate buckets before the self-join (the lshCandidates cap;
    * None = exact, the oracle twin).
    * Output: (id1, id2, n_shared), id1 < id2.
    */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 4, w: Int = 4, minShared: Int = 2,
                     maxBucket: Option[Int] = None): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowingPairs: k=$k, w=$w must be >= 1")
    val toks = filter(tokens(col(textCol)), t => length(t) > 0)
    val grams = df.select(col(idCol).as("id"), toks.as("_t"))
      .filter(size(col("_t")) >= k)
      .select(col("id"), posexplode(
        graft.functions.ShingleStrings.of(col("_t"), k)).as(Seq("start", "_g")))
    val h32 = conv(substring(md5(col("_g")), 1, 8), 16, 10).cast("long")
    val enc = grams.select(col("id"), col("start"),
      (h32 * (1L << 31) + (lit((1L << 31) - 1L) - col("start"))).as("_enc"))
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("start"))
      .rowsBetween(0, w - 1)
    val fps = enc
      .withColumn("_wmin", min(col("_enc")).over(frame))
      .withColumn("_wn", count(lit(1)).over(frame))
      .filter(col("_wn") === w)
      // integer div, NOT `/` (double division loses bits above 2^53)
      .select(col("id"), expr(s"_wmin div ${1L << 31}").as("_h"))
      .distinct()
    val capped = maxBucket.fold(fps) { cap =>
      val big = fps.groupBy(col("_h")).agg(count(lit(1)).as("_bc"))
        .filter(col("_bc") > cap).select(col("_h"))
      fps.join(big, Seq("_h"), "left_anti")
    }
    capped.select(col("_h"), col("id").as("id1"))
      .join(capped.select(col("_h"), col("id").as("id2")), Seq("_h"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-source overlap audit: estimate the shingle-set Jaccard of
    * every pair of corpus sources from K-Minimum-Values sketches
    * (Beyer et al. 2007; the bottom-k variant of Broder's min-hash).
    * "How much does crawl A repeat crawl B" is the dataset-audit
    * question asked before mixing sources — exact pairwise Jaccard is
    * a full shingle self-join, but each source's k smallest md5
    * shingle hashes determine every pairwise estimate at once:
    * J(A,B) ~= |bottomK(A u B) n A n B| / |bottomK(A u B)|, and the
    * estimate is EXACT whenever the union's distinct-shingle count is
    * under k (the sketch then holds the whole set).
    *
    * Shape at scale: the only corpus-sized work is ONE narrow hash
    * aggregate — the mergeable [[graft.functions.KmvAgg]] folds each
    * mapper's shingle stream into a <= k-string partial (the TreeSet
    * dedupes, so no distinct pass exists at all), partials combine
    * map-side, and the shuffle moves k-sized states per (mapper,
    * source) instead of every distinct (source, hash) pair; a
    * mega-source needs no skew handling because its rows fold into
    * its mappers' bounded partials. Everything after runs on
    * nSources x k sketch rows — pair expansion, union ranking, and
    * the estimator never touch the corpus again, so 100 sources over
    * 100 TB audit with the same nSources^2 x k tail. Portable md5
    * hashing makes every estimate (not just the exact ones)
    * reproducible by the oracle.
    * Output: (s1, s2, k_eff, n_common, jaccard_est), s1 < s2, one row
    * per source pair.
    */
  def sourceOverlapKmv(df: DataFrame, sourceCol: String, textCol: String,
                       k: Int = 128, shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"sourceOverlapKmv: k=$k must be >= 1")
    // sealed: the corpus-sized aggregate feeds BOTH the pair expansion
    // and the source list below — without the seal the whole shingle +
    // sketch pass would run twice. The sealed frame is nSources x k
    // strings, well inside sealOver's small-result contract.
    val sk = Caching.sealOver(
      shinglesRaw(df, sourceCol, textCol, shingleN)
        .groupBy(col("id").as("_src"))
        .agg(graft.functions.KmvAgg.sketch(md5(col("shingle")), k).as("_sk"))
        .select(col("_src"), explode(col("_sk")).as("_h")))
    // nSources x k rows from here on. Each sketch row joins every
    // OTHER source to form the unordered pair it votes in; the merge
    // marks which side(s) of the pair hold the hash.
    val srcs = sk.select(col("_src").as("_other")).distinct()
    val merged = sk.join(broadcast(srcs), col("_src") =!= col("_other"))
      .select(least(col("_src"), col("_other")).as("s1"),
        greatest(col("_src"), col("_other")).as("s2"), col("_h"),
        (col("_src") < col("_other")).as("_o1"))
      .groupBy(col("s1"), col("s2"), col("_h"))
      .agg(max(col("_o1")).as("_in1"), max(!col("_o1")).as("_in2"))
    merged
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("s1"), col("s2")).orderBy(col("_h"))))
      .filter(col("_r") <= k)
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("k_eff"),
        sum(when(col("_in1") && col("_in2"), 1L).otherwise(0L)).as("n_common"))
      .select(col("s1"), col("s2"), col("k_eff"), col("n_common"),
        round(col("n_common").cast("double") / col("k_eff").cast("double"), 6)
          .as("jaccard_est"))
  }

  /** PAIR-RECOVERY report: precision/recall of a FOUND near-dup pair
    * set against a ground-truth pair set — the dedup twin of
    * [[Similarity.recallAtK]], and the gate a pipeline re-runs on a
    * labeled sample whenever it retunes banding parameters (today the
    * LSH-vs-exhaustive comparison lives only in MinHashRecallSpec).
    * Pair orientation is normalized (least, greatest) and deduped on
    * both sides, so callers can pass either triangular or symmetric
    * pair frames. When `found` is a VERIFIED pair set (band candidates
    * re-checked with exact jaccard at the truth threshold), precision
    * is 1.0 by construction and the report measures what banding
    * missed.
    *
    * Shape: pair frames are orders of magnitude smaller than the
    * corpus (the cluster contract); one equi-join + three one-row
    * aggregates. Output: ONE row (n_truth, n_found, n_hits,
    * pair_precision, pair_recall) — NULL ratios on empty sides rather
    * than a division error.
    */
  def pairRecovery(found: DataFrame, truth: DataFrame): DataFrame = {
    def norm(df: DataFrame): DataFrame = df.select(
      least(col("id1"), col("id2")).as("id1"),
      greatest(col("id1"), col("id2")).as("id2")).distinct()
    val f = norm(found)
    val t = norm(truth)
    val hits = t.join(f, Seq("id1", "id2"))
    t.agg(count(lit(1)).cast("long").as("n_truth"))
      .crossJoin(f.agg(count(lit(1)).cast("long").as("n_found")))
      .crossJoin(hits.agg(count(lit(1)).cast("long").as("n_hits")))
      .select(col("n_truth"), col("n_found"), col("n_hits"),
        when(col("n_found") > 0, round(
          col("n_hits").cast("double") / col("n_found").cast("double"), 6))
          .as("pair_precision"),
        when(col("n_truth") > 0, round(
          col("n_hits").cast("double") / col("n_truth").cast("double"), 6))
          .as("pair_recall"))
  }

  /** EXACT all-pairs WEIGHTED cosine similarity over sparse term
    * vectors — the classic IR document-similarity rung beside the
    * set-based d04/d24 family (Jaccard treats a token seen once and
    * fifty times alike; weighted cosine is what catches boilerplate
    * wrappers around repeated phrases). Weights are df-damped term
    * frequencies w(d,t) = tf(d,t) / df(t) — deliberately RATIONAL
    * (one IEEE division of two exact longs) rather than ln-idf,
    * because ln's last-ulp behavior is engine-specific and this rung
    * is oracle-exact: dot products and norms accumulate per-term
    * DOUBLE products through DECIMAL(38,18) (the §5 iterative-float
    * discipline), so accumulation order cannot change a bit and the
    * SQL twin replays the cosine exactly.
    *
    * Shape: one (id, gram) tf aggregate, one df aggregate + attach,
    * one shared-gram self-join feeding a decimal dot-product
    * aggregate — the pairOverlaps shuffle shape with weights. Gram
    * keys travel as 16-byte md5 digests. As with [[jaccardPairs]],
    * restrict the input (or pre-filter to LSH candidates) before
    * calling at scale on unigram-grade grams: shared-vocabulary
    * corpora pair quadratically below shingleN=3.
    *
    * Output: (id1, id2, cosine) for pairs with cosine >= tau.
    */
  def allPairsCosine(df: DataFrame, idCol: String, textCol: String,
                     tau: Double, shingleN: Int = 3): DataFrame = {
    require(tau > 0 && tau <= 1, s"allPairsCosine: tau $tau not in (0,1]")
    val tf = shinglesRaw(df, idCol, textCol, shingleN)
      .groupBy(col("id"), col("shingle"))
      .agg(count(lit(1)).cast("long").as("_tf"))
      .select(col("id"), unhex(md5(col("shingle"))).as("_tok"), col("_tf"))
      .persist() // df aggregate + weight attach
    val dfreq = tf.groupBy(col("_tok")).agg(count(lit(1)).cast("long").as("_df"))
    val w = tf.join(dfreq, "_tok")
      .select(col("id"), col("_tok"),
        (col("_tf").cast("double") / col("_df").cast("double")).as("_w"))
      .persist() // norms + both sides of the dot-product join
    val norms = w.groupBy(col("id"))
      .agg(sqrt(sum((col("_w") * col("_w")).cast("decimal(38,18)"))
        .cast("double")).as("_nrm"))
    val dots = w.as("a")
      .join(w.as("b"),
        col("a._tok") === col("b._tok") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(sum((col("a._w") * col("b._w")).cast("decimal(38,18)"))
        .cast("double").as("_dot"))
    val out = dots
      .join(norms.select(col("id").as("id1"), col("_nrm").as("_n1")), "id1")
      .join(norms.select(col("id").as("id2"), col("_nrm").as("_n2")), "id2")
      .withColumn("cosine", col("_dot") / (col("_n1") * col("_n2")))
      .filter(col("cosine") >= tau)
      .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
    Caching.sealOver(out, tf, w)
  }
}
