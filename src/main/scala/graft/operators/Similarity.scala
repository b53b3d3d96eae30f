package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.PqCodes.round6
import graft.functions.VecDot

/** Similarity search over an embedding column (`array<float>`).
  *
  * Every top-k entry composes the same private stages, the way the
  * FAISS index factory composes an index (Johnson et al.,
  * arXiv:1702.08734):
  *
  *   candidates → score → rank (→ rerank)
  *
  *  - candidates: all pairs (a broadcast cross join), LSH buckets, an
  *    IVF probe (seeded [[assignCents]] or exact-integer
  *    [[microProbe]]) or the posting lists of a persisted store;
  *  - score: exact cosine over norms precomputed once per vector
  *    ([[side]], [[exactCos]]; a zero-norm side has no cosine, so by
  *    the no-evidence rule its pairs never rank), int8 codes, Hamming
  *    distance of SRP codes, or the ADC table sum ([[adcTopK]]);
  *  - rank: [[topK]], the one per-query `row_number` window, planned
  *    as a map-side WindowGroupLimit. The caller passes its order
  *    columns, so whether it ranks on the raw or the round-6 cosine,
  *    and its tie-break, stay the caller's;
  *  - rerank: [[rawCosTopK]], exact cosine over a shortlist.
  *
  * Queries are small by contract and broadcast. All dot products go
  * through [[VecDot]], a fused codegen loop.
  */
object Similarity {

  /** Cosine similarity between two numeric arrays. Prefer the
    * precomputed-norm forms below in pair loops.
    */
  def cosine(a: Column, b: Column): Column =
    VecDot.dot(a, b) / (sqrt(VecDot.dot(a, a)) * sqrt(VecDot.dot(b, b)))

  /** L2 norm of a vector, for one-time precomputation. */
  def norm(v: Column): Column = sqrt(VecDot.dot(v, v))

  /** Score-stage input: one side's id, vector and extra columns as
    * `_<t>id`, `_<t>v`, …, its norm as `_<t>n` (t = "c" for the
    * corpus, "q" for queries). */
  private def side(df: DataFrame, id: Column, vec: String, t: String,
                   extra: Column*): DataFrame =
    withNorm(df.select(id.as(s"_${t}id") +: col(vec).as(s"_${t}v") +: extra: _*), t)

  private def withNorm(df: DataFrame, t: String): DataFrame =
    df.withColumn(s"_${t}n", norm(col(s"_${t}v")))

  /** Score stage: exact cosine of paired [[side]]s `c` and `q`, null
    * where either norm is zero or null — cosine is undefined there
    * (the no-evidence rule), and under ANSI a plain division would
    * fail the whole query. The cosine rank stages drop null scores
    * AFTER ranking: nulls sort last, so they never displace a scored
    * pair, and a filter above the window cannot be pushed into a
    * side, where it would recompute a derived vector column. */
  private def exactCos(c: String = "c", q: String = "q"): Column =
    try_divide(VecDot.dot(col(s"_${c}v"), col(s"_${q}v")),
      col(s"_${c}n") * col(s"_${q}n"))

  private def pairIds: Seq[Column] =
    Seq(col("_qid").as("query_id"), col("_cid").as("neighbor_id"))

  /** Rank stage: each `by` group's first `k` rows under `order`, as an
    * int `rank`. `rank <= k` over `row_number` is what Spark plans as
    * a map-side WindowGroupLimit. */
  private def topK(df: DataFrame, by: String, k: Int, order: Column*): DataFrame =
    df.withColumn("rank", row_number().over(Window.partitionBy(col(by)).orderBy(order: _*)))
      .filter(col("rank") <= k)

  /** Exact-cosine score + rank on the RAW cosine, ties to the lower
    * corpus id, emitted rounded to 6: (query_id, neighbor_id, keep…,
    * cos, rank). The [[bruteTopK]] contract, and the rerank stage
    * over a shortlist. */
  private def rawCosTopK(pairs: DataFrame, k: Int, keep: Column*): DataFrame =
    topK(pairs.withColumn("cos", exactCos()), "_qid", k, col("cos").desc, col("_cid"))
      .filter(col("cos").isNotNull)
      .select(pairIds ++ keep ++ Seq(round(col("cos"), 6).as("cos"), col("rank")): _*)

  /** Exact-cosine score rounded to 6 BEFORE any ranking, so an engine
    * doing exact double arithmetic reproduces the order:
    * (query_id, neighbor_id, keep…, cos). */
  private def roundCos(pairs: DataFrame, keep: Column*): DataFrame =
    pairs.select(pairIds ++ keep :+ round(exactCos(), 6).as("cos"): _*)

  /** Rank stage over [[roundCos]] scores, ties to the lower neighbor. */
  private def roundCosTopK(scored: DataFrame, k: Int): DataFrame =
    topK(scored, "query_id", k, col("cos").desc, col("neighbor_id"))
      .filter(col("cos").isNotNull)

  /** Brute-force top-k: for each query vector, the k nearest corpus
    * vectors by cosine. `queries` must be small (it is broadcast).
    * Ties break on corpus id for determinism.
    */
  def bruteTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                queries: DataFrame, queryId: String, queryVec: String,
                k: Int): DataFrame =
    rawCosTopK(side(corpus, col(corpusId), corpusVec, "c")
      .crossJoin(broadcast(side(queries, col(queryId), queryVec, "q"))), k)

  /** Multi-table, MULTI-PROBE LSH ANN: `numTables` independent
    * hyperplane signatures; a corpus row is a candidate for a query if
    * they share ANY table's bucket, where the query also probes every
    * bucket within Hamming distance `probeRadius` of its signature
    * (Lv et al.'s multi-probe LSH — the neighbor most likely to hold a
    * near miss differs in exactly one plane's sign). Candidates are
    * deduped, then exact cosine + top-k.
    *
    * Recall per table goes from p^planes to P(<=radius planes
    * disagree), a large jump when p is middling (near-orthogonal
    * neighbors); cost-wise the probe expansion lands on the QUERY side
    * of the join — the broadcast-small side — so the corpus-side work
    * (one signature row per table) is unchanged and candidates stay
    * sublinear in corpus size.
    *
    * `probeRadius` is the standard recall/table-count trade: radius r
    * probes Σ_{i<=r} C(planes, i) buckets per table (1+6+15 = 22 at
    * the 6-plane default, r=2), so FEWER tables reach the same recall
    * — fewer corpus-side signature rows, the side that scales with
    * the corpus. Probe masks come from [[probeMasks]]: popcount-major
    * then value order, a deterministic sequence the spec pins.
    */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, numPlanes: Int = 6, numTables: Int = 8,
              probeRadius: Int = 1): DataFrame =
    // one fused pass per vector for ALL tables' signatures
    lshSearch(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      k, numPlanes, probeRadius,
      v => graft.functions.LshSigs.sigs(v, numPlanes, numTables))

  /** PORTABLE multi-probe LSH ANN — [[lshTopK]]'s hash-exact twin
    * (the d11/d12 move applied to the ANN family): hyperplanes are the
    * s08 md5-parity ±1 sign matrix ([[portableSigs]]) instead of the
    * splitmix64 family, so an engine replaying each projection as an
    * ordered list fold reproduces the EXACT IEEE double, hence the
    * exact sign, hence the exact signature, bucket join, probe
    * expansion, and top-k. The whole sublinear mechanism — banding,
    * bucket equality, multi-probe bit flips — becomes auditable in
    * SQL rather than trusted.
    *
    * Same search shape as [[lshTopK]] (shared [[lshSearch]] core);
    * only the signature source differs. Zero shuffle on the signature
    * pass: planes × tables literal VecDot evaluations per row.
    */
  def lshPortableTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                      queries: DataFrame, queryId: String, queryVec: String,
                      k: Int, dims: Int, numPlanes: Int = 6, numTables: Int = 4,
                      probeRadius: Int = 1): DataFrame =
    lshSearch(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      k, numPlanes, probeRadius, portableSigs(dims, numPlanes, numTables))

  /** Portable SRP signatures, one long per table: bit p of table t is
    * set iff the [[VecDot]] projection onto [[srpSigns]] plane
    * t·planes + p is >= 0. Index-order folds, so any engine with an
    * md5 and an ordered list fold replays the exact bits. Shared by
    * [[lshPortableTopK]] and [[cosinePairsPortable]].
    */
  private def portableSigs(dims: Int, numPlanes: Int,
                           numTables: Int): Column => Column = {
    require(numPlanes <= 62, s"numPlanes $numPlanes overflows the long signature")
    val signs = srpSigns(dims, numPlanes * numTables)
    vec => array((0 until numTables).map { t =>
      (0 until numPlanes).map { p =>
        when(VecDot.dot(vec, lit(signs(t * numPlanes + p))) >= 0.0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  /** The shared LSH search core behind [[lshTopK]] and
    * [[lshPortableTopK]]. Candidates: each side's per-table signatures
    * (`sigs`, posexploded with their table index), the probe expansion
    * on the broadcast-small query side, one bucket equi-join. Score:
    * round-6 exact cosine, one row per pair (a pair can meet in more
    * than one table). Rank: per-query top-k.
    */
  private def lshSearch(corpus: DataFrame, corpusId: String, corpusVec: String,
                        queries: DataFrame, queryId: String, queryVec: String,
                        k: Int, numPlanes: Int, probeRadius: Int,
                        sigs: Column => Column): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= numPlanes,
      s"probeRadius $probeRadius not in [0, numPlanes=$numPlanes]")
    def buckets(df: DataFrame, t: String, radius: Int): DataFrame = {
      val signed = df.select(col("*"),
        posexplode(sigs(col(s"_${t}v"))).as(Seq("_t", "_sig")))
      val probed =
        if (radius == 0) signed
        else signed.withColumn("_sig", explode(array(
          probeMasks(numPlanes, radius).map(m => col("_sig").bitwiseXOR(lit(m))): _*)))
      probed.withColumn("_sg", struct(col("_t"), col("_sig"))).drop("_t", "_sig")
    }
    val cb = buckets(side(corpus, col(corpusId), corpusVec, "c"), "c", 0)
    val qb = buckets(side(queries, col(queryId), queryVec, "q"), "q", probeRadius)
    roundCosTopK(roundCos(cb.join(broadcast(qb), "_sg"))
      .dropDuplicates("query_id", "neighbor_id"), k)
  }

  /** The multi-probe XOR-mask sequence for [[lshTopK]]: every plane
    * subset of size <= probeRadius, popcount-major then numeric order
    * — mask 0 (the exact bucket) first, then single flips ascending,
    * then pairs, ... Deterministic by construction (no RNG, no hash
    * order), so a probe sequence is reproducible across runs and
    * Spark versions; the spec pins it literally.
    */
  def probeMasks(numPlanes: Int, probeRadius: Int): Seq[Long] =
    (0 to probeRadius).flatMap { r =>
      (0 until numPlanes).combinations(r)
        .map(_.foldLeft(0L)((m, p) => m | (1L << p)))
        .toSeq.sorted
    }

  private case class Cent(id: Any, vec: Array[Double], nrm: Double)

  private def l2d(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  private def dotd(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Driver-side coarse-quantizer training shared by [[ivfTopK]] and
    * [[ivfPqTopK]]: seed `nlist` centroids from the trainCap
    * lowest-hash rows (deterministic, uniform, one distributed top-K
    * — TakeOrdered, no full sort), then `refineIters` Lloyd passes.
    * Null and zero vectors are excluded: they carry no geometry to
    * train on (every cosine against a zero seed would be null), and
    * the PQ family's dirty-input contract (pq_codes, pqAdcTopK)
    * likewise skips/rejects rather than NPEs.
    *
    * Ties in the local assignment break on centroid POSITION, which is
    * seed-hash order — the same deterministic-order principle as the
    * SQL id tie-break, and exact ties are measure-zero for float
    * cosines.
    */
  private def trainCoarse(corpus: DataFrame, corpusId: String, corpusVec: String,
                          nlist: Int, refineIters: Int, trainCap: Int): Array[Cent] = {
    require(trainCap >= nlist, s"trainCap=$trainCap must cover nlist=$nlist")
    val trainRows = corpus
      .filter(col(corpusVec).isNotNull)
      .select(col(corpusId).as("_id"),
        col(corpusVec).cast("array<double>").as("_v"),
        xxhash64(col(corpusId)).as("_h"))
      .orderBy(col("_h"), col("_id"))
      .limit(trainCap)
      .collect()
      .filter(r => l2d(r.getSeq[Double](1).toArray) > 0)
    val trainVecs: Array[Array[Double]] =
      trainRows.map(_.getSeq[Double](1).toArray)
    val dims = if (trainVecs.isEmpty) 0 else trainVecs(0).length

    // seeds = first nlist sample rows (already in hash order); Lloyd
    // re-centers each list on its member mean.
    var cents: Array[Cent] = trainRows.take(nlist)
      .map(r => Cent(r.get(0), r.getSeq[Double](1).toArray, l2d(r.getSeq[Double](1).toArray)))

    for (_ <- 0 until refineIters) {
      val sums = Array.fill(cents.length)(new Array[Double](dims))
      val counts = new Array[Long](cents.length)
      var t = 0
      while (t < trainVecs.length) {
        val v = trainVecs(t)
        val vn = l2d(v)
        var best = 0; var bestCos = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          val cos = dotd(v, cents(c).vec) / (vn * cents(c).nrm)
          if (cos > bestCos) { bestCos = cos; best = c }
          c += 1
        }
        // clamp to the vector's own length — a short dirty vector
        // contributes 0 for its missing dims, the same min-length rule
        // as dotd / pq_codes / pqAdcTopK
        val s = sums(best); var i = 0
        val lim = math.min(dims, v.length)
        while (i < lim) { s(i) += v(i); i += 1 }
        counts(best) += 1
        t += 1
      }
      // empty lists drop out (standard k-means behavior)
      cents = cents.indices.iterator.filter(counts(_) > 0).map { c =>
        val m = sums(c).map(_ / counts(c))
        Cent(cents(c).id, m, l2d(m))
      }.toArray
    }
    cents
  }

  /** Seeded IVF candidate source: the top-`take` nearest centroids of
    * each row of `df` by cosine, as `_cent_id`. Small quantizers embed
    * as LITERALS: score + sort happen in-row, one narrow codegen map —
    * no crossJoin blow-up, no per-row window shuffle. Large
    * quantizers (nlist beyond expression-tree size) fall back to a
    * broadcast join + per-row top-take window. A zero-norm row scores
    * null against every centroid and lands on the lowest ids instead
    * of failing the division.
    */
  private def assignCents(cents: Array[Cent],
                          idType: org.apache.spark.sql.types.DataType,
                          df0: DataFrame, vec: String,
                          take: Int): DataFrame = {
    val df = df0.withColumn("_anrm", norm(col(vec)))
    val nrm = col("_anrm")
    val assigned = if (cents.length <= 128) {
      val scoredArr = array(cents.map(c => struct(
        (-try_divide(VecDot.dot(col(vec), lit(c.vec)), nrm * lit(c.nrm))).as("_negcos"),
        lit(c.id).as("_cid"))): _*)
      df.withColumn("_cand", explode(slice(sort_array(scoredArr), 1, take)))
        .withColumn("_cent_id", col("_cand._cid"))
        .drop("_cand")
    } else {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
      val centFrame = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(cents.map(c => Row(c.id, c.vec.toSeq, c.nrm)): _*),
        StructType(Seq(StructField("_cent_id", idType),
          StructField("_cent_vec", ArrayType(DoubleType)),
          StructField("_cent_nrm", DoubleType))))
      df.withColumn("_rowid", monotonically_increasing_id())
        .crossJoin(broadcast(centFrame))
        .withColumn("_cent_cos",
          try_divide(VecDot.dot(col(vec), col("_cent_vec")), nrm * col("_cent_nrm")))
        .withColumn("_cent_rank", row_number().over(
          Window.partitionBy(col("_rowid"))
            .orderBy(col("_cent_cos").desc, col("_cent_id"))))
        .filter(col("_cent_rank") <= take)
        .drop("_cent_vec", "_cent_nrm", "_cent_cos", "_cent_rank", "_rowid")
    }
    assigned.drop("_anrm")
  }

  /** IVF (inverted-file) ANN — the classic scale path next to LSH.
    *
    * Coarse quantizer: `nlist` centroids seeded deterministically
    * from the corpus itself (lowest xxhash64(id) — a uniform
    * pseudo-random sample with no driver-side RNG to ship), then
    * tightened by `refineIters` Lloyd passes (assign + re-center on
    * the list mean), which is what turns arbitrary seed points into a
    * quantizer whose lists actually partition the space.
    *
    * The quantizer TRAINS ON THE DRIVER over a bounded hash-sample
    * (`trainCap` rows — the same move FAISS makes: k-means converges
    * on a sample held in RAM; `trainCap` × dims doubles is the
    * explicit memory bound). One distributed top-`trainCap` selection
    * fetches the sample; the Lloyd loop is then local arithmetic —
    * zero cluster round-trips per pass — and fully deterministic
    * (fixed iteration order, no partitioning in sight). Only the
    * ASSIGNMENT touches every corpus row, and that is one narrow
    * broadcast-style map: small quantizers embed as codegen literals,
    * large ones ride a broadcast join. Queries probe their `nprobe`
    * nearest centroids and scan only those inverted lists — candidate
    * work per query is ~|corpus| * nprobe / nlist instead of |corpus|.
    *
    * At 100 TB: the sample fetch is a distributed top-K (no full
    * sort), the assignment pass is narrow, the probe join shuffles
    * only on centroid id, and each inverted list is a normal
    * partition-parallel scan.
    */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, nlist: Int = 64, nprobe: Int = 4,
              refineIters: Int = 1, spill: Int = 1,
              trainCap: Int = 65536): DataFrame = {
    val cents = trainCoarse(corpus, corpusId, corpusVec, nlist, refineIters, trainCap)
    val idType = corpus.schema(corpusId).dataType
    // `spill` > 1 = assignment replication: each corpus vector joins
    // its top-`spill` lists, so a neighbor sitting just across a
    // Voronoi boundary from the query's probed cells is still found.
    // Costs spill× list storage/scan — the classic IVF recall lever
    // next to nprobe (refinement keeps take=1: true Lloyd k-means).
    val c = assignCents(cents, idType, side(corpus, col(corpusId), corpusVec, "c"),
      "_cv", spill)
    val q = assignCents(cents, idType, side(queries, col(queryId), queryVec, "q"),
      "_qv", nprobe)
    roundCosTopK(roundCos(c.join(broadcast(q), "_cent_id"))
      .dropDuplicates("query_id", "neighbor_id"), k) // same pair via two spilled lists
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max|x| / 127, code_i = floor(x_i / scale) ∈ [-127, 127].
    * The 4x storage/bandwidth cut is THE lever for shipping an
    * embedding corpus at 100 TB scale (dot products then run in int
    * SIMD against the shared scale). floor — not round — so the
    * quantization is bit-deterministic across engines and the oracle
    * can verify codes exactly; all-zero vectors quantize to code 0
    * with scale 0. Output: (id, pos, code, scale) rows.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val scale = array_max(transform(col(vecCol), x => abs(x.cast("double")))) / lit(127.0)
    df.select(col(idCol).as("id"), col(vecCol).as("_v"), scale.as("scale"))
      .select(col("id"), col("scale"), posexplode(col("_v")).as(Seq("pos", "x")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        when(col("scale") === 0, lit(0L))
          .otherwise(floor(col("x").cast("double") / col("scale")).cast("long"))
          .as("code"),
        col("scale"))
  }

  /** Top principal component of an embedding corpus by POWER
    * ITERATION (von Mises–Pollaczek-Geiringer; the PCA step Jégou
    * et al. 2011 §V.A apply before PQ, and the one-number drift/
    * anisotropy diagnostic for an embedding column: a large
    * explained-variance share means the corpus collapsed toward a
    * line — an encoder or dedup regression).
    *
    * Shape at scale: ONE corpus pass builds count, mean sums, AND the
    * d×d second-moment matrix via [[graft.functions.GramianAgg]] — a
    * TypedImperativeAggregate that folds each vector's d(d+1)/2
    * pairwise products in place (map-side partials, one ~132 KB
    * buffer per partition crossing the shuffle), instead of emitting
    * d² = 16,384 exploded rows per vector into a hash aggregate (the
    * r12-flagged constant-factor tax). The covariance assembly and
    * the iteration itself run on the DRIVER over d² ≤ 16384 doubles
    * (require'd; the bounded-collect contract, same class as
    * trainCoarse's trainCap). Iterations never touch the corpus
    * again.
    *
    * Engine-exactness: coordinates round ONCE to 6 decimals and then
    * live as exact INTEGER MICROS (×10⁶ longs) — every moment product
    * xi6·xj6 is an exact integer, DECIMAL(38,0)-summed with no
    * per-product rounding at all (rounding 8M products through
    * BigDecimal was a measured 10× slowdown — the t20 lesson), and
    * the conversion back (S = sum/10¹², m = sum/10⁶/n) is two IEEE
    * divisions. Every power-iteration round re-rounds (matvec terms,
    * norm terms, the normalized vector) through the round6/DECIMAL
    * discipline in the driver loop and the oracle's chained CTEs —
    * the two replay identical IEEE arithmetic, so loadings,
    * eigenvalue, and explained fraction are hash-EXACT. The
    * eigenvector's sign is pinned by the deterministic start
    * v0 = round6(1/√d)·1.
    *
    * Output: d rows (pos, loading, eigenvalue, explained_frac).
    */
  def topPcPower(df: DataFrame, idCol: String, vecCol: String,
                 iters: Int = 12): DataFrame = {
    val spark = df.sparkSession
    val t = pcTrain(df, vecCol, iters)
    import spark.implicits._
    t.loadings.zipWithIndex
      .map { case (l, i) => (i.toLong, l, t.eigenvalue, t.explainedFrac) }.toSeq
      .toDF("pos", "loading", "eigenvalue", "explained_frac")
  }

  /** The shared training pass behind [[topPcPower]] and
    * [[pcProject]]: one Gramian-aggregate corpus action yields count,
    * means, and covariance; the power iteration runs on the driver.
    * Returning means and n here is what lets pcProject avoid the two
    * extra corpus scans the r12 verdict flagged.
    */
  private[graft] final case class PcModel(
      loadings: Array[Double], eigenvalue: Double, explainedFrac: Double,
      means: Array[Double], n: Long)

  /** DECIMAL(24,8) fold of round6 terms — the engine-portable sum. */
  private def decSum(terms: Iterator[Double]): Double = {
    var acc = java.math.BigDecimal.ZERO
    terms.foreach { t =>
      acc = acc.add(java.math.BigDecimal.valueOf(round6(t)).setScale(8))
    }
    acc.doubleValue()
  }

  /** The one-corpus-pass covariance assembly: Gramian aggregate →
    * bounded driver collect → (n, means, C). Shared by the k=1 and
    * top-k trainers.
    *
    * Merge topology: a global no-group aggregate would funnel EVERY
    * partition's ~132 KB partial into one final reduce task — 13 GB
    * of fan-in at 100k input partitions. Instead the partials
    * shuffle into ≤1024 partition-id buckets (each map task emits
    * exactly one partial, each reducer folds ~#partitions/1024 of
    * them) and the DRIVER folds the ≤1024 bucket sketches with exact
    * BigInteger adds — ≤135 MB of bounded driver fan-in at any
    * corpus size, values bit-identical (integer sums associate).
    */
  private def covariance(df: DataFrame, vecCol: String)
      : (Long, Array[Double], Array[Array[Double]]) = {
    val rows = df.filter(col(vecCol).isNotNull)
    // micro-coordinates: round6 once, then exact integers (the round6
    // value × 1e6 sits within 1e-4 of an integer — no tie ambiguity)
    val c6 = transform(col(vecCol),
      x => round(round(x.cast("double"), 6) * lit(1e6), 0).cast("long"))
    val sketches = rows
      .select(c6.as("_v"), pmod(spark_partition_id(), lit(1024)).as("_b"))
      .groupBy(col("_b"))
      .agg(graft.functions.GramianAgg.gramian(col("_v")).as("g"))
      .select(col("g"))
      .collect()
      .map(r => graft.functions.GramianAgg.parse(r.getAs[Array[Byte]](0)))
      .filter(_._1 > 0L)
    val (n, d, mBig, sBig) = graft.functions.GramianAgg.foldParsed(sketches)
    require(n > 0, "topPcPower: empty corpus")
    require(d.toLong * d <= 16384,
      s"topPcPower: d=$d exceeds the 128-dim driver-matrix contract")
    val nD = n.toDouble
    // identical conversion order to the pre-r13 DECIMAL(38,0) collect:
    // exact-integer sum → BigDecimal → IEEE double → the two divisions
    val sm = mBig.map(b => new java.math.BigDecimal(b).doubleValue() / 1e6)
    // C_ij = S_ij/n - (sm_i/n)(sm_j/n), association mirrored by the oracle
    val m = Array.tabulate(d)(i => sm(i) / nD)
    val c = Array.ofDim[Double](d, d)
    var k = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        // exact integer S_ij = S_ji: the mirror is bit-identical
        // because m(i)*m(j) is IEEE-commutative
        val v = new java.math.BigDecimal(sBig(k)).doubleValue() / 1e12 / nD -
          m(i) * m(j)
        c(i)(j) = v; c(j)(i) = v
        k += 1; j += 1
      }
      i += 1
    }
    (n, m, c)
  }

  /** 12-round power iteration under the round6/DECIMAL discipline —
    * the driver loop both engines replay identically. */
  private def powerIterate(c: Array[Array[Double]], iters: Int)
      : (Array[Double], Double) = {
    val d = c.length
    var v = Array.fill(d)(round6(1.0 / math.sqrt(d.toDouble)))
    var nm = 0.0
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(i => decSum((0 until d).iterator.map(j => c(i)(j) * v(j))))
      nm = math.sqrt(decSum(w.iterator.map(x => x * x)))
      require(nm > 0, "topPcPower: zero covariance — no variance to explain")
      v = w.map(x => round6(x / nm))
    }
    (v, round6(nm))
  }

  private[graft] def pcTrain(df: DataFrame, vecCol: String,
                             iters: Int): PcModel = {
    val (n, m, c) = covariance(df, vecCol)
    val d = c.length
    val (v, eig) = powerIterate(c, iters)
    val trace = decSum((0 until d).iterator.map(i => c(i)(i)))
    PcModel(v, eig, round6(eig / trace), m, n)
  }

  /** Top-K principal components by power iteration + Hotelling
    * DEFLATION: component c trains on C_c, then C_{c+1} = C_c −
    * (λ·v)·vᵀ removes its variance, exactly the rotation matrix
    * Jégou et al. 2011 §V.A train for OPQ-style preprocessing, and
    * the k-axis version of the s21 anisotropy diagnostic. The SAME
    * single Gramian corpus pass feeds every component — deflation is
    * a d² driver update, the corpus is never rescanned.
    *
    * Engine-exactness extends s21's discipline: the deflation update
    * is written (λ·v_i)·v_j with that exact association on both
    * engines, λ and v round-6 from the previous component's chain —
    * so all k loading vectors, eigenvalues, and explained fractions
    * (each against the ORIGINAL trace — the total-variance share)
    * hash-match the oracle's chained CTEs.
    *
    * Output: k·d rows (component 1-based, pos, loading, eigenvalue,
    * explained_frac).
    */
  def topKPcPower(df: DataFrame, idCol: String, vecCol: String,
                  k: Int = 3, iters: Int = 12): DataFrame = {
    val spark = df.sparkSession
    val models = pcTrainK(df, vecCol, k, iters)
    import spark.implicits._
    models.comps.zipWithIndex.flatMap { case ((v, eig, expl), ci) =>
      v.zipWithIndex.map { case (l, i) =>
        ((ci + 1).toLong, i.toLong, l, eig, expl)
      }
    }.toDF("component", "pos", "loading", "eigenvalue", "explained_frac")
  }

  private[graft] final case class PcKModel(
      comps: Seq[(Array[Double], Double, Double)],
      means: Array[Double], n: Long)

  private[graft] def pcTrainK(df: DataFrame, vecCol: String,
                              k: Int, iters: Int): PcKModel = {
    require(k >= 1 && k <= 8, s"topKPcPower: k $k not in [1,8]")
    val (n, m, c0) = covariance(df, vecCol)
    val d = c0.length
    val trace = decSum((0 until d).iterator.map(i => c0(i)(i)))
    var c = c0
    val comps = (1 to k).map { _ =>
      val (v, eig) = powerIterate(c, iters)
      // Hotelling deflation, association (λ·v_i)·v_j mirrored verbatim
      // by the oracle's cov_{c+1} CTE
      val next = Array.tabulate(d, d)((i, j) => c(i)(j) - (eig * v(i)) * v(j))
      c = next
      (v, eig, round6(eig / trace))
    }
    PcKModel(comps, m, n)
  }

  /** Top principal DIRECTION by a FREQUENT-DIRECTIONS sketch — the
    * scale path PAST [[topPcPower]]'s d² ≤ 16384 driver-matrix
    * contract (d = 768 embeddings put the exact Gramian at 590k fold
    * slots per row and a 4.7 MB partial; this sketch holds ℓ·d
    * doubles with the Liberty/Ghashami covariance guarantee
    * AᵀA − BᵀB ⪯ (‖A‖_F²/ℓ)·I). Sketches the UNCENTERED second
    * moment (classical FD — the Gram direction), which is the
    * anisotropy/drift signal for embedding corpora; ‖A‖_F² and n ride
    * the sketch EXACTLY, so explained_frac is a true lower bound of
    * the direction's share of total mass.
    *
    * Shape at scale: the same bucketed tree-merge as the Gramian pass
    * (≤1024 partials of ℓ·d doubles, driver append+shrink fold), one
    * reduced SVD of the ≤ℓ×d sketch on the driver. NOT
    * oracle-expressible (SVD) and the approximation (not the
    * guarantee) is fold-order-dependent → rows-only with
    * FdSketchSpec's accuracy + error-bound gates. Loading sign pins
    * to the first non-tiny component being positive.
    * Output: d rows (pos, loading, eigenvalue, explained_frac).
    */
  def topPcFd(df: DataFrame, idCol: String, vecCol: String,
              ell: Int = 64): DataFrame = {
    require(ell >= 2 && ell <= 256, s"topPcFd: ell $ell not in [2,256]")
    val spark = df.sparkSession
    val rows = df.filter(col(vecCol).isNotNull)
    val sketches = rows
      .select(col(vecCol).cast("array<double>").as("_v"),
        pmod(spark_partition_id(), lit(1024)).as("_b"))
      .groupBy(col("_b"))
      .agg(graft.functions.FdAgg.sketch(col("_v"), ell).as("g"))
      .select(col("g"))
      .collect()
      .map(r => graft.functions.FdAgg.parse(r.getAs[Array[Byte]](0)))
    val (d, n, fro2, b) = graft.functions.FdAgg.fold(sketches.toSeq, ell)
    require(n > 0, "topPcFd: empty corpus")
    require(fro2 > 0, "topPcFd: zero mass — no direction to explain")
    import breeze.linalg.{svd, DenseMatrix}
    val k = b.length
    val flat = new Array[Double](k * d)
    var i = 0
    while (i < k) {
      var j = 0
      while (j < d) { flat(j * k + i) = b(i)(j); j += 1 }
      i += 1
    }
    val res = svd.reduced(new DenseMatrix(k, d, flat))
    val s0 = res.singularValues(0)
    val vt = res.rightVectors
    var v = Array.tabulate(d)(j => vt(0, j))
    val pivot = v.indexWhere(x => math.abs(x) > 1e-9)
    if (pivot >= 0 && v(pivot) < 0) v = v.map(-_)
    val eig = s0 * s0 / n.toDouble
    val expl = s0 * s0 / fro2
    import spark.implicits._
    v.zipWithIndex.map { case (l, j) => (j.toLong, l, eig, expl) }.toSeq
      .toDF("pos", "loading", "eigenvalue", "explained_frac")
  }

  /** Project every embedding onto the corpus top principal component
    * (the APPLY step of [[topPcPower]]): score_r = Σ_i round6(x_ri)·v_i
    * — centered by the same corpus mean the training pass measured,
    * so the score is the signed distance along the dominant axis. The
    * per-row drift/outlier coordinate: corpus-level anisotropy (s21's
    * explained_frac) says "the corpus collapsed toward a line"; this
    * says WHICH rows sit where on it (tail cleanup, stratified
    * sampling along the axis, PCA whitening's first coordinate).
    *
    * Shape at scale: [[pcTrain]]'s ONE Gramian corpus action runs
    * once and hands back loadings AND the corpus mean/count it
    * already measured (no re-derivation scans — the r12 fix); the
    * projection itself embeds the d loadings and d means as
    * LITERALS in one zero-shuffle narrow pass (the s08/d21 device) —
    * per-term products round-6 then DECIMAL-fold row-locally, so the
    * score is engine-exact and deterministic under any partitioning.
    * Output: (id, pc_score).
    */
  def pcProject(df: DataFrame, idCol: String, vecCol: String,
                iters: Int = 12): DataFrame = {
    val model = pcTrain(df, vecCol, iters)
    val loadings = model.loadings
    val means = model.means
    val rows = df.filter(col(vecCol).isNotNull)
    val terms = (0 until loadings.length).map { i =>
      round(round((element_at(col("_xr"), i + 1) - lit(means(i))) , 6) * lit(loadings(i)), 6)
        .cast("decimal(24,8)")
    }
    rows.select(col(idCol).as("id"),
        transform(col(vecCol), x => round(x.cast("double"), 6)).as("_xr"))
      .withColumn("pc_score",
        round(terms.reduce(_ + _).cast("double"), 6))
      .select(col("id"), col("pc_score"))
  }

  /** PCA WHITENING projection — the apply step of [[topKPcPower]] and
    * the standard embedding-preprocessing rung (Jégou & Chum 2012
    * "Negative evidences and co-occurrences in image retrieval:
    * the benefit of PCA and whitening"): every vector's centered
    * coordinate along each of the top-k components (`score`), plus
    * the variance-normalized coordinate `white` = score/√λ_c — the
    * rotation+rescale that equalizes axis variances before cosine/PQ.
    *
    * Shape at scale: pcTrainK's ONE Gramian corpus pass trains all k
    * components (deflation is a d² driver update); the projection
    * embeds k·d loadings + d means as LITERALS in one zero-shuffle
    * narrow pass — k scores per row, row-local DECIMAL folds, no
    * joins, no aggregates (the s22 device, k-wide). Engine-exact:
    * per-term round-6 products, √λ a correctly-rounded sqrt of the
    * same round-6 double on both engines.
    *
    * Output: k rows per vector (id, component, score, white).
    */
  def pcWhiten(df: DataFrame, idCol: String, vecCol: String,
               k: Int = 3, iters: Int = 12): DataFrame = {
    val model = pcTrainK(df, vecCol, k, iters)
    val means = model.means
    val rows = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        transform(col(vecCol),
          x => round(round(x.cast("double"), 6) * lit(1e6), 0).cast("long"))
          .as("_x6"))
    val compCols = model.comps.zipWithIndex.map { case ((v, eig, _), ci) =>
      // the WHOLE per-row chain runs in exact INTEGER MICROS (the s21
      // discipline end to end): coordinate, round-6 mean, and loading
      // live as ×10⁶ longs, each term (x6−m6)·v6 is an exact pico
      // long (|x|≤1000 ⇒ |term|≤10¹⁵, 64 terms ≤ 6.4×10¹⁶ — far
      // inside a long), and the 6-decimal HALF_UP happens by pure
      // integer arithmetic on the pico sum. Two earlier formulations
      // failed the discipline: per-coordinate round(double, 6) broke
      // half-way ties by the double's binary neighborhood (3
      // divergent scores at sf0.001), and a 64-term DECIMAL add
      // chain silently crossed precision 38, where Spark's
      // precision-loss rule truncates the scale MID-CHAIN (1176
      // divergent scores). Long arithmetic has neither hazard — and
      // no BigDecimal churn in the hot path.
      val m6 = means.map(mi => java.math.BigDecimal.valueOf(round6(mi))
        .movePointRight(6).setScale(0, java.math.RoundingMode.HALF_UP)
        .longValueExact())
      val v6 = v.map(vi => java.math.BigDecimal.valueOf(vi)
        .movePointRight(6).setScale(0, java.math.RoundingMode.HALF_UP)
        .longValueExact())
      val pico = v.indices.map { i =>
        (element_at(col("_x6"), i + 1) - lit(m6(i))) * lit(v6(i))
      }.reduce(_ + _)
      // the √λ denominator rides the struct so `white` derives from
      // the ALREADY-EVALUATED score in a later projection — the
      // 64-term tree evaluates once per component, not twice
      struct(lit((ci + 1).toLong).as("component"), pico.as("pico"),
        lit(math.sqrt(eig)).as("den"))
    }
    // HALF_UP away from zero at the pico→micro boundary, in pure
    // integer DIV (a double division here would sit exactly at the
    // 2^53 precision edge for long picos)
    val micro = expr("""CASE WHEN _c.pico >= 0
        THEN (_c.pico + 500000L) DIV 1000000L
        ELSE -((-_c.pico + 500000L) DIV 1000000L) END""")
    val score = micro.cast("double") / lit(1e6)
    rows
      .select(col("id"), explode(array(compCols: _*)).as("_c"))
      .select(col("id"), col("_c.component").as("component"),
        score.as("score"),
        round(score / col("_c.den"), 6).as("white"))
  }

  /** Symmetric int8-quantized ANN — the FAISS SQ8 SEARCH path on top
    * of [[quantizeInt8]]'s storage layout: BOTH sides quantize to
    * per-vector floor codes, and the ranking score is the quantized
    * cosine
    *
    *   qcos = Σ cq_i·cc_i / (√Σ cc_i² · √Σ cq_i²)
    *
    * — the per-vector scales cancel out of the ratio, so the scan
    * never touches a float vector: every pair costs one BIGINT
    * multiply-accumulate over codes (the "int SIMD" claim in s07's
    * scaladoc, realized). At 100 TB this is THE bandwidth story: the
    * corpus scan reads 8× fewer bytes than float64 (s07's
    * materialized codes), and because all three sums are EXACT
    * integer arithmetic there is no float-reassociation hazard at
    * all — the score is deterministic under any partitioning and the
    * oracle reproduces it bit-for-bit (one IEEE division + two
    * correctly-rounded sqrts at the end, rounded to 6 per the
    * rounded-cosine rule). Zero vectors have no code evidence
    * (cn2 = 0) and are excluded from ranking on both sides — the
    * no-evidence rule, not a 0-similarity guess.
    *
    * Codes are built row-LOCALLY (transform over the array — never
    * the (id, pos) explode, which is s07's inspection/oracle view,
    * not the search layout). Queries broadcast; ties break on corpus
    * id; `filter(rank <= k)` plans as WindowGroupLimit map-side
    * top-k. Quality vs brute float cosine is gated by Int8AnnSpec
    * (floor quantization of 64-dim vectors costs ~1e-2 cosine error;
    * recall@10 measured 1.0 at sf0.001).
    */
  def int8TopK(corpus: DataFrame, corpusId: String, corpusVec: String,
               queries: DataFrame, queryId: String, queryVec: String,
               k: Int): DataFrame = {
    def coded(df: DataFrame, id: String, vec: String,
              idOut: String, cOut: String, n2Out: String): DataFrame =
      df.select(col(id).as(idOut),
          (array_max(transform(col(vec), x => abs(x.cast("double")))) / lit(127.0))
            .as("_s"),
          col(vec).as("_v"))
        .withColumn(cOut, when(col("_s") === 0,
            transform(col("_v"), _ => lit(0L)))
          .otherwise(transform(col("_v"),
            x => floor(x.cast("double") / col("_s")).cast("long"))))
        .withColumn(n2Out,
          aggregate(col(cOut), lit(0L), (a, x) => a + x * x))
        .filter(col(n2Out) > 0)
        .select(idOut, cOut, n2Out)
    val c = coded(corpus, corpusId, corpusVec, "_cid", "_cc", "_cn2")
    val q = coded(queries, queryId, queryVec, "_qid", "_qc", "_qn2")
    val scored = c.crossJoin(broadcast(q))
      .withColumn("_dot", aggregate(
        zip_with(col("_cc"), col("_qc"), (a, b) => a * b),
        lit(0L), (a, x) => a + x))
      .withColumn("qcos", round(col("_dot").cast("double") /
        (sqrt(col("_cn2").cast("double")) * sqrt(col("_qn2").cast("double"))), 6))
    topK(scored, "_qid", k, col("qcos").desc, col("_cid"))
      .select(pairIds :+ col("qcos") :+ col("rank").cast("long").as("rank"): _*)
  }

  /** Corpus-max vector length (for sign matrices that must cover
    * every ragged row). An eager aggregate — a Spark job fires at
    * plan-build time; fixed-dim callers pass `inDims` instead. */
  private def corpusMaxDims(df: DataFrame, vecCol: String): Int =
    df.agg(max(size(col(vecCol)))).take(1)
      .headOption.filterNot(_.isNullAt(0)).map(_.getInt(0)).getOrElse(0)

  /** The portable SRP sign matrix shared by s08/s14: sign(i, j) =
    * +1 iff the first md5 hex digit of "i:j" is even — reproducible
    * in any engine with an md5 (the s08 oracle recomputes it in SQL).
    */
  private[operators] def srpSigns(dims: Int, outDims: Int): IndexedSeq[Array[Double]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Double = {
      val h = digest.digest(s"$i:$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
    }
    (0 until outDims).map(j => Array.tabulate(dims)(i => sign(i, j)))
  }

  /** Binary-sketch ANN: SRP sign codes + Hamming shortlist + exact
    * rerank (Charikar 2002 simhash-for-cosine). Every vector gets a
    * `bits`-bit code (bit j = sign of its j-th portable SRP
    * projection — the same md5-parity matrix as [[randomProjection]],
    * so the whole path is deterministic and oracle-checkable, unlike
    * the seeded LSH family); candidates rank by
    * popcount(code XOR query code), the top-`shortlist` per query get
    * the exact cosine, and the top-k of those return.
    *
    * Shape at scale: codes are a row-local projection (one 8-byte
    * long per vector — the 64-dim float corpus shrinks 32×; at 100 TB
    * the code table is the only thing the scan reads). The
    * corpus × queries Hamming compare is one XOR+popcount per pair —
    * integer ops against the broadcast query codes, no shuffle — and
    * the rank windows run as WindowGroupLimit map-side top-k. The
    * exact cosine touches only shortlist×queries raw vectors, so the
    * expensive float work is O(shortlist), independent of corpus
    * size.
    * Output: (query_id, neighbor_id, hamming, cos, rank).
    */
  def hammingTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                  queries: DataFrame, queryId: String, queryVec: String,
                  k: Int, bits: Int = 16, shortlist: Int = 50,
                  inDims: Option[Int] = None): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits=$bits must fit a signed long")
    val dims = inDims.getOrElse(corpusMaxDims(corpus, corpusVec))
    val signVecs = srpSigns(dims, bits)
    def codeOf(vec: Column): Column =
      (0 until bits).map { j =>
        when(round(VecDot.dot(vec, lit(signVecs(j))), 6) > 0.0,
          lit(1L << (bits - 1 - j))).otherwise(lit(0L))
      }.reduce(_ + _)
    val c = side(corpus, col(corpusId), corpusVec, "c")
      .withColumn("_code", codeOf(col("_cv")))
    val q = side(queries, col(queryId), queryVec, "q")
      .withColumn("_qcode", codeOf(col("_qv")))
    val shortlisted = topK(c.crossJoin(broadcast(q))
        .withColumn("hamming", expr("bit_count(_code ^ _qcode)").cast("long")),
      "_qid", shortlist, col("hamming"), col("_cid"))
    rawCosTopK(shortlisted, k, col("hamming"))
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Matryoshka / prefix-dimension ANN (Kusupati et al. 2022 MRL
    * "adaptive retrieval"): shortlist every query's candidates by
    * cosine over only the FIRST `prefixDims` dimensions, then
    * exact-rerank the top-`shortlist` with the full vectors. With
    * MRL-trained embeddings the low-dim prefix is itself a valid
    * embedding, so the cheap pass is a real retriever, not a random
    * sketch.
    *
    * Shape at scale: the corpus scan reads `prefixDims`/D of every
    * vector's bytes (at 100 TB the prefix lives in its own parquet
    * column, so the scan literally touches that fraction of the
    * storage); both rank windows run as WindowGroupLimit map-side
    * top-k against the broadcast query side, and the full-dimension
    * float work touches only shortlist×queries rows — O(shortlist),
    * independent of corpus size. Unlike the seeded LSH family the
    * whole path is plain arithmetic, so it is oracle-exact.
    *
    * Both stages rank on the ROUNDED cosine (6 digits, ties to the
    * lower id) so the ordering is reproducible in any engine doing
    * exact double arithmetic.
    * Output: (query_id, neighbor_id, prefix_cos, cos, rank).
    */
  def matryoshkaTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int, prefixDims: Int = 16,
                     shortlist: Int = 50): DataFrame = {
    require(prefixDims >= 1, s"prefixDims=$prefixDims must be positive")
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    // the prefix is a second normed side per row
    def prefixed(df: DataFrame, t: String): DataFrame =
      withNorm(df.withColumn(s"_${t}pv", slice(col(s"_${t}v"), 1, prefixDims)), s"${t}p")
    val c = prefixed(side(corpus, col(corpusId), corpusVec, "c"), "c")
    val q = prefixed(side(queries, col(queryId), queryVec, "q"), "q")
    val shortlisted = topK(c.crossJoin(broadcast(q))
        .withColumn("prefix_cos", round(exactCos("cp", "qp"), 6)),
      "_qid", shortlist, col("prefix_cos").desc, col("_cid"))
    roundCosTopK(roundCos(shortlisted, col("prefix_cos")), k)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Exact directed k-NN graph over a BOUNDED node set: each node's
    * top-k other nodes by cosine — the construction step every
    * kNN-based pipeline starts from (kNN clustering, label
    * propagation over near-neighbors, UMAP-style manifold layouts).
    * The node frame is broadcast and the pair scan is O(n²), so the
    * exact form is for oracle-sized slices and sampled subgraphs BY
    * CONTRACT; at corpus scale build candidate edges with the LSH
    * family ([[cosinePairsLsh]] for edges above a threshold,
    * [[lshTopK]] with corpus-side queries for per-node top-k) and
    * rerank exactly, as s02/s06 do.
    *
    * Ranks use the rounded-6dp cosine with ties to the lower
    * neighbor id, so any exact-arithmetic engine reproduces the
    * graph bit-for-bit. Output: (src, dst, cos, rank).
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String,
               k: Int): DataFrame = {
    val src = side(df, col(idCol), vecCol, "q")
    val dst = side(df, col(idCol), vecCol, "c")
    roundCosTopK(roundCos(src.join(broadcast(dst), col("_qid") =!= col("_cid"))), k)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Per-DIMENSION embedding profile (the "dead dimension" audit an
    * embedding pipeline runs before trusting a new encoder or a
    * Matryoshka truncation: a collapsed dimension carries no signal
    * but full storage/compute; a runaway one dominates every cosine):
    * per position — count, mean, population variance, min, max, and
    * the dead flag (variance ≤ 1e-6, literal bit-shared with the
    * oracle). Mean/variance derive from DECIMAL(28,12)-quantized
    * folds of x and x² in the q43 fixed parenthesization.
    *
    * Shape at scale: posexplode is map-side row multiplication (×dims)
    * into ONE (pos)-keyed partial-aggregated shuffle — |dims| rows
    * cross the wire per partition, never the vector mass.
    */
  def dimProfile(df: DataFrame, vecCol: String): DataFrame = {
    val e = df.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("pos").cast("long").as("pos"),
        col("x").cast("double").as("_x"))
    def q(c: Column) = c.cast("decimal(28,12)")
    val g = e.groupBy(col("pos")).agg(count(lit(1)).as("n"),
      sum(q(col("_x"))).cast("double").as("_sx"),
      sum(q(col("_x") * col("_x"))).cast("double").as("_sxx"),
      min(col("_x")).as("_mn"), max(col("_x")).as("_mx"))
    val nD = col("n").cast("double")
    val variance = (col("_sxx") - col("_sx") * col("_sx") / nD) / nD
    g.select(col("pos"), col("n"),
        round(col("_sx") / nD, 6).as("mean"),
        round(variance, 6).as("variance"),
        round(col("_mn"), 6).as("min_x"),
        round(col("_mx"), 6).as("max_x"),
        (variance <= 1e-6).as("is_dead"))
      .orderBy("pos")
  }

  /** kNN MAJORITY-VOTE classification (the semi-supervised labeling
    * step a curation pipeline runs once a small seed set is labeled:
    * propagate quality/domain labels to the unlabeled corpus via
    * nearest neighbors): each query point takes the majority label of
    * its `k` nearest seeds by cosine. Deterministic end to end —
    * neighbor ranks use the rounded-6dp cosine with ties to the lower
    * seed id (the [[knnGraph]] rule), the vote argmax breaks ties
    * (votes DESC, label ASC) — so the prediction is engine-neutral.
    *
    * The SEED side is the bounded one by contract (it's the
    * hand-labeled set) and broadcasts; queries stream at corpus
    * scale — per query the scan is O(|seeds|) with a map-side
    * WindowGroupLimit keeping only k rows per query. At
    * million-seed scale, bucket the candidate step with the LSH/IVF
    * family (s02/s03) and rerank exactly, as s01's contract notes.
    *
    * Output: (idCol, pred_label, votes).
    */
  def knnClassify(queries: DataFrame, seeds: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = side(queries, col(idCol), vecCol, "q")
    val sd = side(seeds, col(idCol), vecCol, "c", col(labelCol).cast("long").as("_sl"))
    val wV = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("_sl"))
    roundCosTopK(roundCos(q.join(broadcast(sd), col("_qid") =!= col("_cid")), col("_sl")), k)
      .groupBy(col("query_id"), col("_sl"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("_vr", row_number().over(wV))
      .filter(col("_vr") === 1)
      .select(col("query_id").as(idCol), col("_sl").as("pred_label"),
        col("votes"))
  }

  /** Signed random projection (SRP) to `outDims` dimensions:
    * out_j = sum_i x_i * s(i,j) with s(i,j) = ±1 derived from the
    * parity of md5's first hex digit over "i:j" — a deterministic
    * Achlioptas-style projection with no RNG state to ship, so two
    * runs (or two engines) produce bit-identical output. The cheap
    * first stage of an embedding-scale pipeline: 4× (64→16) fewer
    * dimensions for downstream ANN/clustering at ~sqrt(d'/d) distance
    * distortion.
    *
    * Shape at scale: the ±1 matrix is dims × outDims values — tiny by
    * definition — so it is computed ONCE driver-side (MessageDigest
    * md5 = the same bytes SQL md5 yields) and embedded as literal
    * vectors; each output dim is then one fused [[VecDot]] codegen
    * loop per row. The whole operator is a single narrow projection:
    * no explode of the input dims, no join, no shuffle. Row-local
    * index-order summation is deterministic under any partitioning
    * and mirrors the oracle's list-order sum (the s05 precedent).
    * Output: (id, j, proj).
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       outDims: Int, inDims: Option[Int] = None): DataFrame = {
    // Sign matrix is built to the CORPUS MAX length, not an arbitrary
    // first row: [[VecDot]] clamps each dot to min(row length, sign
    // length), so with a max-length matrix every row sums over exactly
    // its own dims — the same per-row len(embedding) the s08 oracle
    // computes — and ragged inputs agree with the oracle instead of
    // silently truncating to whichever row take(1) happened to see.
    // COST: this is an eager aggregate over the vector column (a full
    // column pass at plan-BUILD time, unlike the old one-row take(1))
    // — the price of the ragged-input contract, paid on every call.
    // `inDims` is the escape hatch: a caller who can assert an upper
    // bound on row length (fixed-dim embedding tables — the common
    // case) passes it and no job fires. A bound BELOW some row's true
    // length silently truncates that row, which is exactly the bug
    // the corpus-max default exists to prevent — hence opt-in only.
    val dims = inDims.getOrElse(corpusMaxDims(df, vecCol))
    val signVecs = srpSigns(dims, outDims)
    df.select(col(idCol).as("id"),
        explode(array((0 until outDims).map(j => struct(
          lit(j.toLong).as("j"),
          round(VecDot.dot(col(vecCol), lit(signVecs(j))), 6).as("proj"))): _*))
          .as("_o"))
      .select(col("id"), col("_o.j").as("j"), col("_o.proj").as("proj"))
  }

  /** Per-label centroids as (label, pos, c) rows: element-wise mean of
    * the embedding column. posexplode keeps it declarative — partial
    * aggregation combines map-side, the single shuffle key is
    * (label, pos), and no executor ever holds more than one running
    * (sum, count) per dimension. Sums go through DECIMAL so the mean
    * is order-independent (bit-identical under any partitioning).
    */
  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg((sum(col("x").cast("double").cast("decimal(28,12)")).cast("double")
        / count(lit(1)).cast("double")).as("c"))

  /** Centroid SIMILARITY MATRIX — the inter-slice redundancy/drift
    * audit (which labels/sources occupy the same region of embedding
    * space: near-1 pairs are candidate merges or leakage between
    * slices, a pair that drifts apart between crawls signals an
    * encoder or content change): pairwise cosine between the s04
    * per-label centroids. Everything after the centroid aggregate
    * runs on the |labels|·d frame — the corpus is touched exactly
    * once; centroids round to 6 and per-term products round-6 →
    * DECIMAL-fold (the t13 discipline), so the matrix is hash-exact.
    * Zero-norm labels drop by the no-evidence rule. Output:
    * (label1, label2, cos) for label1 < label2.
    */
  def centroidSimilarity(df: DataFrame, labelCol: String,
                         vecCol: String): DataFrame = {
    // persisted: the tiny centroid frame feeds the norm aggregate AND
    // both sides of the pair join; unpersisted, each consumer re-runs
    // the corpus centroid pass
    val cents = centroids(df, labelCol, vecCol)
      .select(col("label"), col("pos"), round(col("c"), 6).as("c"))
      .persist()
    val norms = cents.groupBy(col("label"))
      .agg(sum(round(col("c") * col("c"), 6).cast("decimal(24,8)"))
        .cast("double").as("_n2"))
      .filter(col("_n2") > 0)
    val a = cents.select(col("label").as("label1"), col("pos"), col("c").as("_c1"))
    val b = cents.select(col("label").as("label2"), col("pos"), col("c").as("_c2"))
    Caching.sealOver(
      a.join(b, "pos").filter(col("label1") < col("label2"))
        .groupBy(col("label1"), col("label2"))
        .agg(sum(round(col("_c1") * col("_c2"), 6).cast("decimal(24,8)"))
          .cast("double").as("_dot"))
        .join(norms.select(col("label").as("label1"), col("_n2").as("_na")), "label1")
        .join(norms.select(col("label").as("label2"), col("_n2").as("_nb")), "label2")
        .select(col("label1"), col("label2"),
          round(col("_dot") / (sqrt(col("_na")) * sqrt(col("_nb"))), 6).as("cos")),
      cents)
  }

  /** Centroid DRIFT between two corpus snapshots — the
    * encoder/content-change monitor (new crawl, new embedding model
    * version, re-scraped source: did each label's region of embedding
    * space MOVE?): per label present in BOTH snapshots, the cosine
    * between its old and new centroids, both counts, and the norm
    * ratio. cos ≈ 1 and ratio ≈ 1 = stable; a dropping cos flags the
    * drifted slice before it poisons mixtures trained on the old map.
    *
    * Shape at scale: ONE s04 centroid pass per snapshot (everything
    * after runs on two |labels|·d frames); the s23 round6/DECIMAL
    * fold discipline makes the matrix hash-exact; zero-norm sides
    * drop by the no-evidence rule.
    * Output: (label, n_old, n_new, cos_drift, norm_ratio).
    */
  def centroidDrift(dfOld: DataFrame, dfNew: DataFrame, labelCol: String,
                    vecCol: String): DataFrame = {
    def side(df: DataFrame, tag: String): (DataFrame, DataFrame, DataFrame) = {
      val c = centroids(df, labelCol, vecCol)
        .select(col("label"), col("pos"), round(col("c"), 6).as(s"_c$tag"))
        .persist()
      val n2 = c.groupBy(col("label"))
        .agg(sum(round(col(s"_c$tag") * col(s"_c$tag"), 6).cast("decimal(24,8)"))
          .cast("double").as(s"_n2$tag"))
        .filter(col(s"_n2$tag") > 0)
      val n = df.groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as(s"n_$tag"))
      (c, n2, n)
    }
    val (co, n2o, no) = side(dfOld, "old")
    val (cn, n2n, nn) = side(dfNew, "new")
    Caching.sealOver(
      co.join(cn, Seq("label", "pos"))
        .groupBy(col("label"))
        .agg(sum(round(col("_cold") * col("_cnew"), 6).cast("decimal(24,8)"))
          .cast("double").as("_dot"))
        .join(n2o, "label").join(n2n, "label")
        .join(no, "label").join(nn, "label")
        .select(col("label"), col("n_old"), col("n_new"),
          round(col("_dot") / (sqrt(col("_n2old")) * sqrt(col("_n2new"))), 6)
            .as("cos_drift"),
          round(sqrt(col("_n2new")) / sqrt(col("_n2old")), 6).as("norm_ratio")),
      co, cn)
  }

  /** Distributed LLOYD K-MEANS training — the coarse-quantizer /
    * topic-cluster trainer the IVF family (s03/s12/s13/s26) and the
    * cluster-conditioned ops (SemDeDup, prototypicality pruning,
    * cluster-aware splits) consume. `iters` full Lloyd updates from a
    * deterministic seed, then the final assignment:
    *
    *   init:   the k vectors with the smallest md5(id) (portable
    *           pseudo-random spread, no RNG state to replay)
    *   assign: nearest centroid by EXACT integer-micro squared L2 —
    *           vectors land as ×10⁶ longs, each (x₆−c₆)² term and the
    *           d-term sum are exact longs, so the argmin has NO float
    *           reassociation hazard under any partitioning; ties take
    *           the smaller cluster id
    *   update: per-(cluster, pos) micro means — DECIMAL(38,0) sums,
    *           HALF_UP at the micro boundary by sign-split integer
    *           division; an emptied cluster keeps its previous
    *           centroid (the standard Lloyd rule)
    *
    * Shape at scale: per iteration ONE (cluster, pos) aggregate
    * shuffle (map-side partials; k·d rows out) and one bounded k·d
    * driver collect; the assignment pass is ZERO-shuffle — centroids
    * embed as literals in whole-stage codegen exactly like the s22/
    * s25 projections. Total cost: (iters+1) corpus scans, linear in
    * rows — the textbook distributed Lloyd layout. The k·d ≤ 16384
    * contract bounds every collect loudly (the s21 Gramian contract);
    * past it, train on a [[trainCap]]-style sample or lift k via the
    * IVF-PQ path.
    *
    * Everything is exact integers end-to-end (the s25 lesson), so the
    * whole trajectory — including the final assignment and its
    * squared distances — is oracle-reproducible bit-for-bit.
    * Output: (id, cluster, dist_sq) where dist_sq is the exact
    * squared L2 distance in micro² units (×10¹²).
    */
  def kmeansTrain(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int, dims: Int): DataFrame =
    kmeansFit(df, idCol, vecCol, k, iters, dims)._1

  /** The full fit: [[kmeansTrain]]'s assignment frame PLUS the final
    * centroid micro matrix (k × dims ×10⁶ longs) for consumers that
    * probe against the trained quantizer ([[ivfExactTopK]]). */
  def kmeansFit(df: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int,
                dims: Int): (DataFrame, Array[Array[Long]]) = {
    val cents = kmeansCentroids(df, idCol, vecCol, k, iters, dims)
    (kmeansAssign(df, idCol, vecCol, cents, dims), cents)
  }

  private def microVecs(df: DataFrame, idCol: String, vecCol: String,
                        dims: Int): DataFrame =
    df.filter(size(col(vecCol)) === dims)
      .select(col(idCol).as("id"), micro6(col(vecCol)).as("_x6"))

  /** A vector as exact integer micros: each coordinate rounded to 6
    * places, ×10⁶, as a long — the exact-Lloyd metric's input. */
  private def micro6(v: Column): Column =
    transform(v, x => round(round(x.cast("double"), 6) * lit(1e6), 0).cast("long"))

  /** Exact IVF candidate source: the `nprobe` centroids of `cents`
    * nearest to each row's `vec` by the exact integer-micro metric,
    * (dist, j) ties, exploded as `as`. Rows not `dims` long drop.
    * Shared by [[ivfExactTopK]] and [[storeAdcPortable]]. */
  private def microProbe(df: DataFrame, vec: String, cents: Array[Array[Long]],
                         nprobe: Int, dims: Int, as: String): DataFrame =
    df.filter(size(col(vec)) === dims)
      .withColumn("_x6", micro6(col(vec)))
      .select(col("*"), explode(
        slice(array_sort(centDists(cents, col("_x6"))), 1, nprobe).getField("j")).as(as))
      .drop("_x6")

  /** (dist², j) per centroid for the micro vector in `vecCol`, as an
    * array column. Centroids ride as ONE array<array<long>> literal and
    * the distances fold through zip_with/aggregate loops — the plan
    * tree is O(1) in k·d where an unrolled per-term expression was
    * O(k·d) and cost SECONDS of Catalyst planning per fresh plan
    * (measured: 7s/query at k=8, d=64; the arithmetic is identical
    * exact longs either way). */
  private def centDists(cents: Array[Array[Long]], vecCol: Column): Column = {
    val cl = typedlit(cents.map(_.toSeq).toSeq)
    zip_with(
      transform(cl, c =>
        aggregate(zip_with(vecCol, c, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)),
      sequence(lit(0L), lit((cents.length - 1).toLong)),
      (d, j) => struct(d.as("d"), j.as("j")))
  }

  private def argminStruct(cents: Array[Array[Long]], dims: Int): Column =
    array_min(centDists(cents, col("_x6")))

  /** Assignment under FIXED centroids — one zero-shuffle literal
    * codegen pass; the apply half of the train-once / assign-anywhere
    * workflow (centroids from [[kmeansCentroids]] are plain driver
    * longs, safe to memoize across queries and sessions). */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   cents: Array[Array[Long]], dims: Int): DataFrame = {
    require(cents.nonEmpty && cents.forall(_.length == dims),
      s"kmeansAssign: centroid matrix must be k x $dims")
    microVecs(df, idCol, vecCol, dims)
      .withColumn("_a", argminStruct(cents, dims))
      .select(col("id"), col("_a.j").as("cluster"), col("_a.d").as("dist_sq"))
  }

  /** SIMPLIFIED SILHOUETTE per cluster (the clustering-quality gate
    * for the s29/s30 SSL-prototype pipeline: are the trained clusters
    * actually separated, or is the prototypicality ranking slicing
    * one blob?): per point, d1 = distance to its OWN (nearest)
    * centroid and d2 = distance to the nearest OTHER centroid — the
    * centroid-based simplification (Hruschka et al.) that keeps the
    * statistic one zero-shuffle literal-codegen pass instead of
    * all-pairs; s = (√d2 − √d1)/√d2 ∈ [0, 1] here since d2 ≥ d1 by
    * construction (d2 = 0 ⇒ s = 0, the coincident-centroids guard).
    *
    * Exactness: distances are the same exact integer micros the
    * Lloyd trainer uses (top-2 via one array_sort over the literal
    * centroid distance array, (d, j) struct order = the oracle's
    * ORDER BY dist, j); each s is a pinned sqrt chain of exact longs;
    * the per-cluster mean quantizes terms to DECIMAL(28,9) before the
    * fold (the q53 rule), then ONE division.
    */
  def silhouette(df: DataFrame, idCol: String, vecCol: String,
                 cents: Array[Array[Long]], dims: Int): DataFrame = {
    require(cents.length >= 2, "silhouette: needs k >= 2 centroids")
    require(cents.forall(_.length == dims),
      s"silhouette: centroid matrix must be k x $dims")
    val s = when(col("_d2") === 0L, lit(0.0))
      .otherwise((sqrt(col("_d2").cast("double"))
        - sqrt(col("_d1").cast("double"))) / sqrt(col("_d2").cast("double")))
    microVecs(df, idCol, vecCol, dims)
      .withColumn("_ds", array_sort(centDists(cents, col("_x6"))))
      .select(col("id"),
        col("_ds").getItem(0).getField("j").as("cluster"),
        col("_ds").getItem(0).getField("d").as("_d1"),
        col("_ds").getItem(1).getField("d").as("_d2"))
      .withColumn("_s", s)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_points"),
        round(sum(round(col("_s"), 9).cast("decimal(28,9)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("mean_silhouette"))
      .orderBy("cluster")
  }

  /** The training half: `iters` Lloyd updates, returns the final
    * centroid micros only (k·d driver longs). */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int, dims: Int): Array[Array[Long]] = {
    require(k >= 1 && iters >= 1 && dims >= 1,
      s"kmeansTrain: bad k=$k iters=$iters dims=$dims")
    require(k.toLong * dims <= 16384,
      s"kmeansTrain: k*dims = ${k.toLong * dims} exceeds the 16384 " +
        "driver-matrix contract — sample the trainer or use the IVF-PQ path")
    val base = microVecs(df, idCol, vecCol, dims).persist()
    // deterministic seed: the k ids with the smallest md5 — a bounded
    // TakeOrdered collect of k micro vectors
    val seed = base
      .withColumn("_h", md5(col("id").cast("string").cast("binary")))
      .orderBy(col("_h"), col("id")).limit(k)
      .select(col("_x6")).collect()
    require(seed.length == k,
      s"kmeansTrain: corpus has only ${seed.length} vectors of dim $dims, need k=$k")
    var cents: Array[Array[Long]] =
      seed.map(_.getSeq[Long](0).toArray)
    def assigned = base.withColumn("_a", argminStruct(cents, dims))
    for (_ <- 1 to iters) {
      // per-(cluster, pos) exact micro sums; the mean's HALF_UP lives
      // on the driver as BigInteger — the oracle replays the identical
      // sign-split formula in HUGEINT SQL
      val sums = assigned
        .select(col("_a.j").as("_j"), posexplode(col("_x6")).as(Seq("_pos", "_v")))
        .groupBy(col("_j"), col("_pos"))
        .agg(sum(col("_v").cast("decimal(38,0)")).as("_s"),
          count(lit(1)).as("_n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        val j = r.getLong(0).toInt; val pos = r.getInt(1)
        val s = r.getDecimal(2).toBigInteger
        val n = java.math.BigInteger.valueOf(r.getLong(3))
        val two = java.math.BigInteger.TWO
        val m =
          if (s.signum() >= 0)
            s.multiply(two).add(n).divide(n.multiply(two))
          else
            s.negate().multiply(two).add(n).divide(n.multiply(two)).negate()
        next(j)(pos) = m.longValueExact()
      }
      cents = next
    }
    base.unpersist(blocking = false)
    cents
  }

  /** ORACLE-EXACT IVF ANN search — the verifiable twin of the seeded
    * s03/s12 family: the coarse quantizer is [[kmeansFit]]'s trained
    * centroids (exact integer-micro trajectory), each query probes its
    * `nprobe` nearest centroids by the SAME exact metric (ties to the
    * smaller cluster), candidates are exactly the probed clusters'
    * members, and the final ranking is the s01 cosine chain. Every
    * stage is deterministic integer arithmetic or the established
    * round-6 cosine — the whole search replays in SQL, so IVF's
    * recall/cost trade-off is auditable hash-exactly, not just
    * recall-gated.
    *
    * Shape at scale: queries are broadcast-small by contract (the
    * bruteTopK rule); the probe list explodes on the QUERY side and
    * joins the assignment frame on cluster — candidate volume is the
    * probed lists' mass, the IVF story; the trained centroids ride as
    * codegen literals.
    * Output: (query_id, neighbor_id, cos, rank), rank 1..k.
    */
  def ivfExactTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                   queries: DataFrame, queryId: String, queryVec: String,
                   k: Int, nprobe: Int, kClusters: Int, iters: Int,
                   dims: Int,
                   trained: Option[Array[Array[Long]]] = None): DataFrame = {
    require(k >= 1 && nprobe >= 1 && nprobe <= kClusters,
      s"ivfExactTopK: bad k=$k nprobe=$nprobe kClusters=$kClusters")
    // `trained` supplies an already-fitted quantizer (the memoized
    // train-once workflow); identical params => identical centroids,
    // so the search result is unchanged either way
    val cents = trained.getOrElse(
      kmeansCentroids(corpus, corpusId, corpusVec, kClusters, iters, dims))
    require(cents.length == kClusters,
      s"ivfExactTopK: trained quantizer has ${cents.length} centroids, want $kClusters")
    val assigned = kmeansAssign(corpus, corpusId, corpusVec, cents, dims)
      .select(col("id").as("_cid"), col("cluster"))
    val probed = microProbe(side(queries, col(queryId), queryVec, "q"), "_qv",
      cents, nprobe, dims, "cluster")
    rawCosTopK(broadcast(probed).join(assigned, Seq("cluster"))
        .join(side(corpus, col(corpusId), corpusVec, "c"), "_cid"), k)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** PROTOTYPICALITY pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws": when data is abundant, dropping the EASIEST —
    * most prototypical — examples beats random pruning; the
    * supervised-prototypes metric is cosine to the example's own
    * class centroid). Per vector: its similarity to its label's
    * centroid, its rank within the label (1 = most prototypical,
    * ties broken by id), and the keep decision after pruning the
    * top `pruneNum/pruneDen` fraction per label.
    *
    * Shape at scale: ONE corpus centroid pass (the s04 (label, pos)
    * aggregate — map-side partials, |labels|·d rows out), then the
    * tiny centroid frame broadcast-joins back onto the row-local
    * (vec_id, pos, x) expand; the per-vector dot collapses map-side
    * to one row per vector before its shuffle. The rank is a window
    * partitioned by label — the pruning key IS the cluster, so
    * per-partition volume is corpus/|clusters|; for few-label
    * corpora at extreme scale, cut on the per-label score threshold
    * (exact percentile, q11's two-phase shape) instead of
    * materializing ranks. Centroids round to 6, per-term products
    * round-6 → DECIMAL-fold (the t13/s23 discipline) — hash-exact.
    * Zero-norm vectors and zero-norm labels drop by the no-evidence
    * rule. The prune fraction is a RATIONAL (pruneNum/pruneDen) so
    * the cut count n·num div den is exact integer arithmetic, never
    * an IEEE rounding hazard.
    * Output: (vec_id, label, proto_score, rank_in_label, n_label,
    * kept) — `kept` = survives pruning.
    */
  def protoPrune(df: DataFrame, idCol: String, labelCol: String,
                 vecCol: String, pruneNum: Int, pruneDen: Int): DataFrame = {
    require(pruneDen >= 1 && pruneNum >= 0 && pruneNum <= pruneDen,
      s"protoPrune: prune fraction $pruneNum/$pruneDen must be in [0,1]")
    val cents = centroids(df, labelCol, vecCol)
      .select(col("label"), col("pos"), round(col("c"), 6).as("_c"))
      .persist()
    val cnorm = cents.groupBy(col("label"))
      .agg(sum(round(col("_c") * col("_c"), 6).cast("decimal(24,8)"))
        .cast("double").as("_cn2"))
      .filter(col("_cn2") > 0)
    val dots = df
      .select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        norm(col(vecCol)).as("_vn"),
        posexplode(col(vecCol)).as(Seq("pos", "_x")))
      .filter(col("_vn") > 0)
      .join(broadcast(cents), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"), col("_vn"))
      .agg(sum(round(col("_c") * col("_x").cast("double"), 6)
        .cast("decimal(24,8)")).cast("double").as("_dot"))
    val scored = dots.join(broadcast(cnorm), "label")
      .select(col("vec_id"), col("label"),
        round(col("_dot") / (sqrt(col("_cn2")) * col("_vn")), 6)
          .as("proto_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
    Caching.sealOver(
      scored
        .withColumn("rank_in_label",
          row_number().over(w.orderBy(col("proto_score").desc, col("vec_id")))
            .cast("long"))
        .withColumn("n_label", count(lit(1)).over(w))
        .withColumn("kept",
          col("rank_in_label") >
            expr(s"n_label * $pruneNum div $pruneDen")),
      cents)
  }

  /** Scale path for embedding near-dup: multi-table hyperplane LSH
    * buckets the corpus, candidate pairs form only within buckets
    * (id1 < id2, deduped across tables), then the exact cosine
    * verifies. Work is O(sum of bucket^2) per table instead of
    * O(n^2); recall follows the 1-(1-p^planes)^tables curve and rises
    * with `numTables`. The exact [[cosinePairs]] below remains for
    * oracle-sized slices.
    *
    * `maxBucket` drops (table, signature) buckets holding more than
    * that many vectors BEFORE the self-join — same role as
    * [[Dedup.lshCandidates]]' cap: a degenerate hyperplane bucket
    * (e.g. a mass of near-identical embeddings) would otherwise go
    * quadratic at corpus scale. Pairs that genuinely agree still meet
    * in one of the other tables' buckets.
    */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, numPlanes: Int = 6,
                     numTables: Int = 8,
                     maxBucket: Option[Int] = None): DataFrame =
    cosinePairsCore(df, idCol, vecCol, threshold, maxBucket,
      graft.functions.LshSigs.sigs(col("v"), numPlanes, numTables))

  /** [[cosinePairsLsh]]'s hash-exact PORTABLE twin (the s33 move for
    * the PAIR mining rung): signatures from the md5-parity sign
    * matrix via index-ordered [[VecDot]] literal folds, so bucket
    * membership — hence the exact candidate set — replays in SQL,
    * and with it the whole sublinear pair-mining mechanism. Shares
    * [[cosinePairsCore]] with the seeded form; only the signature
    * source differs.
    */
  def cosinePairsPortable(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, dims: Int, numPlanes: Int = 6,
                          numTables: Int = 4,
                          maxBucket: Option[Int] = None): DataFrame =
    cosinePairsCore(df, idCol, vecCol, threshold, maxBucket,
      portableSigs(dims, numPlanes, numTables)(col("v")))

  /** Shared pair-mining core: bucket self-join on (table, signature),
    * pair dedup, exact cosine at `threshold`. `sigExpr` is the
    * array<long> signature expression over the aliased vector column
    * `v`.
    */
  private def cosinePairsCore(df: DataFrame, idCol: String, vecCol: String,
                              threshold: Double, maxBucket: Option[Int],
                              sigExpr: Column): DataFrame = {
    val base0 = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("_nrm", norm(col("v")))
      .select(col("id"), col("v"), col("_nrm"),
        posexplode(sigExpr).as(Seq("_t", "_sig")))
    val base = maxBucket match {
      case Some(m) =>
        val wb = Window.partitionBy(col("_t"), col("_sig"))
        base0.withColumn("_bsz", count(lit(1)).over(wb))
          .filter(col("_bsz") <= m).drop("_bsz")
      case None => base0
    }
    val cand = base.as("a")
      .join(base.as("b"),
        col("a._t") === col("b._t") && col("a._sig") === col("b._sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("a.v").as("_1v"), col("a._nrm").as("_1n"),
        col("b.id").as("id2"), col("b.v").as("_2v"), col("b._nrm").as("_2n"))
      .dropDuplicates("id1", "id2")
    cand
      .withColumn("cos", exactCos("1", "2"))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
  }

  /** (cluster, cos) of each row's nearest centroid by round-6 cosine
    * argmax — the assignment half of [[semDedup]]'s literal path,
    * factored out so the STREAMING semantic gate
    * ([[graft.streaming.CurateStream.semGate]]) makes bit-identical
    * decisions per micro-batch: one narrow codegen pass, no shuffle,
    * no state, centroids embedded as literals (K <= 128 enforced —
    * past that janino's method limit forces interpreted eval; a
    * streaming gate's prototype set is small by design). Ties resolve
    * to the lowest centroid id, same as batch. Appends `clusterCol`
    * (long) and `cosCol` (cosine to that centroid, rounded 6dp).
    * A null/missing embedding has no similarity evidence: both
    * appended columns are null (not the arbitrary lowest centroid id
    * the all-null sort would pick), so downstream routing sees the
    * row as visibly unassigned.
    */
  def assignNearestCentroid(df: DataFrame, vecCol: String,
                            cents: DataFrame, centIdCol: String,
                            centVecCol: String,
                            clusterCol: String = "cluster",
                            cosCol: String = "centroid_cos"): DataFrame = {
    val cb = collectCodebook(cents, centIdCol, centVecCol, "assignNearestCentroid")
    require(cb.length <= 128,
      s"assignNearestCentroid: ${cb.length} centroids exceed the literal-path bound (128)")
    df.withColumn("_best", nearestCentroid(col(vecCol), norm(col(vecCol)), cb))
      .withColumn(clusterCol, col("_best").getField("_cid"))
      .withColumn(cosCol, -col("_best").getField("_negcos"))
      .drop("_best")
  }

  /** Round-6 cosine argmax over K literal centroids, row-local: the
    * min (−cos rounded to 6, centroid id) struct — the highest rounded
    * cosine, ties to the lowest centroid id. Null where the row's norm
    * is zero or null: with no cosine there is nothing to rank (a null
    * score would sort first and pick the lowest id). A zero-norm
    * centroid has no cosine either and is never picked. */
  private def nearestCentroid(vec: Column, nrm: Column,
                              cb: Array[(Long, Array[Double])]): Column = {
    val scored = cb.filter(c => l2d(c._2) > 0).map { case (cid, cv) => struct(
      round(-try_divide(VecDot.dot(vec, lit(cv)), nrm * lit(l2d(cv))), 6).as("_negcos"),
      lit(cid).as("_cid")) }
    require(scored.nonEmpty, "nearestCentroid: every centroid has zero norm")
    when(nrm > 0, sort_array(array(scored.toSeq: _*)).getItem(0))
  }

  /** SemDeDup-style semantic near-dedup (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest centroid
    * by cosine, then within each cluster drop any vector whose cosine
    * to a LOWER-id cluster-mate reaches `threshold` — one
    * representative per semantic ball survives. The centroid set
    * replaces LSH banding as the bucketing device: the quadratic pair
    * scan runs per cluster, never corpus-wide.
    *
    * `cents` must be SMALL — it is collected to the driver (K
    * centroids; SemDeDup uses K ~ sqrt(n), and clusters bound the
    * per-cluster pair cost at n/K). Cosines are rounded to 6dp BEFORE
    * the argmax so near-ties resolve by centroid id identically in
    * any engine. Output: surviving rows (id, cluster).
    *
    * Assignment picks its shape by K — the same split as
    * [[ivfTopK]]'s quantizer:
    *
    *  - K <= 128: centroids embed as literals, one narrow codegen
    *    pass, NO shuffle (more would blow janino's method limit and
    *    fall back to interpreted eval). The lazy assignment subplan
    *    is evaluated once per consumer (both pair-join sides + the
    *    anti join) — at <= 128 bounded-dim dots per row, recomputing
    *    the narrow pass is cheaper than caching corpus + vectors;
    *  - K > 128: a broadcast cross join + per-id argmin aggregate
    *    (one id-key shuffle). THAT pass is expensive, so it persists,
    *    and the (small, narrow) result seals via [[Caching.sealOver]]
    *    — eager, lineage-cut, inputs unpersisted.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               cents: DataFrame, centIdCol: String, centVecCol: String,
               threshold: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
    val cb = collectCodebook(cents, centIdCol, centVecCol, "semDedup")
    val e = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("_nrm", norm(col("v")))
    val literalPath = cb.length <= 128
    val assigned0 =
      if (literalPath) {
        // the same expression assignNearestCentroid exposes for streaming
        e.withColumn("cluster", nearestCentroid(col("v"), col("_nrm"), cb).getField("_cid"))
          .select(col("id"), col("v"), col("_nrm"), col("cluster"))
      } else {
        val spark = df.sparkSession
        val centDf = spark.createDataFrame(
          java.util.Arrays.asList(cb.map { case (cid, cv) =>
            Row(cid, cv.toSeq, l2d(cv)) }: _*),
          StructType(Seq(
            StructField("_cid", org.apache.spark.sql.types.LongType),
            StructField("_cv", ArrayType(DoubleType)),
            StructField("_cnrm", DoubleType))))
        // group on a per-ROW key, not the id: duplicate ids must keep
        // one output row each (as the literal path does), not merge
        // into an argmin over both rows' cosines
        e.withColumn("_rowid", monotonically_increasing_id())
          .crossJoin(broadcast(centDf))
          .withColumn("_negcos", round(
            -try_divide(VecDot.dot(col("v"), col("_cv")), col("_nrm") * col("_cnrm")), 6))
          .groupBy(col("_rowid"))
          // a null score never ranks: a zero-norm row gets no cluster,
          // as on the literal path
          .agg(min(when(col("_negcos").isNotNull, struct(col("_negcos"), col("_cid"))))
            .as("_best"),
            // id/v/_nrm are constant per _rowid — first() is exact here
            first(col("id")).as("id"),
            first(col("v")).as("v"), first(col("_nrm")).as("_nrm"))
          .select(col("id"), col("v"), col("_nrm"),
            col("_best").getField("_cid").as("cluster"))
      }
    val assigned = if (literalPath) assigned0 else assigned0.persist()
    val dups = assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(try_divide(VecDot.dot(col("a.v"), col("b.v")),
        col("a._nrm") * col("b._nrm")) >= threshold)
      .select(col("b.id").as("id")).distinct()
    val kept = assigned.join(dups, Seq("id"), "left_anti")
      .select(col("id"), col("cluster"))
    if (literalPath) kept else Caching.sealOver(kept, assigned)
  }

  /** Cluster-balanced diversity sampling: the coreset-selection move
    * of embedding-space curation (the per-cluster-quota step of
    * SemDeDup-style pipelines, arXiv:2303.09540 §4, and of
    * cluster-balanced data selection generally) — assign every row to
    * its nearest centroid, then keep at most `quota` rows per cluster
    * in deterministic md5 order. A corpus dominated by one dense mode
    * (e.g. boilerplate-heavy web text) keeps at most `quota` examples
    * of that mode; rare modes keep everything — balanced coverage of
    * the embedding space instead of a density-proportional sample.
    *
    * Assignment rides [[assignNearestCentroid]]: K literal centroids,
    * one zero-shuffle narrow codegen pass over the corpus (rounded
    * cosine, lowest-centroid-id tie — the s09 rule any engine
    * replays). Selection keys on md5(id) — pseudo-random,
    * reproducible, oracle-portable (not rand(), not arrival order) —
    * via the [[Training.sourceQuota]] two-phase salted top-K: there
    * are only K cluster keys, so a single per-cluster window is a
    * K-task hot spot at corpus scale. Phase 1 ranks within (cluster,
    * salt) and keeps each bucket's local top-quota — a giant cluster
    * spreads over saltBuckets tasks; phase 2 ranks the ≤
    * saltBuckets×quota survivors per cluster, which is EXACTLY the
    * single-window answer (any row in a cluster's global md5-top-quota
    * is also in its own salt bucket's top-quota), so the oracle stays
    * one plain window.
    *
    * Dirty-input rule: rows with NULL vectors get NULL cluster
    * (visibly unassigned, per assignNearestCentroid) and compete in
    * the NULL-cluster quota rather than vanishing — no-evidence-keeps.
    *
    * Output: (id, cluster, pick) for the kept rows, pick = 1-based
    * md5 rank within the cluster.
    */
  def diverseSample(df: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame, centIdCol: String, centVecCol: String,
                    quota: Int, saltBuckets: Int = 64): DataFrame = {
    require(quota >= 1, s"diverseSample: quota=$quota must be >= 1")
    val h = md5(col(idCol).cast("string"))
    val salt = pmod(xxhash64(col(idCol)), lit(saltBuckets))
    assignNearestCentroid(df.select(col(idCol), col(vecCol)), vecCol,
        cents, centIdCol, centVecCol)
      .withColumn("_r1", row_number().over(
        Window.partitionBy(col("cluster"), salt).orderBy(h, col(idCol))))
      .filter(col("_r1") <= quota)
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(h, col(idCol)))
        .cast("long"))
      .filter(col("pick") <= quota)
      .select(col(idCol), col("cluster"), col("pick"))
  }

  /** Product quantization (Jégou, Douze, Schmid 2011): split each
    * vector into `m` equal subvectors and code each against its
    * subspace codebook by nearest L2 (argmin). PQ is the storage
    * layout of billion-scale ANN (IVF-PQ): m small codes per vector
    * instead of 4*d bytes — the compression lever AFTER
    * [[quantizeInt8]] on the way to 100 TB embedding corpora.
    *
    * `codebook` rows supply the codewords — collected to the driver
    * (bounded K; a deterministic stand-in for per-subspace k-means,
    * e.g. the K lowest-id corpus rows). Coding runs through
    * [[graft.functions.PqCodes]], ONE compact codegen call per row
    * with the codebook as a reference object (m × K literal dot
    * columns would blow janino's method-size limit and fall back to
    * interpreted eval): the |x|² term is dropped (constant per row
    * and subspace — cannot move the argmin), distances round to 6dp
    * before comparison, ties keep the lowest code id, so any engine
    * reproduces the codes exactly. One narrow codegen pass, ZERO
    * shuffles. Output: (id, sub, code) — m rows per vector.
    */
  def productQuantize(df: DataFrame, idCol: String, vecCol: String,
                      codebook: DataFrame, cbIdCol: String, cbVecCol: String,
                      m: Int): DataFrame =
    pqCodesFrame(df, idCol, vecCol,
      collectCodebook(codebook, cbIdCol, cbVecCol, "productQuantize"), m,
      "productQuantize")

  /** Train a real PQ codebook (Jégou, Douze, Schmid 2011 §III):
    * INDEPENDENT k-means per subspace — `ksub` L2 centroids over each
    * of the `m` subvector distributions — assembled into ksub full-d
    * codewords (codeword k's subspace-j slice = subspace j's k-th
    * centroid). Coding picks argmin PER SUBSPACE, so the assembled
    * frame plugs into [[productQuantize]]/[[pqAdcTopK]]/[[ivfPqTopK]]
    * unchanged while behaving exactly like m separate codebooks.
    * Raw corpus rows as codewords (the s10/s11 stand-in) quantize
    * near-random embeddings too coarsely to rank neighbors; trained
    * subspace centroids are what makes ADC recall usable.
    *
    * Same driver-training contract as the coarse quantizer
    * ([[trainCoarse]]): one distributed top-`trainCap` hash-sample
    * (explicit memory bound), local Lloyd arithmetic, deterministic
    * seeds (hash order) and tie-breaks (centroid position); an empty
    * cluster keeps its previous centroid so every subspace holds
    * exactly K codewords. Output: (code, codeword), code 0..K-1.
    */
  def trainPqCodebook(corpus: DataFrame, corpusId: String, corpusVec: String,
                      m: Int, ksub: Int = 256, iters: Int = 4,
                      trainCap: Int = 65536): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(ksub >= 1 && trainCap >= ksub,
      s"trainCap=$trainCap must cover ksub=$ksub")
    val sample = corpus
      .filter(col(corpusVec).isNotNull)
      .select(col(corpusId).as("_id"),
        col(corpusVec).cast("array<double>").as("_v"),
        xxhash64(col(corpusId)).as("_h"))
      .orderBy(col("_h"), col("_id"))
      .limit(trainCap)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "trainPqCodebook: empty corpus")
    val d = sample.map(_.length).max
    require(d % m == 0, s"trainPqCodebook: dim $d not divisible by m=$m")
    val sub = d / m
    val k = math.min(ksub, sample.length)
    // per-subspace slice, zero-padded to `sub` (the pq_codes dirty-
    // input rule: missing dims read as 0)
    def slice(v: Array[Double], j: Int): Array[Double] =
      Array.tabulate(sub)(i =>
        if (j * sub + i < v.length) v(j * sub + i) else 0.0)
    val perSub: IndexedSeq[Array[Array[Double]]] = (0 until m).map { j =>
      val pts = sample.map(slice(_, j))
      var cents: Array[Array[Double]] = pts.take(k).map(_.clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Long](k)
        var t = 0
        while (t < pts.length) {
          val p = pts(t)
          var best = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < k) {
            var dist = 0.0; var i = 0
            while (i < sub) {
              val dx = p(i) - cents(c)(i); dist += dx * dx; i += 1
            }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          val s = sums(best); var i = 0
          while (i < sub) { s(i) += p(i); i += 1 }
          counts(best) += 1
          t += 1
        }
        cents = Array.tabulate(k)(c =>
          if (counts(c) > 0) sums(c).map(_ / counts(c)) else cents(c))
      }
      cents
    }
    val rows = (0 until k).map { code =>
      (code.toLong, (0 until m).flatMap(j => perSub(j)(code).toSeq))
    }
    rows.toDF("code", "codeword")
  }

  /** Collect a small codebook/centroid table to the driver: rows
    * sorted ascending by id (= lowest-code-id tie-break as scan
    * order), rectangular (a ragged row would silently misalign the
    * row-major flat layout every later codeword reads from).
    */
  private def collectCodebook(codebook: DataFrame, cbIdCol: String,
                              cbVecCol: String,
                              who: String): Array[(Long, Array[Double])] = {
    val cb = codebook
      .select(col(cbIdCol).cast("long"), col(cbVecCol).cast("array<double>"))
      .collect().map { r =>
        require(!r.isNullAt(0),
          s"$who: codebook id ($cbIdCol) is null or not castable to long")
        require(!r.isNullAt(1), s"$who: codeword ${r.getLong(0)} has a null vector")
        (r.getLong(0), r.getSeq[Double](1).toArray)
      }
      .sortBy(_._1)
    require(cb.nonEmpty, s"$who: empty codebook")
    require(cb.length <= 65536,
      s"$who: ${cb.length} codewords exceed the driver-collect bound")
    val d = cb(0)._2.length
    cb.foreach { case (id, v) =>
      require(v.length == d,
        s"$who: ragged codebook — codeword $id has ${v.length} dims, expected $d")
    }
    cb
  }

  private def pqCodesFrame(df: DataFrame, idCol: String, vecCol: String,
                           cb: Array[(Long, Array[Double])],
                           m: Int, who: String): DataFrame = {
    val d = cb(0)._2.length
    require(d % m == 0, s"$who: dim $d not divisible by m=$m")
    val sub = d / m
    val codeIds = cb.map(_._1).toSeq
    val flat = cb.flatMap(_._2).toSeq
    // per-(codeword, subspace) |c|², summed left-to-right like the
    // oracle's list sum
    val c2 = cb.toSeq.flatMap { case (_, cv) =>
      (0 until m).map(j => cv.slice(j * sub, (j + 1) * sub).map(x => x * x).sum)
    }
    df.select(col(idCol).as("id"),
        posexplode(graft.functions.PqCodes.codes(col(vecCol), m, d,
          codeIds, flat, c2)).as(Seq("sub", "code")))
      .select(col("id"), col("sub").cast("long").as("sub"), col("code"))
  }

  /** PQ asymmetric-distance (ADC) top-k — the query path of IVF-PQ:
    * corpus vectors are seen only through their [[productQuantize]]
    * codes; each query precomputes a (subspace × codeword) distance
    * table, and a candidate's approximate distance is m table lookups
    * summed. This is how a 100 TB embedding corpus is actually
    * searched: the scan touches m small codes per vector, never the
    * 4*d raw floats.
    *
    * The tables are computed on the DRIVER (queries are small by
    * contract — ADC tables are per-query state in any PQ engine) and
    * broadcast: |Q| * m * K rows. Table entries drop the constant
    * |q_sub|² term (same rank, same argmin) and round HALF_UP to 6dp;
    * the per-candidate sum runs over DECIMAL(24,8) — deterministic
    * under any partitioning, bit-reproducible by a SQL oracle.
    * Output: (query_id, neighbor_id, adc_dist, rank), rank <= k by
    * (distance, neighbor id).
    */
  def pqAdcTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                queries: DataFrame, queryId: String, queryVec: String,
                codebook: DataFrame, cbIdCol: String, cbVecCol: String,
                m: Int, k: Int): DataFrame = {
    val cb = collectCodebook(codebook, cbIdCol, cbVecCol, "pqAdcTopK")
    val codes = pqCodesFrame(corpus, corpusId, corpusVec, cb, m, "pqAdcTopK")
    val dt = adcTable(queries, queryId, queryVec, cb, m, "pqAdcTopK")
    adcTopK(codes.join(broadcast(dt), Seq("sub", "code")), k)
  }

  /** ADC score + rank: per (query_id, id) candidate, the DECIMAL(24,8)
    * sum of its table-joined `_d` entries rounded to 6 (deterministic
    * under any partitioning, bit-reproducible by a SQL oracle), then
    * the top-k by (adc_dist, neighbor_id). */
  private def adcTopK(lookups: DataFrame, k: Int): DataFrame =
    topK(lookups.groupBy(col("query_id"), col("id").as("neighbor_id"))
        .agg(round(sum(col("_d").cast("decimal(24,8)")).cast("double"), 6).as("adc_dist")),
      "query_id", k, col("adc_dist"), col("neighbor_id"))

  /** Bounded driver collection of a query frame — ADC tables are
    * per-query driver state ("small by contract"): collect one row
    * past the bound so an oversized frame fails loudly instead of
    * OOMing. Shared by every ADC-table builder.
    */
  private def collectQueries(queries: DataFrame, queryId: String,
                             queryVec: String,
                             who: String): Array[(Long, Array[Double])] = {
    val maxQueries = 4096
    val qRows = queries
      .select(col(queryId).cast("long"), col(queryVec).cast("array<double>"))
      .limit(maxQueries + 1)
      .collect().map { r =>
        require(!r.isNullAt(0),
          s"$who: query id ($queryId) is null or not castable to long")
        require(!r.isNullAt(1), s"$who: query ${r.getLong(0)} has a null vector")
        (r.getLong(0), r.getSeq[Double](1).toArray)
      }
    require(qRows.length <= maxQueries,
      s"$who: more than $maxQueries query rows — ADC tables are " +
        "per-query driver state; shard the query set or raise the bound")
    qRows
  }

  /** Per-query ADC distance tables, built on the DRIVER (queries are
    * per-query state in any PQ engine — "small by contract", enforced)
    * and returned as a broadcast-sized (query_id, sub, code, _d)
    * frame. Table entries drop the constant |q_sub|² term (same rank,
    * same argmin) and round HALF_UP to 6dp. Shared by [[pqAdcTopK]],
    * [[ivfPqTopK]], [[annIndexTopK]] and [[storeAdcPortable]].
    */
  private def adcTable(queries: DataFrame, queryId: String, queryVec: String,
                       cb: Array[(Long, Array[Double])], m: Int,
                       who: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val d = cb(0)._2.length
    require(d % m == 0, s"$who: dim $d not divisible by m=$m")
    val sub = d / m
    val qRows = collectQueries(queries, queryId, queryVec, who)
    // round6: NaN/Infinity-safe, HALF_UP — the same rounding the code path uses
    val table = for {
      (qid, qv) <- qRows.toSeq
      j <- 0 until m
      (code, cv) <- cb.toSeq
    } yield {
      val cs = cv.slice(j * sub, (j + 1) * sub)
      val c2 = cs.map(x => x * x).sum // sequential, oracle list-sum order
      // clamp to the query's own length — a short dirty query vector
      // contributes 0 for its missing dims, same rule as pq_codes
      var dot = 0.0
      var i = 0
      val lim = math.max(0, math.min(sub, qv.length - j * sub))
      while (i < lim) { dot += qv(j * sub + i) * cs(i); i += 1 }
      (qid, j.toLong, code, round6(c2 - 2.0 * dot))
    }
    table.toDF("query_id", "sub", "code", "_d")
  }

  /** IVF-PQ end-to-end ANN (the FAISS IVFPQ composition; Jégou,
    * Douze, Schmid 2011 §IV): the coarse quantizer restricts each
    * query's scan to its `nprobe` inverted lists, and WITHIN those
    * lists candidates are ranked by PQ asymmetric distance — m table
    * lookups per candidate, never the raw floats. This composes
    * [[ivfTopK]]'s list probe (the candidate bound) with
    * [[pqAdcTopK]]'s ADC scan (the compressed-domain rank): the
    * billion-scale query path where neither the full corpus nor even
    * a probed list's raw vectors are read at query time.
    *
    * This variant PQ-encodes RAW vectors; FAISS's residual encoding
    * (PQ over v − centroid, one codebook shared across lists) is a
    * recall refinement that needs a residual-trained codebook — out
    * of scope while codebooks arrive as a caller-provided frame.
    *
    * Shape at scale: quantizer training and the codebook are bounded
    * driver state (trainCap / 65536-row caps); corpus-side work is
    * two narrow codegen passes (centroid assignment, pq_codes) paired
    * by one id-key join; the probe join and the distance tables are
    * broadcast (query side small by contract); the final rank
    * aggregates (query, neighbor) partials map-side before one
    * bounded shuffle. No shuffle ever carries a raw corpus vector.
    *
    * `spill` replicates each corpus vector into its top-`spill` lists
    * (same recall lever as [[ivfTopK]]); duplicate (query, neighbor)
    * meetings across spilled lists collapse in the rank aggregate.
    *
    * `refine` > 1 adds the FAISS refine step (IndexRefineFlat): the
    * compressed scan shortlists the ADC top-(refine × k), then ONLY
    * those candidates re-rank by exact cosine against their raw
    * vectors — refine×k×|Q| raw reads total, independent of corpus
    * size, recovering the recall the quantizer loses for the price of
    * one broadcast-shortlist join. Output stays (query_id,
    * neighbor_id, cos, rank). With refine = 1 the output carries the
    * compressed-domain (query_id, neighbor_id, adc_dist, rank).
    */
  def ivfPqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                queries: DataFrame, queryId: String, queryVec: String,
                codebook: DataFrame, cbIdCol: String, cbVecCol: String,
                m: Int, k: Int, nlist: Int = 64, nprobe: Int = 4,
                refineIters: Int = 1, spill: Int = 1,
                refine: Int = 1, trainCap: Int = 65536): DataFrame = {
    require(refine >= 1, s"refine=$refine must be >= 1")
    val cents = trainCoarse(corpus, corpusId, corpusVec, nlist, refineIters, trainCap)
    val idType = corpus.schema(corpusId).dataType
    val lists = assignCents(cents, idType, corpus, corpusVec, spill)
      .select(col(corpusId).as("id"), col("_cent_id"))
    val probes = assignCents(cents, idType, queries, queryVec, nprobe)
      .select(col(queryId).cast("long").as("query_id"), col("_cent_id"))
    val cb = collectCodebook(codebook, cbIdCol, cbVecCol, "ivfPqTopK")
    val codes = pqCodesFrame(corpus, corpusId, corpusVec, cb, m, "ivfPqTopK")
    val dt = adcTable(queries, queryId, queryVec, cb, m, "ivfPqTopK")
    // distinct BEFORE attaching codes: with spill > 1 a pair can meet
    // in several lists, and a duplicate candidate row would double its
    // m code rows into the ADC sum
    val cands = lists.join(broadcast(probes), "_cent_id")
      .select(col("query_id"), col("id"))
      .dropDuplicates("query_id", "id")
    val adcRanked = adcTopK(codes.join(cands, "id")
      .join(broadcast(dt), Seq("query_id", "sub", "code")), k * refine)
    if (refine == 1) adcRanked
    else refineExact(adcRanked, corpus, corpusId, corpusVec,
      queries, queryId, queryVec, k)
  }

  /** The FAISS IndexRefineFlat step shared by the IVF-PQ variants:
    * re-rank an ADC shortlist by exact cosine ([[rawCosTopK]]) against
    * raw vectors.
    * The shortlist is refine×k×|Q| rows — broadcast-small by contract
    * — so the exact pass reads raw vectors for the shortlist ONLY
    * (one broadcast join into the corpus scan, no shuffle of it).
    * Ranks on the RAW cosine, rounds only for display — the same
    * ordering contract as [[bruteTopK]], so probing every list with a
    * corpus-sized shortlist degenerates to brute force exactly.
    */
  private def refineExact(adcRanked: DataFrame,
                          corpus: DataFrame, corpusId: String, corpusVec: String,
                          queries: DataFrame, queryId: String, queryVec: String,
                          k: Int): DataFrame = {
    val shortlist = adcRanked.select(col("query_id").as("_qid"), col("neighbor_id").as("_cid"))
    rawCosTopK(side(corpus, col(corpusId), corpusVec, "c")
      .join(broadcast(shortlist), "_cid")
      .join(broadcast(side(queries, col(queryId).cast("long"), queryVec, "q")), "_qid"), k)
  }

  /** WRITE half of the PERSISTENT ANN index — the "build once, serve
    * many" split [[ivfPqTopK]] lacks (it retrains the coarse
    * quantizer and re-encodes the corpus on every call — fine for a
    * one-shot query, wrong for the serving workflow where yesterday's
    * petabytes are cold and only the index stays hot; the d25
    * signature-store move applied to ANN). Returns the two relations
    * a caller persists as parquet:
    *
    *   - centroids: (cent_id, cent_vec, cent_nrm) — the trained
    *     coarse quantizer, ≤ nlist rows;
    *   - postings: (cent_id, id, codes) — the FAISS inverted-list
    *     layout: one row per list member with its m PQ codes INLINE
    *     as an array (~m bytes/vector at a real deployment's code
    *     width), list membership replicated `spill` ways.
    *
    * Neither relation references the raw vectors: a later batch of
    * queries runs [[annIndexTopK]] against the store alone.
    */
  def buildAnnIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
                    codebook: DataFrame, cbIdCol: String, cbVecCol: String,
                    m: Int, nlist: Int = 64, refineIters: Int = 1,
                    spill: Int = 1, trainCap: Int = 65536)
      : (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val cents = trainCoarse(corpus, corpusId, corpusVec, nlist, refineIters,
      trainCap)
    val idType = corpus.schema(corpusId).dataType
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
    val centDf = spark.createDataFrame(
      java.util.Arrays.asList(cents.map(c => Row(c.id, c.vec.toSeq, c.nrm)): _*),
      StructType(Seq(StructField("cent_id", idType),
        StructField("cent_vec", ArrayType(DoubleType)),
        StructField("cent_nrm", DoubleType))))
    (centDf, encodePostings(cents, idType, corpus, corpusId, corpusVec,
      codebook, cbIdCol, cbVecCol, m, spill, "buildAnnIndex"))
  }

  /** The encode half shared by [[buildAnnIndex]] and
    * [[appendAnnIndex]]: assign each vector to its `spill` nearest
    * centroids and inline its m PQ codes — one narrow pass plus one
    * id-keyed join, deterministic for a FIXED quantizer + codebook.
    */
  private def encodePostings(cents: Array[Cent],
                             idType: org.apache.spark.sql.types.DataType,
                             corpus: DataFrame, corpusId: String,
                             corpusVec: String,
                             codebook: DataFrame, cbIdCol: String,
                             cbVecCol: String, m: Int, spill: Int,
                             who: String): DataFrame = {
    val lists = assignCents(cents, idType, corpus, corpusVec, spill)
      .select(col(corpusId).as("id"), col("_cent_id").as("cent_id"))
    postingsOf(lists, corpus, corpusId, corpusVec, codebook, cbIdCol, cbVecCol, m, who)
  }

  /** The store layout: (cent_id, id, codes) — each list member of
    * `lists` (id, cent_id) with its m PQ codes inline, in sub order. */
  private def postingsOf(lists: DataFrame, corpus: DataFrame, corpusId: String,
                         corpusVec: String, codebook: DataFrame, cbIdCol: String,
                         cbVecCol: String, m: Int, who: String): DataFrame = {
    val cb = collectCodebook(codebook, cbIdCol, cbVecCol, who)
    val codes = pqCodesFrame(corpus, corpusId, corpusVec, cb, m, who)
      .groupBy(col("id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, code))), x -> x.code)")
        .as("codes"))
    lists.join(codes, "id")
      .select(col("cent_id"), col("id"), col("codes"))
  }

  /** APPEND a new vector batch to a persisted [[buildAnnIndex]] store
    * — the FAISS `add()` semantics: the coarse quantizer and codebook
    * stay FIXED (retraining would re-point every existing posting),
    * so appending costs one narrow assign+encode pass over the NEW
    * batch plus a union — proportional to the batch, never the
    * stored history (the d25/d26/d27 corpus-append rule applied to
    * ANN). A re-sent id keeps its stored posting (anti-join), so a
    * replayed batch cannot double-post. Returns the unified postings
    * relation; centroids are unchanged by construction.
    */
  def appendAnnIndex(centroids: DataFrame, postings: DataFrame,
                     newCorpus: DataFrame, corpusId: String, corpusVec: String,
                     codebook: DataFrame, cbIdCol: String, cbVecCol: String,
                     m: Int, spill: Int = 1): DataFrame = {
    val (cents, idType) = storedCents(centroids, "appendAnnIndex")
    val fresh = newCorpus.join(
      postings.select(col("id").as(corpusId)).distinct(), Seq(corpusId),
      "left_anti")
    postings.unionByName(encodePostings(cents, idType, fresh, corpusId,
      corpusVec, codebook, cbIdCol, cbVecCol, m, spill, "appendAnnIndex"))
  }

  /** READ half: serve a query batch against a persisted
    * [[buildAnnIndex]] store with NO access to the original corpus —
    * same plan as [[ivfPqTopK]]'s compressed-domain path (refine
    * needs raw vectors, so it lives with the corpus, not the store):
    * probes assign against the ≤128-row stored quantizer via the
    * same literal expression, candidates come off the posting lists
    * (spill duplicates collapse before the ADC sum — the double-count
    * guard), and ranking is the broadcast ADC table join. The spec
    * pins store-served results ≡ the end-to-end [[ivfPqTopK]] run,
    * including through a parquet round-trip.
    */
  def annIndexTopK(centroids: DataFrame, postings: DataFrame,
                   queries: DataFrame, queryId: String, queryVec: String,
                   codebook: DataFrame, cbIdCol: String, cbVecCol: String,
                   m: Int, k: Int, nprobe: Int = 4): DataFrame = {
    val (cents, idType) = storedCents(centroids, "annIndexTopK")
    val probes = assignCents(cents, idType, queries, queryVec, nprobe)
      .select(col(queryId).cast("long").as("query_id"),
        col("_cent_id").as("cent_id"))
    val cb = collectCodebook(codebook, cbIdCol, cbVecCol, "annIndexTopK")
    storeAdcTopK(postings, probes,
      adcTable(queries, queryId, queryVec, cb, m, "annIndexTopK"), k)
  }

  /** A persisted [[buildAnnIndex]] quantizer back on the driver, held
    * to the (0, 128] literal-assignment contract, with its id type. */
  private def storedCents(centroids: DataFrame, who: String)
      : (Array[Cent], org.apache.spark.sql.types.DataType) = {
    val cRows = centroids.select(col("cent_id"), col("cent_vec"), col("cent_nrm"))
      .collect()
    require(cRows.nonEmpty && cRows.length <= 128,
      s"$who: ${cRows.length} centroids outside the (0, 128] contract")
    (cRows.map(r => Cent(r.get(0), r.getSeq[Double](1).toArray, r.getDouble(2))),
      centroids.schema("cent_id").dataType)
  }

  /** Store-postings candidate source + ADC score + rank: the members
    * of each query's probed lists (`probes`: query_id, cent_id), one
    * row per (query, id) BEFORE the inline codes explode — a pair met
    * in several spilled lists must not double its m codes into the
    * sum — then the broadcast ADC table `dt`. Shared by
    * [[annIndexTopK]] and [[storeAdcPortable]]. */
  private def storeAdcTopK(postings: DataFrame, probes: DataFrame,
                           dt: DataFrame, k: Int): DataFrame =
    adcTopK(postings.join(broadcast(probes), "cent_id")
      .select(col("query_id"), col("id"), col("codes"))
      .dropDuplicates("query_id", "id")
      .select(col("query_id"), col("id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .withColumn("sub", col("sub").cast("long"))
      .join(broadcast(dt), Seq("query_id", "sub", "code")), k)

  /** PORTABLE persisted-ANN store build — the oracle-exact twin of
    * [[buildAnnIndex]] (r15 verdict task 4: extend the s32 exact-Lloyd
    * + pinned-ties discipline to the PQ store-served path). The coarse
    * quantizer arrives as the EXACT-Lloyd integer-micro centroid
    * matrix ([[kmeansCentroids]] — the trajectory a SQL oracle replays
    * verbatim), list assignment runs the same exact-integer metric
    * with (dist, j) ties, and the codes are the hash-exact
    * [[productQuantize]] chain. The store layout matches
    * [[buildAnnIndex]]'s postings relation — (cent_id, id, codes[m]
    * inline), no raw vectors — so the serve half reads ONLY the
    * store. Deliberately un-seeded: every arithmetic step is
    * DuckDB-expressible, which makes the full build+serve path
    * driver-hash-provable instead of spec-gated.
    */
  def buildPortableAnnStore(corpus: DataFrame, corpusId: String,
                            corpusVec: String, cents: Array[Array[Long]],
                            codebook: DataFrame, cbIdCol: String,
                            cbVecCol: String, m: Int,
                            dims: Int): DataFrame = {
    require(cents.nonEmpty && cents.forall(_.length == dims),
      s"buildPortableAnnStore: centroid matrix must be k x $dims")
    val lists = kmeansAssign(corpus, corpusId, corpusVec, cents, dims)
      .select(col("id"), col("cluster").as("cent_id"))
    postingsOf(lists, corpus, corpusId, corpusVec, codebook, cbIdCol, cbVecCol, m,
      "buildPortableAnnStore")
  }

  /** PORTABLE store-served ADC top-k — the oracle-exact twin of
    * [[annIndexTopK]]: query probes assign against the SAME
    * exact-integer Lloyd metric the store was built with (micro-
    * quantized query vectors, (dist, j) pinned ties — the s32 probe),
    * candidates come off the probed posting lists alone, and ranking
    * is the [[pqAdcTopK]] broadcast ADC chain (round-6 table entries,
    * DECIMAL(24,8) fold, (adc_dist, neighbor_id) ties). Same scale
    * shape as the seeded serve path: per-query work is
    * ~|corpus|·nprobe/nlist code reads, the ADC tables broadcast,
    * raw vectors never leave the build side.
    */
  def storeAdcPortable(postings: DataFrame, queries: DataFrame,
                       queryId: String, queryVec: String,
                       cents: Array[Array[Long]],
                       codebook: DataFrame, cbIdCol: String,
                       cbVecCol: String, m: Int, k: Int, nprobe: Int,
                       dims: Int): DataFrame = {
    require(k >= 1 && nprobe >= 1 && nprobe <= cents.length,
      s"storeAdcPortable: bad k=$k nprobe=$nprobe over ${cents.length} lists")
    val probes = microProbe(queries.select(col(queryId).cast("long").as("query_id"),
        col(queryVec).as("_qv")), "_qv", cents, nprobe, dims, "cent_id")
      .select(col("query_id"), col("cent_id"))
    val cb = collectCodebook(codebook, cbIdCol, cbVecCol, "storeAdcPortable")
    storeAdcTopK(postings, probes,
      adcTable(queries, queryId, queryVec, cb, m, "storeAdcPortable"), k)
  }

  /** RESIDUAL-encoded IVF-PQ — the actual FAISS IVFPQ layout (Jégou
    * 2011 §IV-A): corpus vectors PQ-encode their residual v − c(v)
    * against the assigned coarse centroid, with the subspace
    * codebooks TRAINED ON RESIDUALS (one codebook shared across
    * lists, as FAISS defaults). Residuals carry far less energy than
    * raw vectors, so the same m × ksub budget quantizes them finer —
    * the recall refinement [[ivfPqTopK]]'s raw-vector variant trades
    * away for a caller-suppliable codebook.
    *
    * Query side: ||q − v||² = ||(q − c) − (v − c)||² exactly, so each
    * query builds ONE ADC table per probed list from its own residual
    * q − c — tables are (|Q| × nprobe × m × ksub) driver rows,
    * bounded by the same small-by-contract limits as [[pqAdcTopK]].
    * The query's probed lists are computed on the DRIVER with
    * arithmetic identical to the distributed assignment expression
    * (same operation order, same tie-breaks), which the probe-parity
    * spec pins.
    *
    * Shape at scale: training is bounded driver state (trainCap);
    * corpus-side work is one narrow assign+residual+encode pass and
    * one id-key join; the ADC tables broadcast; the rank aggregates
    * map-side. Corpus vectors are stored/scanned as m codes — raw
    * floats are read only by the optional `refine` re-rank
    * shortlist. Coarse assignment takes the literal path, so
    * nlist <= 128 (the janino bound; FAISS-scale nlist needs the
    * broadcast-assign variant and is out of scope here).
    * Output: (query_id, neighbor_id, adc_dist|cos, rank) as in
    * [[ivfPqTopK]].
    */
  def ivfPqResidualTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                        queries: DataFrame, queryId: String, queryVec: String,
                        m: Int, k: Int, ksub: Int = 256, nlist: Int = 64,
                        nprobe: Int = 4, refineIters: Int = 1,
                        pqIters: Int = 4, refine: Int = 1,
                        trainCap: Int = 65536): DataFrame = {
    require(refine >= 1, s"refine=$refine must be >= 1")
    val cents = trainCoarse(corpus, corpusId, corpusVec, nlist, refineIters, trainCap)
    require(cents.length <= 128,
      s"ivfPqResidualTopK: ${cents.length} lists exceed the literal-path bound (128)")
    val idType = corpus.schema(corpusId).dataType
    // the driver-built ADC tables carry the probed list id as a long —
    // reject other id types up front rather than corrupting the join
    require(idType == org.apache.spark.sql.types.LongType,
      s"ivfPqResidualTopK: corpus id ($corpusId) must be LONG, got $idType")

    // centroid vector by assigned id, as one chained-when literal
    // lookup (the same device as the assignment expression itself)
    def centVecFor(centId: Column): Column =
      cents.foldLeft(lit(null).cast("array<double>")) { (acc, c) =>
        when(centId === lit(c.id), lit(c.vec)).otherwise(acc)
      }
    // residual with the dirty-input rule: missing dims read as 0 on
    // either side (zip_with pads the shorter array with nulls)
    def residual(vec: Column, centId: Column): Column =
      zip_with(vec.cast("array<double>"), centVecFor(centId),
        (a, b) => coalesce(a, lit(0.0)) - coalesce(b, lit(0.0)))

    // persisted: THREE consumers re-evaluate this corpus-wide
    // assign+residual pass otherwise (codebook training collect, the
    // encode scan, the list join) — the semDedup broadcast-path
    // precedent; the final small ranked frame seals over it below
    val assigned = assignCents(cents, idType, corpus, corpusVec, 1)
      .select(col(corpusId).as("id"), col("_cent_id"),
        residual(col(corpusVec), col("_cent_id")).as("_res"))
      .persist()
    val cb = {
      val trained = trainPqCodebook(assigned, "id", "_res", m, ksub, pqIters, trainCap)
      collectCodebook(trained, "code", "codeword", "ivfPqResidualTopK")
    }
    val codes = pqCodesFrame(assigned, "id", "_res", cb, m, "ivfPqResidualTopK")
      .join(assigned.select(col("id"), col("_cent_id")), "id")

    // driver-side probe + per-(query, probed list) residual ADC table
    val d = cb(0)._2.length
    require(d % m == 0, s"ivfPqResidualTopK: dim $d not divisible by m=$m")
    val sub = d / m
    val qRows = collectQueries(queries, queryId, queryVec, "ivfPqResidualTopK")
    val table = for {
      (qid, qv) <- qRows.toSeq
      // same scoring arithmetic and (score, position) tie-break as the
      // assignment expression: -(dot/(|q| |c|)), seed-hash order
      probed <- {
        val qn = l2d(qv)
        cents
          .map(c => (-(dotd(qv, c.vec) / (qn * c.nrm)), c))
          .sortBy { case (negcos, c) => (negcos, c.id.asInstanceOf[Long]) }
          .take(nprobe).map(_._2)
      }
      j <- 0 until m
      (code, cv) <- cb.toSeq
    } yield {
      val cs = cv.slice(j * sub, (j + 1) * sub)
      val c2 = cs.map(x => x * x).sum
      // UNLIKE pqAdcTopK, the |query residual|² term cannot be
      // dropped: it varies per PROBED LIST (q − c differs per c), and
      // a query compares candidates ACROSS its probed lists — dropping
      // it biases cross-list ranking. Entries carry the full
      // per-subspace ||qres_j − cb_j||², so the sum is the true
      // quantized L2 (the three-term expansion FAISS evaluates).
      var dot = 0.0
      var qr2 = 0.0
      var i = 0
      val lim = math.max(0, math.min(sub, math.max(qv.length, probed.vec.length) - j * sub))
      while (i < lim) {
        val q = if (j * sub + i < qv.length) qv(j * sub + i) else 0.0
        val c = if (j * sub + i < probed.vec.length) probed.vec(j * sub + i) else 0.0
        val qr = q - c
        if (i < cs.length) dot += qr * cs(i)
        qr2 += qr * qr
        i += 1
      }
      (qid, probed.id.asInstanceOf[Long], j.toLong, code, round6(qr2 + c2 - 2.0 * dot))
    }
    val spark = queries.sparkSession
    import spark.implicits._
    val qt = table.toDF("query_id", "_cent_id", "sub", "code", "_d")
    val adcRanked = adcTopK(codes.join(broadcast(qt), Seq("_cent_id", "sub", "code")),
      k * refine)
    val result =
      if (refine == 1) adcRanked
      else refineExact(adcRanked, corpus, corpusId, corpusVec,
        queries, queryId, queryVec, k)
    // seal the small ranked frame eagerly, then release the persisted
    // assign+residual pass (Caching.sealOver cuts the lineage so the
    // returned plan no longer references it)
    Caching.sealOver(result, assigned)
  }

  /** Embedding near-duplicate pairs: all (id1 < id2) with cosine >=
    * threshold. O(n^2) — callers bound the input (LSH buckets or a
    * partition key) at scale; used directly for oracle-sized slices.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    val a = side(df, col(idCol), vecCol, "1")
    val b = side(df, col(idCol), vecCol, "2")
    a.join(b, col("_1id") < col("_2id"))
      .withColumn("cos", exactCos("1", "2"))
      .filter(col("cos") >= threshold)
      .select(col("_1id").as("id1"), col("_2id").as("id2"), round(col("cos"), 6).as("cos"))
  }

  /** FILTERED vector search: top-k cosine neighbors among the corpus
    * rows satisfying `predicate` — the metadata-constrained query
    * every production vector store fields ("nearest en-language docs
    * from source X"). This is the PRE-FILTER strategy: push the
    * predicate into the corpus scan (parquet footer stats + column
    * pruning apply — `.explain` shows it as PushedFilters), then rank
    * exactly within the survivors. Exact by construction at any
    * selectivity, and the right strategy whenever the predicate is
    * selective enough that the filtered corpus is the cheap side.
    *
    * The other regime — a BROAD predicate over a huge corpus — wants
    * post-filtered ANN instead: over-fetch k' = k/selectivity from an
    * unfiltered index ([[ivfTopK]]/[[lshTopK]]) and filter the
    * result, accepting recall loss when a query's neighborhood is
    * predicate-sparse. That composition is
    * `ivfTopK(...).join(meta).filter(pred)` on the existing
    * operators; the crossover is a selectivity estimate away (the
    * CatalogStats NDV machinery). This entry pins the exact side.
    */
  def filteredTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                   predicate: org.apache.spark.sql.Column,
                   queries: DataFrame, queryId: String, queryVec: String,
                   k: Int): DataFrame =
    bruteTopK(corpus.filter(predicate), corpusId, corpusVec,
      queries, queryId, queryVec, k)

  /** MMR diverse re-ranking (Carbonell & Goldstein 1998): greedily
    * select k results maximizing λ·relevance − (1−λ)·max-similarity-
    * to-already-selected over a `prefetch`-sized exact top-k'
    * candidate list — the re-rank that stops a near-dup cluster from
    * filling the whole result page.
    *
    * Fully DECLARATIVE: the k greedy rounds unroll into k
    * window-rank-1 picks over the (queries × prefetch)-row candidate
    * frame — no UDF, no mapGroups, no driver loop over data; every
    * frame the rounds touch is candidate-sized, bounded by contract.
    * Relevance and the candidate-pairwise similarities are rounded
    * to 6 BEFORE the fold and λ/(1−λ) interpolate as the same IEEE
    * doubles into the oracle text, so the greedy argmax (ties to the
    * smallest id) is bit-reproducible across engines — the oracle
    * replays the identical rounds as chained CTEs. Output:
    * (query_id, neighbor_id, rel, mmr_rank 1..k).
    */
  def mmrTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, prefetch: Int = 20, lam: Double = 0.7): DataFrame = {
    require(k >= 1 && k <= prefetch,
      s"mmrTopK: k $k must be in [1, prefetch=$prefetch]")
    require(lam >= 0.0 && lam <= 1.0, s"mmrTopK: lambda $lam not in [0,1]")
    val cand = bruteTopK(corpus, corpusId, corpusVec,
        queries, queryId, queryVec, prefetch)
      .select(col("query_id"), col("neighbor_id"), col("cos").as("rel"))
      .join(corpus.select(col(corpusId).as("neighbor_id"),
        col(corpusVec).as("_v"), norm(col(corpusVec)).as("_n")), Seq("neighbor_id"))
      .persist() // k rounds + the sims self-join read it
    val sims = cand
      .select(col("query_id"), col("neighbor_id").as("c1"),
        col("_v").as("_v1"), col("_n").as("_n1"))
      .join(cand.select(col("query_id"), col("neighbor_id").as("c2"),
        col("_v").as("_v2"), col("_n").as("_n2")), Seq("query_id"))
      .select(col("query_id"), col("c1"), col("c2"),
        round(VecDot.dot(col("_v1"), col("_v2")) / (col("_n1") * col("_n2")), 6)
          .as("sim"))
      .persist() // read once per round
    def pick(scored: DataFrame, rankNo: Int): DataFrame =
      topK(scored, "query_id", 1, col("_score").desc, col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), lit(rankNo).as("mmr_rank"))
    // each round is SEALED (localCheckpoint): round i's plan refers
    // to selected(i-1) as a materialized leaf, not its whole build
    // tree — unsealed, the unrolled plan doubles per round and
    // optimizer + codegen time dominates (measured 10.2s vs ~1s at
    // sf0.1 for identical results). The per-round frame is
    // queries x i rows; sealing it is microseconds of data.
    var selected = pick(cand.withColumn("_score", col("rel")), 1)
      .localCheckpoint(true)
    for (i <- 2 to k) {
      val maxSim = sims
        .join(selected.select(col("query_id"), col("neighbor_id").as("c2")),
          Seq("query_id", "c2"))
        .groupBy(col("query_id"), col("c1").as("neighbor_id"))
        .agg(max(col("sim")).as("_ms"))
      val scored = cand
        .join(selected.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .join(maxSim, Seq("query_id", "neighbor_id"))
        .withColumn("_score",
          lit(lam) * col("rel") - lit(1.0 - lam) * col("_ms"))
      selected = selected.unionByName(pick(scored, i)).localCheckpoint(true)
    }
    Caching.sealOver(
      selected
        .join(cand.select(col("query_id"), col("neighbor_id"), col("rel")),
          Seq("query_id", "neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("rel"),
          col("mmr_rank").cast("long").as("mmr_rank")),
      cand, sims)
  }

  /** The POST-FILTER half of the pair: rank top-k' on the UNFILTERED
    * corpus, then apply the predicate and keep the first k survivors
    * (re-ranked 1..k). This is the broad-predicate regime's shape —
    * the index is built once, predicate-agnostic, and each query
    * over-fetches k' = k x overFetch to survive the filter — with its
    * characteristic failure mode made measurable: a query whose true
    * neighborhood is predicate-sparse returns FEWER than k rows
    * (possibly zero), the recall loss the over-fetch factor trades
    * against. Exact arithmetic on the brute base, so the whole
    * strategy — over-fetch, filter, re-rank, and the short result
    * lists themselves — is oracle-checkable; swap [[ivfTopK]] /
    * [[lshTopK]] in as the base at index scale, where the same
    * over-fetch logic rides their candidate generation.
    */
  def filteredTopKPost(corpus: DataFrame, corpusId: String, corpusVec: String,
                       predicate: org.apache.spark.sql.Column,
                       queries: DataFrame, queryId: String, queryVec: String,
                       k: Int, overFetch: Int = 4): DataFrame = {
    require(overFetch >= 1, s"filteredTopKPost: overFetch $overFetch must be >= 1")
    topK(bruteTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec,
        k * overFetch)
      .join(corpus.filter(predicate)
        .select(col(corpusId).as("neighbor_id")), Seq("neighbor_id")),
      "query_id", k, col("rank"))
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** RECALL@K of an approximate ANN result against an exact one — the
    * accuracy gate a production pipeline runs CONTINUOUSLY beside its
    * index (SparkEntry's annRecallGate runs it for s02, s03, s12 and
    * s13; a 100 TB deployment re-measures it on every index rebuild
    * and alerts on drift, exactly like a dedup report). Inputs are two
    * (query_id, neighbor_id, rank) frames — any of the family's topK
    * operators. Per query: hits = |approx ∩ exact| within rank ≤ k,
    * denominator = the EXACT side's row count at k (so a corpus
    * smaller than k cannot cap recall below 1).
    *
    * Shape: both inputs are eval-sized (|queries|·k rows); one
    * equi-join + two tiny aggregates. Output: (query_id, n_exact,
    * n_hits, recall).
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"recallAtK: k $k must be > 0")
    val ex = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val ap = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id")).distinct()
    val exn = ex.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("n_exact"))
    val hits = ex.join(ap, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).cast("long").as("n_hits"))
    exn.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_exact").cast("double"), 6).as("recall"))
  }
}
