package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Blocklist, Decontaminate, Dedup, TextStats, Training}

/** End-to-end corpus curation: the operators composed the way a
  * training-data pipeline actually chains them. One pass over a
  * documents table:
  *
  *  0. boilerplate line removal (lines in >= minDocs docs stripped,
  *     docs reassembled; all-boilerplate docs drop out), then
  *     paragraph-level exact dedup (each distinct paragraph survives
  *     once corpus-wide, RefinedWeb-style)
  *  1. language ID + quality + repetition metrics (narrow, codegen)
  *  2. quality gate (drop low-quality / boilerplate docs) + a
  *     unigram-LM floor (mean token log-prob under the corpus's own
  *     distribution — the KenLM-perplexity stand-in) + a
  *     duplicated-substring ceiling (Lee et al. spans as a fraction)
  *  3. blocklist scrub (bloom prune + exact verify)
  *  4. exact dedup (keep lowest id per identical text)
  *  5. MinHash near-dup -> connected components -> keep BEST quality
  *  6. benchmark decontamination (drop docs overlapping the eval set)
  *  7. deterministic stratified sample per source, then a per-source
  *     quota cap (no domain dominates the output)
  *  8. write the curated corpus, hive-partitioned by language
  *  9. write the corpus's MinHash SIGNATURE STORE next to it
  *     (<outDir>_sigstore) — the ~130-bytes/doc artifact the next
  *     run's incoming batch dedups against (sigStoreDedup /
  *     sigStoreDedupStream) without re-reading this run's text
  *
  * Usage: runMain graft.CurateApp <docsDir> <outDir> [benchModulo]
  * Prints one JSON line with stage survivor counts. Counting each
  * stage adds an action per stage (observability you'd keep in a real
  * pipeline run); set GRAFT_CURATE_COUNTS=0 to skip them and measure
  * the pure single-pass cost of the composed job.
  */
object CurateApp {
  def main(args: Array[String]): Unit = {
    val docsDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_curated")
    val benchMod = args.lift(2).map(_.toInt).getOrElse(97)
    val spark = GraftSession.get()
    val doCounts = sys.env.getOrElse("GRAFT_CURATE_COUNTS", "1") != "0"
    val t0 = System.nanoTime()
    val report = run(spark, docsDir, outDir, benchMod, doCounts)
    val dt = (System.nanoTime() - t0) / 1e9
    val cjson = Seq("input", "boilerplate", "para_dedup", "quality_gate",
        "blocklist", "exact_dedup", "near_dup", "decontaminated", "sampled",
        "quota")
      .map(k => s""""$k":${report.counts(k)}""").mkString("{", ",", "}")
    val sjson = report.stageSeconds
      .map { case (k, v) => f""""$k":$v%.1f""" }.mkString("{", ",", "}")
    println(s"""{"stage_counts":$cjson,"stage_seconds":$sjson,""" +
      f""""seconds":$dt%.1f,"out":"$outDir"}""")
    spark.stop()
  }

  /** Per-stage survivor counts and (when counting) the seconds each
    * stage's materializing action took — the drift + cost view a real
    * pipeline run keeps per stage. Counts are all -1 and seconds
    * empty when `doCounts` is off (the pure single-pass bench mode).
    */
  final case class CurateReport(counts: Map[String, Long],
                                stageSeconds: Map[String, Double])

  /** The composed pipeline, callable from Bench and the specs. */
  def run(spark: org.apache.spark.sql.SparkSession, docsDir: String,
          outDir: String, benchMod: Int = 97,
          doCounts: Boolean = true): CurateReport = {
    val stageSecs = collection.mutable.LinkedHashMap.empty[String, Double]
    def cnt(stage: String, df: org.apache.spark.sql.DataFrame): Long =
      if (!doCounts) -1L
      else {
        val t0 = System.nanoTime()
        val n = df.count()
        stageSecs(stage) = (System.nanoTime() - t0) / 1e9
        n
      }

    val raw = GraftSession.table(spark, docsDir, "documents")
    val n0 = cnt("input", raw)

    // 0: strip lines that repeat across >= 100 docs (nav menus,
    // cookie banners); the frequent-line set broadcasts, the corpus
    // side stays an anti-join + reassembly
    val lineStripped = TextStats.stripRepeatedLines(raw, "doc_id", "text", minDocs = 100L)
      .select(col("id").as("doc_id"), col("text_clean").as("text"))
      .join(raw.drop("text"), "doc_id")
    val n0b = cnt("boilerplate", lineStripped)

    // 0b: paragraph-level exact dedup (RefinedWeb/CCNet step): each
    // distinct paragraph survives once corpus-wide, in its
    // (id, pos)-first doc; docs whose every paragraph appeared
    // earlier drop out here
    val docs = Dedup.paraDedup(lineStripped, "doc_id", "text")
      .select(col("id").as("doc_id"), col("text_clean").as("text"))
      .join(raw.drop("text"), "doc_id")
    val n0c = cnt("para_dedup", docs)

    // 1-2: annotate + gate + PII redaction (single narrow pass; all
    // expression trees — identical to CurateStream, so batch and
    // incremental curation agree row-for-row; the repetition gate uses
    // the row-local topTokenFraction expression, not the exploded
    // TextStats aggregate, so no extra shuffle)
    val scored = docs
      .withColumn("lang_pred", TextFunctions.langId(col("text")))
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("top_tok_frac", TextFunctions.topTokenFraction(col("text")))
      .withColumn("text", TextFunctions.redact(col("text")))
      // persisted: scored sits above EVERY later stage (gate joins,
      // blocklist, bench slice, dedup chain), and its lineage carries
      // the two reassembly shuffles (line strip + para dedup) plus
      // the annotate codegen. Uncached, separate downstream ACTIONS
      // re-executed that chain ~6x; caching it cut the composed
      // pipeline's executed shuffle stages 44->33, shuffle write
      // 27->10 MB, and max task memory 132->60 MB at sf0.1
      // (round 11, Metrics-measured). The cache holds roughly the
      // documents table + three small columns — corpus-sized, which
      // a cluster run sizes via StorageLevel MEMORY_AND_DISK default.
      .persist()
    // unigram-LM floor: mean token log-prob under the corpus's own
    // distribution; a loose bound (-12 nats) drops only rare-token
    // gibberish, not ordinary text
    val lmScore = TextStats.unigramLogProb(scored, "doc_id", "text")
      .select(col("id").as("doc_id"), col("mean_logprob"))
    // LEFT join: a doc that tokenizes to nothing (every surviving line
    // blank after boilerplate strip + redaction) has no LM evidence —
    // it is the quality gate's call, not an implicit inner-join drop
    // duplicated-substring ceiling (Lee et al. 2021): a doc mostly
    // made of corpus-repeated k-grams is boilerplate/spam the line-
    // and paragraph-level passes missed (LEFT join, same reasoning as
    // the LM floor: no grams = no dup evidence = keep)
    val dupFrac = Dedup.dupSubstringSpans(scored, "doc_id", "text", k = 8)
      .select(col("id").as("doc_id"), col("dup_frac"))
    val gated = scored
      .filter(col("quality") >= 0.3 && col("top_tok_frac") <= 0.5)
      .join(lmScore, Seq("doc_id"), "left")
      .filter(coalesce(col("mean_logprob"), lit(0.0)) >= -12.0)
      .drop("mean_logprob")
      .join(dupFrac, Seq("doc_id"), "left")
      .filter(coalesce(col("dup_frac"), lit(0.0)) <= 0.6)
      .drop("dup_frac")
    val n1 = cnt("quality_gate", gated)

    // 3: scrub a blocklist (here: a synthetic takedown list, taken from
    // the same redacted text the match runs against)
    val blocked = scored.filter(col("doc_id") % 331 === 0)
      .select(col("text").as("blocked_text"))
    // gated feeds both bloom branches of the scrub and the dedup below.
    // gated itself stays UNCACHED on purpose: with scored persisted,
    // re-deriving gated is a filter plus the two narrow agg joins
    // over cached rows, and round-11 measurement found caching gated
    // as well adds nothing (same shuffle-stage count, wall time
    // within run-to-run noise) while doubling cache footprint. The
    // earlier wide-frame-caching regression this comment once cited
    // (39s vs 68s) was the PRE-scored-persist layout.
    val scrubbed = Blocklist.filterOut(gated, blocked, "text", "blocked_text")
    val n2 = cnt("blocklist", scrubbed)

    // 4: exact dedup — keep the lowest id of identical texts.
    // exactKept DOES persist: its three consumers (signature build,
    // component resolution, keeper join) all need the same narrow
    // columns, so here the cache wins.
    val keepIds = Dedup.exact(scrubbed, "doc_id", "text").select("keep_id")
    val exactKept = scrubbed.join(keepIds,
      scrubbed("doc_id") === keepIds("keep_id")).drop("keep_id").persist()
    val n3 = cnt("exact_dedup", exactKept)

    // 5: near-dup clusters -> keep the highest-quality member
    val pairs = Dedup.minHashLsh(exactKept, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, threshold = 0.5)
    val resolved = Dedup.resolveKeepBest(exactKept, "doc_id", "quality", pairs)
      .persist()
    val n4 = cnt("near_dup", resolved)

    // 6: decontaminate against the held-out eval slice — drawn from the
    // same REDACTED text as the corpus side, so shingles straddling a
    // redacted span still match (same normalization both sides)
    val bench = scored.filter(col("doc_id") % benchMod === 0)
    val contaminated = Decontaminate.flag(
      resolved, bench, "doc_id", "text", shingleN = 3, minOverlap = 5)
      .select(col("id").as("bad_id"))
    val cleanDocs = resolved.join(contaminated,
      resolved("doc_id") === contaminated("bad_id"), "left_anti")
    val n5 = cnt("decontaminated", cleanDocs)

    // 7: stratified sample (reproducible md5 buckets; src0 kept denser),
    // then an absolute per-source cap so no domain dominates
    val sampled = cleanDocs.filter(
      substring(md5(col("doc_id").cast("string")), 1, 2) <
        when(col("source") === "src0", "80").otherwise("40"))
    val n6 = cnt("sampled", sampled)
    // persisted: two writes (corpus + signature store) and the count
    // all consume capped; uncached, each would re-run the
    // decontaminate chain and quota window above it
    val capped = Training.sourceQuota(sampled, "source", "doc_id",
      maxPerSource = 2000L).persist()
    val n7 = cnt("quota", capped)

    // 8: curated corpus, partitioned for downstream partition pruning
    val tw = System.nanoTime()
    capped.select("doc_id", "text", "lang_pred", "source", "quality")
      .write.mode("overwrite").partitionBy("lang_pred").parquet(outDir)
    if (doCounts) stageSecs("write") = (System.nanoTime() - tw) / 1e9

    // 9: the corpus-append handoff — persist the curated corpus's
    // MinHash signature store (~130 bytes/doc) next to it, so the
    // NEXT pipeline run dedups its incoming batch against THIS run's
    // output via Dedup.sigStoreDedup / sigStoreDedupStream with the
    // curated text cold. The store derives from the same portable
    // family the near-dup stage used, so estimates line up with the
    // batch decisions.
    val ts = System.nanoTime()
    Dedup.portableSignatureStore(capped, "doc_id", "text")
      .write.mode("overwrite").parquet(outDir + "_sigstore")
    if (doCounts) stageSecs("sig_store") = (System.nanoTime() - ts) / 1e9

    // 10: the STATS side of the same handoff — per-source mergeable
    // KMV sketches of the curated corpus's token distincts
    // (SketchStore, ~KB per source). The next run folds its own
    // batch's store into this one with pure column arithmetic
    // (kmvStoreMerge) instead of re-scanning the curated text —
    // merged == one-shot is the d26-oracle-proven invariant.
    val tk = System.nanoTime()
    operators.SketchStore.kmvStore(
        capped.select(col("source"),
            explode(split(lower(col("text")), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0),
        "source", md5(col("tok")), 256)
      .write.mode("overwrite").parquet(outDir + "_sketchstore")
    if (doCounts) stageSecs("sketch_store") = (System.nanoTime() - tk) / 1e9

    scored.unpersist()
    exactKept.unpersist()
    resolved.unpersist()
    capped.unpersist()
    CurateReport(
      Map("input" -> n0, "boilerplate" -> n0b, "para_dedup" -> n0c,
        "quality_gate" -> n1, "blocklist" -> n2, "exact_dedup" -> n3,
        "near_dup" -> n4, "decontaminated" -> n5, "sampled" -> n6,
        "quota" -> n7),
      stageSecs.toMap)
  }
}
