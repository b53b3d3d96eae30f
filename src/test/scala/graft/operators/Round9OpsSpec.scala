package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkSpec

/** Round-9 operators: BM25 retrieval, DSIR importance weights,
  * CCNet perplexity buckets, rolling z-score anomaly detection.
  */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def rd6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  test("scores match the hand-computed Okapi formula") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian durian durian")).toDF("id", "text")
    val q = Seq(("q1", "apple"), ("q1", "banana")).toDF("qid", "term")
    val out = Retrieval.bm25TopK(docs, "id", "text", q, "qid", "term", k = 10)
      .orderBy("rank").collect()
    // N=3, avgdl=8/3; contributions rounded to 6 then summed
    val avgdl = 8.0 / 3.0
    def idf(df: Int) = math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
    def norm(tf: Int, dl: Int) =
      tf * (1.2 + 1.0) / (tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl))
    val exp1 = rd6(idf(1) * norm(2, 3)) + rd6(idf(2) * norm(1, 3))
    val exp2 = rd6(idf(2) * norm(1, 2))
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L)) // doc 3 matches nothing
    assert(out(0).getDouble(2) == exp1.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(1).getDouble(2) == exp2.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("identical docs tie and rank by id; k caps the result per query") {
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "x y"), (4L, "x y"))
      .toDF("id", "text")
    val q = Seq(("q1", "x")).toDF("qid", "term")
    val out = Retrieval.bm25TopK(docs, "id", "text", q, "qid", "term", k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(out.map(_.getDouble(2)).distinct.length == 1)
  }

  test("the query-vocabulary filter is a broadcast semi-join (the token stream never shuffles for it)") {
    val docs = Seq((1L, "a b")).toDF("id", "text")
    val q = Seq(("q1", "a")).toDF("qid", "term")
    val p = Retrieval.bm25TopK(docs, "id", "text", q, "qid", "term", k = 5)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }
}

class DsirSpec extends SparkSpec {
  import spark.implicits._

  test("docs resembling the target slice outweigh docs that do not") {
    // target docs speak "alpha beta"; doc 3 mimics them, doc 4 does not
    val docs = Seq(
      (1L, "alpha beta alpha beta", true),
      (2L, "alpha beta alpha", true),
      (3L, "alpha beta alpha beta", false),
      (4L, "gamma delta epsilon zeta", false)).toDF("id", "text", "tgt")
    val out = Training.dsirWeights(docs, "id", "text", col("tgt"), topN = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(3L) > out(4L))
    assert(out(1L) > out(4L))
  }

  test("n_feats counts unigrams + adjacent bigrams; empty docs drop out") {
    val docs = Seq((1L, "a b c", true), (2L, "   ", false)).toDF("id", "text", "tgt")
    val out = Training.dsirWeights(docs, "id", "text", col("tgt"), topN = 10)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    assert(out(0).getLong(1) == 5L) // 3 unigrams + 2 bigrams
  }

  test("topN keeps the highest weights with id tie-break") {
    val docs = (1L to 10L).map(i =>
      (i, if (i <= 5) "t t t" else "r r r", i <= 2)).toDF("id", "text", "tgt")
    val out = Training.dsirWeights(docs, "id", "text", col("tgt"), topN = 3)
      .orderBy("id").collect()
    // target speaks "t": the five t-docs outweigh r-docs; lowest ids win ties
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }
}

class GopherRulesSpec extends SparkSpec {
  import spark.implicits._

  test("signals match hand computation on a crafted doc") {
    val text = "the cat sat on the mat with a hat ### ..."
    val out = TextStats.gopherRules(Seq((1L, text)).toDF("id", "text"),
      "id", "text").collect()(0)
    assert(out.getLong(1) == 11L) // words incl '###' and '...'
    // symbol hits: 3 hashes + 1 ellipsis = 4 over 11 words
    assert(out.getDouble(3) == BigDecimal(4.0 / 11)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // alpha words: all but '###' and '...'
    assert(out.getDouble(6) == BigDecimal(9.0 / 11)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out.getLong(7) == 3L) // stop hits: the, the, with
  }

  test("pass requires every rule: a 10-word doc fails on length alone") {
    val good = ("the data " * 30).trim + " " +
      "of and that have with real words making sense here now then"
    val docs = Seq((1L, good), (2L, "short doc of and that have with")).toDF("id", "text")
    val out = TextStats.gopherRules(docs, "id", "text").orderBy("id").collect()
    assert(out(0).getBoolean(8))
    assert(!out(1).getBoolean(8)) // 7 words < 50
  }

  test("bullet- and ellipsis-heavy layouts fail their line rules") {
    val bullets = (1 to 10).map(i => s"- item $i").mkString("\n")
    val ell = (1 to 10).map(i => s"line $i goes on...").mkString("\n")
    val out = TextStats.gopherRules(
      Seq((1L, bullets), (2L, ell)).toDF("id", "text"), "id", "text")
      .orderBy("id").collect()
    assert(out(0).getDouble(4) == 1.0 && !out(0).getBoolean(8))
    assert(out(1).getDouble(5) == 1.0 && !out(1).getBoolean(8))
  }

  test("zero shuffles: the whole bundle is one narrow projection") {
    val docs = Seq((1L, "a b")).toDF("id", "text")
    val p = TextStats.gopherRules(docs, "id", "text")
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Exchange"), p)
  }
}

class CountMinSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.CountMinAgg

  test("estimates are one-sided: est >= exact, and exact when buckets don't collide") {
    val toks = Seq.fill(7)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val df = toks.toDF("tok")
    val sk = df.agg(CountMinAgg.sketch(col("tok"), 1024, 4).as("sk"))
    val out = Seq("a", "b", "c", "absent").toDF("term")
      .crossJoin(sk)
      .withColumn("est", CountMinAgg.estimate(col("sk"), col("term"), 1024, 4))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // 3 distinct items in 4x1024 buckets: no collisions, estimates exact
    assert(out("a") == 7L && out("b") == 3L && out("c") == 1L)
    assert(out("absent") == 0L)
  }

  test("the sketch is mergeable: partitioning never changes the grid") {
    val df = (1 to 500).map(i => s"tok${i % 37}").toDF("tok")
    def grid(parts: Int): Seq[Long] =
      df.repartition(parts)
        .agg(CountMinAgg.sketch(col("tok"), 256, 4))
        .collect()(0).getSeq[Long](0)
    assert(grid(1) == grid(13))
  }

  test("a tight width forces collisions and the estimate still bounds from above") {
    val df = (1 to 300).map(i => s"item$i").toDF("tok")
    val sk = df.agg(CountMinAgg.sketch(col("tok"), 16, 4).as("sk"))
    val est = Seq("item1").toDF("term").crossJoin(sk)
      .withColumn("est", CountMinAgg.estimate(col("sk"), col("term"), 16, 4))
      .collect()(0).getLong(2)
    assert(est >= 1L) // true count 1; collisions only push it up
  }

  test("weighted histogram build is bit-identical to the per-occurrence grid") {
    // the t20 sketch-build contract: feeding (tok, count) with weight =
    // count must reproduce the per-occurrence grid exactly, or the
    // DuckDB oracle (which models one update per occurrence) drifts
    val toks = (1 to 400).map(i => s"tok${i % 23}")
    val raw = toks.toDF("tok")
    val perRow = raw.agg(CountMinAgg.sketch(col("tok"), 256, 4))
      .collect()(0).getSeq[Long](0)
    val weighted = raw.groupBy("tok").agg(count(lit(1)).as("c"))
      .agg(CountMinAgg.sketchWeighted(col("tok"), col("c"), 256, 4))
      .collect()(0).getSeq[Long](0)
    assert(perRow == weighted)
  }
}

class GopherRepetitionSpec extends SparkSpec {
  import spark.implicits._

  test("line and n-gram repetition fractions match hand computation") {
    val docs = Seq(
      (1L, "x y\nx y\nz w v"),
      (2L, "a b c d e f g h i j k l"),
      (3L, (0 until 60).map(i => f"w$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextStats.gopherRepetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

    val a = out(1L)
    // lines [x y, x y, z w v]: 1 of 3 occurrences duplicated; 3 of 11
    // line chars; top 2-gram "x y" covers 2x3 of the 13 text chars
    assert(a.getDouble(1) == 0.333333, "dup_line_frac " + a)
    assert(a.getDouble(2) == 0.272727, "dup_line_char_frac " + a)
    assert(a.getDouble(3) == 0.461538, "top_2gram_char_frac " + a)
    // 3-grams all unique: tie broken to "x y x" (5 chars / 13)
    assert(a.getDouble(4) == 0.384615, "top_3gram_char_frac " + a)
    assert(a.getDouble(6) == 0.0, "dup_5gram_char_frac " + a)
    assert(!a.getBoolean(12), "doc 1 must fail dup_line_frac")

    val b = out(2L)
    assert(b.getDouble(1) == 0.0 && b.getDouble(2) == 0.0, b.toString)
    // unique 3-gram "a b c": 5 of 23 chars = 0.217391 > 0.18 -> fail
    assert(b.getDouble(4) == 0.217391, b.toString)
    assert(!b.getBoolean(12), b.toString)

    // a long non-repetitive doc passes every rule
    assert(out(3L).getBoolean(12), out(3L).toString)
  }

  test("fractions are partition-invariant") {
    val docs = (1 to 40)
      .map(i => (i.toLong, (0 to 30).map(j => s"t${(i * j) % 17}").mkString(" ")))
      .toDF("doc_id", "text")
    def rows(parts: Int) =
      TextStats.gopherRepetition(docs.repartition(parts), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(rows(1) == rows(9))
  }
}

class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, true,  "careful prose with thoughtful structure and careful argument"),
    (1L, true,  "thoughtful prose with careful analysis and clear structure"),
    (2L, false, "buy cheap pills now click here buy now"),
    (3L, false, "click here cheap pills cheap pills buy"),
    (4L, false, "careful thoughtful prose with clear structure and analysis"),
    (5L, false, "cheap pills click now buy here now"))
    .toDF("doc_id", "is_seed", "text")

  test("seed-like docs score above spam-like docs; keep tracks the sign") {
    val out = Training.qualityClassifier(corpus, "doc_id", "text", col("is_seed"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    // doc 4 shares the seed vocabulary, doc 5 the spam vocabulary
    assert(out(4L)._1 > out(5L)._1, out.toString)
    assert(out(0L)._1 > out(2L)._1, out.toString)
    out.values.foreach { case (score, keep) => assert(keep == (score > 0.0)) }
  }

  test("scores are partition-invariant") {
    def scores(parts: Int) =
      Training.qualityClassifier(corpus.repartition(parts), "doc_id", "text",
          col("is_seed"))
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(1) == scores(7))
  }

  test("docs with no tokens drop out; a single-class corpus still scores") {
    val oneClass = Seq((1L, "some words here"), (2L, "   "), (3L, "more words"))
      .toDF("doc_id", "text")
    val out = Training.qualityClassifier(oneClass, "doc_id", "text", lit(true))
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L), out.toString)
  }
}

class BloomDecontaminateSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.BloomAgg

  private def bench = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (50L, "one two three four five six seven eight nine ten"))
    .toDF("doc_id", "text")

  private def train = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "totally different words sharing nothing with any benchmark document at all"),
    (3L, "one two three four five interruption here six seven eight nine ten"))
    .toDF("doc_id", "text")

  test("bloom sweep flags exactly the contaminated docs with exact hit counts") {
    // tiny bench (16 trigrams) in 2^20 bits: P(false positive) ~ 1e-13,
    // so the sweep's counts equal the true shared-shingle counts
    val out = Decontaminate
      .bloomFlag(train, bench, "doc_id", "text", shingleN = 3, minHits = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 = verbatim bench doc (8 distinct trigrams); doc 3 shares
    // two 5-token runs (3 trigrams each); doc 2 is clean
    assert(out == Map(1L -> 8L, 3L -> 6L), out.toString)
  }

  test("no false negatives: every exact-flagged doc is bloom-flagged") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tr = docs.filter(col("doc_id") % 50 =!= 0)
    val be = docs.filter(col("doc_id") % 50 === 0)
    val exact = Decontaminate.flag(tr, be, "doc_id", "text", 3, 5)
      .select("id").collect().map(_.getLong(0)).toSet
    val bloom = Decontaminate.bloomFlag(tr, be, "doc_id", "text", 3, 5)
      .select("id").collect().map(_.getLong(0)).toSet
    // a doc with >= 5 overlap vs ONE bench doc has >= 5 shingles in the
    // bench set, and a Bloom filter never misses a present item
    assert(exact.subsetOf(bloom), s"missed: ${exact.diff(bloom)}")
  }

  test("the bitmap is mergeable: partitioning never changes a bit") {
    val df = (1 to 400).map(i => s"gram ${i % 53} x").toDF("shingle")
    def bm(parts: Int): Seq[Long] =
      df.repartition(parts)
        .agg(BloomAgg.build(col("shingle"), 1 << 16, 3))
        .collect()(0).getSeq[Long](0)
    assert(bm(1) == bm(11))
  }

  test("an empty benchmark set flags nothing") {
    val out = Decontaminate.bloomFlag(
      train, bench.filter(col("doc_id") < 0), "doc_id", "text", 3, 1)
    assert(out.count() == 0L)
  }
}

class PplBucketsSpec extends SparkSpec {
  import spark.implicits._

  test("per-language terciles: common-token docs head, rare-token docs tail") {
    // en corpus: "x" dominates the vocabulary, "q r s" are singletons
    val docs = Seq(
      (1L, "x x x x", "en"),
      (2L, "x x y y", "en"),
      (3L, "q r s z", "en")).toDF("id", "text", "lang")
    val out = TextStats.pplBuckets(docs, "id", "text", "lang")
      .orderBy("id").collect()
    assert(out.map(_.getString(3)).toSeq == Seq("head", "middle", "tail"))
    // scores strictly ordered
    assert(out(0).getDouble(2) > out(1).getDouble(2))
    assert(out(1).getDouble(2) > out(2).getDouble(2))
  }

  test("equal scores land in the same bucket (value cut, not rank cut)") {
    val docs = Seq(
      (1L, "x x", "en"), (2L, "x x", "en"), (3L, "x x", "en"),
      (4L, "q r", "en")).toDF("id", "text", "lang")
    val out = TextStats.pplBuckets(docs, "id", "text", "lang")
      .orderBy("id").collect()
    assert(out.take(3).map(_.getString(3)).distinct.toSeq == Seq("head"))
    assert(out(3).getString(3) == "tail")
  }

  test("languages bucket independently") {
    val docs = Seq(
      (1L, "x x x", "en"), (2L, "x y z", "en"), (3L, "q r s", "en"),
      (4L, "m m m", "de"), (5L, "m n o", "de"), (6L, "p q u", "de"))
      .toDF("id", "text", "lang")
    val out = TextStats.pplBuckets(docs, "id", "text", "lang")
    val en = out.filter(col("lang") === "en").orderBy("id")
      .collect().map(_.getString(3))
    val de = out.filter(col("lang") === "de").orderBy("id")
      .collect().map(_.getString(3))
    assert(en.contains("head") && en.contains("tail"))
    assert(de.contains("head") && de.contains("tail"))
  }
}

class RateAnomalySpec extends SparkSpec {
  import spark.implicits._

  private def eventsAt(counts: Seq[(Long, Int)], key: String = "click") = {
    val rows = counts.flatMap { case (hr, n) =>
      (1 to n).map(i => (key, hr * 3600L + i))
    }
    rows.toDF("event_type", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
  }

  test("a spike after noisy history is flagged with the hand-computed z") {
    // 24h alternating 9/11 (mean 10, pop var 1), then a 20-count hour
    val hist = (0L until 24L).map(h => h -> (if (h % 2 == 0) 9 else 11))
    val df = eventsAt(hist :+ (24L -> 20))
    val out = Windows.rateAnomaly(df, "ts", "event_type")
      .orderBy("hr_start").collect()
    val spike = out.last
    assert(spike.getLong(1) == 24L * 3600L)
    assert(spike.getDouble(4) == 10.0) // (20 - 10) / sqrt(1)
    assert(spike.getBoolean(5))
    // the quiet hours in between score |z| <= 1 and stay unflagged
    val quiet = out.dropRight(1)
    assert(quiet.nonEmpty && quiet.forall(r => !r.getBoolean(5)))
  }

  test("zero-variance history: matching the mean scores 0, deviating flags with null z") {
    val df = eventsAt((0L until 24L).map(_ -> 10) ++ Seq(24L -> 10, 25L -> 50))
    val out = Windows.rateAnomaly(df, "ts", "event_type")
      .orderBy("hr_start").collect()
    val steady = out.find(_.getLong(1) == 24L * 3600L).get
    assert(steady.getDouble(4) == 0.0 && !steady.getBoolean(5))
    val spike = out.find(_.getLong(1) == 25L * 3600L).get
    assert(spike.isNullAt(4) && spike.getBoolean(5))
  }

  test("hours with fewer than minHistory trailing observations are not scored") {
    val df = eventsAt((0L until 6L).map(_ -> 10))
    assert(Windows.rateAnomaly(df, "ts", "event_type").count() == 0)
  }

  test("the trailing frame is a 24h RANGE: older hours age out") {
    // 24 hours of 10s, a gap, then the scored hour sees only what is
    // inside [hr-24, hr-1] — hour 30 keeps 18 trailing hours (12..29
    // minus the 6-hour gap), hour 50 has none left and is unscored
    val df = eventsAt((0L until 24L).map(_ -> 10) ++ (30L to 35L).map(_ -> 10)
      ++ Seq(50L -> 10))
    val out = Windows.rateAnomaly(df, "ts", "event_type")
      .collect().map(_.getLong(1) / 3600L).toSet
    assert(!out.contains(50L))
  }

  test("the rolling window runs over the hourly frame, partitioned by key") {
    val df = eventsAt((0L until 25L).map(_ -> 2))
    val p = Windows.rateAnomaly(df, "ts", "event_type")
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    // exactly one aggregate exchange keyed on (key, hour) feeding the
    // window; no single-partition global window anywhere
    assert(!p.contains("SinglePartition"), p)
  }
}

class ZipfFitSpec extends SparkSpec {
  import spark.implicits._

  test("a constructed rank^-1 corpus recovers alpha ~ 1 with r2 ~ 1") {
    // token w_i appears floor(3000/i) times: an exact Zipf(1) profile
    // up to flooring
    val text = (1 to 40).flatMap(i => Seq.fill(3000 / i)(s"w$i")).mkString(" ")
    val out = TextStats.zipfFit(Seq(text).toDF("text"), "text", topR = 40)
      .collect().head
    assert(out.getLong(0) == 40L)
    assert(math.abs(out.getDouble(1) - 1.0) < 0.02, out.getDouble(1).toString)
    assert(out.getDouble(3) > 0.999, out.getDouble(3).toString)
  }

  test("a steeper rank^-2 profile fits alpha ~ 2; vocab smaller than topR caps n_ranks") {
    val text = (1 to 15).flatMap(i => Seq.fill(20000 / (i * i))(s"w$i")).mkString(" ")
    val out = TextStats.zipfFit(Seq(text).toDF("text"), "text", topR = 500)
      .collect().head
    assert(out.getLong(0) == 15L)
    assert(math.abs(out.getDouble(1) - 2.0) < 0.03, out.getDouble(1).toString)
  }
}

class LogMiningSpec extends SparkSpec {
  import spark.implicits._

  test("uuid, hex, ip, and number fields mask to typed placeholders") {
    val lines = Seq(
      "req 550e8400-e29b-41d4-a716-446655440000 from 10.0.3.7 took 35ms",
      "req deadbeef-dead-beef-dead-beefdeadbeef from 192.168.0.1 took 7ms",
      "cache at 0xDEADbeef evicted 1024 entries",
      "cache at 0x1f evicted 3 entries",
      "score -3.5e-2 for user 42",
      "score 17.25 for user 9").toDF("line")
    val out = LogMining.templates(lines, "line")
      .orderBy("template").collect()
    val t = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t == Map(
      "req <UUID> from <IP> took <N>ms" -> 2L,
      "cache at <HEX> evicted <N> entries" -> 2L,
      "score <N> for user <N>" -> 2L), t.toString)
  }

  test("the example is a deterministic member of its template, stable across layouts") {
    val raw = Seq("user 9 ok", "user 12 ok", "user 3 ok")
    val lines = raw.toDF("line")
    val out = LogMining.templates(lines, "line").collect()
    assert(out.length == 1)
    val ex = out.head.getString(2)
    assert(raw.contains(ex))
    val again = LogMining.templates(lines.repartition(5), "line")
      .collect().head.getString(2)
    assert(again == ex)
  }

  test("the corpus pass is a HashAggregate, never a sort-based one") {
    val lines = (1 to 5000).map(i => s"ping $i ok").toDF("line")
      .repartition(8)
    val res = LogMining.templates(lines, "line")
    val row = res.collect().head
    assert(row.getLong(1) == 5000L)
    // the corpus-sized aggregate (string KEY, count + long-min
    // BUFFERS) must stay hash-based; a raw-string min buffer would
    // demote it to SortAggregate and sort every line. Assert on the
    // counts pass in isolation — the full plan's example side also
    // aggregates, but only over the ~one-anchor-row-per-template
    // remnant of the broadcast join.
    val counts = lines
      .select(LogMining.template(col("line")).as("template"),
        xxhash64(col("line")).as("_h"))
      .groupBy("template")
      .agg(count(lit(1)).as("n"), min(col("_h")).as("_hmin"))
    val p = counts.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }
}

class CorpusDivergenceSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force reference over the FULL joint vocabulary — the
    * definition the factored absent-token correction must equal. */
  private def brute(docs: Seq[(String, String)]): Map[String, (Double, Double)] = {
    val toks = docs.map { case (g, t) =>
      g -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
    val vocab = toks.flatMap(_._2).distinct
    val v = vocab.size
    val n = toks.map(_._2.size).sum
    val corpus = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    toks.groupBy(_._1).map { case (g, rows) =>
      val mine = rows.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
      val ng = rows.map(_._2.size).sum
      val (kl, ce) = vocab.foldLeft((0.0, 0.0)) { case ((k, c), t) =>
        val p = (mine.getOrElse(t, 0) + 1.0) / (ng + v)
        val q = (corpus(t) + 1.0) / (n + v)
        (k + p * math.log(p / q), c - p * math.log(q))
      }
      g -> (kl, ce)
    }
  }

  test("a single group IS the corpus: kl = 0, ce = corpus entropy") {
    val docs = Seq(("web", "the cat sat"), ("web", "the dog ran the race"))
    val out = TextStats.corpusDivergence(docs.toDF("source", "text"),
      "source", "text").collect()
    assert(out.length == 1)
    assert(out.head.getDouble(3) == 0.0)
    assert(math.abs(out.head.getDouble(4) - brute(docs)("web")._2) < 1e-4)
  }

  test("factored absent-token correction equals the full-vocabulary brute force") {
    // three groups with overlapping and disjoint vocab slices
    val docs = Seq(
      ("web", "the cat sat on the mat"), ("web", "the dog sat"),
      ("code", "def foo return foo bar"), ("code", "class bar extends foo"),
      ("wiki", "the history of the cat species"), ("wiki", "cat and dog species"))
    val ref = brute(docs)
    val out = TextStats.corpusDivergence(docs.toDF("source", "text"),
        "source", "text")
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(out.keySet == ref.keySet)
    ref.foreach { case (g, (kl, ce)) =>
      assert(math.abs(out(g)._1 - kl) < 1e-4, s"$g kl ${out(g)._1} vs $kl")
      assert(math.abs(out(g)._2 - ce) < 1e-4, s"$g ce ${out(g)._2} vs $ce")
      assert(out(g)._1 >= 0.0)
    }
    // the drifted slice (disjoint vocab) diverges most
    assert(out("code")._1 > out("web")._1)
  }

  test("counts surface correctly and no single-partition window appears") {
    val docs = Seq(("a", "x y x"), ("b", "y z")).toDF("source", "text")
    val res = TextStats.corpusDivergence(docs, "source", "text")
    val rows = res.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows("a") == ((3L, 2L)) && rows("b") == ((2L, 2L)))
    val p = res.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(!p.contains("SinglePartition") || !p.contains("Window"), p)
  }
}

class BpePairStatsSpec extends SparkSpec {
  import spark.implicits._

  test("pair counts weight by word frequency, per position") {
    val docs = Seq(
      (1L, "low low lower"),
      (2L, "low lowest")).toDF("doc_id", "text")
    val out = TextStats.bpePairStats(docs, "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // low(3): lo ow | lower(1): lo ow we er | lowest(1): lo ow we es st
    assert(out == Map("lo" -> 5L, "ow" -> 5L, "we" -> 2L,
      "er" -> 1L, "es" -> 1L, "st" -> 1L))
  }

  test("repeated pairs inside one word count once per POSITION") {
    val docs = Seq((1L, "aaaa aaaa b")).toDF("doc_id", "text")
    // "aaaa" holds three 'aa' positions, twice; 1-char "b" holds none
    val out = TextStats.bpePairStats(docs, "text", topK = 5).collect()
    assert(out.length == 1)
    assert(out.head.getString(0) == "aa" && out.head.getLong(1) == 6L)
  }

  test("top-K orders by count desc then pair; case folds") {
    val docs = Seq((1L, "AB ab xy")).toDF("doc_id", "text")
    val out = TextStats.bpePairStats(docs, "text", topK = 1).collect()
    assert(out.head.getString(0) == "ab" && out.head.getLong(1) == 2L)
  }
}

class SemanticDecontaminateSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("a paraphrase-close vector flags with its nearest eval item") {
    val evalSet = Seq(
      (0L, vec(1, 0, 0, 0)),
      (1L, vec(0, 1, 0, 0))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, vec(0.9, 0.1, 0, 0)),  // near eval 0
      (11L, vec(0.1, 2.0, 0, 0)),  // near eval 1 (scale-invariant)
      (12L, vec(0, 0, 1, 1)),      // orthogonal to both
      (13L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val out = Decontaminate.semanticFlag(corpus, "vec_id", "embedding",
        evalSet, "vec_id", "embedding", threshold = 0.8)
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((10L, 0L), (11L, 1L)))
    assert(out.forall(_.getDouble(2) >= 0.8))
  }

  test("ties on rounded cosine resolve to the lowest eval id") {
    val evalSet = Seq(
      (5L, vec(1, 0)), (3L, vec(1, 0))).toDF("vec_id", "embedding")
    val corpus = Seq((20L, vec(2, 0))).toDF("vec_id", "embedding")
    val out = Decontaminate.semanticFlag(corpus, "vec_id", "embedding",
        evalSet, "vec_id", "embedding", threshold = 0.5).collect()
    assert(out.length == 1 && out.head.getLong(1) == 3L)
  }

  test("nothing flags below the threshold") {
    val evalSet = Seq((0L, vec(1, 0, 0))).toDF("vec_id", "embedding")
    val corpus = Seq((10L, vec(0, 1, 0)), (11L, vec(0, 0, 1)))
      .toDF("vec_id", "embedding")
    assert(Decontaminate.semanticFlag(corpus, "vec_id", "embedding",
      evalSet, "vec_id", "embedding", threshold = 0.3).isEmpty)
  }
}

class TemplateQuantilesSpec extends SparkSpec {
  import spark.implicits._

  test("lines group by skeleton; percentiles are exact per group") {
    val lines = Seq(
      ("GET /user/17 took 10", 10.0),
      ("GET /user/99 took 20", 20.0),
      ("GET /user/3 took 30", 30.0),
      ("GC pause 400", 400.0)).toDF("line", "lat")
    val out = LogMining.templateQuantiles(lines, "line", "lat")
      .orderBy("template").collect()
    assert(out.length == 2)
    val gc = out(0); val get = out(1)
    assert(gc.getString(0) == "GC pause <N>" && gc.getLong(1) == 1L
      && gc.getDouble(2) == 400.0)
    assert(get.getString(0) == "GET /user/<N> took <N>" && get.getLong(1) == 3L)
    assert(get.getDouble(2) == 20.0)           // p50 of {10,20,30}
    assert(get.getDouble(3) == 29.0)           // p95 interpolated: 20+0.9*10
    assert(get.getDouble(4) == 30.0)           // max
  }
}

class LexicalDiversitySpec extends SparkSpec {
  import spark.implicits._

  test("TTR family on a hand-checked doc; repetition scores low") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),     // 6 tokens, 5 types
      (2L, "spam spam spam spam"),        // 4 tokens, 1 type
      (3L, ""),                            // empty: all null
      (4L, "one")).toDF("doc_id", "text") // 1 token: herdan null
    val out = TextStats.lexicalDiversity(docs, "doc_id", "text")
      .orderBy("id").collect()
    val d1 = out(0)
    assert(d1.getLong(1) == 6L && d1.getLong(2) == 5L)
    assert(d1.getDouble(3) == BigDecimal(5.0 / 6.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val d2 = out(1)
    assert(d2.getDouble(3) == 0.25 && d2.getDouble(3) < d1.getDouble(3))
    val d3 = out(2)
    assert(d3.getLong(1) == 0L && d3.isNullAt(3) && d3.isNullAt(4) && d3.isNullAt(5))
    val d4 = out(3)
    assert(d4.getLong(1) == 1L && d4.getDouble(3) == 1.0 && d4.isNullAt(5))
  }
}

class C4LineFilterSpec extends SparkSpec {
  import spark.implicits._

  private val good1 = "this sentence is perfectly fine."
  private val good2 = "is this a keeper too?"

  test("each line rule fires: punctuation, word floor, javascript, policy phrases") {
    val doc = Seq(
      good1,
      "no terminal punctuation here",     // punct rule
      "too short.",                       // < 3 words
      "please enable JavaScript now.",    // javascript (case-folded)
      "see our Privacy Policy today.",    // policy phrase
      "this site uses cookies heavily.",  // policy phrase
      good2).mkString("\n")
    val out = TextStats.c4LineFilter(
        Seq((1L, doc)).toDF("doc_id", "text"), "doc_id", "text",
        minKeptLines = 1)
      .collect()
    assert(out.length == 1)
    assert(out(0).getString(1) == s"$good1\n$good2")
    assert(out(0).getLong(2) == 2L && out(0).getLong(3) == 5L)
  }

  test("page rules: lorem ipsum and curly braces kill the document") {
    val docs = Seq(
      (1L, s"$good1\nlorem ipsum dolor sit amet."),
      (2L, s"$good1\nvar f = function() { return; }"),
      (3L, good1)).toDF("doc_id", "text")
    val out = TextStats.c4LineFilter(docs, "doc_id", "text", minKeptLines = 1)
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("the kept-line page floor drops thin pages") {
    val docs = Seq(
      (1L, s"$good1\n$good2\nand a third good sentence."),
      (2L, s"$good1\nnav menu")).toDF("doc_id", "text")
    val out = TextStats.c4LineFilter(docs, "doc_id", "text", minKeptLines = 3)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    assert(out(0).getLong(2) == 3L && out(0).getLong(3) == 0L)
  }

  test("zero shuffles: the filter is one narrow row-local pass") {
    val docs = Seq((1L, good1)).toDF("id", "text")
    val p = TextStats.c4LineFilter(docs, "id", "text")
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Exchange"), p)
  }
}

class ReadabilitySpec extends SparkSpec {
  import spark.implicits._

  test("counts and grade match hand computation") {
    // 2 sentences, 6 words, syllables: the(1) cat(1) sat(1) down(1)
    // it(1) slept(1) = 6
    val docs = Seq((1L, "the cat sat down. it slept.")).toDF("doc_id", "text")
    val out = TextStats.readability(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(out.length == 1)
    val (_, ns, nw, sy, fk) = out(0)
    assert(ns == 2L && nw == 6L && sy == 6L)
    val expected = BigDecimal(0.39 * 3.0 + 11.8 * 1.0 - 15.59)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(fk == expected, s"$fk vs $expected")
  }

  test("vowel-group syllables: polysyllabic words raise the grade; consonant-only words floor at 1") {
    val docs = Seq(
      (1L, "incomprehensibilities of extraordinary organizations."),
      (2L, "tsk tsk hmm.")).toDF("doc_id", "text")
    val out = TextStats.readability(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    // incomprehensibilities: i-o-e-e-i-i-i-ie = 8 groups; of: 1;
    // extraordinary: e-ao-i-a-y = 5; organizations: o-a-i-a-io = 5
    assert(out(0)._4 == 19L)
    assert(out(1)._4 == 3L)         // three consonant-only words
    assert(out(0)._5 > out(1)._5)
  }

  test("a doc with no words drops out; an unterminated fragment counts one sentence") {
    val docs = Seq(
      (1L, "   "),
      (2L, "no terminal punctuation at all")).toDF("doc_id", "text")
    val out = TextStats.readability(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(2L))
    assert(out(0)._2 == 1L && out(0)._3 == 5L)
  }

  test("zero shuffles: one narrow row-local projection") {
    val docs = Seq((1L, "a b.")).toDF("id", "text")
    val p = TextStats.readability(docs, "id", "text")
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Exchange"), p)
  }
}

class ReviewFixesSpec extends SparkSpec {
  import spark.implicits._

  test("readability: a punctuation-only doc has words but no sentences and drops (no divide-by-zero)") {
    val docs = Seq((1L, "..."), (2L, "real words here.")).toDF("doc_id", "text")
    val out = TextStats.readability(docs, "doc_id", "text").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("chunkWindows: no fully-redundant tail chunk once a window reaches the end") {
    // 7 toks, maxLen=4, stride=3: window at 3 covers tokens 3..6 (the
    // end) — the start at 6 must NOT emit a chunk contained in it
    val docs = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val out = Training.chunkWindows(docs, "doc_id", "text", maxLen = 4, stride = 3)
      .as[(Long, Long, String, Long)].collect().sortBy(_._2)
    assert(out.map(r => (r._2, r._3)).toSeq ==
      Seq((0L, "a b c d"), (1L, "d e f g")))
    // every token still covered
    assert(out.flatMap(_._3.split(" ")).distinct.length == 7)
  }

  test("c4 line rules: CRLF pages are cleaned, kept lines carry no \\r") {
    val doc = "a perfectly good sentence.\r\nnav menu\r\nanother good one here!"
    val out = TextStats.c4LineFilter(
        Seq((1L, doc)).toDF("doc_id", "text"), "doc_id", "text",
        minKeptLines = 1)
      .collect()
    assert(out.length == 1)
    assert(out(0).getString(1) ==
      "a perfectly good sentence.\nanother good one here!")
    assert(!out(0).getString(1).contains("\r"))
  }

  test("c4Gate leaves a user column named _kept untouched") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Boolean)]
    val gated = graft.streaming.CurateStream.c4Gate(
      input.toDF().toDF("id", "text", "_kept"), "text", minKeptLines = 1)
    val q = gated.writeStream.format("memory")
      .queryName("c4_cols").outputMode("append").start()
    try {
      input.addData((1L, "a good enough sentence survives.", true))
      q.processAllAvailable()
      val rows = spark.table("c4_cols").collect()
      assert(rows.length == 1 && rows(0).getBoolean(2))
    } finally q.stop()
  }
}
