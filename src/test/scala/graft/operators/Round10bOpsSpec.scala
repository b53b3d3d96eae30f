package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Session path mining (r21). */
class SessionPathsSpec extends SparkSpec {
  import spark.implicits._

  private val M = 60000000L // one minute in µs

  test("paths split on the gap, order by (ts,id), and truncate at maxLen") {
    val ev = Seq(
      // user 1, session 0: view -> click -> buy (in ts order, ids shuffled)
      (3L, 1L, 2 * M, "buy"), (1L, 1L, 0L, "view"), (2L, 1L, M, "click"),
      // >30min gap -> session 1: a single view
      (4L, 1L, 45 * M, "view"),
      // user 2: view -> click
      (5L, 2L, 0L, "view"), (6L, 2L, M, "click"))
      .toDF("event_id", "user_id", "ts_us", "event_type")
    val got = LogMining.sessionPaths(ev, "user_id", "ts_us", "event_id",
        "event_type", gapUs = 1800000000L, maxLen = 8, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("view>click>buy", 1L), ("view", 1L), ("view>click", 1L)))
    // maxLen = 2 truncates the 3-step session to its head
    val short = LogMining.sessionPaths(ev, "user_id", "ts_us", "event_id",
        "event_type", gapUs = 1800000000L, maxLen = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(short == Set(("view>click", 2L), ("view", 1L)))
  }

  test("same-timestamp events order by id; result is partition-independent") {
    val ev = Seq(
      (2L, 1L, 0L, "b"), (1L, 1L, 0L, "a"), (3L, 1L, 0L, "c"))
      .toDF("event_id", "user_id", "ts_us", "event_type")
    def run(df: org.apache.spark.sql.DataFrame) =
      LogMining.sessionPaths(df, "user_id", "ts_us", "event_id",
        "event_type", gapUs = 1800000000L, maxLen = 8, k = 10)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(run(ev) == Seq(("a>b>c", 1L)))
    assert(run(ev.repartition(5)) == Seq(("a>b>c", 1L)))
  }

  test("top-k keeps the most frequent paths, count-desc then path order") {
    val ev = (0L until 30L).flatMap { u =>
      val t = if (u < 20) Seq("x") else Seq("x", "y")
      t.zipWithIndex.map { case (e, i) => (u * 10 + i, u, i * M, e) }
    }.toDF("event_id", "user_id", "ts_us", "event_type")
    val got = LogMining.sessionPaths(ev, "user_id", "ts_us", "event_id",
        "event_type", gapUs = 1800000000L, maxLen = 8, k = 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("x", 20L)))
  }
}

/** Heaps'-law vocabulary-growth fit (t33). */
class HeapsSpec extends SparkSpec {
  import spark.implicits._

  test("all-new-vocab corpora fit beta ~ 1; fixed-vocab corpora fit beta ~ 0") {
    // every doc mints 10 fresh tokens: V = N exactly => slope 1
    val fresh = (0L until 64L).map(i =>
      (i, (0 until 10).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val bFresh = TextStats.heapsFit(fresh, "doc_id", "text", points = 8)
      .collect().head.getDouble(1)
    assert(math.abs(bFresh - 1.0) < 1e-6, s"beta $bFresh")
    // every doc repeats the same 10 tokens: V constant => slope 0
    val fixed = (0L until 64L).map(i =>
      (i, (0 until 10).map(j => s"w$j").mkString(" "))).toDF("doc_id", "text")
    val bFixed = TextStats.heapsFit(fixed, "doc_id", "text", points = 8)
      .collect().head.getDouble(1)
    assert(math.abs(bFixed) < 1e-6, s"beta $bFixed")
  }

  test("the synthetic corpus flags as templated text; empty-id corpora fail loudly") {
    // the testdata generator draws from a FIXED word list, so its
    // vocabulary saturates in the first prefix — Heaps' beta ~ 0 is
    // the drift check WORKING (this corpus is machine text), not a
    // bug; natural corpora land near 0.4-0.6
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val r = TextStats.heapsFit(docs, "doc_id", "text").collect().head
    val beta = r.getDouble(1)
    assert(beta >= 0.0 && beta < 0.05, s"beta $beta")
    import spark.implicits._
    intercept[IllegalArgumentException] {
      TextStats.heapsFit(Seq.empty[(Option[Long], String)]
        .toDF("doc_id", "text"), "doc_id", "text")
    }
  }
}

/** PMI collocation mining (t32). */
class PmiSpec extends SparkSpec {
  import spark.implicits._

  test("exclusive pairs out-score frequent-but-independent ones; the floor kills hapax") {
    // "san francisco": 5 exclusive co-occurrences of two tokens that
    // appear nowhere else — max PMI. "the cat": both sides frequent
    // and promiscuous — low PMI. "rare gem" appears once: hapax PMI
    // would top the list, the floor drops it.
    val docs = (
      Seq.fill(5)("san francisco is the place the cat likes") ++
      Seq.fill(5)("the dog and the cat and the bird") ++
      Seq("rare gem")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextStats.pmiTopK(docs, "text", minCount = 2L, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    // "francisco is" is equally exclusive (francisco is always
    // followed by is) and ties; both must head the list
    assert(got.take(2).map(p => (p._1, p._2)).toSet ==
      Set(("san", "francisco"), ("francisco", "is")), got.toSeq.toString)
    assert(!got.exists(p => p._1 == "rare"), "hapax pair must fall to the floor")
    // PMI ordering: exclusive pair strictly above any pair involving
    // the promiscuous "the"
    val theScores = got.filter(p => p._1 == "the" || p._2 == "the").map(_._3)
    assert(theScores.forall(_ < got.head._3))
  }
}

/** N-gram novelty scoring (t31). */
class NoveltySpec extends SparkSpec {
  import spark.implicits._

  test("duplicated docs score 0, unique docs 1, partial overlap in between") {
    val docs = Seq(
      (0L, "alpha beta gamma delta"),          // twin of 1
      (1L, "alpha beta gamma delta"),
      (2L, "wholly original content right here"), // unique
      (3L, "alpha beta gamma epsilon"),        // shares 1 of 2 grams' worth
      (4L, "too short"))                       // < k tokens: drops
      .toDF("doc_id", "text")
    val got = TextStats.ngramNovelty(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(got(0)._4 == 0.0 && got(1)._4 == 0.0) // every gram shared with the twin
    assert(got(2)._4 == 1.0)
    // doc 3: grams {alpha beta gamma, beta gamma epsilon} — first is
    // shared with docs 0/1, second unique => novelty 0.5
    assert(got(3) == (3L, 2L, 1L, 0.5))
  }
}

/** Best-fit-decreasing packing (p15). */
class PackBestFitSpec extends SparkSpec {
  import spark.implicits._

  private def localBfd(docs: Seq[(Long, Long)], cap: Long): Map[Long, Long] = {
    val fills = collection.mutable.ArrayBuffer.empty[Long]
    val out = collection.mutable.Map.empty[Long, Long]
    docs.sortBy { case (id, n) => (-n, id) }.foreach { case (id, n) =>
      val feasible = fills.zipWithIndex.filter(_._1 + n <= cap)
      if (feasible.isEmpty) { fills += n; out(id) = fills.length - 1L }
      else {
        val (_, i) = feasible.maxBy { case (f, idx) => (f, -idx) }
        fills(i) += n; out(id) = i.toLong
      }
    }
    out.toMap
  }

  test("packBestFit matches the local BFD fold exactly") {
    val rnd = new scala.util.Random(11)
    val docs = (0L until 300L).map(i => (i, 1L + rnd.nextInt(200).toLong))
    val got = Training.packBestFit(docs.toDF("id", "n"), "id", "n",
        seqLen = 512L, shardSize = 128L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // shards are id ranges: replay the fold per shard
    val expect = docs.groupBy(_._1 / 128)
      .flatMap { case (_, ds) => localBfd(ds, 512L) }
    assert(got == expect)
  }

  test("BFD packs tighter than next-fit on its textbook adversary") {
    // id order 6,5,6,5,4,4 / cap 10: next-fit opens 5 packs, BFD 3
    val docs = Seq((0L, 6L), (1L, 5L), (2L, 6L), (3L, 5L), (4L, 4L), (5L, 4L))
      .toDF("id", "n")
    val bfd = Training.packBestFit(docs, "id", "n", seqLen = 10L)
      .select("pack").collect().map(_.getLong(0)).distinct.length
    val nf = Training.packGreedy(docs, "id", "n", seqLen = 10L)
      .select("pack").collect().map(_.getLong(0)).distinct.length
    assert(bfd == 3 && nf == 5, s"bfd=$bfd nf=$nf")
  }

  test("oversized docs sit alone; result is partition-independent") {
    val docs = Seq((0L, 600L), (1L, 300L), (2L, 200L)).toDF("id", "n")
    val got = Training.packBestFit(docs, "id", "n", seqLen = 512L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // decreasing order: 600 opens pack 0 (never admits anyone),
    // 300+200 = 500 <= 512 share pack 1
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L))
    val rep = Training.packBestFit(docs.repartition(5), "id", "n", seqLen = 512L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(rep == got)
  }
}

/** Text-image alignment scoring (m06). */
class AlignmentSpec extends SparkSpec {
  import spark.implicits._

  test("aligned pairs score; zero-norm sides surface NULL, not a verdict") {
    val docs = Seq((0L, "some caption text here"), (1L, ""))
      .toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array.fill(64)(0.5f)),
      (1L, Array.fill(64)(0.5f)),
      (2L, Array.fill(64)(0.0f))) // zero text vector
      .toDF("vec_id", "embedding")
    val blobs = Multimodal.withBlob(docs, "text")
    val got = Multimodal.textImageAlignment(blobs, "doc_id", "blob",
        emb, "vec_id", "embedding", tau = -1.0, embDims = 64)
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    // doc 0: both norms positive => a score and (tau = -1) keep = true
    assert(got(0L)._1.isDefined && got(0L)._2.contains(true))
    // doc 1: empty blob => zero image feature => NULL score, NULL keep
    assert(got(1L)._1.isEmpty && got(1L)._2.isEmpty)
  }

  test("the score is the cosine of the byte-fold feature and the projected embedding") {
    val docs = Seq((0L, "abcdefgh")).toDF("doc_id", "text") // 8 bytes, one per cell
    val emb = Seq((0L, Array.tabulate(64)(i => (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val blobs = Multimodal.withBlob(docs, "text")
    val got = Multimodal.textImageAlignment(blobs, "doc_id", "blob",
        emb, "vec_id", "embedding", tau = 0.0, embDims = 64)
      .collect().head
    // local reference: feature = the 8 byte values; projection via the
    // same md5-parity signs
    val f = "abcdefgh".getBytes("UTF-8").map(b => (b & 0xff).toDouble)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Double = {
      val h = md.digest(s"$i:$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
    }
    val v = Array.tabulate(64)(i => (i % 3).toDouble)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val t = Array.tabulate(8)(j => r6((0 until 64).map(i => v(i) * sign(i, j)).sum))
    val dot = (0 until 8).map(k => f(k) * t(k)).sum
    val expect = r6(dot / (math.sqrt(f.map(x => x * x).sum) * math.sqrt(t.map(x => x * x).sum)))
    assert(got.getDouble(1) == expect, s"got ${got.getDouble(1)} expect $expect")
  }
}

/** Stupid Backoff cross-slice LM scoring (t30). */
class StupidBackoffSpec extends SparkSpec {
  import spark.implicits._

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("seen bigrams score their conditional ratio; unseen fall to the alpha floor") {
    // LM slice: 2 docs, pairs (the,cat)x2 (cat,sat) (cat,ran);
    // N = 6 slice tokens, V = 4 distinct
    val docs = Seq(
      (0L, "en", "the cat sat"), (1L, "en", "the cat ran"),
      (2L, "de", "the cat sat"), // in-vocab: rides bigram mass
      (3L, "de", "zebra qux"))   // fully unseen: pure backoff floor
      .toDF("doc_id", "lang", "text")
    val got = TextStats.stupidBackoff(docs, "doc_id", "text",
        lmPred = col("lang") === "en")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val lnHalf = r6(math.log(1.0 / 2.0))
    // doc 0/2: (the,cat) ln(2/2)=0, (cat,sat) ln(1/2)
    val expect02 = r6((0.0 + lnHalf) / 2)
    assert(got(0L) == (2L, expect02))
    assert(got(2L) == (2L, expect02))
    // doc 3: one pair, qux unseen => ln(0.4 * (0+1)/(6+4))
    val floor = r6(math.log(0.4 * (1.0 / 10.0)))
    assert(got(3L) == (1L, floor))
  }

  test("an empty reference slice fails loudly; sub-2-token docs drop") {
    val docs = Seq((0L, "de", "only one-pair doc here"), (1L, "de", "single"))
      .toDF("doc_id", "lang", "text")
    val e = intercept[Exception] {
      TextStats.stupidBackoff(docs, "doc_id", "text",
        lmPred = col("lang") === "en").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("lmPred selects no rows")), e.toString)
    val ok = TextStats.stupidBackoff(docs, "doc_id", "text",
        lmPred = col("lang") === "de")
      .collect().map(_.getLong(0)).sorted
    assert(ok.toSeq == Seq(0L)) // "single" has no bigram evidence
  }
}

/** Perceptual-hash image near-dup plumbing (m05). */
class ImagePhashSpec extends SparkSpec {
  import spark.implicits._

  private val base = ("the quick brown fox jumps over the lazy dog " * 5).trim

  test("near-identical images pair within hamming 3; unrelated do not") {
    // one byte changed touches one fold cell => at most 2 of the 64
    // neighbor comparisons can flip
    val docs = Seq(
      (0L, base), (1L, base.replace("quick", "quack")),
      (2L, "completely different content with other words entirely " * 4))
      .toDF("doc_id", "text")
    val blobs = Multimodal.withBlob(docs, "text")
    val pairs = Dedup.chunkedHammingPairs(
        Multimodal.imagePhash(blobs, "doc_id", "blob"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("identical blobs hash identically (hamming 0) regardless of partitioning") {
    val docs = Seq((0L, base), (1L, base)).toDF("doc_id", "text").repartition(5)
    val out = Dedup.chunkedHammingPairs(
        Multimodal.imagePhash(Multimodal.withBlob(docs, "text"), "doc_id", "blob"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 1L, 0L)))
  }

  test("null blobs drop: no fingerprint, no pairs, no NPE") {
    val docs = Seq((0L, Some(base)), (1L, None), (2L, Some(base)))
      .toDF("doc_id", "text")
    val blobs = Multimodal.withBlob(docs, "text")
    val fps = Multimodal.imagePhash(blobs, "doc_id", "blob")
    assert(fps.count() == 2)
    val pairs = Dedup.chunkedHammingPairs(fps)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 2L)))
  }
}

/** Efraimidis–Spirakis deterministic weighted sampling (p14). */
class WeightedSampleSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def refKey(id: Long, w: Double): Double = {
    val h = java.lang.Long.parseLong(md5hex(id.toString).take(8), 16)
    val u = (h.toDouble + 1.0) / 4294967296.0
    BigDecimal(math.log(u) / w)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("weightedSample reproduces the local A-ES reference fold exactly") {
    val rows = (0L until 300L).map(i => (i, (i % 7 + 1).toDouble))
    val df = rows.toDF("id", "w")
    val expect = rows.map { case (id, w) => (id, refKey(id, w)) }
      .sortBy { case (id, k) => (-k, id) }.take(25)
    val got = Training.weightedSample(df, "id", col("w"), 25)
      .select("id", "_wkey").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, k) => (-k, id) }
    assert(got.toSeq == expect)
  }

  test("result is partition-independent and deterministic across runs") {
    val df = (0L until 500L).map(i => (i, (i % 13 + 1).toDouble)).toDF("id", "w")
    val a = Training.weightedSample(df, "id", col("w"), 40)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Training.weightedSample(df.repartition(7), "id", col("w"), 40)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }

  test("a heavier weight can only raise an item's rank key") {
    // same id => same uniform u; ln(u) < 0, so key = ln(u)/w grows
    // with w — the A-ES monotonicity the sampler's bias rests on
    val id = 42L
    assert(refKey(id, 10.0) > refKey(id, 1.0))
  }

  test("NULL or non-positive weights fail loudly; null ids drop") {
    val bad = Seq((0L, 2.0), (1L, 0.0)).toDF("id", "w")
    val e = intercept[Exception] {
      Training.weightedSample(bad, "id", col("w"), 2).collect()
    }
    assert(e.getMessage.contains("weight must be > 0")
      || e.getCause != null && e.getCause.getMessage.contains("weight must be > 0"))
    val nid = Seq((Some(0L), 2.0), (None, 3.0)).toDF("id", "w")
    val got = Training.weightedSample(nid, "id", col("w"), 5)
      .select("id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(0L))
  }
}
