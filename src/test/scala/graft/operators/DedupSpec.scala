package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Winnowing fingerprint pairs (d17). */
class WinnowingSpec extends SparkSpec {
  import spark.implicits._

  test("a shared substring of >= w+k-1 tokens guarantees a shared fingerprint") {
    // winnowing guarantee: window w=4 of k=4-gram hashes covers any
    // 7-token match; the two docs share an 8-token phrase
    val docs = Seq(
      (1L, "one two three four five six seven eight unique1 tail1"),
      (2L, "prefix2 one two three four five six seven eight other2"),
      (3L, "totally different words with no overlap at all here")).toDF("id", "text")
    val out = Dedup.winnowingPairs(docs, "id", "text", k = 4, w = 4, minShared = 1)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("identical docs share their full distinct-fingerprint set") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, text), (2L, text)).toDF("id", "text")
    val pair = Dedup.winnowingPairs(docs, "id", "text", k = 4, w = 4, minShared = 1)
      .collect()
    assert(pair.length == 1)
    val nShared = pair(0).getLong(2)
    assert(nShared >= 1)
    // docs shorter than k+w-1 grams still fingerprint every full window
    val grams = text.split(" ").length - 3
    assert(nShared <= grams)
  }

  test("maxBucket prunes degenerate fingerprint buckets before the self-join") {
    // 20 docs all sharing one boilerplate sentence: every pair collides
    // exactly through that bucket; capping at 10 removes it
    val docs = (1L to 20L).map(i =>
      (i, s"subscribe to our newsletter today for great offers u$i v$i w$i x$i"))
      .toDF("id", "text")
    val exact = Dedup.winnowingPairs(docs, "id", "text", k = 4, w = 4, minShared = 1)
    val capped = Dedup.winnowingPairs(docs, "id", "text", k = 4, w = 4,
      minShared = 1, maxBucket = Some(10))
    assert(exact.count() > 0)
    assert(capped.count() < exact.count())
  }

  test("disjoint docs produce no pairs") {
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),
      (2L, "ii jj kk ll mm nn oo pp")).toDF("id", "text")
    assert(Dedup.winnowingPairs(docs, "id", "text", k = 4, w = 4, minShared = 1)
      .count() == 0)
  }
}

class CutDupSubstringsSpec extends SparkSpec {
  import spark.implicits._

  test("corpus-duplicated k-grams are cut; unique text survives in order") {
    val docs = Seq(
      (1L, "shared slogan goes here first unique one body"),
      (2L, "shared slogan goes here second unique two body"),
      (3L, "completely different text with no duplication whatsoever")).toDF("id", "text")
    val out = Dedup.cutDupSubstrings(docs, "id", "text", k = 4)
      .orderBy("id").collect()
    // "shared slogan goes here" is the only 4-gram occurring twice
    assert(out(0).getString(1) == "first unique one body")
    assert(out(0).getLong(2) == 8L && out(0).getLong(3) == 4L)
    assert(out(1).getString(1) == "second unique two body")
    assert(out(2).getString(1) == docs.collect()(2).getString(1))
    assert(out(2).getLong(3) == 0L)
  }

  test("a fully duplicated doc keeps an empty text_clean, not a missing row") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"),
      (3L, "unique words entirely here")).toDF("id", "text")
    val out = Dedup.cutDupSubstrings(docs, "id", "text", k = 4)
      .orderBy("id").collect()
    assert(out.length == 3)
    assert(out(0).getString(1) == "" && out(0).getLong(3) == 4L)
    assert(out(1).getString(1) == "")
  }

  test("cut coverage equals dupSubstringSpans' span accounting") {
    val docs = Seq(
      (1L, "x y z w shared phrase of four tokens t1"),
      (2L, "a b shared phrase of four tokens c d e")).toDF("id", "text")
    val cut = Dedup.cutDupSubstrings(docs, "id", "text", k = 4)
      .select("id", "n_toks", "n_dup_toks").orderBy("id").collect()
    val spans = Dedup.dupSubstringSpans(docs, "id", "text", k = 4)
      .select("id", "n_toks", "n_dup_toks").orderBy("id").collect()
    assert(cut.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      spans.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }
}

class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  test("the corpus-first occurrence of a duplicated span survives; later copies lose those sentences") {
    val intro = "one two. three four! five six?"
    val docs = Seq(
      (1L, s"$intro unique seven."),
      (2L, s"$intro another ending."),
      (3L, "totally unrelated. content lives. here today. forever more."))
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", spanLen = 3)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // doc 1 keeps everything (it is the winner of the intro span)
    assert(out(0) == ((1L, "one two. three four! five six? unique seven.", 4L, 0L)))
    // doc 2 loses the three intro sentences, keeps its own ending
    assert(out(1) == ((2L, "another ending.", 4L, 3L)))
    // doc 3 shares nothing and survives whole
    assert(out(2)._4 == 0L && out(2)._3 == 4L)
  }

  test("a repeated span INSIDE one document collapses to its first occurrence") {
    val docs = Seq(
      (1L, "alpha beta. gamma delta. epsilon zeta. alpha beta. gamma delta. epsilon zeta."))
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", spanLen = 3)
      .as[(Long, String, Long, Long)].collect()
    assert(out.length == 1)
    // sentences 3..5 form the same span as 0..2 and are removed
    assert(out(0)._2 == "alpha beta. gamma delta. epsilon zeta.")
    assert(out(0)._3 == 6L && out(0)._4 == 3L)
  }

  test("docs with fewer sentences than the span length survive whole; a fully-duplicated doc keeps empty text") {
    val span = "cloned first. cloned second. cloned third."
    val docs = Seq(
      (1L, span),
      (2L, span),            // all three sentences are one duplicated span
      (3L, "short one. two.")) // only 2 sentences: no spans
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", spanLen = 3)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out(0)._4 == 0L)
    assert(out(1) == ((2L, "", 3L, 3L)))
    assert(out(2) == ((3L, "short one. two.", 2L, 0L)))
  }

  test("span hashing is row-local and the shuffle budget holds") {
    val docs = Seq((1L, "a b. c d. e f. g h.")).toDF("doc_id", "text")
    // explain the UNSEALED plan shape: sealing materializes eagerly
    // and leaves only a checkpoint scan
    val (raw, spansFrame) = Dedup.spanDedupRaw(docs, "doc_id", "text", 3)
    val plan = raw.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // span text never explodes: every Generate emits either the
    // 16-byte span digests or the (pos, sent) reassembly rows — a
    // raw-sentence self-join would need a sentence-keyed Exchange.
    // Pin the budget: winner agg, removals distinct, kept groupBy,
    // and the final joins — bounded, not corpus-shaped
    // count SHUFFLE exchange nodes via their detail headers —
    // "(n) Exchange" — so broadcast exchanges and the duplicate
    // tree-line mentions don't inflate the tally
    val exchanges = """\(\d+\) Exchange\b""".r.findAllMatchIn(plan).size
    assert(exchanges <= 5, s"$exchanges shuffle exchanges:\n$plan")
    // and the span digests (not span strings) are a join key
    assert(plan.contains("_h"), plan)
    spansFrame.unpersist()
  }
}

/** Prefix-filtered exact all-pairs similarity join (d24). */
class AllPairsSpec extends SparkSpec {
  import spark.implicits._

  test("allPairsJaccard equals the exhaustive quadratic join on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val brute = Dedup.jaccardPairs(
        Dedup.shingles(docs, "doc_id", "text", 1), 0.5)
      .collect().map(key).toSet
    val pf = Dedup.allPairsJaccard(docs, "doc_id", "text", 0.5)
      .collect().map(key).toSet
    assert(brute.nonEmpty, "corpus has no near-dup pairs — test is vacuous")
    assert(pf == brute,
      s"missed=${(brute -- pf).take(5)} spurious=${(pf -- brute).take(5)}")
  }

  test("prefix filter finds pairs whose ONLY shared tokens are common words") {
    // both docs' rarest tokens differ, but J = 3/5 >= 0.5: the prefix
    // (length |x| - ceil(tau|x|) + 1 = 4-2+1 = 3 of 4 tokens) must
    // reach deep enough to catch them — a 1-token "rarest only" prefix
    // heuristic would miss this pair
    val docs = Seq(
      (0L, "alpha beta gamma uniquea"),
      (1L, "alpha beta gamma uniqueb"),
      (2L, "unrelated words entirely here")).toDF("doc_id", "text")
    val got = Dedup.allPairsJaccard(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L)))
  }

  test("size filter never drops a qualifying cross-size pair") {
    // |x|=2, |y|=4, intersection 2 => J = 2/4 = 0.5 exactly: sits ON
    // the tau*|y| <= |x| boundary the size filter must keep closed
    val docs = Seq(
      (0L, "tok1 tok2"),
      (1L, "tok1 tok2 tok3 tok4")).toDF("doc_id", "text")
    val got = Dedup.allPairsJaccard(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((0L, 1L, 0.5)))
  }

  test("dirty input: null texts and null ids produce no pairs and no crash") {
    val docs = Seq(
      (Some(0L), Some("alpha beta gamma delta")),
      (Some(1L), Some("alpha beta gamma delta")),
      (Some(2L), None),                       // null text: no tokens
      (None, Some("alpha beta gamma delta"))) // null id: no valid pair side
      .toDF("doc_id", "text")
    val got = Dedup.allPairsJaccard(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 1L)))
  }

  test("tau outside (0,1] is rejected") {
    val docs = Seq((0L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.allPairsJaccard(docs, "doc_id", "text", 0.0)
    }
    intercept[IllegalArgumentException] {
      Dedup.allPairsJaccard(docs, "doc_id", "text", 1.5)
    }
  }

  test("candidate-explosion guard trips on a degenerate unigram corpus") {
    // 80 docs over a 4-word shared vocabulary: every doc's word SET is
    // near-identical, so at tau=0.25 the prefix self-join emits close
    // to the full 80*79/2 quadratic candidate set — exactly the shape
    // the guard exists to catch before the verify join pays for it
    val docs = (0 until 80).map(i =>
      (i.toLong, s"alpha beta gamma ${if (i % 2 == 0) "delta" else "epsilon"}"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.allPairsJaccard(docs, "doc_id", "text", tau = 0.25,
        maxCandidateFactor = Some(4.0)).collect()
    }
    assert(e.getMessage.contains("candidate pairs exceed"), e.getMessage)
    // the same guard passes on a healthy 3-gram configuration where
    // candidates track the true pair count
    val ok = Dedup.allPairsJaccard(docs, "doc_id", "text", tau = 0.8,
      shingleN = 3, maxCandidateFactor = Some(64.0)).collect()
    assert(ok.nonEmpty) // the even/odd twins are exact 3-gram dups
  }

  test("d24's production guard (tau=0.5, unigram, 256x) trips past 512 docs") {
    // the exact d24 call-site configuration: at 256x the cap sits just
    // above the full quadratic for n=500 (the verify corpus — cannot
    // trip there), but a degenerate shared-vocabulary corpus one size
    // up crosses it: 600 near-identical word sets emit ~600*599/2 =
    // 179,700 candidates > 256*600 = 153,600
    val docs = (0 until 600).map(i =>
      (i.toLong, s"alpha beta gamma ${if (i % 2 == 0) "delta" else "epsilon"}"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.allPairsJaccard(docs, "doc_id", "text", tau = 0.5,
        maxCandidateFactor = Some(256.0)).collect()
    }
    assert(e.getMessage.contains("candidate pairs exceed"), e.getMessage)
  }
}

/** Signature-store dedup (d25): near-dedup new docs against a
  * persisted k=8 portable MinHash store, no old text in the plan.
  */
class SigStoreDedupSpec extends SparkSpec {
  import spark.implicits._

  private val oldDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "completely different content about distributed query engines at scale"))
    .toDF("doc_id", "text")

  test("an identical new doc matches its stored twin at 8/8; unrelated docs stay silent") {
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (11L, "nothing in common with anything stored before this moment arrived"))
      .toDF("doc_id", "text")
    val store = Dedup.portableSignatureStore(oldDocs, "doc_id", "text")
    val got = Dedup.sigStoreDedup(store, newDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((10L, 1L, 8L, 1.0)))
  }

  test("the store survives a parquet round-trip (the artifact is the contract)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sigstore").toFile
    Dedup.portableSignatureStore(oldDocs, "doc_id", "text")
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    val reloaded = spark.read.parquet(dir.getAbsolutePath)
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val got = Dedup.sigStoreDedup(reloaded, newDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((10L, 1L, 8L)))
    // and the store really is text-free: ~3 narrow columns
    assert(reloaded.columns.sorted.toSeq == Seq("i", "id", "sig"))
  }

  test("estimated jaccard tracks the true jaccard on real docs") {
    // the k=8 estimator is unbiased (E[matches/k] = J) but coarse;
    // this gate pins its realized quality on the sf0.01 corpus so a
    // hash-family or banding regression that decorrelates the
    // estimate fails loudly. Deterministic — exact regression values.
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .filter(col("doc_id") < 500)
    val store = Dedup.portableSignatureStore(
      docs.filter(col("doc_id") < 250), "doc_id", "text")
    val est = Dedup.sigStoreDedup(store, docs.filter(col("doc_id") >= 250),
        "doc_id", "text")
      .select(col("doc_id"), col("matched_id"), col("est_jaccard"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(est.nonEmpty, "no pairs — gate is vacuous")
    // true jaccard over the same 3-gram shingle sets, text-side
    val ids = est.keySet.flatMap(p => Seq(p._1, p._2))
    val sh = Dedup.shingles(docs.filter(col("doc_id").isin(ids.toSeq: _*)),
        "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val errs = est.map { case ((a, b), e) =>
      val (sa, sb) = (sh(a), sh(b))
      val j = (sa intersect sb).size.toDouble / (sa union sb).size
      math.abs(e - j)
    }
    val mae = errs.sum / errs.size
    info(f"pairs=${est.size} MAE=$mae%.3f max=${errs.max}%.3f")
    // measured 0.040 / 0.114 (deterministic) — gates within a small
    // slack of measured, the round-11 gate discipline
    assert(mae <= 0.06, f"estimator MAE regressed: $mae%.3f (measured 0.040)")
    assert(errs.max <= 0.16, f"estimator worst error regressed: ${errs.max}%.3f (measured 0.114)")
  }

  test("stored-vs-stored pairs never surface") {
    // two identical OLD docs: a self-dedup would pair them; the store
    // contract only reports incoming-vs-stored
    val dupOld = Seq(
      (1L, "same text here for both of the stored documents in this case"),
      (2L, "same text here for both of the stored documents in this case"))
      .toDF("doc_id", "text")
    val store = Dedup.portableSignatureStore(dupOld, "doc_id", "text")
    val newDocs = Seq((10L, "fresh unrelated arrival with its own words"))
      .toDF("doc_id", "text")
    val got = Dedup.sigStoreDedup(store, newDocs, "doc_id", "text").collect()
    assert(got.isEmpty)
  }
}

/** Source-text pin of the near-dup stage composition: under src/main
  * each Dedup stage expression has one copy, and the dead signature
  * and banding entries stay gone.
  */
class DedupStructureSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val src = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    files(new java.io.File("src/main/scala")).map(f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).mkString("\n")
  }

  private def count(re: String): Int = re.r.findAllMatchIn(src).length
  private def literal(s: String): Int = count(java.util.regex.Pattern.quote(s))

  test("one signature, band key, bucket join, verify and ratio per near-dup stage") {
    // portable k=8 md5 MinHash signature component
    assert(literal("""md5(concat(col("i"), lit(":"), col("shingle")))""") == 1)
    // portable band key (4 bands of r=2)
    assert(literal("i div 2") == 1)
    // (band, key) bucket join: the stage's generic key equality, and no
    // band equality written out anywhere else
    assert(literal("""col(s"a.$k") === col(s"b.$k")""") == 1)
    assert(count("""band"\) === col\(""") == 0)
    // candidate-only exact-Jaccard verify: one intersection count
    assert(count("""groupBy\("id1", "id2"\)\.agg\((count\(lit\(1\)\)|cnt)\.as\("n"\)\)""") == 1)
    // Jaccard ratio inter / (sz1 + sz2 - inter)
    assert(count("""/ \((col\("sz1"\)|sz1) \+ (col\("sz2"\)|sz2) - """) == 1)
    // signature-match count (the copies compared _s1/_s2 or _g1/_g2)
    assert(count("""sum\(when\(col\("_[sg]1"\) === col\("_[sg]2"\), 1L\)""") == 1)
    // xxhash64 band-hash array of the fused MinHash chain
    assert(literal("xxhash64((b * r until (b + 1) * r)") == 1)
    // C4 normalization
    assert(literal("""[^\\p{L}\\p{N}\\s]""") == 1)
  }

  test("the dead minHashSignatures and lshBands entries are gone") {
    assert(literal("def minHashSignatures") == 0)
    assert(literal("def lshBands") == 0)
  }
}
