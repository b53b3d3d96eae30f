package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Token-budget waterfill (p16): max-min fair allocation across
  * sources in tokens, integer-exact level solve.
  */
class TokenWaterfillSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, Long)*) =
    rows.toDF("doc_id", "source", "n_toks")

  test("budget above the corpus keeps every document") {
    val df = docs((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 5L))
    val kept = Training.tokenWaterfill(df, "doc_id", "source", "n_toks", 1000L)
    assert(kept.count() == 3)
  }

  test("level solve matches the hand waterfill; caps are respected") {
    // totals a=10, b=30, c=60; budget 50 -> after a fits fully,
    // level = (50-10)/2 = 20: b and c each keep <= 20 tokens
    val df = docs(
      (1L, "a", 10L),
      (2L, "b", 12L), (3L, "b", 11L), (4L, "b", 7L),
      (5L, "c", 20L), (6L, "c", 20L), (7L, "c", 20L))
    val kept = Training.tokenWaterfill(df, "doc_id", "source", "n_toks", 50L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = kept.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(bySrc("a") == 10L, s"under-cap source must keep all: $bySrc")
    assert(bySrc.getOrElse("b", 0L) <= 20L && bySrc.getOrElse("c", 0L) <= 20L, s"$bySrc")
    assert(kept.map(_._3).sum <= 50L)
    // docs are atomic: c's 20-token docs fit exactly once under L=20
    assert(bySrc("c") == 20L, s"$bySrc")
  }

  test("a doc larger than the level drops whole (atomicity)") {
    // totals a=10, big=100; budget 40 -> level = (40-10)/1 = 30 < 100:
    // big's single 100-token doc cannot fit and the source empties
    val df = docs((1L, "a", 10L), (2L, "big", 100L))
    val kept = Training.tokenWaterfill(df, "doc_id", "source", "n_toks", 40L)
      .collect().map(r => (r.getLong(0)))
    assert(kept.toSet == Set(1L))
  }

  test("a negative token count fails loudly instead of deflating its source") {
    val df = docs((1L, "a", 10L), (2L, "a", -5L))
    val e = intercept[Exception] {
      Training.tokenWaterfill(df, "doc_id", "source", "n_toks", 100L).collect()
    }
    assert(e.getMessage.contains("n_tokens must be >= 0"), e.getMessage)
  }

  test("null id or source is excluded and charges nothing") {
    val df = Seq(
      (Some(1L), Some("a"), 10L),
      (None, Some("a"), 999L),
      (Some(3L), None, 999L)).toDF("doc_id", "source", "n_toks")
    val kept = Training.tokenWaterfill(df, "doc_id", "source", "n_toks", 15L)
      .collect()
    assert(kept.map(_.getLong(0)).toSet == Set(1L))
  }
}

/** Data-constrained effective-token accounting (p17, Muennighoff
  * 2023): exponential repeat decay via the engine-exact Horner exp.
  */
class EffectiveTokensSpec extends SparkSpec {
  import spark.implicits._

  test("the Horner e^-x matches libm within 1e-7 on the working range") {
    for (x <- Seq(0.0, 0.1, 0.5, 1.0, 2.0, 3.0, 4.0)) {
      val horner = Training.ExpCoefs.foldRight(0.0)((c, acc) => c + x * acc)
      assert(math.abs(horner - math.exp(-x)) < 1e-7,
        s"x=$x horner=$horner exp=${math.exp(-x)}")
    }
  }

  test("one epoch counts in full; repetition value saturates at U*(1+R*)") {
    val df = Seq(
      (1L, "a", 1000L),   // alloc 1000 => exactly 1 epoch, R=0
      (2L, "b", 50L))     // alloc 1000 => 20 epochs, deep saturation
      .toDF("doc_id", "source", "n_toks")
    val out = Training.effectiveTokens(df, "source", "n_toks",
        allocPerSource = 1000.0)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val (ep1, eff1) = out("a")
    assert(ep1 == 1.0 && eff1 == 1000.0, out("a")) // R=0: e^0=1, D'=U
    val (ep2, eff2) = out("b")
    assert(ep2 == 20.0, out("b"))
    // D' in (U, U*(1+R*)): repetition helps but saturates
    assert(eff2 > 50.0 && eff2 < 50.0 * 6.3, out("b"))
    // at R=19, R*=5.3: decay nearly complete — within 3% of the cap
    assert(eff2 > 50.0 * 6.3 * 0.97, out("b"))
  }

  test("tiny sources (x >> 4) clamp instead of diverging") {
    // a 30-token source under a 2000-token allocation puts
    // x = (2000/30 - 1)/5.3 ~ 12.4 — far past the Taylor chain's
    // accurate range. Unclamped, the degree-20 polynomial is off by
    // orders of magnitude (hugely negative effective tokens); clamped
    // it saturates at the x=4 value.
    val df = Seq(
      (1L, "tiny", 30L),     // x ~ 12.4
      (2L, "tinier", 5L),    // x ~ 75 — catastrophic unclamped
      (3L, "ok", 2000L))     // x = 0 control
      .toDF("doc_id", "source", "n_toks")
    val out = Training.effectiveTokens(df, "source", "n_toks",
        allocPerSource = 2000.0)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    for (s <- Seq("tiny", "tinier")) {
      val u = if (s == "tiny") 30.0 else 5.0
      val eff = out(s)
      // finite, monotone, inside (U, U*(1+R*)]
      assert(eff > u && eff <= u * 6.3 + 1e-6, s"$s -> $eff")
      // saturated at the x=4 value (epsilon covers the Horner chain's
      // ~1e-7 error at x=4 scaled by U*R*, plus the 6-decimal round)
      assert(eff > u * (1.0 + 5.3 * (1.0 - math.exp(-4.0))) - u * 5.3 * 2e-7 - 1e-6,
        s"$s -> $eff not saturated")
    }
    assert(out("ok") == 2000.0, out("ok"))
    // the generated oracle SQL carries the same clamp
    assert(Training.expNegHornerSql("x").contains("least((x), 4.0)"))
  }
}

/** Rare template transitions (r24): the new-failure-path detector. */
class RareTransitionsSpec extends SparkSpec {
  import spark.implicits._

  test("an out-of-character exit flags; the dominant path does not") {
    // user streams: login -> query (x30 across users), one login -> crash
    val rows = (0 until 30).flatMap { u =>
      Seq((u.toLong, 1L, u * 10L + 1, s"login user=$u"),
        (u.toLong, 2L, u * 10L + 2, s"query user=$u rows=42"))
    } :+ ((99L, 1L, 991L, "login user=99")) :+ ((99L, 2L, 992L, "crash user=99"))
    val df = rows.toDF("user_id", "ts", "event_id", "line")
    val got = LogMining.rareTransitions(df, "user_id", "ts", "event_id", "line",
        minShare = 0.05, maxN = 2L)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getBoolean(4)))).toMap
    val loginT = "login user=<N>"
    assert(got((loginT, "query user=<N> rows=<N>")) == ((30L, false)), got)
    assert(got((loginT, "crash user=<N>")) == ((1L, true)), got)
  }
}

/** BPE tokenizer training + application (t34/t35, Sennrich 2016). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("merge table replays the textbook hand trace") {
    // words: aaab x3, ab x1
    //   round 1: (a,a) freq 6 -> "aa"     [aaab contributes 2 per copy]
    //   round 2: (a,b) freq 4 -> "ab"     [3 from "aa a b", 1 from "a b"]
    //   round 3: (aa,ab) freq 3
    val docs = Seq((1L, "aaab aaab"), (2L, "aaab ab")).toDF("doc_id", "text")
    val mt = TextStats.bpeTrain(docs, "text", merges = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(mt.toSeq == Seq((1L, "a a", 6L), (2L, "a b", 4L), (3L, "aa ab", 3L)))
  }

  test("merge application is greedy left-to-right, never overlapping") {
    // "aaa": after merging (a,a) the word must segment as [aa, a]
    // (left-to-right non-overlap), i.e. 2 BPE tokens, not 1 or 3
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val counts = TextStats.bpeTokenCounts(docs, "doc_id", "text", Seq("a a"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(counts.toSeq == Seq((1L, 2L)))
  }

  test("training stops early when the vocabulary runs dry") {
    // single 2-char word: exactly one mergeable pair exists
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val mt = TextStats.bpeTrain(docs, "text", merges = 8).collect()
    assert(mt.length == 1 && mt(0).getString(1) == "a b")
  }

  test("empty and single-char docs count correctly") {
    val docs = Seq((1L, ""), (2L, "a"), (3L, "ab ab")).toDF("doc_id", "text")
    val counts = TextStats.bpeTokenCounts(docs, "doc_id", "text", Seq("a b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }
}
