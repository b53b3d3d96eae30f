package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Round-10 additions: no-split greedy packing, fractional epoch
  * repetition.
  */
class PackGreedySpec extends SparkSpec {
  import spark.implicits._

  /** Local reference: the sequential next-fit fold per shard. */
  private def reference(docs: Seq[(Long, Long)], seqLen: Long,
                        shardSize: Long): Map[Long, (Long, Long)] = {
    docs.filter(_._2 > 0).groupBy(_._1 / shardSize).flatMap {
      case (shard, ds) =>
        var pack = 0L; var fill = 0L
        ds.sortBy(_._1).map { case (id, n) =>
          if (fill > 0 && fill + n > seqLen) { pack += 1; fill = 0 }
          fill += n
          id -> (shard, pack)
        }
    }
  }

  test("packGreedy matches the sequential next-fit fold and never overfills") {
    val docs = (0L until 400L).map(i => (i, (i * 37 % 90) + 10))
    val out = Training.packGreedy(docs.toDF("doc_id", "n"), "doc_id", "n",
        seqLen = 256L, shardSize = 64L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == reference(docs, 256L, 64L))
    // no (shard, pack) bin exceeds seqLen (no doc here is oversized)
    val fills = docs.toMap
    out.groupBy(_._2).foreach { case (bin, members) =>
      val tot = members.keys.map(fills).sum
      assert(tot <= 256L, s"bin $bin holds $tot tokens")
    }
  }

  test("packGreedy: oversized docs sit alone in their own pack") {
    val docs = Seq((1L, 50L), (2L, 999L), (3L, 60L)).toDF("doc_id", "n")
    val out = Training.packGreedy(docs, "doc_id", "n", seqLen = 100L)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    // doc 2 overflows pack 0 -> opens pack 1 alone; doc 3 overflows
    // pack 1 -> pack 2
    assert(out.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 2L)))
  }

  test("packGreedy: negative ids are rejected, not sharded non-portably") {
    // Spark's integer div truncates toward zero; SQL floor-division
    // floors — a negative id would land in different shards on the
    // two engines, so the operator refuses loudly
    val docs = Seq((-1L, 5L), (2L, 6L)).toDF("doc_id", "n")
    val ex = intercept[Exception](
      Training.packGreedy(docs, "doc_id", "n", seqLen = 10L).collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("negative id")), ex.toString)
  }

  test("packGreedy: zero-token and null-id docs drop; layout is partition-independent") {
    val docs = Seq((Some(1L), 5L), (None, 7L), (Some(2L), 0L), (Some(3L), 6L))
      .toDF("doc_id", "n")
    val out = Training.packGreedy(docs, "doc_id", "n", seqLen = 10L)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 0L), (3L, 1L)))
    val big = (0L until 500L).map(i => (i, i % 13 + 1)).toDF("doc_id", "n")
    val a = Training.packGreedy(big, "doc_id", "n", 64L).orderBy("doc_id").collect()
    val b = Training.packGreedy(big.repartition(7), "doc_id", "n", 64L)
      .orderBy("doc_id").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }
}

class EpochRepeatSpec extends SparkSpec {
  import spark.implicits._

  test("epochRepeat: integer epoch counts copy every doc exactly") {
    val docs = (1L to 50L).toDF("doc_id")
    val out = Training.epochRepeat(docs, "doc_id", lit(3.0))
      .groupBy("doc_id").agg(count(lit(1)).as("n"), max("epoch").as("mx"))
      .collect()
    assert(out.length == 50)
    out.foreach(r => assert(r.getLong(1) == 3L && r.getLong(2) == 2L))
  }

  test("epochRepeat: the fractional extra copy is exactly the md5-prefix draw") {
    val docs = (1L to 2000L).toDF("doc_id")
    val got = Training.epochRepeat(docs, "doc_id", lit(1.45))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent replay of the draw: frac(1.45) in IEEE64
    val thr = f"${math.min(math.floor((1.45 - 1.0) * 1048576.0), 1048575.0).toLong}%05x"
    val md = java.security.MessageDigest.getInstance("MD5")
    (1L to 2000L).foreach { id =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 5)
      val want = if (hex < thr) 2L else 1L
      assert(got(id) == want, s"doc $id")
      md.reset()
    }
    // and the draw is unbiased-ish: ~45% extras
    val extras = got.values.count(_ == 2L)
    assert(extras > 2000 * 0.35 && extras < 2000 * 0.55, s"$extras extras")
  }

  test("epochRepeat: zero epochs drops the doc; epochs are 0-based and dense") {
    val docs = Seq(("a", 1L), ("b", 2L)).toDF("source", "doc_id")
    val out = Training.epochRepeat(docs, "doc_id",
        when(col("source") === "a", lit(0.0)).otherwise(lit(2.0)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.toSeq == Seq((2L, 0L), (2L, 1L)))
  }

  test("epochRepeat: a NULL epoch count fails loudly; null ids drop silently") {
    // silently dropping NULL-weight docs would corrupt the mixture —
    // the mixtureSample weight contract applies
    val docs = Seq(("a", 1L), ("b", 2L)).toDF("source", "doc_id")
    val ex = intercept[Exception](
      Training.epochRepeat(docs, "doc_id",
        when(col("source") === "a", lit(1.0))).collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("epochsExpr is NULL")), ex.toString)
    // null ids have no reproducible md5 draw -> dropped, not emitted
    val withNull = Seq((Some(1L), "x"), (None, "y")).toDF("doc_id", "tag")
    val out = Training.epochRepeat(withNull, "doc_id", lit(2.0))
      .collect().map(_.getLong(0))
    assert(out.toSeq.sorted == Seq(1L, 1L))
  }
}

class EwmaForecastSpec extends SparkSpec {
  import spark.implicits._

  private def eventsAt(counts: Seq[(Long, Int)], key: String = "click") = {
    val rows = counts.flatMap { case (hr, n) =>
      (1 to n).map(i => (key, hr * 3600L + i))
    }
    rows.toDF("event_type", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
  }

  test("forecast is the exact dyadic-weighted mean; a recent jump dominates; 3x spikes flag") {
    // hours 0..22 at 10, hour 23 at 100, scored hour 24 at 170
    val df = eventsAt((0L until 23L).map(_ -> 10) ++ Seq(23L -> 100, 24L -> 170))
    val out = Windows.ewmaForecast(df, "ts", "event_type")
      .orderBy("hr_start").collect()
    val scored = out.find(_.getLong(1) == 24L * 3600L).get
    // weights for hour h (distance d=24-h) are 2^(24-d) = 2^h
    val num = (0 until 23).map(h => 10L * (1L << h)).sum + 100L * (1L << 23)
    val den = (1L << 24) - 1
    val want = BigDecimal(num.toDouble / den.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(scored.getDouble(3) == want, s"got ${scored.getDouble(3)} want $want")
    // recency: the EWMA (~55) tracks the jump; the uniform mean is 13.75
    assert(scored.getDouble(3) > 50.0)
    assert(scored.getBoolean(4), "170 >= 3x forecast must flag a spike")
    assert(!scored.getBoolean(5))
  }

  test("missing trailing hours renormalize away; drops flag; thin history is unscored") {
    // only 12 present trailing hours (0..11) at a constant 10; the
    // scored hour 24 collapses to 2 events
    val df = eventsAt((0L until 12L).map(_ -> 10) ++ Seq(24L -> 2))
    val out = Windows.ewmaForecast(df, "ts", "event_type")
      .collect().map(r => r.getLong(1) / 3600L -> r).toMap
    // gap hours don't drag the forecast toward zero: exactly 10.0
    assert(out(24L).getDouble(3) == 10.0)
    assert(out(24L).getBoolean(5), "2 <= forecast/3 must flag a drop")
    assert(!out(24L).getBoolean(4))
    // hours 1..11 have < minHistory present trailing hours -> unscored
    assert(!out.keySet.exists(_ < 24L))
  }
}
