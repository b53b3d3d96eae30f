package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.operators.Dedup

/** Streaming sig-store dedup: the stateless stream-static band join
  * must reproduce the batch [[Dedup.sigStoreDedup]] pair for pair.
  */
class SigStoreStreamSpec extends SparkSpec {

  test("stream output equals batch sig-store dedup across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 500)
    // unigram shingles over leading/trailing whitespace and empty
    // texts: the split keeps the empty token, and both twins must
    val edge = Seq((1L, " alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
        (3L, "alpha beta gamma delta "), (4L, ""), (5L, ""))
      .toDF("doc_id", "text")
    // (stored docs, incoming docs, shingleN, minMatches)
    val inputs = Seq(
      (docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250), 3, 4),
      (edge.filter(col("doc_id").isin(1L, 2L, 4L)),
        edge.filter(col("doc_id").isin(1L, 3L, 5L)), 1, 1))
    inputs.zipWithIndex.foreach { case ((old, incomingDf, shingleN, minMatches), n) =>
      val store = Dedup.portableSignatureStore(old, "doc_id", "text", shingleN).persist()
      val incoming = incomingDf.select(col("doc_id"), col("text")).as[(Long, String)].collect()

      val batch = Dedup.sigStoreDedup(store, incomingDf, "doc_id", "text",
          shingleN, minMatches)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty, s"input $n: no cross-half near-dups — test is vacuous")

      val input = MemoryStream[(Long, String)]
      val q = Dedup.sigStoreDedupStream(store,
          input.toDF().toDF("doc_id", "text"), "doc_id", "text", shingleN, minMatches)
        .writeStream.format("memory").queryName(s"sigstream$n")
        .outputMode(OutputMode.Append()).start()
      try {
        val (a, b) = incoming.splitAt(incoming.length / 2)
        input.addData(a.toSeq); q.processAllAvailable()
        input.addData(b.toSeq); q.processAllAvailable()
        val streamed = s.table(s"sigstream$n")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(streamed == batch, s"input $n: " +
          s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
      } finally { q.stop(); store.unpersist(); () }
    }
  }

  test("a pair colliding in every band still emits exactly once") {
    val s = spark
    import s.implicits._
    val text = "the exact same document text appears on both sides here today"
    val store = Dedup.portableSignatureStore(
      Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text")
    // batch-mode invocation of the STREAM operator (same plan, no
    // micro-batch driver): an identical doc matches all 4 bands and
    // all 8 components — the first-band tie-break must emit one row
    val out = Dedup.sigStoreDedupStream(store,
        Seq((10L, text)).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
    assert(out.length == 1, s"expected 1 row, got ${out.toSeq}")
    assert(out(0).getLong(2) == 8L && out(0).getDouble(3) == 1.0)
  }
}
