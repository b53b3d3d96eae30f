package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import Sessionize.{Event, Session}

class SessionizeSpec extends SparkSpec {

  test("streaming sessionization closes sessions on watermark + gap") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[(String, Long, Double)]
    val events = input.toDF().toDF("key", "tsSec", "value")
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", "0 seconds")
      .select("key", "ts", "value").as[Event]

    val q = Sessionize.sessions(events, gapSec = 30)
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two users; u1 has two events 10s apart, u2 one event
      input.addData(("u1", 100L, 1.0), ("u1", 110L, 2.0), ("u2", 100L, 5.0))
      q.processAllAvailable()
      // batch 2: much later event advances the watermark past both gaps,
      // closing u1 and u2's sessions; starts a new u1 session
      input.addData(("u1", 1000L, 9.0))
      q.processAllAvailable()

      val out = spark.table("sess").as[Session].collect().sortBy(s => (s.key, s.start))
      assert(out.length == 2, out.toSeq.toString)
      val Array(u1, u2) = out
      assert(u1.key == "u1" && u1.start == 100L && u1.end == 110L
        && u1.n == 2L && u1.sum == 3.0 && u1.durationSec == 10L)
      assert(u2.key == "u2" && u2.n == 1L && u2.sum == 5.0)
    } finally q.stop()
  }

  test("streaming dedup state runs on the RocksDB state store provider") {
    // At 100 TB the dedup/session state outgrows the default in-memory
    // HDFS-backed store; RocksDB spills to local disk with incremental
    // checkpointing. Same query semantics, different provider — this
    // pins that our stateful operators actually run on it.
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, String)]
      val df = input.toDF().toDF("tsSec", "text")
        .withColumn("ts", timestamp_seconds(col("tsSec")))
      val q = graft.operators.Dedup.streamingExact(df, "ts", "text", "1 minute")
        .writeStream.format("memory").queryName("rocks_dedup")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData((100L, "a"), (101L, "a"), (102L, "b"))
        q.processAllAvailable()
        assert(spark.table("rocks_dedup").select("text").as[String]
          .collect().sorted.toSeq == Seq("a", "b"))
      } finally q.stop()
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  test("update closes a session mid-batch when the gap is exceeded") {
    // Pure transition-function test: gap inside one batch of events.
    def ev(sec: Long, v: Double) = Event("k", new java.sql.Timestamp(sec * 1000L), v)
    val state = new TestGroupState[Sessionize.SessionState]
    val out = Sessionize.update(30L)("k", Iterator(
      ev(100L, 1.0), ev(105L, 1.0), ev(200L, 7.0)), state).toList
    assert(out.map(s => (s.start, s.end, s.n)) == List((100L, 105L, 2L)))
    assert(state.updated.exists(s => s.start == 200L && s.n == 1L))
  }
}

/** Minimal GroupState stub for transition-function tests. */
class TestGroupState[S] extends org.apache.spark.sql.streaming.GroupState[S] {
  var updated: Option[S] = None
  var watermarkMs: Long = 0L
  private var timeout: Long = -1L
  /** The last timeout set (-1 before any). */
  def timeoutMs: Long = timeout
  override def exists: Boolean = updated.isDefined
  override def get: S = updated.get
  override def getOption: Option[S] = updated
  override def update(s: S): Unit = updated = Some(s)
  override def remove(): Unit = updated = None
  override def hasTimedOut: Boolean = false
  override def setTimeoutDuration(d: Long): Unit = timeout = d
  override def setTimeoutDuration(d: String): Unit = ()
  override def setTimeoutTimestamp(t: Long): Unit = timeout = t
  override def setTimeoutTimestamp(t: Long, add: String): Unit = ()
  override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
  override def setTimeoutTimestamp(t: java.sql.Date, add: String): Unit = ()
  override def getCurrentWatermarkMs(): Long = watermarkMs
  override def getCurrentProcessingTimeMs(): Long = 0L
}

class StreamingNearDupSpec extends graft.SparkSpec {

  test("near-dup candidates stream out via band-bucket state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // long doc with one edited word -> hashed-shingle jaccard ~0.9,
    // so the pair shares an LSH band with near-certainty (and the
    // outcome is deterministic: no RNG in the hash family)
    val base = (1 to 40).map(i => s"word$i").mkString(" ") + " the quick brown fox dog"
    val input = MemoryStream[(Long, Long, String)]
    val df = input.toDF().toDF("id", "tsSec", "text")
      .withColumn("ts", timestamp_seconds(col("tsSec")))
    val q = graft.operators.Dedup.streamingNearDupCandidates(
        df, "id", "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, 100L, base))
      q.processAllAvailable()
      // near-dup of doc 1 (one word changed) + one unrelated doc
      input.addData((2L, 110L, base.replace("dog", "cat")),
        (3L, 120L, "completely different words with no overlap whatsoever here"))
      q.processAllAvailable()
      val pairs = spark.table("neardup").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)), pairs.toString)
    } finally q.stop()
  }

  test("pair orientation converges to the (min ts, id) owner under reversed batching") {
    // the same two near-dup docs arriving in opposite batch orders must
    // yield the SAME normalized pair: the late-but-earlier document
    // takes ownership and the owner-chain pair links it to the old owner
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = (1 to 40).map(i => s"word$i").mkString(" ") + " the quick brown fox dog"
    val docA = (1L, 100L, base)                        // earliest event time -> owner
    val docB = (2L, 110L, base.replace("dog", "cat"))
    def run(name: String, batches: Seq[Seq[(Long, Long, String)]]): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, Long, String)]
      val df = input.toDF().toDF("id", "tsSec", "text")
        .withColumn("ts", timestamp_seconds(col("tsSec")))
      val q = graft.operators.Dedup.streamingNearDupCandidates(
          df, "id", "text", "ts", "10 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(name).distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    }
    val fwd = run("neardup_fwd", Seq(Seq(docA), Seq(docB)))
    val rev = run("neardup_rev", Seq(Seq(docB), Seq(docA)))
    assert(fwd == Set((1L, 2L)), fwd.toString)
    assert(rev == Set((1L, 2L)), rev.toString)
  }
}
