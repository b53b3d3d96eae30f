package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.operators.Windows

/** The [[Ripen]] contract across the twins: one ripeness rule (an
  * event exactly at the watermark is final), one wake time (an idle
  * key wakes exactly when its earliest pending event can ripen), one
  * `flatMapGroupsWithState` call site — plus the canary twin's first
  * hours, which have no before-window history yet.
  */
class RipenSpec extends SparkSpec {

  private def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
  private def tEv(sec: Long, id: Long) = Transitions.Ev("k", at(sec), id, s"t$id")
  private def sEv(sec: Long, s: String) = Scd2Stream.ScdEvent(1L, s, at(sec), sec)
  private def kEv(sec: Long) = SloMonitor.KeyEvent("k", at(sec))
  private val cusum = SloMonitor.cusumUpdate(1, 4, 5) _

  private def stateAt[S](s: Option[S], wmMs: Long): TestGroupState[S] = {
    val st = new TestGroupState[S]
    st.updated = s
    st.watermarkMs = wmMs
    st
  }

  test("an event exactly at the watermark finalizes in every buffered twin") {
    val tr = stateAt[Transitions.TState](None, 200000L)
    val edges = Transitions.update("k", Iterator(tEv(100, 1), tEv(200, 2)), tr)
    assert(edges.map(_.dst_template).toList == List("t2"))
    assert(tr.get.buf.isEmpty, tr.get)

    val scd = stateAt[Scd2Stream.ScdState](None, 200000L)
    val rows = Scd2Stream.scdUpdate(1L, Iterator(sEv(100, "a"), sEv(200, "b")), scd)
    assert(rows.map(_.effective_to).toList == List(200000000L))
    assert(scd.get.pending.isEmpty, scd.get)

    // cusum's buckets are hours: hour 1 (3600..7199 s, one event at its
    // last second) is final once the watermark reaches its end boundary
    val cu = stateAt[SloMonitor.CusumState](None, 7200000L)
    val scored = cusum("k", Iterator(kEv(10), kEv(7199)), cu).toList
    assert(scored.map(_.hr_start) == List(3600L), scored)
    assert(cu.get.pending.isEmpty, cu.get)
  }

  /** Feed three events at 100, 150 and 200 s into an empty key at
    * watermark 0, then replay the key at the timeout it set (T) and at
    * the first watermark Spark fires it at (T + 1): at T the earliest
    * event is still pending, at T + 1 it is final — the key is woken
    * neither early nor late. */
  private def wakesAtEarliest[S](feed: (Seq[Long], TestGroupState[S]) => Unit,
                                 pending: S => Int): Unit = {
    val st = stateAt[S](None, 0L)
    feed(Seq(200L, 100L, 150L), st)
    assert(pending(st.get) == 3)
    val t = st.timeoutMs
    val early = stateAt(st.updated, t)
    feed(Nil, early)
    assert(pending(early.get) == 3, s"woken at $t: ${early.get}")
    val due = stateAt(st.updated, t + 1L)
    feed(Nil, due)
    assert(pending(due.get) == 2, s"woken at ${t + 1}: ${due.get}")
  }

  test("an idle key wakes when its earliest pending event can ripen") {
    wakesAtEarliest[Transitions.TState](
      (secs, st) => Transitions.update("k",
        secs.iterator.map(s => tEv(s, s)), st).toList,
      _.buf.size)
    wakesAtEarliest[Scd2Stream.ScdState](
      (secs, st) => Scd2Stream.scdUpdate(1L,
        secs.iterator.map(s => sEv(s, s"v$s")), st).toList,
      _.pending.size)
    wakesAtEarliest[CoverageStream.CovState](
      (secs, st) => CoverageStream.covUpdate(10L)("k",
        secs.iterator.map(kEv), st).toList,
      _.pending.size)
    // cusum buffers hours: events 100, 150 and 200 hours in
    wakesAtEarliest[SloMonitor.CusumState](
      (hrs, st) => cusum("k", hrs.iterator.map(h => kEv(h * 3600L)), st).toList,
      _.pending.size)
  }

  test("the canary twin survives a stream whose first anchors have no before-window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val (b, a) = (12, 4)
    val rows = (0L until 12L).flatMap { h =>
      (1 to (2 + (h % 3).toInt)).map(i => ("api", h * 3600L + i)) ++
        (1 to (1 + (h / 4).toInt)).map(i => ("db", h * 3600L + 100L + i))
    }
    val input = MemoryStream[(String, Long)]
    val events = input.toDF().toDF("key", "tsSec")
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", "0 seconds")
      .select("key", "ts").as[SloMonitor.KeyEvent]
    val q = SloMonitor.canaryFrames(events, beforeHours = b, afterHours = a)
      .writeStream.format("memory").queryName("canary_from_empty")
      .outputMode(OutputMode.Append()).start()
    try {
      (0L until 12L).foreach { h =>
        input.addData(rows.filter(_._2 / 3600L == h): _*)
        q.processAllAvailable()
      }
      val got = spark.table("canary_from_empty").as[SloMonitor.CanaryRow]
        .collect().toSeq
      // anchors 0..3 hold every event in the after-window: no frame;
      // the first frame is anchor 4 (hour 0 in its before-window), the
      // last the newest closed hour
      val anchors = got.map(_.as_of / 3600L).distinct.sorted
      assert(anchors == (4L to 10L), anchors)
      anchors.foreach { h =>
        val want = Windows.canaryCompare(
            rows.filter(_._2 < (h + 1) * 3600L).toDF("key", "epoch")
              .withColumn("ts", timestamp_seconds(col("epoch"))),
            "ts", "key", beforeHours = b, afterHours = a)
          .collect().map(r => SloMonitor.CanaryRow(h * 3600L, r.getString(0),
            r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
            Option(r.get(5)).map(_ => r.getDouble(5)), r.getDouble(6),
            r.getDouble(7), Option(r.get(8)).map(_ => r.getDouble(8))))
          .toSeq.sortBy(_.key)
        assert(got.filter(_.as_of == h * 3600L).sortBy(_.key) == want, s"anchor $h")
      }
    } finally q.stop()
  }

  test("flatMapGroupsWithState appears under streaming/ only in Ripen") {
    val dir = new File("src/main/scala/graft/streaming")
    val users = Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => new String(Files.readAllBytes(f.toPath), "UTF-8")
        .contains(".flatMapGroupsWithState"))
      .map(_.getName)
    assert(users == Seq("Ripen.scala"), users)
  }
}
