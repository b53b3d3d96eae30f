package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.sources.LogSource
import graft.streaming.TailStream

/** The tailsql loop, driven through `TailStream.runSnapshot` exactly as
  * `TailApp --follow-file F --snapshot --ts-field ts --watermark
  * '0 seconds' --max-bytes-per-trigger 33554432 --format raw --filter
  * "level <> 'DEBUG'"` drives it. */
object Tail {
  /** One window holds the whole backlog, so each drain pays the fixed
    * cost of a query once (start, two triggers, one per-window SQL job:
    * about 3 s on a shared 4-core machine); the rest of a drain scales
    * with the lines read, parsed and held in state. */
  val BacklogLines = 480000
  val BacklogSpanSec = 240L
  val BacklogWindowSec = 240L
  val BacklogWarmupDrains = 1
  /** Measured drains: a fixed count, not a time, because each drain leaves
    * its state store loaded (about 24 MB here) until Spark's maintenance
    * task unloads it, so the heap peak would otherwise depend on how many
    * drains the machine fits in `--seconds`. `--seconds` sets the live
    * phase. */
  val BacklogMeasuredDrains = 2
  val LiveLinesPerSec = 2000
  val LiveWarmupSec = 4
  /** Two-second windows under a two-second trigger. On a shared 4-core
    * machine a trigger takes about 0.5 s plus 0.8 s per window it closes,
    * so one-second windows keep the loop near saturation: batches
    * overrun, and each overrun adds a whole interval to the windows it
    * delays. With one window per trigger the loop is busy about half the
    * time. Window and trigger are equal because triggers fire on
    * multiples of their interval; shorter windows would fall into classes
    * whose waits differ by whole seconds, and the median would jump
    * between them. */
  val LiveWindowSec = 2L
  val LiveTriggerMs = 2000L

  def config(file: File, windowSec: Long): TailStream.Config = TailStream.Config(
    dir = file.getAbsolutePath, pattern = LogGen.Pattern, filter = Some(LogGen.Filter),
    windowSizeSec = windowSec, tsField = Some("ts"), watermarkDelay = "0 seconds",
    sql = Some(LogGen.Sql), format = "raw", follow = true,
    followMaxBytes = Some(33554432L), doNotTail = true)

  /** window start parsed from a raw block's first data row */
  def windowOf(block: String): Option[Long] =
    block.split("\n", 4).lift(2).flatMap(_.split(", ", 2).headOption.flatMap(_.toLongOption))

  /** A sink that records each block with its arrival time; traced, also a span tagged with its batch. */
  final class Recorder(spark: SparkSession, ctx: Ctx) {
    val got = new ConcurrentLinkedQueue[(Double, Long, String)]()
    val sink: String => Unit = s => {
      val t0 = ctx.nowMs
      val epochUs = { val i = java.time.Instant.now(); i.getEpochSecond * 1000000L + i.getNano / 1000 }
      got.add((t0, epochUs, s))
      ctx.trace.foreach { tr =>
        val batch = Option(spark.sparkContext.getLocalProperty("streaming.sql.batchId")).getOrElse("")
        tr.add("sink", t0, tr.nowMs, ctx.workloadSpan, s"batch:$batch")
      }
    }
  }

  private def startSnapshot(spark: SparkSession, ctx: Ctx, file: File, windowSec: Long,
                            trigger: Trigger, rec: Recorder): StreamingQuery = {
    val ckpt = Files.createTempDirectory(ctx.work.toPath, "ckpt").toString
    TailStream.runSnapshot(spark, config(file, windowSec), ckpt, rec.sink, trigger)
  }

  /** Compare received blocks with the reference; returns (attempted, failed). */
  private def check(expected: Map[Long, String], got: Iterable[String], ctx: Ctx,
                    what: String): (Int, Int) = {
    val byWin = got.toSeq.groupBy(b => windowOf(b).getOrElse(Long.MinValue))
    var failed = 0
    expected.foreach { case (ws, blk) =>
      byWin.get(ws) match {
        case Some(Seq(b)) if b == blk => ()
        case other =>
          failed += 1
          if (failed <= 3) ctx.log(s"$what: window $ws ${other.fold("missing")(bs => s"differs (${bs.size} blocks)")}")
      }
    }
    val extra = byWin.keySet.diff(expected.keySet).size
    if (extra > 0) ctx.log(s"$what: $extra unexpected windows")
    (expected.size + extra, failed + extra)
  }

  final case class Drain(seconds: Double, attempted: Int, failed: Int, sinkBytes: Long)

  /** Drain the whole backlog once with an AvailableNow trigger (TailApp's --once). */
  private def drain(spark: SparkSession, ctx: Ctx, file: File, expected: Map[Long, String],
                    what: String): Drain = {
    val rec = new Recorder(spark, ctx)
    val t0 = ctx.nowMs
    val q = startSnapshot(spark, ctx, file, BacklogWindowSec, Trigger.AvailableNow(), rec)
    try q.awaitTermination()
    catch { case e: Throwable =>
      ctx.log(s"$what: query failed: $e")
      return Drain(0.0, expected.size, expected.size, 0L)
    }
    val t1 = ctx.nowMs
    val blocks = rec.got.asScala.map(_._3).toSeq
    val (att, fail) = check(expected, blocks, ctx, what)
    Drain((t1 - t0) / 1000.0, att, fail, blocks.map(_.getBytes(UTF_8).length.toLong).sum)
  }

  /** The workload: drain a seeded backlog repeatedly (throughput), then
    * tail a file an open-loop generator appends to (latency). */
  def run(ctx: Ctx): Outcome = {
    var spark = ctx.spark
    var attempted = 0
    var failed = 0
    def account(att: Int, fail: Int): Unit = { attempted += att; failed += fail }

    // ---- backlog: the whole file is there when the query starts
    val backlog = new File(ctx.work, "backlog.log")
    val expected = LogGen.writeBacklog(backlog, ctx.seed, BacklogLines, BacklogSpanSec, BacklogWindowSec)
    ctx.trace.foreach(_.sourceLength = () => backlog.length())
    // warm-up: the first drain in a JVM pays class loading, codegen and
    // most of the JIT compilation of the hot paths
    (1 to BacklogWarmupDrains).foreach { k =>
      val w = ctx.phase("warmup")(drain(spark, ctx, backlog, expected, s"warm-up drain $k"))._1
      account(w.attempted, w.failed)
    }
    val rates = Seq.newBuilder[Double]
    var sinkBytes = 0L
    val m0 = ctx.nowMs
    (0 until BacklogMeasuredDrains).foreach { i =>
      val d = ctx.phase("drain")(drain(spark, ctx, backlog, expected, s"drain $i"))._1
      account(d.attempted, d.failed)
      ctx.log(f"drain $i: ${d.seconds}%.2f s")
      if (d.seconds > 0) rates += BacklogLines / d.seconds
      sinkBytes += d.sinkBytes
    }
    ctx.heap.sample()

    // ---- live: windows over lines created while the query runs
    val file = new File(ctx.work, "live.log")
    Files.write(file.toPath, Array.emptyByteArray)
    val gen = new LogGen.Live(file, ctx.seed, LiveLinesPerSec, LiveWindowSec)
    val rec = new Recorder(spark, ctx)
    ctx.trace.foreach(_.sourceLength = () => file.length())
    gen.start()
    val q = startSnapshot(spark, ctx, file, LiveWindowSec, Trigger.ProcessingTime(LiveTriggerMs), rec)
    // warm-up: the first triggers of the live query
    ctx.phase("warmup")(Thread.sleep(LiveWarmupSec * 1000L))
    val l0 = ctx.nowMs
    ctx.phase("measure")(Thread.sleep(ctx.seconds * 1000L))
    val l1 = ctx.nowMs
    val err = q.exception
    q.stop()
    gen.running = false
    gen.join()
    ctx.heap.sample()
    val got = rec.got.asScala.toSeq
    val wins = got.flatMap { case (_, _, b) => windowOf(b) }
    // every window from the first to the last one received must arrive once
    val liveExpected =
      if (wins.isEmpty) Map.empty[Long, String]
      else (wins.min to wins.max by LiveWindowSec).map(ws => ws -> Option(gen.closed.get(ws)).map(_._1).getOrElse("")).toMap
    val (att, fail) = check(liveExpected, got.map(_._3), ctx, "live")
    account(math.max(att, 1), fail + (if (wins.isEmpty) 1 else 0))
    err.foreach { e => ctx.log(s"live: query failed: $e"); account(1, 1) }
    val measured = got.filter { case (at, _, _) => at >= l0 && at <= l1 }
    val lat = measured.flatMap { case (_, us, b) =>
      windowOf(b).flatMap(ws => Option(gen.closed.get(ws))).map { case (_, last) => (us - last) / 1000.0 }
    }
    sinkBytes += measured.map(_._3.getBytes(UTF_8).length.toLong).sum
    ctx.log(s"live window latencies (ms): ${lat.map(x => f"$x%.0f").mkString(" ")}")

    val layers = Map.newBuilder[String, Double]
    layers += "gen.late_ms" -> gen.lateMsMax
    val rs = rates.result()
    if (ctx.trace.isDefined) {
      layers ++= parseLayer(spark, backlog, BacklogLines)
      // single-threaded baseline of the same backlog drain
      spark.stop()
      spark = GraftSession.get("1")
      ctx.spark = spark
      ctx.trace.get.attach(spark)
      ctx.trace.get.sourceLength = () => backlog.length()
      val one = ctx.phase("drain")(drain(spark, ctx, backlog, expected, "local[1] drain"))._1
      account(one.attempted, one.failed)
      if (one.seconds > 0 && rs.nonEmpty)
        layers += "sources.parallel_speedup" -> Stats.median(rs) / (BacklogLines / one.seconds)
    }
    Outcome(attempted, failed, lat, if (rs.isEmpty) 0.0 else Stats.median(rs),
      (m0, l1), (l0, l1), LiveTriggerMs.toDouble, layers.result(), sinkBytes)
  }

  /** Parse layer alone: `LogSource.batch` with the workload's pattern
    * and filter over the file, written to the noop sink. */
  private def parseLayer(spark: SparkSession, file: File, lines: Long): Map[String, Double] = {
    val path = file.getAbsolutePath
    val t0 = System.nanoTime()
    LogSource.batch(spark, path, LogGen.Pattern, Some(LogGen.Filter))
      .write.format("noop").mode("overwrite").save()
    val busy = (System.nanoTime() - t0) / 1e6
    val matched = LogSource.parse(spark.read.text(path), LogGen.Pattern).count()
    val total = spark.read.text(path).count()
    Map("parse.busy_ms" -> busy, "parse.lines_per_s" -> lines / (busy / 1000.0),
      "parse.match_share" -> matched.toDouble / math.max(1L, total))
  }
}
