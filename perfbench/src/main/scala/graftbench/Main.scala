package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What a workload measured. `latenciesMs` holds one sample per result
  * (a window or a key call) inside the measured interval `measured`. */
final case class Outcome(attempted: Int, failed: Int, latenciesMs: Seq[Double],
                         rowsPerSec: Double, measured: (Double, Double), live: (Double, Double),
                         triggerIntervalMs: Double, layers: Map[String, Double],
                         sinkBytes: Long = 0L)

final class Ctx(var spark: SparkSession, val seed: Long, val seconds: Int, val work: File,
                val trace: Option[Trace], val heap: HeapPeak) {
  var workloadSpan = 0L
  def nowMs: Double = System.nanoTime() / 1e6
  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")
  /** Time `body`; under tracing also record it as a span of the workload. */
  def phase[T](name: String, cause: String = "")(body: => T): (T, Double) =
    trace match {
      case Some(t) => t.span(name, workloadSpan, cause)(body)
      case None =>
        val t0 = nowMs
        val r = body
        (r, nowMs - t0)
    }
}

/** Benchmark harness. Usage:
  * {{{
  * graftbench.Main --workload tail|board --seed N
  *   --seconds S --trace 0|1 --work DIR [--goldens FILE] [--record-goldens 1]
  * }}}
  * Prints one line `GRAFTBENCH <json>` with the end-to-end metrics and,
  * when traced, the per-layer metrics; spans go to DIR/../trace/. */
object Main {
  val SetupRepeats = 5

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a.get("trace").contains("1")
    val work = new File(a("work"))
    work.mkdirs()
    val heap = new HeapPeak
    val trace = if (traced) Some(new Trace(s"$workload-seed$seed-${System.currentTimeMillis()}")) else None
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val runT0 = System.nanoTime() / 1e6

    // cold start: JVM start to a session that has run one job; the set-up
    // a tailsql user waits for, reported per layer only (one per JVM)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def firstJob(s: SparkSession): Unit = { s.range(0, 1000, 1, cores).selectExpr("sum(id)").collect(); () }
    val c0 = System.nanoTime()
    var spark = GraftSession.get()
    val c1 = System.nanoTime()
    firstJob(spark)
    val c2 = System.nanoTime()
    val coldStartMs = (System.currentTimeMillis() - jvmStart).toDouble
    // setup_s: the median of warm rebuilds, each stopping the session and
    // building it again (GraftSession.get() plus one trivial job)
    val setups = (1 to SetupRepeats).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.get()
      firstJob(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val setupEnd = System.nanoTime() / 1e6
    System.err.println(s"[graftbench] set-ups (s): ${setups.map(x => f"$x%.3f").mkString(" ")}")
    trace.foreach { t =>
      t.attach(spark)
      val setupSpan = t.add("setup", runT0, setupEnd, 0L)
      t.add("session", c0 / 1e6, c2 / 1e6, setupSpan)
    }

    val ctx = new Ctx(spark, seed, seconds, work, trace, heap)
    val wStart = ctx.nowMs
    ctx.workloadSpan = trace.fold(0L)(_ => -1L)
    val out: Outcome =
      try workload match {
        case "tail" => Tail.run(ctx)
        case "board" =>
          Board.run(ctx, new File(a.getOrElse("goldens", "perfbench/board_goldens.txt")),
            record = a.get("record-goldens").contains("1"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch {
        case e: Throwable =>
          ctx.log(s"workload $workload failed: $e")
          e.printStackTrace()
          Outcome(1, 1, Nil, 0.0, (wStart, ctx.nowMs), (0.0, 0.0), 0.0, Map.empty)
      }
    val wEnd = ctx.nowMs

    val metrics = collection.mutable.LinkedHashMap.empty[String, Double]
    val lat = out.latenciesMs
    metrics("setup_s") = Stats.median(setups)
    metrics("latency_p50_ms") = if (lat.isEmpty) 0.0 else Stats.percentile(lat, 50)
    metrics("latency_p90_ms") = if (lat.isEmpty) 0.0 else Stats.percentile(lat, 90)
    metrics("rows_per_s") = out.rowsPerSec
    metrics("heap_peak_mb") = heap.peakMb

    trace.foreach { t =>
      t.detach(ctx.spark)
      val runSpan = t.add("run", runT0, wEnd, 0L)
      val wl = t.add("workload", wStart, wEnd, runSpan)
      // re-parent workload children recorded with the placeholder id,
      // and the setup span under the run
      val fixed = t.spans.asScala.toSeq.map { s =>
        if (s.parent == -1L) s.copy(parent = wl)
        else if (s.name == "setup") s.copy(parent = runSpan)
        else s
      }
      t.spans.clear(); fixed.foreach(t.spans.add)
      Layers.linkEngineSpans(t, wl)
      val (m0, m1) = out.measured
      metrics ++= Layers.engine(t, m0, m1, out.live, cores, out.triggerIntervalMs)
      metrics("session.cold_start_ms") = coldStartMs
      metrics("session.create_ms") = (c1 - c0) / 1e6
      metrics("session.first_job_ms") = (c2 - c1) / 1e6
      val (l0, l1) = out.live
      val sinkSpans = t.spans.asScala.filter(s => s.name == "sink" && s.startMs >= l0 && s.startMs <= l1)
      metrics("sink.calls") = t.spans.asScala.count(s => s.name == "sink" && s.startMs >= m0 && s.startMs <= m1).toDouble
      metrics("sink.bytes") = out.sinkBytes.toDouble
      metrics("window.fires") = sinkSpans.size.toDouble
      metrics("window.fires_per_trigger") =
        if (metrics("trigger.count") > 0) sinkSpans.size / metrics("trigger.count") else 0.0
      metrics ++= out.layers
      Trace.selfTimes(t.spans.asScala.toSeq).foreach { case (n, ms) => metrics(s"self_ms.$n") = ms }
      val dir = new File(work.getParentFile, "trace")
      dir.mkdirs()
      Files.write(new File(dir, s"$workload-seed$seed.json").toPath,
        Trace.toJson(t.runId, t.spans.asScala.toSeq).getBytes(UTF_8))
    }
    if (trace.isEmpty) metrics ++= out.layers.filter(_._1 == "gen.late_ms")
    ctx.spark.stop()

    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    val json = s"""{"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":{${metrics.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString(",")}}}"""
    println(s"GRAFTBENCH $json")
    System.out.flush()
    // Spark's non-daemon threads may outlive stop(); the result is out
    sys.exit(0)
  }
}
