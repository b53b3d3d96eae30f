package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A span: one call into a layer, or one Spark job/stage/trigger phase.
  * `cause` links engine spans (jobs) to the harness span that caused
  * them: a job group the harness set, or a streaming batch id. */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
                      parent: Long, cause: String = "")

/** In-memory span recorder plus the Spark listeners the traced run
  * registers. Everything is kept in memory and written out at the end. */
final class Trace(val runId: String) {
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nowMs: Double = System.nanoTime() / 1e6
  private val epochOffsetMs = System.currentTimeMillis() - nowMs
  def fromEpochMs(ms: Long): Double = ms - epochOffsetMs

  def add(name: String, start: Double, end: Double, parent: Long, cause: String = ""): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, start, end, parent, cause))
    id
  }

  /** Time `body` as a span; `cause` tags the Spark jobs it starts. */
  def span[T](name: String, parent: Long, cause: String = "")(body: => T): (T, Double) = {
    val t0 = nowMs
    val r = body
    val t1 = nowMs
    add(name, t0, t1, parent, cause)
    (r, t1 - t0)
  }

  import Trace._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val progress = new ConcurrentLinkedQueue[(Double, StreamingQueryProgress, Long)]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  /** File length probe, sampled when each progress event arrives. */
  @volatile var sourceLength: () => Long = () => 0L

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val r = JobRec(e.jobId, fromEpochMs(e.time), Double.NaN,
        p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).getOrElse(""),
        e.stageIds)
      openJobs.put(e.jobId, r)
      jobs.add(r)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach(_.endMs = fromEpochMs(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = Option(s.taskMetrics)
      stages.add(StageRec(s.stageId, s.attemptNumber(),
        fromEpochMs(s.submissionTime.getOrElse(0L)), fromEpochMs(s.completionTime.getOrElse(0L)),
        s.numTasks, s.rddInfos.exists(_.name == "DataSourceRDD"),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        val sched = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime)
        tasks.add(TaskRec(fromEpochMs(i.finishTime), e.reason == Success,
          m.executorRunTime, m.executorCpuTime / 1e6, m.executorDeserializeTime, m.jvmGCTime,
          sched, m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
      } else tasks.add(TaskRec(fromEpochMs(i.finishTime), e.reason == Success,
        0L, 0.0, 0L, 0L, 0L, 0L, 0L))
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((nowMs, e.progress, sourceLength()))
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    Trace.drainBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }
}

object Trace {
  // ---- engine events ------------------------------------------------------
  final case class JobRec(id: Int, startMs: Double, var endMs: Double, group: String,
                          batchId: String, stageIds: Seq[Int])
  final case class StageRec(id: Int, attempt: Int, startMs: Double, endMs: Double,
                            numTasks: Int, readsSource: Boolean,
                            shuffleWrite: Long, shuffleRead: Long)
  final case class TaskRec(endMs: Double, ok: Boolean, runMs: Long, cpuMs: Double,
                           deserMs: Long, gcMs: Long, schedDelayMs: Long, spill: Long,
                           peakMem: Long)

  /** Wait until listener events posted so far are delivered. The bus is
    * private to Spark, so it is reached reflectively. */
  def drainBus(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    } catch { case _: Throwable => Thread.sleep(500) }

  /** Progress phases in the order MicroBatchExecution runs them. */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Self time of every span: its duration minus the union of its
    * children's intervals (clipped to it). Summed per span name. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val ivs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        (s.endMs - s.startMs) - unionLength(ivs)
      }.sum
    }
  }

  /** Length of the union of sorted intervals. */
  def unionLength(sorted: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def toJson(runId: String, all: Seq[Span]): String =
    all.sortBy(_.startMs).map { s =>
      f"""{"run":"$runId","id":${s.id},"name":"${s.name}","start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f,"parent":${s.parent},"cause":"${s.cause}"}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

/** Per-layer numbers derived from a trace over a measured interval. */
object Layers {
  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)

  /** Turn trigger progress events into `trigger` spans with their phases
    * as children, and hang each Spark job under its cause: the span that
    * set its job group, or the trigger/phase/sink of its streaming batch. */
  def linkEngineSpans(t: Trace, workloadSpan: Long): Unit = {
    val byBatch = mutable.Map.empty[String, mutable.Buffer[Span]]
    t.progress.asScala.foreach { case (_, p, _) =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val total = d.getOrElse("triggerExecution", 0.0)
      val start = t.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val tid = t.add("trigger", start, start + total, workloadSpan, s"batch:${p.batchId}")
      val buf = byBatch.getOrElseUpdate(p.batchId.toString, mutable.Buffer.empty)
      buf += Span(tid, "trigger", start, start + total, workloadSpan)
      var at = start
      Trace.Phases.foreach { ph =>
        d.get(ph).filter(_ > 0).foreach { ms =>
          val pid = t.add(ph, at, at + ms, tid)
          buf += Span(pid, ph, at, at + ms, tid)
          at += ms
        }
      }
    }
    // sink spans recorded during the run carry their batch as cause
    t.spans.asScala.filter(s => s.name == "sink" && s.cause.startsWith("batch:")).foreach { s =>
      byBatch.getOrElseUpdate(s.cause.stripPrefix("batch:"), mutable.Buffer.empty) += s
    }
    val byGroup = t.spans.asScala.filter(_.cause.nonEmpty).map(s => s.cause -> s).toMap
    val jobSpan = mutable.Map.empty[Int, Long]
    t.jobs.asScala.foreach { j =>
      val end = if (j.endMs.isNaN) j.startMs else j.endMs
      val candidates: Seq[Span] =
        if (j.batchId.nonEmpty) byBatch.getOrElse(j.batchId, Nil).toSeq
        else byGroup.get(j.group).toSeq
      val inside = candidates.filter(c => c.startMs <= j.startMs && j.startMs <= c.endMs)
      // deepest containing span = the shortest one
      val parent = inside.sortBy(c => c.endMs - c.startMs).headOption
        .orElse(candidates.headOption).map(_.id).getOrElse(workloadSpan)
      jobSpan(j.id) = t.add("job", j.startMs, end, parent)
    }
    val stageToJob = t.jobs.asScala.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    t.stages.asScala.foreach { s =>
      val parent = stageToJob.get(s.id).flatMap(jobSpan.get).getOrElse(workloadSpan)
      t.add("stage", s.startMs, s.endMs, parent)
    }
  }

  /** Spark engine and streaming metrics for events inside [m0, m1]. */
  def engine(t: Trace, m0: Double, m1: Double, live: (Double, Double), cores: Int,
             triggerIntervalMs: Double): Map[String, Double] = {
    val in = (x: Double) => x >= m0 && x <= m1
    val jobs = t.jobs.asScala.filter(j => in(j.startMs)).toSeq
    val stages = t.stages.asScala.filter(s => in(s.startMs)).toSeq
    val tasks = t.tasks.asScala.filter(x => in(x.endMs)).toSeq
    val wall = m1 - m0
    val stageUnion = Trace.unionLength(stages
      .map(s => (math.max(s.startMs, m0), math.min(s.endMs, m1)))
      .filter { case (a, b) => b > a }.sortBy(_._1))
    val run = tasks.map(_.runMs.toDouble).sum
    val prog = t.progress.asScala.filter { case (at, _, _) => in(at) }.toSeq
    // trigger cadence is a property of the live tail, not of backlog drains
    val liveProg = prog.filter { case (at, _, _) => at >= live._1 && at <= live._2 }
    val trig = liveProg.map(_._2.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0))
    def phaseMean(ps: Seq[(Double, StreamingQueryProgress, Long)], ph: String) =
      if (ps.isEmpty) 0.0
      else ps.map(_._2.durationMs.asScala.get(ph).map(_.doubleValue).getOrElse(0.0)).sum / ps.size
    val liveJobs = jobs.filter(j => j.batchId.nonEmpty && j.startMs >= live._1 && j.startMs <= live._2)
    val srcStages = stages.filter(_.readsSource)
    val withData = prog.filter(_._2.numInputRows > 0)
    val stateOps = prog.flatMap(_._2.stateOperators.toSeq)
    val lag = prog.map { case (_, p, len) =>
      p.sources.headOption.flatMap(s => Option(s.endOffset))
        .map(o => len - graft.sources.FollowFile.parseOffset(o).pos).getOrElse(0L).toDouble
    }
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.driver_gap_ms" -> (wall - stageUnion),
      "spark.sched_delay_ms" -> tasks.map(_.schedDelayMs.toDouble).sum,
      "spark.exec_run_ms" -> run,
      "spark.exec_cpu_ms" -> tasks.map(_.cpuMs).sum,
      "spark.deser_ms" -> tasks.map(_.deserMs.toDouble).sum,
      "spark.gc_ms" -> tasks.map(_.gcMs.toDouble).sum,
      "spark.busy_share" -> (if (wall > 0) run / (wall * cores) else 0.0),
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite.toDouble).sum,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead.toDouble).sum,
      "spark.spill_bytes" -> tasks.map(_.spill.toDouble).sum,
      "spark.peak_task_mem_bytes" -> (0.0 +: tasks.map(_.peakMem.toDouble)).max,
      "spark.task_failures" -> tasks.count(!_.ok).toDouble,
      "spark.stage_retries" -> stages.count(_.attempt > 0).toDouble,
      "sources.input_rows" -> prog.map(_._2.numInputRows.toDouble).sum,
      "sources.batches" -> withData.size.toDouble,
      "sources.tasks_per_batch" ->
        (if (srcStages.isEmpty) 0.0 else srcStages.map(_.numTasks.toDouble).sum / srcStages.size),
      "sources.lag_bytes_max" -> (0.0 +: lag).max,
      "sources.latest_offset_ms" -> phaseMean(prog, "latestOffset"),
      "sources.get_batch_ms" -> phaseMean(prog, "getBatch"),
      "trigger.count" -> liveProg.size.toDouble,
      "trigger.ms.p50" -> pct(trig, 50),
      "trigger.ms.p90" -> pct(trig, 90),
      "trigger.add_batch_ms" -> phaseMean(liveProg, "addBatch"),
      "trigger.query_planning_ms" -> phaseMean(liveProg, "queryPlanning"),
      "trigger.wal_commit_ms" -> phaseMean(liveProg, "walCommit"),
      "trigger.commit_offsets_ms" -> phaseMean(liveProg, "commitOffsets"),
      "trigger.overrun_share" ->
        (if (trig.isEmpty || triggerIntervalMs <= 0) 0.0
         else trig.count(_ > triggerIntervalMs).toDouble / trig.size),
      "trigger.jobs" -> (if (liveProg.isEmpty) 0.0 else liveJobs.size.toDouble / liveProg.size),
      "state.rows_total" -> (0.0 +: stateOps.map(_.numRowsTotal.toDouble)).max,
      "state.memory_bytes" -> (0.0 +: stateOps.map(_.memoryUsedBytes.toDouble)).max,
      "state.commit_ms" -> stateOps.map(_.commitTimeMs.toDouble).sum,
      "state.rows_dropped_by_watermark" -> stateOps.map(_.numRowsDroppedByWatermark.toDouble).sum)
  }
}
