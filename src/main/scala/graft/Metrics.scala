package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SQLExecution

/** Job-scoped resource meter: total shuffle bytes written, how many
  * stages actually shuffled, and the largest single-task execution-
  * memory peak (the number that decides whether a task spills on a
  * real executor — per-task, because a cluster schedules tasks, not
  * stages, onto fixed-size executor slots). It also counts jobs,
  * completed stages and finished tasks, sums executor run, CPU and GC
  * time over the completed stages, and keeps each completed stage's
  * wall time — the per-query cost record [[Probe]] prints. `sqlJobs`
  * counts only the jobs started inside a SQL execution (a Dataset
  * action, seal or write), not Spark's own metadata jobs such as the
  * one that reads a parquet footer for the schema.
  *
  * Usage: `val m = Metrics.start(sc); ...run...; val r = m.stop()`;
  * `m.peek()` reads the totals so far and keeps metering.
  * The shuffle totals count EXECUTED stages only — a reused exchange
  * (skipped stage) adds nothing, so a pipeline that shares a shuffle
  * across consumers measures cheaper than one that repeats it, which
  * is exactly the property worth gating.
  */
object Metrics {
  /** One completed stage: wall time is submission to completion. */
  final case class StageCost(id: Int, name: String, tasks: Int, ms: Long)

  final case class Snapshot(shuffleWriteBytes: Long, shuffleReadBytes: Long,
                            shuffleStages: Int, maxTaskPeakExecMem: Long,
                            jobs: Int, sqlJobs: Int, tasks: Int,
                            executorRunMs: Long, executorCpuMs: Long, gcMs: Long,
                            stageCosts: Seq[StageCost])

  final class Meter private[Metrics] (sc: SparkContext) {
    private val wBytes = new AtomicLong(0L)
    private val rBytes = new AtomicLong(0L)
    private val shuffleStages = new AtomicInteger(0)
    private val peak = new AtomicLong(0L)
    private val jobs = new AtomicInteger(0)
    private val sqlJobs = new AtomicInteger(0)
    private val tasks = new AtomicInteger(0)
    private val runMs = new AtomicLong(0L)
    private val cpuNs = new AtomicLong(0L)
    private val gcMs = new AtomicLong(0L)
    private val stages = new ConcurrentLinkedQueue[StageCost]()
    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(e.properties).exists(_.getProperty(SQLExecution.EXECUTION_ID_KEY) != null))
          sqlJobs.incrementAndGet()
        ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val ms = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(0L)
        stages.add(StageCost(i.stageId, i.name, i.numTasks, ms))
        val m = i.taskMetrics
        if (m != null) {
          val w = m.shuffleWriteMetrics.bytesWritten
          val r = m.shuffleReadMetrics.totalBytesRead
          wBytes.addAndGet(w)
          rBytes.addAndGet(r)
          if (w > 0) { shuffleStages.incrementAndGet(); () }
          runMs.addAndGet(m.executorRunTime)
          cpuNs.addAndGet(m.executorCpuTime)
          gcMs.addAndGet(m.jvmGCTime)
        }
        ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        ()
      }
    }
    sc.addSparkListener(listener)

    private def drain(): Unit =
      // listener events post async; drain the bus before reading.
      // listenerBus is private[spark], so reach it reflectively (with
      // a settle-sleep fallback — this is a measurement utility, not
      // a correctness path)
      try {
        val m = sc.getClass.getMethod("listenerBus")
        val bus = m.invoke(sc)
        // some Spark versions expose only waitUntilEmpty(timeoutMillis)
        // — try both signatures before degrading to a fixed sleep that
        // can under-count stages on a loaded driver
        try { bus.getClass.getMethod("waitUntilEmpty").invoke(bus); () }
        catch { case _: NoSuchMethodException =>
          bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
            .invoke(bus, java.lang.Long.valueOf(60000L))
          ()
        }
      } catch { case _: Throwable => Thread.sleep(500) }

    /** Totals so far; the meter keeps listening. */
    def peek(): Snapshot = {
      drain()
      Snapshot(wBytes.get(), rBytes.get(), shuffleStages.get(), peak.get(),
        jobs.get(), sqlJobs.get(), tasks.get(), runMs.get(), cpuNs.get() / 1000000L,
        gcMs.get(), stages.asScala.toList)
    }

    def stop(): Snapshot = {
      val s = peek()
      sc.removeSparkListener(listener)
      s
    }
  }

  def start(sc: SparkContext): Meter = new Meter(sc)
}
