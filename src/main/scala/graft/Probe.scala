package graft

import java.io.File
import java.nio.file.Files

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.operators.Caching

/** The per-query cost record: one profiler for every SparkEntry key.
  *
  * Usage: `runMain graft.Probe <outDir> <sfDir>[,<sfDir>...] <key>... [spark.k=v ...]`
  * (cores from SPARK_GRAFT_CPUS, like every GraftSession main).
  *
  * For each key it writes the PRE-SEAL formatted plan over the first
  * sfDir to `<outDir>/<key>.plan.txt` — built under [[Caching.withoutSeals]],
  * so a sealed query shows the lineage it computes, not the
  * `Scan ExistingRDD` stub its eager checkpoint leaves. Then, per
  * sfDir, it makes one warm call and three measured calls (build,
  * noop write, release); every warm call of the run comes before the
  * first measured call, so no key's record carries the JVM's warm-up.
  * Spark jobs are described `Probe warm <key> <sfDir>` and
  * `Probe measured <key> <sfDir> <i>`.
  * Each (key, sfDir) prints one JSON record, also written to
  * `<outDir>/<key>.<sfDir name>.json`:
  *   - `build_ms`, `eager_jobs`: construction; sealed operators run
  *     jobs before any action (`eager_jobs` counts SQL jobs, so the
  *     parquet schema reads every build makes are not among them)
  *   - `phase_ms`: the QueryPlanningTracker phases of the built query
  *   - `exec_ms` (the three noop writes) and `exec_ms_median`
  *   - `jobs`, `stages`, `tasks`, executor run / CPU / GC ms, shuffle
  *     bytes and the peak task execution memory of a whole call
  *     (build + write), from one [[Metrics.Meter]] per call
  *   - `top_stages`: the slowest stages of the median call
  * Counters are medians over the three calls. Trailing `k=v`
  * arguments are `spark.conf.set` overrides for the run (say
  * `spark.sql.shuffle.partitions=8` against a 32-core session); the
  * record lists them and the session gets its old values back.
  */
object Probe {
  private val Usage = "usage: Probe <outDir> <sfDir>[,<sfDir>...] <key>... [spark.k=v ...]"
  private val MeasuredCalls = 3
  private val TopStages = 10
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val (keys, confs) = args.drop(2).toSeq.span(!_.contains("="))
    require(keys.nonEmpty && confs.forall(_.contains("=")), Usage)
    val spark = GraftSession.get()
    try run(spark, args(0), args(1).split(",").toSeq, keys,
      confs.map { kv => val Array(k, v) = kv.split("=", 2); k -> v })
    finally spark.stop()
  }

  /** Profiles `keys` on `spark` without stopping it; returns the
    * records it printed and wrote. */
  def run(spark: SparkSession, outDir: String, sfDirs: Seq[String], keys: Seq[String],
          confs: Seq[(String, String)] = Nil): Seq[String] = {
    val dir = new File(outDir)
    dir.mkdirs()
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val queries = keys.map { key =>
        val query = SparkEntry.queries(key)
        val plan = Caching.withoutSeals(
          query(spark, sfDirs.head).queryExecution.explainString(FormattedMode))
        release(spark)
        Files.writeString(new File(dir, s"$key.plan.txt").toPath, plan)
        key -> query
      }
      // every warm call before any measured one: a fresh JVM's JIT and
      // codegen warm-up would otherwise land on the first key's calls
      for ((key, query) <- queries; sf <- sfDirs)
        call(spark, s"Probe warm $key $sf", query(spark, sf))
      queries.flatMap { case (key, query) =>
        sfDirs.map { sf =>
          val calls = (1 to MeasuredCalls).map(i =>
            call(spark, s"Probe measured $key $sf $i", query(spark, sf)))
          val rec = mapper.writeValueAsString(record(spark, key, sf, confs, calls))
          println(rec)
          Files.writeString(new File(dir, s"$key.${new File(sf).getName}.json").toPath, rec + "\n")
          rec
        }
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private final case class Call(buildMs: Long, eagerJobs: Long, phaseMs: Map[String, Long],
                                execMs: Long, m: Metrics.Snapshot)

  /** One call, its jobs described as `label`; `build` runs under the
    * meter, so a sealed query's eager jobs count. Releases everything
    * the call cached. */
  private def call(spark: SparkSession, label: String, build: => DataFrame): Call = {
    val meter = Metrics.start(spark.sparkContext)
    spark.sparkContext.setJobDescription(label)
    try {
      val t0 = System.nanoTime()
      val df = build
      val buildMs = (System.nanoTime() - t0) / 1000000L
      val eagerJobs = meter.peek().sqlJobs.toLong
      df.queryExecution.executedPlan
      val phaseMs = df.queryExecution.tracker.phases.map { case (p, s) => p -> s.durationMs }
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val execMs = (System.nanoTime() - t1) / 1000000L
      Call(buildMs, eagerJobs, phaseMs, execMs, meter.peek())
    } finally { spark.sparkContext.setJobDescription(null); meter.stop(); release(spark) }
  }

  /** Drops every cached frame and persisted RDD (sealed results
    * included), then settles the heap before the next call. */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(200)
  }

  private def record(spark: SparkSession, key: String, sf: String,
                     confs: Seq[(String, String)], calls: Seq[Call]): ListMap[String, Any] = {
    def med(f: Call => Long): Long = calls.map(f).sorted.apply(calls.size / 2)
    val mid = calls.sortBy(c => c.buildMs + c.execMs).apply(calls.size / 2)
    ListMap(
      "key" -> key, "sf_dir" -> sf,
      "master" -> spark.sparkContext.master,
      "cores" -> spark.sparkContext.defaultParallelism,
      "confs" -> ListMap(confs: _*),
      "build_ms" -> med(_.buildMs), "eager_jobs" -> med(_.eagerJobs),
      "phase_ms" -> ListMap(Seq("analysis", "optimization", "planning")
        .map(p => p -> med(_.phaseMs.getOrElse(p, 0L))): _*),
      "exec_ms" -> calls.map(_.execMs), "exec_ms_median" -> med(_.execMs),
      "jobs" -> med(_.m.jobs.toLong), "stages" -> med(_.m.stageCosts.size.toLong),
      "tasks" -> med(_.m.tasks.toLong),
      "executor_run_ms" -> med(_.m.executorRunMs), "executor_cpu_ms" -> med(_.m.executorCpuMs),
      "gc_ms" -> med(_.m.gcMs),
      "shuffle_read_bytes" -> med(_.m.shuffleReadBytes),
      "shuffle_write_bytes" -> med(_.m.shuffleWriteBytes),
      "peak_task_exec_mem_bytes" -> med(_.m.maxTaskPeakExecMem),
      "top_stages" -> mid.m.stageCosts.sortBy(-_.ms).take(TopStages).map(s =>
        ListMap("id" -> s.id, "name" -> s.name, "tasks" -> s.tasks, "ms" -> s.ms)))
  }
}
