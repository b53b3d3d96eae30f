package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** Snapshot mode's two state plans: decomposable aggregate SQL keeps
  * partials per (window, group) in state, any other SQL the window's
  * rows, and both print the same bytes on the same batches.
  */
class IncrementalPlanSpec extends SparkSpec {

  private val pattern =
    """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<level__str>\w+) (?P<svc__str>\w+) (?P<ms__int>\d+)""" +
      """(?: code=(?P<code__int>\d+))?(?: lat=(?P<lat__float>[\d.]+))?"""

  private def at(sec: Int): String =
    f"2024-01-01 ${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d"

  private val levels = Seq("INFO", "WARN", "ERROR", "DEBUG")
  private val svcs = Seq("api", "db", "web")

  /** Line i of 480 over four minutes, two lines a second: a `code` on
    * every other line of the first minute only (so later windows sum an
    * all-NULL column), a float `lat` on every fifth, some malformed. */
  private def line(i: Int): String =
    if (i % 37 == 5) "not a log line"
    else s"${at(i / 2)} ${levels(i % 4)} ${svcs(i % 3)} ${i % 89}" +
      (if (i < 120 && i % 2 == 0) s" code=${200 + i % 7}" else "") +
      (if (i % 5 == 0) s" lat=0.${i % 10}1" else "")

  private def chunk(lines: Iterable[String]): String = lines.mkString("", "\n", "\n")

  /** Three appends: the first ends inside window [60,120), the second
    * closes it together with [120,180), a far line closes the rest. */
  private val steps = Seq(
    chunk((0 until 150).map(line)),
    chunk((150 until 480).map(line)),
    chunk(Seq(s"${at(1800)} INFO api 1")))

  private val tumbling = TailStream.Config(dir = "", pattern = pattern, follow = true,
    windowSizeSec = 60, tsField = Some("ts"), watermarkDelay = "0 seconds", format = "raw")
  private val sliding = tumbling.copy(slideSec = Some(30))
  private val throttled = tumbling.copy(throttleMax = Some(50), throttlePeriodSec = Some(60))

  private val BenchSql =
    "SELECT window_start, level, count(*) AS n, sum(ms) AS s FROM t0 GROUP BY 1, 2 ORDER BY 1, 2"

  private final case class Run(blocks: Seq[(String, String)], plan: String)

  /** Appends each step to a fresh followed file and drains it with one
    * AvailableNow start per step on one checkpoint; returns every sink
    * block with the micro-batch that printed it, and the last batch's
    * executed plan. `partials = false` holds rows whatever the SQL. */
  private def run(cfgs: Seq[TailStream.Config], steps: Seq[String], partials: Boolean = true,
                  joinKeys: Option[Seq[String]] = None): Run = {
    val files = cfgs.map(_ => Files.createTempFile("graft-partials", ".log"))
    val ckpt = Files.createTempDirectory("graft-partials-ckpt").toString
    val got = new ConcurrentLinkedQueue[(String, String)]()
    var plan = ""
    TailStream.partialsEnabled = partials
    try steps.foreach { s =>
      files.foreach(f => Files.write(f, s.getBytes(UTF_8), StandardOpenOption.APPEND))
      val q = TailStream.start(spark, cfgs.zip(files).map { case (c, f) => c.copy(dir = f.toString) },
        ckpt, b => got.add((spark.sparkContext.getLocalProperty("streaming.sql.batchId"), b)),
        Trigger.AvailableNow(), snapshot = true, joinKeys = joinKeys, shards = 4)
      q.awaitTermination(60000)
      plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
    } finally TailStream.partialsEnabled = true
    Run(got.asScala.toSeq, plan)
  }

  private def holdsPartials(plan: String): Boolean =
    plan.contains("StateStoreSave") && !plan.contains("collect_list") && !plan.contains("_shard")

  private def holdsRows(plan: String): Boolean =
    plan.contains("collect_list") && plan.contains("_shard")

  test("decomposable SQL holds partials per (window, group), no packed rows") {
    val corpus = Seq(
      Some(BenchSql),
      None, // TailStream.DefaultSql
      Some("""SELECT window_start, level, count(*) AS n FROM t0 GROUP BY 1, 2
              HAVING sum(ms) > 100 ORDER BY 1, 2"""),
      Some("SELECT level, count(*) AS n FROM t0 GROUP BY level ORDER BY sum(ms) DESC, level"),
      Some("SELECT count(*) AS n FROM t0"),
      Some("SELECT window_start, avg(ms) AS a FROM t0 GROUP BY 1 ORDER BY 1"),
      Some("SELECT window_start, min(svc) AS lo, max(svc) AS hi FROM t0 GROUP BY 1 ORDER BY 1"))
    corpus.foreach { sql =>
      val plan = run(Seq(tumbling.copy(sql = sql)), steps.take(1)).plan
      assert(holdsPartials(plan), s"$sql:\n$plan")
    }
  }

  test("every other SQL keeps row packing") {
    val corpus = Seq(
      "SELECT window_start, count(DISTINCT svc) AS n FROM t0 GROUP BY 1 ORDER BY 1",
      "SELECT window_start, sum(lat) AS s FROM t0 GROUP BY 1 ORDER BY 1",
      "SELECT window_start, percentile_approx(ms, 0.5) AS p FROM t0 GROUP BY 1 ORDER BY 1",
      "SELECT window_start, first(level) AS f FROM t0 GROUP BY 1 ORDER BY 1",
      "SELECT * FROM t0",
      "SELECT level, count(*) AS n, rank() OVER (ORDER BY count(*) DESC) AS r FROM t0 GROUP BY level")
    corpus.foreach { sql =>
      val plan = run(Seq(tumbling.copy(sql = Some(sql))), steps.take(1)).plan
      assert(holdsRows(plan), s"$sql:\n$plan")
    }
    val two = Seq(tumbling.copy(sql = Some("SELECT count(*) AS n FROM t0")), tumbling)
    assert(holdsRows(run(two, steps.take(1)).plan), "two-source _tname union")
    val join = Seq(tumbling.copy(sql = Some("SELECT window_start, count(*) AS n FROM t0 GROUP BY 1")), tumbling)
    assert(holdsRows(run(join, steps.take(1), joinKeys = Some(Seq("level"))).plan), "joinKeys join")
  }

  test("the plan is chosen from the analyzed SQL") {
    val t0 = StructType(Seq(StructField("level", StringType), StructField("ms", LongType),
      StructField("lat", org.apache.spark.sql.types.DoubleType),
      StructField("window_start", LongType), StructField("window_end", LongType)))
    def keys(sql: String): Option[Seq[String]] = WindowPartials.choose(spark, t0, sql).map(_.keys)
    assert(keys("select WINDOW_START, Level, COUNT(1) from T0 group by 2, 1") == Some(Seq("level")))
    assert(keys("SELECT max(lat), min(lat), avg(ms) FROM t0") == Some(Nil))
    assert(keys("SELECT level, sum(ms) * 2 + count(ms) AS x FROM t0 GROUP BY level") == Some(Seq("level")))
    Seq(
      "SELECT level, count(*) FROM t0 WHERE ms > 3 GROUP BY level", // WHERE under the aggregate
      "SELECT upper(level), count(*) FROM t0 GROUP BY upper(level)", // grouping expression
      "SELECT avg(lat) FROM t0", // float average
      "SELECT count(*) FILTER (WHERE ms > 3) FROM t0",
      "SELECT level, count(*) FROM t0 GROUP BY level HAVING count(*) > (SELECT count(*) FROM t0)",
      "SELECT level, rand(1) AS r, count(*) FROM t0 GROUP BY level",
      "SELECT DISTINCT level FROM t0",
      "SELECT count(*) FROM t0 CROSS JOIN t0 AS u",
      "SELECT count(*) FROM (SELECT * FROM t0)",
      "SELECT nope FROM t0", // fails to analyze: the row plan's fire reports it
      "CREATE TABLE graft_never_created (x INT) USING parquet" // analyzed, never run
    ).foreach(sql => assert(keys(sql).isEmpty, sql))
    assert(!spark.catalog.tableExists("graft_never_created"))
  }

  test("parity: the partial plan prints the row plan's bytes on the same batches") {
    val decomposable = Seq(
      Some(BenchSql),
      None,
      Some("""SELECT window_start, count(code) AS nc, sum(code) AS sc, avg(code) AS ac,
              min(code) AS lo, max(code) AS hi FROM t0 GROUP BY 1 ORDER BY 1"""),
      Some("""SELECT window_start, level, count(*) AS n FROM t0 GROUP BY 1, 2
              HAVING sum(ms) > 600 ORDER BY 1, 2"""),
      Some("SELECT level, count(*) AS n FROM t0 GROUP BY level ORDER BY sum(ms) DESC, level LIMIT 2"),
      Some("SELECT count(*) AS n, max(svc) AS s FROM t0"),
      Some("""SELECT window_end, svc, avg(ms) AS a, min(level) AS lo, max(level) AS hi
              FROM t0 GROUP BY window_end, svc ORDER BY 1, 2"""),
      Some("""SELECT window_start, level, sum(ms) * 2 + count(*) AS x, lower(level) AS l
              FROM t0 GROUP BY 1, 2 ORDER BY 1, 2"""))
    val other = Seq(
      "SELECT window_start, count(DISTINCT svc) AS n FROM t0 GROUP BY 1 ORDER BY 1",
      "SELECT window_start, level, ms FROM t0 WHERE ms > 80 ORDER BY 1, 2, 3")
    def same(cfg: TailStream.Config, partial: Boolean): Unit = {
      val inc = run(Seq(cfg), steps)
      val rows = run(Seq(cfg), steps, partials = false)
      assert(holdsRows(rows.plan) && holdsPartials(inc.plan) == partial, s"${cfg.sql}:\n${inc.plan}")
      assert(rows.blocks.size >= 3, s"${cfg.sql}: ${rows.blocks}")
      assert(inc.blocks == rows.blocks, s"${cfg.sql}")
    }
    decomposable.foreach(sql => same(tumbling.copy(sql = sql), partial = true))
    other.foreach(sql => same(tumbling.copy(sql = Some(sql)), partial = false))
    decomposable.take(3).foreach(sql => same(sliding.copy(sql = sql), partial = true))
    // a throttle's flatMapGroupsWithState before the window state trips
    // Spark's global-watermark check under either plan; with that check
    // off, the plans still print the same bytes
    val check = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    decomposable.take(2).foreach { sql =>
      val cfg = throttled.copy(sql = sql)
      for (p <- Seq(true, false)) {
        val e = intercept[AnalysisException](run(Seq(cfg), steps.take(1), partials = p))
        assert(e.getMessage.contains("global watermark"), e.getMessage)
      }
      spark.conf.set(check, "false")
      try same(cfg, partial = true) finally spark.conf.unset(check)
    }
  }

  test("a partial-plan query restarted between batches prints what one run prints") {
    val cfg = tumbling.copy(sql = Some(BenchSql))
    val restarted = run(Seq(cfg), steps)
    val once = run(Seq(cfg), Seq(steps.mkString))
    assert(holdsPartials(restarted.plan) && holdsPartials(once.plan))
    assert(restarted.blocks.size == 4, restarted.blocks)
    assert(restarted.blocks.map(_._2) == once.blocks.map(_._2))
  }

  test("a snapshot checkpoint restarts only under SQL of the same state plan") {
    def start(f: Path, ckpt: Path, sql: String, calls: ConcurrentLinkedQueue[String]): Unit =
      TailStream.start(spark, Seq(tumbling.copy(dir = f.toString, sql = Some(sql))), ckpt.toString,
        b => calls.add(b), Trigger.AvailableNow(), snapshot = true, shards = 4).awaitTermination(60000)
    def append(f: Path, i: Int): Unit = Files.write(f, chunk(Seq(line(i), s"${at(600 * i)} INFO api 1"))
      .getBytes(UTF_8), StandardOpenOption.APPEND)
    val bySvc = BenchSql.replace("level", "svc")
    val distinct = "SELECT window_start, count(DISTINCT svc) AS n FROM t0 GROUP BY 1 ORDER BY 1"
    for ((first, others) <- Seq(
      BenchSql -> Seq(distinct, bySvc, BenchSql.replace("sum(ms)", "max(ms)")),
      distinct -> Seq(BenchSql))) {
      val f = Files.createTempFile("graft-pin", ".log")
      val ckpt = Files.createTempDirectory("graft-pin-ckpt")
      val calls = new ConcurrentLinkedQueue[String]()
      append(f, 1)
      start(f, ckpt, first, calls)
      assert(calls.size == 1, calls)
      append(f, 2) // the next batch closes a window
      others.foreach { sql =>
        val e = intercept[IllegalArgumentException](start(f, ckpt, sql, calls))
        assert(e.getMessage.contains("holds window state as"), e.getMessage)
        assert(calls.size == 1, s"$sql printed: $calls")
      }
      // what runs above the aggregate may change
      start(f, ckpt, if (first == BenchSql) BenchSql.replace("ORDER BY 1, 2", "ORDER BY 1, 2 DESC")
        else first, calls)
      assert(calls.size == 2, calls)
    }
  }
}
