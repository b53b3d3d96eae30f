package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Windows
import graft.streaming.TailStream

/** Each line is parsed once in the executed plan: one `regex_groups`
  * and one `parse_any_date` per source, and no filter or window with an
  * inlined copy of either (nor any `RLIKE`/`regexp_replace` of the old
  * date cascade).
  */
class ParsePlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val pattern =
    """(?P<ts__date>\S+ \S+) (?P<level__str>\w+) (?P<svc__str>\w+) (?P<ms__int>\d+)"""
  private val filter = "level <> 'DEBUG' AND ms > 1"

  private def logFile(): String = {
    val f = Files.createTempFile("graft-parse-plan", ".log")
    Files.write(f, Seq(
      "2024-01-01 00:00:10.000001 INFO api 5", "2024-01-01 00:00:20.5 DEBUG db 9",
      "garbage", "2024-01-01 00:01:30 WARN api 7").mkString("", "\n", "\n").getBytes("UTF-8"))
    f.toString
  }

  /** Every operator of the executed plan (through adaptive query
    * stages), one line each with its expressions.
    */
  private def planText(plan: SparkPlan): String =
    collect(plan) { case p => p.simpleString(Int.MaxValue) }.mkString("\n")

  private def count(text: String, s: String): Int = text.sliding(s.length).count(_ == s)

  private def assertParsedOnce(plan: SparkPlan): Unit = {
    val text = planText(plan)
    assert(count(text, "regex_groups(") == 1, text)
    assert(count(text, "parse_any_date(") == 1, text)
    for (old <- Seq("RLIKE", "regexp_replace", "gettimestamp"))
      assert(!text.contains(old), s"$old in:\n$text")
  }

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  test("a filtered LogSource.batch parses each line once") {
    val df = LogSource.batch(spark, logFile(), pattern, Some(filter))
    assert(df.collect().map(_.getAs[String]("level")).toSeq == Seq("INFO", "WARN"))
    assertParsedOnce(executed(df))
  }

  test("a batch tumbling window over a parse reads the parsed ts (the r09 shape)") {
    val df = Windows.tumbling(LogSource.batch(spark, logFile(), pattern), "ts", 60L)
      .groupBy("window_start", "level").count()
    assert(df.count() == 3)
    assertParsedOnce(executed(df))
  }

  test("a started runSnapshot query parses each line once") {
    val cfg = TailStream.Config(dir = logFile(), pattern = pattern, filter = Some(filter),
      windowSizeSec = 60, tsField = Some("ts"), watermarkDelay = "0 seconds",
      format = "raw", follow = true)
    // the last execution must be the batch that read the lines, not a
    // trailing no-data batch (whose source prunes to an empty relation)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val q = TailStream.runSnapshot(spark, cfg,
        Files.createTempDirectory("graft-parse-plan-ckpt").toString, sink = _ => (),
        trigger = Trigger.AvailableNow(), shards = 4)
      assert(q.awaitTermination(60000))
      val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(planText(last.executedPlan).contains("MicroBatchScan"))
      assertParsedOnce(last.executedPlan)
    } finally spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
  }
}
