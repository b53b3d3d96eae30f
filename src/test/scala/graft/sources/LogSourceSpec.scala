package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

class LogSourceSpec extends SparkSpec {
  import spark.implicits._

  test("compilePattern extracts typed fields and strips names") {
    val lp = LogSource.compilePattern(
      """(?P<ts__date>\S+) (?P<code__int>\d+) (?P<ratio__float>[\d.]+) (?P<ok__bool>\w+) (?P<msg>.*)""")
    assert(lp.fields.map(f => (f.name, f.typeName, f.groupIndex)) == Seq(
      ("ts", "date", 1), ("code", "int", 2), ("ratio", "float", 3),
      ("ok", "bool", 4), ("msg", "str", 5)))
    assert(lp.javaRegex == """(\S+) (\d+) ([\d.]+) (\w+) (.*)""")
    assert(lp.schema == StructType(Seq(
      StructField("ts", TimestampType), StructField("code", LongType),
      StructField("ratio", DoubleType), StructField("ok", BooleanType),
      StructField("msg", StringType))))
  }

  test("compilePattern keeps anonymous groups' index space and char classes") {
    val lp = LogSource.compilePattern("""(\w+)=(?P<v__int>\d+) [()<>](?P<t__str>.)""")
    assert(lp.fields.map(f => (f.name, f.groupIndex)) == Seq(("v", 2), ("t", 3)))
  }

  test("parse types fields, drops non-matching lines") {
    val lines = Seq(
      "2024-01-01 00:00:05 200 0.5 true hello world",
      "garbage line",
      "2024-01-02 10:30:00 404 1.25 false bye").toDF("value")
    val out = LogSource.parse(lines,
      """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<code__int>\d+) (?P<ratio__float>[\d.]+) (?P<ok__bool>\w+) (?P<msg>.*)""")
    val rows = out.orderBy("ts").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("code") == 200L)
    assert(rows(0).getAs[Double]("ratio") == 0.5)
    assert(rows(0).getAs[Boolean]("ok"))
    assert(rows(0).getAs[String]("msg") == "hello world")
    assert(!rows(1).getAs[Boolean]("ok"))
  }

  test("parseAnyDate handles the lenient format matrix") {
    val inputs = Seq(
      "2024-03-05 06:07:08", "2024/03/05 06:07:08", "2024-03-05T06:07:08",
      "2024-03-05", "2024/03/05", "03/05/2024 06:07:08",
      "2024-03-05 06:07:08.123456", "1709618828",
      "05/Mar/2024:06:07:08 +0000", "not a date")
    val out = inputs.toDF("s")
      .select(unix_timestamp(LogSource.parseAnyDate(col("s"))).as("t"))
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    val full = 1709618828L      // 2024-03-05 06:07:08 UTC
    val dateOnly = 1709596800L  // 2024-03-05 00:00:00 UTC
    assert(out.toSeq == Seq(full, full, full, dateOnly, dateOnly, full, full, full, full, -1L))
  }

  test("parseAnyDate covers the wider dateparse.ParseAny surface") {
    val inputs = Seq(
      "1709618828123",                        // 13-digit epoch millis
      "2024-03-05T06:07:08.123456789Z",       // RFC3339 nanos + zone
      "2024-03-05T06:07:08.123456789",        // nanos, no zone
      "2024-03-05T06:07:08.123+02:00",        // millis fraction + zone
      "5 Mar 2024 06:07:08",                  // d MMM yyyy
      "05 Mar 2024 06:07:08 +0000",           // dd MMM yyyy with offset
      "Tue, 05 Mar 2024 06:07:08 +0000",      // RFC1123
      "Tue, 05 Mar 2024 08:07:08 +0200")      // RFC1123, non-UTC offset
    val out = inputs.toDF("s")
      .select(unix_timestamp(LogSource.parseAnyDate(col("s"))).as("t"))
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    val full = 1709618828L // 2024-03-05 06:07:08 UTC
    assert(out.toSeq == Seq(full, full, full, full - 2 * 3600, full, full, full, full),
      out.toSeq.toString)
  }

  test("parseAnyDate round-8 tranche: RFC822Z, yyyyMMdd, US month-name forms") {
    val inputs = Seq(
      "05 Mar 24 06:07 +0000",   // RFC822 numeric zone, minute resolution
      "05 Mar 24 08:07 +0200",   // same instant, non-UTC offset
      "20240305",                // width-8 yyyyMMdd
      "20241399",                // shape-matches, invalid month -> null
      "Mar 5, 2024 06:07:08",    // US long form
      "Mar 5, 2024",             // US date-only
      "January 5, 2024")         // full month name
    val out = inputs.toDF("s")
      .select(unix_timestamp(LogSource.parseAnyDate(col("s"))).as("t"))
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    val minute = 1709618820L   // 2024-03-05 06:07:00 UTC
    val day = 1709596800L      // 2024-03-05 00:00:00 UTC
    val full = 1709618828L     // 2024-03-05 06:07:08 UTC
    val jan5 = 1704412800L     // 2024-01-05 00:00:00 UTC
    assert(out.toSeq == Seq(minute, minute, day, -1L, full, day, jan5),
      out.toSeq.toString)
  }

  test("a pattern without named groups keeps each matching line as an empty row") {
    val lines = Seq("ERROR a", "INFO b", "ERROR c").toDF("value")
    val out = LogSource.parse(lines, """ERROR (\w)""")
    assert(out.columns.isEmpty && out.count() == 2)
  }

  test("bool parsing accepts Go strconv.ParseBool forms") {
    val lines = Seq("1", "t", "TRUE", "0", "F", "false", "zzz").toDF("value")
    val out = LogSource.parse(lines, """(?P<b__bool>\w+)""")
    val got = out.collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(got.toSeq == Seq(true, true, true, false, false, false, null))
  }

  test("randFilter samples at roughly the requested rate") {
    val df = spark.range(10000).toDF("id")
    val n = LogSource.randFilter(df, 0.1).count()
    assert(n > 700 && n < 1300, s"got $n, expected ~1000")
  }
}

class PartitionPruningSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.execution.ExplainMode

  test("a filter on the partition column prunes at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    // `ts` is long nanos under the legacy schema, TIMESTAMP under the
    // current one — normalize either way (same rule as SparkEntry.T)
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val tsCol =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        timestamp_micros(expr("ts div 1000"))
      else col("ts")
    val events = raw.withColumn("day", to_date(tsCol))
    graft.sources.Bucketing.writePartitioned(events, dir, "day")

    // guard against vacuity: the layout must actually have many partitions
    val all = spark.read.parquet(dir)
    val total = all.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(total.exists(_ > 1), s"test data collapsed to $total partition(s)")

    val q = spark.read.parquet(dir).filter(col("day") === "2024-01-03")
    val plan = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("2024-01-03"), "partition filter must reach the scan: " + plan)
    // pruning is real: only one day's directory is read
    val scanned = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.contains(1), s"expected 1 partition, got $scanned")
    assert(q.count() > 0)
  }
}

class ParseMetaSpec extends graft.SparkSpec {
  import spark.implicits._

  test("parse emits _tname and unique _id metadata columns on request") {
    val lines = Seq("k=1", "k=2", "nope").toDF("value")
    val out = graft.sources.LogSource.parse(lines, """k=(?P<k__int>\d+)""",
      tname = Some("t0"), withRowId = true)
    assert(out.columns.toSeq == Seq("k", "_tname", "_id"))
    val rows = out.collect()
    assert(rows.length == 2 && rows.forall(_.getString(1) == "t0"))
    assert(rows.map(_.getLong(2)).distinct.length == 2)
  }
}
