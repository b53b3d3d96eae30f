package graft

class TailAppSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("properties config translates to per-source configs with shared window") {
    val p = new java.util.Properties()
    p.setProperty("window.size_seconds", "30")
    p.setProperty("window.slide_seconds", "10")
    p.setProperty("window.ts_field", "ts")
    p.setProperty("watermark", "2 minutes")
    p.setProperty("sql", "SELECT 1 FROM t0")
    p.setProperty("format", "raw")
    p.setProperty("source.0.dir", "/logs/a")
    p.setProperty("source.0.pattern", "(?P<ts__date>\\S+)")
    p.setProperty("source.0.filter", "x > 1")
    p.setProperty("source.0.max_files_per_trigger", "7")
    p.setProperty("source.0.do_not_tail", "true")
    p.setProperty("source.0.throttle.max_elements_in_period", "100")
    p.setProperty("source.0.throttle.period_seconds", "10")
    p.setProperty("source.1.dir", "/logs/b")
    p.setProperty("source.1.pattern", "(?P<ts__date>\\S+) b")
    p.setProperty("source.1.throttle.max_elements_in_period", "0") // 0 = off
    val cfgs = TailApp.fromProperties(p)
    assert(cfgs.size == 2)
    val c0 = cfgs.head
    assert(c0.dir == "/logs/a" && c0.filter.contains("x > 1")
      && c0.maxFilesPerTrigger.contains(7) && c0.windowSizeSec == 30L
      && c0.slideSec.contains(10L) && c0.tsField.contains("ts")
      && c0.watermarkDelay == "2 minutes" && c0.sql.contains("SELECT 1 FROM t0")
      && c0.format == "raw")
    assert(c0.doNotTail && c0.throttleMax.contains(100)
      && c0.throttlePeriodSec.contains(10L))
    assert(cfgs(1).dir == "/logs/b" && cfgs(1).filter.isEmpty
      && cfgs(1).windowSizeSec == 30L)
    // reference config.yaml defaults: seek to end, no throttle
    assert(!cfgs(1).doNotTail && cfgs(1).throttleMax.isEmpty)
  }

  test("config without sources is rejected") {
    val p = new java.util.Properties()
    p.setProperty("window.size_seconds", "30")
    intercept[RuntimeException](TailApp.fromProperties(p))
  }

  test("--config combined with a non-overridable flag fails fast") {
    // --window can only come from the file in config mode; silently
    // ignoring it would mislead the operator. Fires before file IO, so
    // a nonexistent path proves the precedence.
    val e = intercept[IllegalArgumentException](
      TailApp.main(Array("--config", "/nonexistent.conf", "--window", "5")))
    assert(e.getMessage.contains("--window"))
  }

  test("repeated --dir/--pattern/--filter translate to N source configs (reference slice flags)") {
    val a = Map(
      "dir" -> Seq("/logs/a", "/logs/b"),
      "pattern" -> Seq("(?P<ts__date>\\S+) a", "(?P<ts__date>\\S+) b"),
      "filter" -> Seq("x > 1", ""),
      "window" -> Seq("30"), "ts-field" -> Seq("ts"), "format" -> Seq("raw"))
    val cfgs = TailApp.fromRepeatedFlags(a, seekEnd = false)
    assert(cfgs.size == 2)
    assert(cfgs(0).dir == "/logs/a" && cfgs(0).pattern.endsWith(" a")
      && cfgs(0).filter.contains("x > 1"))
    // an empty filter slot means "no filter for this source"
    assert(cfgs(1).dir == "/logs/b" && cfgs(1).filter.isEmpty)
    assert(cfgs.forall(c => c.windowSizeSec == 30L && c.tsField.contains("ts")
      && c.format == "raw" && c.doNotTail))
    assert(TailApp.fromRepeatedFlags(a, seekEnd = true).forall(!_.doNotTail))
  }

  test("pattern/filter counts must match dir count, like the reference's NewCfg") {
    val base = Map("dir" -> Seq("/a", "/b"), "pattern" -> Seq("p"))
    val e1 = intercept[IllegalArgumentException](
      TailApp.fromRepeatedFlags(base, seekEnd = false))
    assert(e1.getMessage.contains("match with files"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](TailApp.fromRepeatedFlags(
      base + ("pattern" -> Seq("p", "q"), "filter" -> Seq("f")), seekEnd = false))
    assert(e2.getMessage.contains("filters num"), e2.getMessage)
  }

  test("--throttlers values parse like the reference's parseThrottleOpt") {
    assert(TailApp.parseThrottleOpt("100:10:0").contains((100, 10L)))
    assert(TailApp.parseThrottleOpt("5:60").contains((5, 60L))) // BUFF optional here
    assert(TailApp.parseThrottleOpt("").isEmpty)       // explicit unthrottled slot
    assert(TailApp.parseThrottleOpt("0:10:0").isEmpty) // 0 max = off
    assert(TailApp.parseThrottleOpt("100:0:0").isEmpty) // 0 period = off
    val e1 = intercept[IllegalArgumentException](TailApp.parseThrottleOpt("100"))
    assert(e1.getMessage.contains("MAX_ELE:PERIOD_SEC"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](TailApp.parseThrottleOpt("a:10:0"))
    assert(e2.getMessage.contains("max eles"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](TailApp.parseThrottleOpt("1:2:x"))
    assert(e3.getMessage.contains("buffsize"), e3.getMessage)
  }

  test("repeated --throttlers pair 1:1 with --dir and match the config-file form") {
    val a = Map(
      "dir" -> Seq("/logs/a", "/logs/b"),
      "pattern" -> Seq("(?P<ts__date>\\S+) a", "(?P<ts__date>\\S+) b"),
      "throttlers" -> Seq("100:10:0", ""),
      "window" -> Seq("30"), "ts-field" -> Seq("ts"))
    val cfgs = TailApp.fromRepeatedFlags(a, seekEnd = false)
    assert(cfgs(0).throttleMax.contains(100)
      && cfgs(0).throttlePeriodSec.contains(10L))
    assert(cfgs(1).throttleMax.isEmpty && cfgs(1).throttlePeriodSec.isEmpty)
    // parity: the same throttle through the properties form lands in
    // the identical Config fields
    val p = new java.util.Properties()
    p.setProperty("window.size_seconds", "30")
    p.setProperty("window.ts_field", "ts")
    p.setProperty("source.0.dir", "/logs/a")
    p.setProperty("source.0.pattern", "(?P<ts__date>\\S+) a")
    p.setProperty("source.0.throttle.max_elements_in_period", "100")
    p.setProperty("source.0.throttle.period_seconds", "10")
    p.setProperty("source.0.throttle.buffer_size", "0") // validated, ignored
    val pc = TailApp.fromProperties(p).head
    assert(pc.throttleMax == cfgs(0).throttleMax
      && pc.throttlePeriodSec == cfgs(0).throttlePeriodSec)
    // slice-count mismatch rejected loudly, like the reference's NewCfg
    val e = intercept[IllegalArgumentException](TailApp.fromRepeatedFlags(
      a + ("throttlers" -> Seq("1:2:3")), seekEnd = false))
    assert(e.getMessage.contains("throttlers num"), e.getMessage)
    // malformed buffer_size fails loudly instead of silently dropping
    p.setProperty("source.0.throttle.buffer_size", "big")
    val e2 = intercept[IllegalArgumentException](TailApp.fromProperties(p))
    assert(e2.getMessage.contains("buffer_size"), e2.getMessage)
  }

  test("a non-repeatable flag given twice is rejected, not last-wins") {
    val e = intercept[IllegalArgumentException](TailApp.main(Array(
      "--dir", "/a", "--pattern", "p", "--window", "5", "--window", "6")))
    assert(e.getMessage.contains("--window given 2 times"), e.getMessage)
  }

  /** A verbatim reference-STYLE config.yaml: the exact section/key
    * schema of config/config.go:14-50 and the shipped config.yaml —
    * comments, quoting, nested throttle block, the lot. */
  private val refYaml =
    """# you can follow multi files
      |# each file will be parsed to one table t0, t1, ...
      |files:
      |  - path: "/logs/app.log"   # file/namedpipe/stdin
      |    # (?P<fieldname__filedtype>regex), type float/int/date/str
      |    regex: "(?P<ts__date>\\S+ \\S+) (?P<level__str>\\w+) (?P<ms__int>\\d+)"
      |    # filter to select row to table
      |    filter: "level = 'ERROR'"
      |    throttle:
      |      max_elements_in_period: 100
      |      period_seconds: 10
      |      buffer_size: 0
      |    # process from the start of file instead of seeking to end
      |    do_not_tail: true
      |  - path: "/logs/dir"
      |    regex: "(?P<ts__date>\\S+ \\S+) (?P<msg__str>.*)"
      |    throttle:
      |      max_elements_in_period: 0
      |      period_seconds: 0
      |      buffer_size: 0
      |log:
      |  level: "info"
      |window:
      |  size_seconds: 30
      |  sliding_interval_seconds: 10
      |  idx_of_ts_field: 0
      |sink:
      |  to: "stdout"
      |  formatter: "rawV"
      |db_engine: "duckdb"
      |""".stripMargin

  test("the reference's own config.yaml schema loads verbatim (files/log/window/sink/db_engine)") {
    val (cfgs, logLevel) = TailApp.fromYaml(refYaml, isDir = _ == "/logs/dir")
    assert(cfgs.size == 2)
    val c0 = cfgs.head
    assert(c0.dir == "/logs/app.log" && c0.follow,
      "a non-directory path is the byte-offset follow-file source")
    assert(c0.pattern == """(?P<ts__date>\S+ \S+) (?P<level__str>\w+) (?P<ms__int>\d+)""")
    assert(c0.filter.contains("level = 'ERROR'"))
    assert(c0.throttleMax.contains(100) && c0.throttlePeriodSec.contains(10L))
    assert(c0.doNotTail, "do_not_tail: true must map through")
    // shared window block; idx_of_ts_field 0 resolves to the 0th
    // capture group's NAME against each source's own regex
    assert(c0.windowSizeSec == 30L && c0.slideSec.contains(10L)
      && c0.tsField.contains("ts"))
    assert(c0.format == "rawv" && c0.sql.isEmpty)
    val c1 = cfgs(1)
    assert(c1.dir == "/logs/dir" && !c1.follow,
      "a directory path is the directory-tail source")
    // 0 throttle = unthrottled, absent do_not_tail = seek to end
    assert(c1.throttleMax.isEmpty && c1.throttlePeriodSec.isEmpty && !c1.doNotTail)
    assert(c1.tsField.contains("ts"))
    assert(logLevel.contains("info"))
  }

  test("yaml window/sink/engine values are validated loudly, not silently defaulted") {
    def y(window: String = "  size_seconds: 30", sink: String = "  formatter: table",
          engine: String = "duckdb", regex: String =
          """"(?P<ts__date>\\S+)""""): String =
      s"""files:
         |  - path: "/logs/a.log"
         |    regex: $regex
         |window:
         |$window
         |sink:
         |$sink
         |db_engine: "$engine"
         |""".stripMargin
    def err(doc: String): String =
      intercept[RuntimeException](TailApp.fromYaml(doc, _ => false)).getMessage
    assert(err(y(engine = "oracle")).contains("db_engine"))
    assert(err(y(sink = "  formatter: csv")).contains("formatter"))
    assert(err(y(sink = "  to: kafka")).contains("sink.to"))
    assert(err(y(window = "  size_seconds: 0")).contains("size_seconds"))
    assert(err(y(window = "  size_seconds: ten")).contains("must be an int"))
    // idx_of_ts_field out of the regex's capture-group range
    assert(err(y(window = "  size_seconds: 30\n  idx_of_ts_field: 5"))
      .contains("out of range"))
    assert(err(y(regex = "\"\"")).contains("regex"))
    // an explicit idx_of_ts_field -1 = processing-time windows
    val (cfgs, _) = TailApp.fromYaml(
      y(window = "  size_seconds: 30\n  idx_of_ts_field: -1"), _ => false)
    assert(cfgs.head.tsField.isEmpty)
    // absent sliding_interval_seconds (or 0) = tumbling
    assert(cfgs.head.slideSec.isEmpty)
    // ABSENT idx_of_ts_field under a present window mapping is the Go
    // zero value 0 (sql/squeryer.go:172 treats >=0 as event time from
    // that capture group) — NOT processing time
    val (cfgsDflt, _) = TailApp.fromYaml(y(), _ => false)
    assert(cfgsDflt.head.tsField.contains("ts"))
  }

  test("logrus levels translate to Spark log levels (warning/panic have no Spark name)") {
    assert(TailApp.logrusToSpark("warning") == "WARN")
    assert(TailApp.logrusToSpark("Warning") == "WARN")
    assert(TailApp.logrusToSpark("panic") == "FATAL")
    assert(TailApp.logrusToSpark("warn") == "WARN")
    assert(TailApp.logrusToSpark("info") == "INFO")
    assert(TailApp.logrusToSpark("debug") == "DEBUG")
    assert(TailApp.logrusToSpark("fatal") == "FATAL")
    assert(TailApp.logrusToSpark("trace") == "TRACE")
  }
}

/** The YAML-subset reader under the config loader ([[graft.sources.YamlLite]]). */
class YamlLiteSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.sources.YamlLite
  import graft.sources.YamlLite.{Mapping, Scalar, Sequence}

  test("comments strip outside quotes only") {
    assert(YamlLite.stripComment("""a: "x # y"  # real comment""") == """a: "x # y"  """)
    assert(YamlLite.stripComment("# whole line") == "")
    assert(YamlLite.stripComment("a: b#c") == "a: b#c") // no space before #
  }

  test("nested mappings, sequences, quoting, and escapes parse") {
    val m = YamlLite.parse(
      """top: "a \"quoted\" value"
        |regex: "(?P<ts__date>\\S+ \\S+)"
        |single: 'it''s'
        |empty: ""
        |nested:
        |  x: 1
        |  y:
        |    z: deep
        |list:
        |  - one
        |  - two
        |""".stripMargin)
    assert(m.scalar("top").contains("""a "quoted" value"""))
    // \\ in double quotes is ONE backslash, exactly like yaml.v3
    assert(m.scalar("regex").contains("""(?P<ts__date>\S+ \S+)"""))
    assert(m.scalar("single").contains("it's"))
    assert(m.scalar("empty").contains(""))
    val nested = m.get("nested").get.asInstanceOf[Mapping]
    assert(nested.scalar("x").contains("1"))
    assert(nested.get("y").get.asInstanceOf[Mapping].scalar("z").contains("deep"))
    assert(m.get("list").get == Sequence(Vector(Scalar("one"), Scalar("two"))))
  }

  test("sequences of mappings carry multi-key items (the files: shape)") {
    val m = YamlLite.parse(
      """files:
        |  - path: a
        |    nested:
        |      k: v
        |  - path: b
        |""".stripMargin)
    val items = m.get("files").get.asInstanceOf[Sequence].items
    assert(items.size == 2)
    assert(items(0).asInstanceOf[Mapping].scalar("path").contains("a"))
    assert(items(0).asInstanceOf[Mapping].get("nested").get
      .asInstanceOf[Mapping].scalar("k").contains("v"))
    assert(items(1).asInstanceOf[Mapping].scalar("path").contains("b"))
  }

  test("what the subset excludes fails loudly, never parses wrong") {
    intercept[RuntimeException](YamlLite.parse("\tkey: value"))
    intercept[RuntimeException](YamlLite.parse("just a scalar line"))
  }
}

/** End-to-end CLI runs (real streams over temp dirs, shared session). */
class TailAppCliSpec extends SparkSpec {
  import java.nio.file.Files

  private val pattern =
    """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<level__str>\w+) (?P<ms__int>\d+)"""

  test("two repeated --dir sources join per window through the CLI, no config file") {
    spark.sparkContext // force the shared session up before runCli getOrCreate's
    val dirs = (0 to 1).map(_ => Files.createTempDirectory("graft-cli").toFile)
    val ckpt = Files.createTempDirectory("graft-cli-ckpt").toFile
    def writeLog(dir: java.io.File, name: String, lines: String*): Unit =
      Files.write(new java.io.File(dir, name).toPath,
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    writeLog(dirs(0), "a.log",
      "2024-01-01 00:00:10 INFO 5",
      "2024-01-01 00:00:20 WARN 9")
    writeLog(dirs(1), "b.log",
      "2024-01-01 00:00:30 WARN 4")
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    TailApp.runCli(Array(
      "--dir", dirs(0).getAbsolutePath, "--pattern", pattern,
      "--dir", dirs(1).getAbsolutePath, "--pattern", pattern,
      "--window", "60", "--ts-field", "ts", "--format", "raw",
      "--checkpoint", ckpt.getAbsolutePath, "--once",
      "--sql", """SELECT t0.window_start, t0.n AS n0, t1.n AS n1 FROM
                    (SELECT window_start, count(*) AS n FROM t0 GROUP BY 1) t0
                  JOIN
                    (SELECT window_start, count(*) AS n FROM t1 GROUP BY 1) t1
                  USING (window_start)"""),
      sink = s => captured.add(s), stopSparkOnExit = false)
    val out = String.join("\n", captured).split("\n").filter(_.nonEmpty).toSeq
    // one 00:00 window: 2 rows from source 0 joined to 1 row from source 1
    assert(out.exists(_.endsWith(", 2, 1")), out.toString)
  }

  test("--throttlers caps admissions per period through the CLI (reference -t)") {
    spark.sparkContext
    val dir = Files.createTempDirectory("graft-cli-thr").toFile
    val ckpt = Files.createTempDirectory("graft-cli-thr-ckpt").toFile
    Files.write(new java.io.File(dir, "a.log").toPath,
      Seq(
        "2024-01-01 00:00:10 INFO 5",
        "2024-01-01 00:00:20 WARN 9",
        "2024-01-01 00:00:30 WARN 4").mkString("", "\n", "\n").getBytes("UTF-8"))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    TailApp.runCli(Array(
      "--dir", dir.getAbsolutePath, "--pattern", pattern,
      "--window", "60", "--ts-field", "ts", "--format", "raw",
      "--throttlers", "2:3600:0",
      "--checkpoint", ckpt.getAbsolutePath, "--once"),
      sink = s => captured.add(s), stopSparkOnExit = false)
    val out = String.join("\n", captured).split("\n").filter(_.nonEmpty).toSeq
    // one 00:00 window; 3 lines arrived, the throttler admitted 2
    assert(out.exists(_.endsWith(", 2")), out.toString)
  }

  test("a reference-style config.yaml drives the CLI to the same output as the flag form") {
    spark.sparkContext
    val dir = Files.createTempDirectory("graft-cli-yaml").toFile
    Files.write(new java.io.File(dir, "a.log").toPath,
      Seq(
        "2024-01-01 00:00:10 INFO 5",
        "2024-01-01 00:00:20 WARN 9",
        "2024-01-01 00:01:30 WARN 4").mkString("", "\n", "\n").getBytes("UTF-8"))
    // the reference's own YAML schema, verbatim style: files + window +
    // sink sections, do_not_tail=true to process the existing file
    val yaml = s"""# reference-style config
                  |files:
                  |  - path: "${dir.getAbsolutePath}"
                  |    regex: "(?P<ts__date>\\\\d{4}-\\\\d{2}-\\\\d{2} \\\\d{2}:\\\\d{2}:\\\\d{2}) (?P<level__str>\\\\w+) (?P<ms__int>\\\\d+)"
                  |    throttle:
                  |      max_elements_in_period: 0
                  |      period_seconds: 0
                  |      buffer_size: 0
                  |    do_not_tail: true
                  |window:
                  |  size_seconds: 60
                  |  sliding_interval_seconds: 0
                  |  idx_of_ts_field: 0
                  |sink:
                  |  to: "stdout"
                  |  formatter: "raw"
                  |db_engine: "duckdb"
                  |""".stripMargin
    val cfgFile = Files.createTempDirectory("graft-cli-yamlcfg").resolve("config.yaml")
    Files.write(cfgFile, yaml.getBytes("UTF-8"))
    val sql = "SELECT window_start, count(*) AS n FROM t0 GROUP BY 1 ORDER BY 1"
    def run(args: Array[String]): Seq[String] = {
      val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      TailApp.runCli(args, sink = s => captured.add(s), stopSparkOnExit = false)
      String.join("\n", captured).split("\n").filter(_.nonEmpty).toSeq
    }
    val viaYaml = run(Array(
      "--config", cfgFile.toString, "--sql", sql,
      "--checkpoint", Files.createTempDirectory("ck-y").toString, "--once"))
    val viaFlags = run(Array(
      "--dir", dir.getAbsolutePath,
      "--pattern", """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<level__str>\w+) (?P<ms__int>\d+)""",
      "--window", "60", "--ts-field", "ts", "--format", "raw", "--sql", sql,
      "--checkpoint", Files.createTempDirectory("ck-f").toString, "--once"))
    // two windows: 2 rows in 00:00, 1 in 00:01 — identical either way
    assert(viaYaml.exists(_.endsWith(", 2")) && viaYaml.exists(_.endsWith(", 1")),
      viaYaml.toString)
    assert(viaYaml == viaFlags, s"yaml=$viaYaml flags=$viaFlags")
  }

  test("--log-level flag reaches the Spark context (reference -l/--log-level)") {
    // Mutates the JVM-global log4j root logger by design (that IS the
    // flag's observable effect; one JVM = one root logger). Safe here
    // because Test/parallelExecution := false runs suites serially,
    // and the finally restores the EXACT prior level (not an assumed
    // default) so no WARN window leaks past this test even if an
    // earlier suite changed the baseline.
    def rootLevel = org.apache.logging.log4j.LogManager.getRootLogger
      .asInstanceOf[org.apache.logging.log4j.core.Logger].getLevel
    spark.sparkContext
    val prior = rootLevel
    val dir = Files.createTempDirectory("graft-cli-ll").toFile
    val ckpt = Files.createTempDirectory("graft-cli-ll-ckpt").toFile
    try {
      TailApp.runCli(Array(
        "--dir", dir.getAbsolutePath, "--pattern", pattern,
        "--window", "60", "--log-level", "warn",
        "--checkpoint", ckpt.getAbsolutePath, "--once"),
        sink = _ => (), stopSparkOnExit = false)
      assert(rootLevel == org.apache.logging.log4j.Level.WARN, rootLevel.toString)
    } finally spark.sparkContext.setLogLevel(prior.name())
  }

  private def writeLog(f: java.io.File, lines: String*): java.io.File = {
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    f
  }

  private def logDir(lines: String*): java.io.File = {
    val d = Files.createTempDirectory("graft-cli-form").toFile
    writeLog(new java.io.File(d, "a.log"), lines: _*)
    d
  }

  /** Every sink block of one `--once` CLI run over a fresh checkpoint. */
  private def cliBlocks(args: String*): Seq[String] = {
    spark.sparkContext
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    TailApp.runCli((args ++ Seq("--checkpoint",
      Files.createTempDirectory("graft-cli-form-ck").toString, "--once")).toArray,
      sink = s => captured.add(s), stopSparkOnExit = false)
    captured.toArray(Array.empty[String]).toSeq
  }

  /** Every sink block of one AvailableNow run started on TailStream directly. */
  private def directBlocks(
      start: (String, String => Unit, org.apache.spark.sql.streaming.Trigger) =>
        org.apache.spark.sql.streaming.StreamingQuery): Seq[String] = {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    start(Files.createTempDirectory("graft-cli-form-dck").toString, s => captured.add(s),
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).awaitTermination(60000)
    captured.toArray(Array.empty[String]).toSeq
  }

  private val codePattern =
    """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<level__str>\w+) code=(?P<code__int>\d+)"""

  test("--follow-file --snapshot (the benchmark's form) equals a direct runSnapshot") {
    val f = writeLog(Files.createTempFile("graft-cli-follow", ".log").toFile,
      "2024-01-01 00:00:10 INFO 5",
      "2024-01-01 00:00:20 WARN 9",
      "2024-01-01 00:01:10 INFO 3",
      "not a log line",
      "2024-01-01 00:30:00 INFO 1") // closes 00:00 and 00:01
    val viaCli = cliBlocks("--follow-file", f.getAbsolutePath, "--pattern", pattern,
      "--snapshot", "--ts-field", "ts", "--watermark", "0 seconds", "--format", "raw")
    val cfg = streaming.TailStream.Config(dir = f.getAbsolutePath, pattern = pattern,
      follow = true, tsField = Some("ts"), watermarkDelay = "0 seconds", format = "raw")
    val direct = directBlocks((ckpt, sink, trigger) =>
      streaming.TailStream.runSnapshot(spark, cfg, ckpt, sink, trigger))
    assert(viaCli == direct, s"cli=$viaCli direct=$direct")
    assert(viaCli == Seq(
      "window_start, window_end, n\n" + "-" * 31 + "\n1704067200, 1704067260, 2\n\n",
      "window_start, window_end, n\n" + "-" * 31 + "\n1704067260, 1704067320, 1\n\n"),
      viaCli.toString)
  }

  /** Two dirs whose 00:00 INFO rows match on `level`; both sides also
    * carry a 00:30 row, so the watermark closes window 00:00. */
  private def joinDirs(): (java.io.File, java.io.File) = (
    logDir("2024-01-01 00:00:10 INFO 5", "2024-01-01 00:00:20 WARN 9",
      "2024-01-01 00:30:00 INFO 1"),
    logDir("2024-01-01 00:00:30 INFO code=200", "2024-01-01 00:00:40 ERROR code=500",
      "2024-01-01 00:30:00 INFO code=204"))

  private val joinSql = "SELECT window_start, level, ms, code_1 FROM t0 ORDER BY window_start, level, ms"

  private def joinArgs(l: java.io.File, r: java.io.File): Seq[String] = Seq(
    "--dir", l.getAbsolutePath, "--pattern", pattern,
    "--dir2", r.getAbsolutePath, "--pattern2", codePattern, "--join-keys", "level",
    "--window", "60", "--ts-field", "ts", "--watermark", "0 seconds",
    "--format", "raw", "--sql", joinSql)

  private def joinCfgs(l: java.io.File, r: java.io.File): Seq[streaming.TailStream.Config] =
    Seq((l, pattern), (r, codePattern)).map { case (d, p) =>
      streaming.TailStream.Config(dir = d.getAbsolutePath, pattern = p, windowSizeSec = 60,
        tsField = Some("ts"), watermarkDelay = "0 seconds", format = "raw", sql = Some(joinSql))
    }

  test("--dir --dir2 --join-keys equals a direct incremental join run") {
    val (l, r) = joinDirs()
    val viaCli = cliBlocks(joinArgs(l, r): _*)
    val Seq(cl, cr) = joinCfgs(l, r)
    val direct = directBlocks((ckpt, sink, trigger) =>
      streaming.TailStream.start(spark, Seq(cl, cr), ckpt, sink, trigger,
        joinKeys = Some(Seq("level"))))
    assert(viaCli == direct, s"cli=$viaCli direct=$direct")
    val rows = viaCli.flatMap(_.split("\n").drop(2)).filter(_.nonEmpty)
    assert(rows.sorted == Seq("1704067200, INFO, 5, 200", "1704069000, INFO, 1, 204"),
      viaCli.toString)
  }

  test("--dir --dir2 --join-keys --snapshot equals a direct complete-window join run") {
    val (l, r) = joinDirs()
    val viaCli = cliBlocks(joinArgs(l, r) :+ "--snapshot": _*)
    val Seq(cl, cr) = joinCfgs(l, r)
    val direct = directBlocks((ckpt, sink, trigger) =>
      streaming.TailStream.start(spark, Seq(cl, cr), ckpt, sink, trigger,
        snapshot = true, joinKeys = Some(Seq("level"))))
    assert(viaCli == direct, s"cli=$viaCli direct=$direct")
    // only window 00:00 closes; 00:30 stays open
    assert(viaCli == Seq("window_start, level, ms, code_1\n" + "-" * 31 +
      "\n1704067200, INFO, 5, 200\n\n"), viaCli.toString)
  }

  test("without --sql, two sources print the same header columns as one source") {
    val a = logDir("2024-01-01 00:00:10 INFO 5", "2024-01-01 00:00:20 WARN 9")
    val b = logDir("2024-01-01 00:00:30 WARN 4")
    val common = Seq("--window", "60", "--ts-field", "ts", "--format", "raw")
    def headers(blocks: Seq[String]): Seq[String] = blocks.map(_.split("\n").head).distinct
    val one = cliBlocks(Seq("--dir", a.getAbsolutePath, "--pattern", pattern) ++ common: _*)
    val two = cliBlocks(Seq("--dir", a.getAbsolutePath, "--pattern", pattern,
      "--dir", b.getAbsolutePath, "--pattern", pattern) ++ common: _*)
    assert(headers(one) == Seq("window_start, window_end, n"), one.toString)
    assert(headers(two) == headers(one), s"one=$one two=$two")
  }

  test("--filter '' (and --filter2 '') means no filter, not a parse error") {
    val a = logDir("2024-01-01 00:00:10 INFO 5", "2024-01-01 00:00:20 WARN 9")
    val base = Seq("--dir", a.getAbsolutePath, "--pattern", pattern,
      "--window", "60", "--ts-field", "ts", "--format", "raw")
    val unfiltered = cliBlocks(base: _*)
    assert(cliBlocks(base ++ Seq("--filter", ""): _*) == unfiltered)
    assert(unfiltered.flatMap(_.split("\n").drop(2)).filter(_.nonEmpty) ==
      Seq("1704067200, 1704067260, 2"), unfiltered.toString)
    val (l, r) = joinDirs()
    assert(cliBlocks(joinArgs(l, r) ++ Seq("--filter2", ""): _*) ==
      cliBlocks(joinArgs(l, r): _*))
  }

  /** `flag value` on the single-source form (no --dir2) is rejected
    * before any session or input is touched.
    */
  private def rejectsWithoutDir2(flag: String, value: String): Unit = {
    val e = intercept[IllegalArgumentException](TailApp.runCli(Array(
      "--dir", "/unused", "--pattern", pattern, flag, value),
      sink = _ => (), stopSparkOnExit = false))
    assert(e.getMessage.contains(s"$flag given without --dir2"), e.getMessage)
  }

  test("--pattern2 without --dir2 is rejected, not ignored") {
    rejectsWithoutDir2("--pattern2", pattern)
  }

  test("--filter2 without --dir2 is rejected, not ignored") {
    rejectsWithoutDir2("--filter2", "level = 'WARN'")
  }

  test("--join-keys without --dir2 is rejected, not ignored") {
    rejectsWithoutDir2("--join-keys", "level")
  }
}
