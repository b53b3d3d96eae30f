package graft

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.TailStream

/** CLI entry point with the reference app's surface: point it at a
  * directory of log files, give it a pattern and a SQL, get formatted
  * window results on stdout.
  *
  * {{{
  * runMain graft.TailApp --dir /var/log/app \
  *   --pattern '(?P<ts__date>\S+ \S+) (?P<level__str>\w+) (?P<ms__int>\d+)' \
  *   --window 60 [--slide 30] [--ts-field ts] [--filter "level='ERROR'"] \
  *   [--sql "SELECT ... FROM t0 ..."] [--format table|raw|rawv] \
  *   [--max-files-per-trigger 10] [--checkpoint /tmp/ckpt] [--once] \
  *   [--snapshot] [--seek-end] [--log-level WARN] \
  *   [--throttlers MAX_ELE:PERIOD_SEC[:BUFF_SIZE]]
  * }}}
  *
  * `--throttlers MAX:PERIOD[:BUFF]` is the reference's `-t` slice flag
  * (cmd/query.go:42–45): admit at most MAX lines per PERIOD seconds
  * per source, repeatable 1:1 with `--dir`, an empty value ('') or
  * `0` in either field leaving that source unthrottled — exactly the
  * one-liner `tailsql query -f a.log -t 100:10:0` surface. BUFF_SIZE
  * is parsed (malformed input fails loudly) and IGNORED: it sizes the
  * Go implementation's buffered channel between reader and engine,
  * and the Spark throttle is admission-count-exact per period with no
  * hand-tuned buffer to size.
  *
  * `--seek-end` = the reference's default tail behavior: skip files
  * already in the directory, read only ones modified after start.
  *
  * **Repeated flags = N sources** (the reference's `-f/-r/-F` slice
  * flags, cmd/query.go:25–36): give `--dir` N times and the sources
  * become per-window views t0..tN for the SQL, exactly like the
  * config-file form. `--pattern` must repeat 1:1 with `--dir`
  * (reference: "regex num must match with files"); `--filter` and
  * `--throttlers` are absent or 1:1 ("filters num must match with
  * files" / "throttlers num must match with files"). Window, format,
  * and watermark settings are shared:
  * {{{
  * runMain graft.TailApp --dir /log/app --pattern '...' \
  *   --dir /log/gw --pattern '...' --window 60 --ts-field ts \
  *   --sql "SELECT ... FROM t0 JOIN t1 ON ..."
  * }}}
  *
  * `--follow-file /var/log/app.log` (instead of `--dir`) follows ONE
  * growing file by byte offset — the reference's same-file `tail -f`
  * (source/fs.go Follow+ReOpen): appended lines stream in per trigger,
  * truncation/rotation reopens from the start, `--seek-end` starts at
  * the current EOF, and `--max-bytes-per-trigger N` bounds each batch.
  *
  * `--stdin` reads lines from standard input (`cat app.log | graft
  * --stdin --once ...`), `--pipe /run/app.fifo` from a named pipe —
  * both spool into a temp directory via [[graft.sources.StdinSpool]]
  * and tail that. With `--once`, stdin is drained to EOF before the
  * run, so the whole piped input is processed.
  *
  * `--snapshot` (needs `--ts-field`) switches from the incremental
  * per-batch preview to fire-once-per-complete-window semantics: the
  * SQL runs exactly once per window, over all of the window's rows,
  * when the watermark closes it. A decomposable aggregate SQL (count,
  * min, max, sum, avg grouped by t0 columns) keeps running partials per
  * (window, group) in state; any other SQL keeps the window's rows.
  *
  * `--checkpoint DIR` makes a restart resume where the last run stopped.
  * With `--snapshot` the checkpoint's state depends on the SQL: a
  * restart under SQL that needs the other state plan, other grouping
  * columns or other aggregates fails at start, before any output; use a
  * new checkpoint for such a change.
  *
  * `--log-level LEVEL` sets the Spark log level (the reference's
  * `-l/--log-level`, logrus levels); default WARN.
  *
  * `--config app.conf` loads a java-properties config instead — the
  * analogue of the reference's YAML file (config/config.go), including
  * its N-source form. Sources become per-window views t0..tN
  * (TailStream.start):
  * {{{
  * window.size_seconds=60
  * # window.slide_seconds=30   window.ts_field=ts   watermark=10 minutes
  * sql=SELECT t0.window_start, count(*) AS n FROM t0 GROUP BY 1 ORDER BY 1
  * format=table
  * source.0.dir=/var/log/app
  * source.0.pattern=(?P<ts__date>\\S+ \\S+) (?P<level__str>\\w+)
  * # source.0.filter=...  source.0.max_files_per_trigger=10
  * # source.0.do_not_tail=true            (default false = seek to end)
  * # source.0.follow=true                 (dir is ONE growing file)
  * # source.0.max_bytes_per_trigger=1048576
  * # source.0.throttle.max_elements_in_period=100
  * # source.0.throttle.period_seconds=10  (0/absent = unthrottled)
  * # source.0.throttle.buffer_size=0      (validated, then ignored —
  * #   the Go channel-depth knob has no Spark equivalent; see the
  * #   --throttlers note above)
  * # source.1.dir=...     source.1.pattern=...
  * }}}
  * Explicit CLI flags (checkpoint, format, sql, trigger-sec, log-level,
  * once, snapshot) override the file's values — the same overrides the
  * reference allows next to `-c`; any other flag combined with
  * `--config` is rejected rather than silently ignored.
  *
  * A second tailed source (the reference's t1) can also join per
  * window on `--join-keys`: `--dir2 /var/log/other --pattern2 '...'
  * --join-keys level` — right-side columns appear suffixed `_1` in
  * the SQL view. (The repeated `--dir` form exposes the sources as
  * independent views instead; use whichever fits the query.)
  */
object TailApp {

  private def parseArgs(args: Array[String]): Map[String, Seq[String]] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  // bare flags (--once, --snapshot) are read from the raw args

  /** Flags that may repeat (one value per source, reference slice
    * flags); every other flag given twice is an operator error.
    */
  private val Repeatable = Set("dir", "pattern", "filter", "throttlers")

  private def one(a: Map[String, Seq[String]], k: String): Option[String] =
    a.get(k).map { vs =>
      require(vs.size == 1 || Repeatable(k),
        s"--$k given ${vs.size} times; only --dir/--pattern/--filter/--throttlers repeat")
      vs.head
    }

  /** The reference's throttler slice value (config/config.go
    * parseThrottleOpt): `MAX_ELE:PERIOD_SEC[:BUFF_SIZE]`, empty string
    * = an explicit unthrottled slot. Every field must be a decimal
    * integer or the whole invocation fails (the reference's "failed to
    * parse ..." errors); BUFF_SIZE is validated then dropped, and a
    * MAX or PERIOD of 0 means unthrottled (the reference's own example
    * passes `100:10:0`). Returns (maxElements, periodSeconds).
    */
  private[graft] def parseThrottleOpt(s: String): Option[(Int, Long)] = {
    if (s.trim.isEmpty) return None
    val parts = s.split(":", -1)
    require(parts.length == 2 || parts.length == 3,
      s"failed to parse '$s' as a throttler; need MAX_ELE:PERIOD_SEC[:BUFF_SIZE]")
    def num(v: String, what: String): Long = {
      require(v.nonEmpty && v.forall(_.isDigit) && v.length <= 10,
        s"failed to parse $what: '$v'")
      v.toLong
    }
    val max = num(parts(0), "max eles")
    val period = num(parts(1), "throttle interval as seconds")
    if (parts.length == 3) num(parts(2), "buffsize") // validated, ignored
    if (max > 0 && period > 0) Some((max.toInt, period)) else None
  }

  private val Flags = Set("--once", "--snapshot", "--seek-end", "--stdin")

  /** Translate a properties config (see object doc) into the window
    * defaults + per-source configs. Pure, so the spec can pin the
    * translation without launching streams.
    */
  def fromProperties(p: java.util.Properties): Seq[TailStream.Config] = {
    def opt(k: String): Option[String] = Option(p.getProperty(k)).map(_.trim).filter(_.nonEmpty)
    val sourceIdxs = p.stringPropertyNames().toArray(Array.empty[String])
      .flatMap { k =>
        if (k.startsWith("source.")) k.split('.').lift(1).flatMap(_.toIntOption) else None
      }.distinct.sorted
    require(sourceIdxs.nonEmpty, "config needs at least source.0.dir / source.0.pattern")
    sourceIdxs.toSeq.map { i =>
      // the reference's throttle block also carries buffer_size (the
      // Go channel depth); Spark's throttle is admission-count-exact
      // with no buffer to size, so the key is validated as an int —
      // a typo'd value fails loudly instead of vanishing — then
      // deliberately IGNORED (documented in the object doc above)
      opt(s"source.$i.throttle.buffer_size").foreach(v => require(
        v.toIntOption.isDefined,
        s"source.$i.throttle.buffer_size must be an int, got '$v'"))
      TailStream.Config(
        dir = opt(s"source.$i.dir").getOrElse(sys.error(s"source.$i.dir is required")),
        pattern = opt(s"source.$i.pattern").getOrElse(sys.error(s"source.$i.pattern is required")),
        filter = opt(s"source.$i.filter"),
        maxFilesPerTrigger = opt(s"source.$i.max_files_per_trigger").map(_.toInt),
        windowSizeSec = opt("window.size_seconds").map(_.toLong).getOrElse(60L),
        slideSec = opt("window.slide_seconds").map(_.toLong),
        tsField = opt("window.ts_field"),
        watermarkDelay = opt("watermark").getOrElse("10 minutes"),
        sql = opt("sql"),
        format = opt("format").getOrElse("table"),
        // reference config.yaml defaults: do_not_tail=false (seek to
        // end) and throttle 0 = unthrottled
        doNotTail = opt(s"source.$i.do_not_tail").exists(_.toBoolean),
        throttleMax = opt(s"source.$i.throttle.max_elements_in_period")
          .map(_.toInt).filter(_ > 0),
        throttlePeriodSec = opt(s"source.$i.throttle.period_seconds")
          .map(_.toLong).filter(_ > 0),
        // follow=true: dir is ONE growing file, tailed by byte offset
        follow = opt(s"source.$i.follow").exists(_.toBoolean),
        followMaxBytes = opt(s"source.$i.max_bytes_per_trigger")
          .map(_.toLong).filter(_ > 0))
    }
  }

  /** Translate the reference's OWN `config.yaml` (config/config.go:14-50
    * — `files` / `log` / `window` / `sink` / `db_engine` sections,
    * parsed by [[graft.sources.YamlLite]]) into per-source configs +
    * the requested log level, so a tailsql user's existing YAML loads
    * as-is. Semantics per section:
    *
    *  - `files[i]`: `path` is a FILE to follow in the reference
    *    (file/namedpipe/stdin) — a path that `isDir` says is a
    *    directory becomes a directory-tail source, anything else the
    *    byte-offset follow-file source; `regex` is the
    *    `(?P<name__type>...)` row pattern (required non-empty — an
    *    untyped table has no columns to query); `filter` the
    *    where-clause row filter; `throttle` as in the flag form
    *    (`buffer_size` validated then ignored — the Go channel-depth
    *    knob has no Spark meaning, see the `--throttlers` note);
    *    `do_not_tail: true` = process from the start of the file
    *    (maps to [[TailStream.Config.doNotTail]] directly).
    *  - `window`: `size_seconds` (>0), `sliding_interval_seconds`
    *    (0 = tumbling, the reference's own convention), and
    *    `idx_of_ts_field` — the 0-based index into the row's capture
    *    groups (sql/squeryer.go:172-178 `row[opt.IdxOfTsField]`),
    *    resolved here against each source's OWN regex to the field
    *    NAME Spark windows need; absent defaults to 0 (the Go zero
    *    value of the missing YAML field — reference semantics), and
    *    an explicit -1 selects processing-time windows.
    *  - `sink`: `to` must be `stdout` (all the reference supports);
    *    `formatter` table/raw/rawV (case-insensitive) = our format.
    *  - `log.level`: logrus level, applied as the Spark log level.
    *  - `db_engine`: validated against the reference's set
    *    (sqlite/duckdb/qlbridge) then IGNORED by design — Spark SQL
    *    is the engine; a typo still fails loudly.
    *
    * The SQL itself is not part of the reference's YAML (it is the
    * query CLI argument there), so pass `--sql` next to `--config`.
    * Pure given `isDir`, so the spec pins the translation without
    * touching a filesystem.
    */
  def fromYaml(text: String,
               isDir: String => Boolean): (Seq[TailStream.Config], Option[String]) = {
    import graft.sources.YamlLite
    val root = YamlLite.parse(text)
    def intOf(m: YamlLite.Mapping, k: String, where: String): Option[Int] =
      m.scalar(k).filter(_.nonEmpty).map(v => v.toIntOption.getOrElse(
        sys.error(s"config.yaml: $where.$k must be an int, got '$v'")))
    def boolOf(m: YamlLite.Mapping, k: String, where: String): Option[Boolean] =
      m.scalar(k).filter(_.nonEmpty).map(v => v.toBooleanOption.getOrElse(
        sys.error(s"config.yaml: $where.$k must be a bool, got '$v'")))

    val win = root.get("window").map {
      case m: YamlLite.Mapping => m
      case _ => sys.error("config.yaml: 'window' must be a mapping")
    }
    val winSize = win.flatMap(intOf(_, "size_seconds", "window")) match {
      case Some(s) if s > 0 => s.toLong
      case Some(s) => sys.error(s"config.yaml: window.size_seconds must be > 0, got $s")
      case None => 60L
    }
    // the reference's own convention: sliding_interval_seconds 0 (or
    // absent) = tumbling window
    val slide = win.flatMap(intOf(_, "sliding_interval_seconds", "window"))
      .filter(_ > 0).map(_.toLong)
    // reference zero-value semantics: an absent YAML int is Go 0 and
    // sql/squeryer.go:172 treats idx >= 0 as event time from capture
    // group idx — so a present window mapping with NO idx_of_ts_field
    // means group 0; processing-time windows require an explicit -1
    val tsIdx = win.map(intOf(_, "idx_of_ts_field", "window").getOrElse(0))
      .filter(_ >= 0)

    val format = root.get("sink").map {
      case m: YamlLite.Mapping =>
        m.scalar("to").filter(_.nonEmpty).foreach(to => require(to == "stdout",
          s"config.yaml: sink.to '$to' is not supported; the reference sinks to stdout"))
        m.scalar("formatter").filter(_.nonEmpty).map(_.toLowerCase) match {
          case Some(f @ ("table" | "raw" | "rawv")) => f
          case Some(f) => sys.error(
            s"config.yaml: sink.formatter '$f' is not one of table/raw/rawV")
          case None => "table"
        }
      case _ => sys.error("config.yaml: 'sink' must be a mapping")
    }.getOrElse("table")

    val logLevel = root.get("log").map {
      case m: YamlLite.Mapping => m.scalar("level").filter(_.nonEmpty)
      case _ => sys.error("config.yaml: 'log' must be a mapping")
    }.getOrElse(None)

    root.scalar("db_engine").filter(_.nonEmpty).foreach { e =>
      require(Set("sqlite", "duckdb", "qlbridge")(e.toLowerCase),
        s"config.yaml: db_engine '$e' is not one of sqlite/duckdb/qlbridge " +
          "(the value is accepted for compatibility and ignored: Spark SQL is the engine)")
    }

    val files = root.get("files") match {
      case Some(YamlLite.Sequence(items)) if items.nonEmpty => items
      case Some(_) => sys.error("config.yaml: 'files' must be a non-empty sequence")
      case None => sys.error("config.yaml: 'files' is required")
    }
    val cfgs = files.zipWithIndex.map {
      case (m: YamlLite.Mapping, i) =>
        val path = m.scalar("path").filter(_.nonEmpty).getOrElse(
          sys.error(s"config.yaml: files[$i].path is required"))
        val regex = m.scalar("regex").filter(_.nonEmpty).getOrElse(
          sys.error(s"config.yaml: files[$i].regex is required — named capture " +
            "groups (?P<name__type>...) define the table columns"))
        val tsField = tsIdx.map { idx =>
          val fields = graft.sources.LogSource.compilePattern(regex).fields
          require(idx < fields.size, s"config.yaml: window.idx_of_ts_field $idx " +
            s"is out of range for files[$i].regex (${fields.size} capture groups)")
          fields(idx).name
        }
        val throttle = m.get("throttle").map {
          case t: YamlLite.Mapping =>
            intOf(t, "buffer_size", s"files[$i].throttle") // validated, ignored
            (intOf(t, "max_elements_in_period", s"files[$i].throttle").filter(_ > 0),
              intOf(t, "period_seconds", s"files[$i].throttle").filter(_ > 0).map(_.toLong))
          case _ => sys.error(s"config.yaml: files[$i].throttle must be a mapping")
        }.getOrElse((None, None))
        TailStream.Config(
          dir = path,
          pattern = regex,
          filter = m.scalar("filter").map(_.trim).filter(_.nonEmpty),
          windowSizeSec = winSize,
          slideSec = slide,
          tsField = tsField,
          sql = None, // the reference takes the SQL as a CLI argument
          format = format,
          doNotTail = boolOf(m, "do_not_tail", s"files[$i]").getOrElse(false),
          throttleMax = throttle._1,
          throttlePeriodSec = throttle._2,
          follow = !isDir(path))
      case (_, i) => sys.error(s"config.yaml: files[$i] must be a mapping")
    }
    (cfgs, logLevel)
  }

  /** Translate the repeated-flag form (N × `--dir`) into per-source
    * configs — the reference's `-f/-r/-F` slice semantics
    * (config/config.go NewCfg): patterns 1:1 with dirs, filters
    * absent or 1:1, window/format settings shared. Pure, spec-pinned.
    */
  def fromRepeatedFlags(a: Map[String, Seq[String]],
                        seekEnd: Boolean): Seq[TailStream.Config] = {
    val dirs = a.getOrElse("dir", Seq.empty)
    val patterns = a.getOrElse("pattern", Seq.empty)
    val filters = a.getOrElse("filter", Seq.empty)
    val throttlers = a.getOrElse("throttlers", Seq.empty)
    require(patterns.size == dirs.size,
      s"--pattern must repeat 1:1 with --dir (reference: 'regex num must " +
        s"match with files'); got ${dirs.size} dirs, ${patterns.size} patterns")
    require(filters.isEmpty || filters.size == dirs.size,
      s"--filter must be absent or repeat 1:1 with --dir (reference: " +
        s"'filters num must match with files'); got ${dirs.size} dirs, " +
        s"${filters.size} filters")
    require(throttlers.isEmpty || throttlers.size == dirs.size,
      s"--throttlers must be absent or repeat 1:1 with --dir (reference: " +
        s"'throttlers num must match with files'); got ${dirs.size} dirs, " +
        s"${throttlers.size} throttlers")
    dirs.indices.map { i =>
      val th = throttlers.lift(i).flatMap(parseThrottleOpt)
      TailStream.Config(
        dir = dirs(i),
        pattern = patterns(i),
        filter = filters.lift(i).map(_.trim).filter(_.nonEmpty),
        throttleMax = th.map(_._1),
        throttlePeriodSec = th.map(_._2),
        maxFilesPerTrigger = one(a, "max-files-per-trigger").map(_.toInt),
        windowSizeSec = one(a, "window").map(_.toLong).getOrElse(60L),
        slideSec = one(a, "slide").map(_.toLong),
        tsField = one(a, "ts-field"),
        watermarkDelay = one(a, "watermark").getOrElse("10 minutes"),
        sql = one(a, "sql"),
        format = one(a, "format").getOrElse("table"),
        doNotTail = !seekEnd)
    }
  }

  /** logrus level → Spark log level. The sets differ: logrus has
    * `warning` (an alias of `warn`) and `panic` (above `fatal`),
    * neither a valid Spark level — a reference config with
    * `log.level: warning` must not make `setLogLevel` throw. Unknown
    * names pass through upper-cased so Spark's own error names the
    * bad value.
    */
  private[graft] def logrusToSpark(level: String): String =
    level.toLowerCase match {
      case "warning" => "WARN"
      case "panic"   => "FATAL"
      case other     => other.toUpperCase
    }

  def main(args: Array[String]): Unit =
    runCli(args, s => if (s.nonEmpty) println(s))

  /** The whole CLI, with the result sink injectable so the spec can
    * drive a real two-source run end to end and capture its output.
    * Every input form becomes sources plus an optional join; one
    * session, checkpoint and trigger then start them.
    */
  private[graft] def runCli(args: Array[String], sink: String => Unit,
                            stopSparkOnExit: Boolean = true): Unit = {
    val a = parseArgs(args.filterNot(Flags))
    val (cfgs, joinKeys, fileLogLevel) = one(a, "config") match {
      case Some(path) =>
        val (cfgs, logLevel) = fromConfigFile(path, a, args)
        (cfgs, None, logLevel)
      case None =>
        val (cfgs, joinKeys) = fromFlags(a, args)
        (cfgs, joinKeys, None)
    }
    val spark = GraftSession.get()
    // the reference's -l/--log-level (logrus levels): the file's
    // log.level applies first, an explicit --log-level wins
    (fileLogLevel ++ one(a, "log-level")).foreach(l =>
      spark.sparkContext.setLogLevel(logrusToSpark(l)))
    val ckpt = one(a, "checkpoint").getOrElse(
      java.nio.file.Files.createTempDirectory("graft-tailapp").toString)
    val trigger =
      if (args.contains("--once")) Trigger.AvailableNow()
      else Trigger.ProcessingTime(
        one(a, "trigger-sec").getOrElse("5").toLong * 1000L)
    TailStream.start(spark, cfgs, ckpt, sink, trigger,
      snapshot = args.contains("--snapshot"), joinKeys = joinKeys).awaitTermination()
    if (stopSparkOnExit) spark.stop()
  }

  /** The `--config` form: sources from the file, with the explicit CLI
    * overrides applied, plus the file's log level (yaml only).
    */
  private def fromConfigFile(path: String, a: Map[String, Seq[String]],
                             args: Array[String]): (Seq[TailStream.Config], Option[String]) = {
    // only these flags override the file; anything else would be
    // silently ignored — reject it instead of misleading the operator
    val overridable =
      Set("config", "sql", "format", "checkpoint", "trigger-sec", "log-level")
    val unsupported = (a.keySet -- overridable).toSeq.sorted
    require(unsupported.isEmpty,
      s"--config supports only --sql/--format/--checkpoint/--trigger-sec" +
        s"/--log-level/--once/--snapshot as overrides; set the rest in the " +
        s"file. Unsupported here: ${unsupported.map("--" + _).mkString(", ")}")
    // bare flags are stripped before parseArgs, so they need their own
    // check — --seek-end/--stdin with --config would otherwise be
    // silently ignored (seek behavior comes from each source's
    // do_not_tail; spooled input has no config-file form)
    val unsupportedBare = args.filter(Flags).filterNot(Set("--once", "--snapshot"))
    require(unsupportedBare.isEmpty,
      s"${unsupportedBare.mkString(", ")} cannot combine with --config; " +
        "set source.N.do_not_tail in the file instead of --seek-end")
    // a .yaml/.yml path loads the reference's OWN config schema
    // (config/config.go) verbatim; anything else the properties form
    val (cfgs, yamlLogLevel) =
      if (path.endsWith(".yaml") || path.endsWith(".yml")) {
        val text = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
          java.nio.charset.StandardCharsets.UTF_8)
        fromYaml(text,
          p => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p)))
      } else {
        val props = new java.util.Properties()
        val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
        try props.load(in) finally in.close()
        (fromProperties(props), None)
      }
    // explicit CLI flags win over the file
    (cfgs.map(c => c.copy(
      sql = one(a, "sql").orElse(c.sql),
      format = one(a, "format").getOrElse(c.format))), yamlLogLevel)
  }

  /** The flag forms: repeated `--dir` (N sources); one `--dir`,
    * `--follow-file`, `--stdin` or `--pipe` (N = 1, read through
    * [[fromRepeatedFlags]] with the followed or spooled path as its dir);
    * and `--dir2`/`--join-keys`, which joins a second source to it.
    */
  private def fromFlags(a: Map[String, Seq[String]],
                        args: Array[String]): (Seq[TailStream.Config], Option[Seq[String]]) = {
    val seekEnd = args.contains("--seek-end")
    // the slice flags must pair 1:1 with --dir even when --dir is NOT
    // repeated — `--dir /a --pattern p1 --pattern p2` would otherwise
    // silently truncate to p1 (the reference rejects it: "regex num
    // must match with files")
    val nDirs = a.getOrElse("dir", Seq.empty).size
    for (k <- Seq("pattern", "filter", "throttlers"))
      require(a.getOrElse(k, Seq.empty).size <= math.max(nDirs, 1),
        s"--$k given ${a(k).size} times for $nDirs --dir value(s); " +
          "slice flags pair 1:1 with --dir")
    if (nDirs > 1) {
      // repeated --dir = the reference's N-source slice-flag form
      val incompatible = Seq("dir2", "pattern2", "filter2", "join-keys",
        "follow-file", "pipe").filter(a.contains) ++
        (if (args.contains("--stdin")) Seq("stdin") else Nil)
      require(incompatible.isEmpty,
        s"repeated --dir cannot combine with ${incompatible.map("--" + _).mkString(", ")}" +
          "; each repeated source is a tailed directory")
      return (fromRepeatedFlags(a, seekEnd), None)
    }
    // the second-source flags only mean something with --dir2; without
    // it they would be ignored, so reject them as --config does
    val orphans = if (a.contains("dir2")) Nil
      else Seq("pattern2", "filter2", "join-keys").filter(a.contains)
    require(orphans.isEmpty,
      s"${orphans.map("--" + _).mkString(", ")} given without --dir2; " +
        "they configure the second source of a join")
    // --stdin / --pipe <fifo>: spool the push-style input into a temp
    // directory and tail THAT — the reference's stdin/namedpipe sources
    // (source/stdin.go, source/namedpipe.go). With --once the spool is
    // drained to EOF first so AvailableNow sees the complete input.
    val spooledDir: Option[String] =
      if (args.contains("--stdin") || a.contains("pipe")) {
        val d = java.nio.file.Files.createTempDirectory("graft-spool")
        val in: java.io.InputStream = one(a, "pipe")
          .map(p => new java.io.FileInputStream(p): java.io.InputStream)
          .getOrElse(System.in)
        val th = graft.sources.StdinSpool.spool(in, d)
        // bounded run: drain to EOF and refuse to process a spool a
        // mid-stream I/O failure truncated
        if (args.contains("--once")) th.joinAndCheck()
        Some(d.toString)
      } else None
    val followFile = one(a, "follow-file")
    val dir = spooledDir.orElse(followFile).getOrElse(
      one(a, "dir").getOrElse(
        sys.error("--dir, --follow-file, --stdin or --pipe is required")))
    if (!a.contains("pattern")) sys.error("--pattern is required")
    // CLI default processes what's in the dir (useful with --once);
    // --seek-end gives the reference's tail-from-now behavior
    val cfg = fromRepeatedFlags(a.updated("dir", Seq(dir)), seekEnd).head.copy(
      follow = spooledDir.isEmpty && followFile.isDefined,
      followMaxBytes = one(a, "max-bytes-per-trigger").map(_.toLong))
    one(a, "dir2") match {
      case Some(dir2) =>
        val cfg2 = cfg.copy(dir = dir2,
          pattern = one(a, "pattern2").getOrElse(cfg.pattern),
          filter = one(a, "filter2").map(_.trim).filter(_.nonEmpty))
        (Seq(cfg, cfg2), Some(one(a, "join-keys").map(_.split(",").toSeq).getOrElse(Seq.empty)))
      case None => (Seq(cfg), None)
    }
  }
}
