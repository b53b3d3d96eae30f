package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The tailsql line parser re-expressed as Catalyst expressions.
  *
  * The reference (sql/lparser.go:30-150) compiles a Go regex whose
  * named capture groups `(?P<field__type>...)` define a typed table
  * row; each input line is matched, non-matching lines are dropped,
  * and matched groups are converted to bool/int/float/date/str.
  *
  * Here the same pattern syntax compiles to a plain-group Java regex,
  * matched once per line by [[graft.functions.RegexGroups]] into a
  * struct of all groups; each field is then a `cast` of its group, and
  * `date` fields go through [[graft.functions.ParseAnyDate]]. Everything
  * is a Catalyst expression with generated code, so parsing stays
  * inside whole-stage codegen and scales as a narrow map over text
  * partitions — no UDFs, no shuffle, linear at 100 TB.
  */
object LogSource {

  /** One typed field parsed from a named capture group. */
  final case class LogField(name: String, typeName: String, groupIndex: Int) {
    def dataType: DataType = typeName match {
      case "bool"  => BooleanType
      case "int"   => LongType
      case "float" => DoubleType
      case "date"  => TimestampType
      case _       => StringType
    }
  }

  /** Compiled pattern: Java regex with plain groups + field metadata. */
  final case class LogPattern(javaRegex: String, fields: Seq[LogField]) {
    def schema: StructType =
      StructType(fields.map(f => StructField(f.name, f.dataType, nullable = true)))
  }

  /** Translate a tailsql pattern (Go `(?P<name__type>...)` groups) to a
    * Java regex with anonymous groups, recording field name/type and
    * 1-based group index. Unnamed capturing groups are preserved and
    * counted; non-capturing constructs pass through.
    */
  def compilePattern(pattern: String): LogPattern = {
    val out = new StringBuilder
    val fields = Seq.newBuilder[LogField]
    var groupIdx = 0
    var i = 0
    var inClass = false
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == '\\' && i + 1 < pattern.length) {
        out.append(c).append(pattern.charAt(i + 1)); i += 2
      } else if (inClass) {
        if (c == ']') inClass = false
        out.append(c); i += 1
      } else if (c == '[') {
        inClass = true; out.append(c); i += 1
      } else if (c == '(') {
        if (pattern.startsWith("(?P<", i)) {
          val end = pattern.indexOf('>', i + 4)
          require(end > 0, s"unterminated named group at $i in: $pattern")
          val meta = pattern.substring(i + 4, end)
          val sep = meta.lastIndexOf("__")
          val (fname, ftype) =
            if (sep > 0) (meta.substring(0, sep), meta.substring(sep + 2))
            else (meta, "str")
          groupIdx += 1
          fields += LogField(fname, ftype, groupIdx)
          out.append('('); i = end + 1
        } else if (i + 1 < pattern.length && pattern.charAt(i + 1) == '?') {
          out.append(c); i += 1 // non-capturing / lookaround: pass through
        } else {
          groupIdx += 1 // anonymous capturing group: keep index space
          out.append(c); i += 1
        }
      } else {
        out.append(c); i += 1
      }
    }
    LogPattern(out.toString, fields.result())
  }

  /** Lenient timestamp parsing, mirroring dateparse.ParseAny
    * (lparser.go:137): [[graft.functions.ParseAnyDate]] recognizes the
    * layout once from the string's width and separator positions and
    * parses it once. Numeric layouts (ISO/space/slash/`T`, fractions,
    * zones, `yyyyMMdd`, epoch seconds and millis) are computed directly;
    * month-name layouts (access log, RFC1123/822, US forms) make one
    * parse with the recognized layout's formatter. Resolution contract:
    * a 7-9 digit fraction truncates to µs, RFC1123's day name is
    * dropped unchecked, an impossible value in a recognized shape (month
    * 13, Feb 30) is NULL, and zone-less input resolves in the session
    * time zone as Spark's own parser resolves it. The full layout list
    * is on [[graft.functions.ParseAnyDate]].
    */
  def parseAnyDate(c: Column): Column = graft.functions.ParseAnyDate(c)

  private def castField(raw: Column, f: LogField): Column = f.typeName match {
    case "date" => parseAnyDate(raw).as(f.name)
    case "bool" =>
      // Go strconv.ParseBool accepts 1/t/T/TRUE/true/True & 0/f/F/FALSE/false/False
      when(lower(raw).isin("1", "t", "true"), lit(true))
        .when(lower(raw).isin("0", "f", "false"), lit(false))
        .otherwise(lit(null).cast(BooleanType))
        .as(f.name)
    case _ => raw.cast(f.dataType).as(f.name)
  }

  /** The parse path's survival predicate as a bare Column: TRUE iff
    * the line would come through [[parse]] — the SAME compiled
    * pattern and the same single [[graft.functions.RegexGroups]]
    * pass, just surfaced as a boolean instead of a dropped row. For
    * monitors that need parsed/total in ONE corpus scan (a separate
    * parse() pass plus a raw-line pass reads and regexes every line
    * twice).
    */
  def parses(lineCol: Column, pattern: String): Column = {
    val lp = compilePattern(pattern)
    val maxGroup = lp.fields.map(_.groupIndex).maxOption.getOrElse(0)
    graft.functions.RegexGroups(lineCol, lp.javaRegex, maxGroup).isNotNull
  }

  /** Parse a DataFrame of raw lines into the typed table the pattern
    * declares. Non-matching lines are dropped (lparser.go:96-104).
    *
    * Each line is parsed once: the regex automaton runs ONCE per line
    * ([[graft.functions.RegexGroups]] — null struct = no match), and
    * the typed row is produced by a generator, `inline` over a
    * zero-or-one element array of the cast fields. A filter or window
    * over the parsed columns cannot be pushed below a generator's
    * output, so it reads the parsed row instead of getting its own
    * inlined copy of the regex and the date parse, as it would through
    * a plain projection. All of it stays inside whole-stage codegen.
    *
    * By design the optimizer cannot prune the generator's fields: every
    * field the pattern declares, a `date` parse included, is computed
    * for every matched line, before any filter, even when the query
    * reads only some of them.
    */
  def parse(lines: DataFrame, pattern: String, lineCol: String = "value",
            tname: Option[String] = None, withRowId: Boolean = false): DataFrame = {
    val lp = compilePattern(pattern)
    val maxGroup = lp.fields.map(_.groupIndex).maxOption.getOrElse(0)
    val g = col("_g")
    val row = struct(lp.fields.map(f => castField(g.getField(s"g${f.groupIndex}"), f)): _*)
    val parsed = lines
      .select(graft.functions.RegexGroups(col(lineCol), lp.javaRegex, maxGroup).as("_g"))
      .select(inline(when(g.isNotNull, array(row))))
    val meta = tname.map(t => lit(t).as("_tname")).toSeq ++ (if (withRowId)
      // the reference's __id sequence (lparser.go metadata): the
      // distributed analogue is a unique (partition-encoded, not
      // contiguous) row id — no global coordination
      Seq(monotonically_increasing_id().as("_id"))
    else Seq.empty)
    parsed.select(col("*") +: meta: _*)
  }

  /** Batch read of a whole log file — the reference's `do_not_tail`
    * mode (config.yaml / squeryer.go:100). `filter` is a SQL WHERE
    * expression applied pre-window, as in squeryer.go:139.
    */
  def batch(spark: SparkSession, path: String, pattern: String,
            filter: Option[String] = None, tname: Option[String] = None): DataFrame = {
    val parsed = parse(spark.read.text(path), pattern, tname = tname)
    filter.fold(parsed)(f => parsed.filter(expr(f)))
  }

  /** Streaming read of a directory of log files — the `tail -f`
    * analogue. New files appearing in the dir are the streaming-world
    * equivalent of lines appended to a followed file; Spark's
    * FileStreamSource checkpoints progress. `maxFilesPerTrigger`
    * plays the reference throttler's role (squeryer.go:352) at the
    * source: bound how much enters each micro-batch.
    */
  def stream(spark: SparkSession, dir: String, pattern: String,
             filter: Option[String] = None,
             maxFilesPerTrigger: Option[Int] = None,
             tname: Option[String] = None,
             sinceMs: Option[Long] = None): DataFrame = {
    var reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    // sinceMs = the reference's seek-to-end (`do_not_tail=false`,
    // source/fs.go): only rows from files modified at/after the cutoff
    // survive — pre-existing log content is skipped, rotation/new files
    // flow. This is a row-level filter on `_metadata` (old files may
    // still be listed and decoded unless Spark's metadata-filter
    // pruning kicks in); for directories with a deep history, pre-list
    // and pass an explicit glob to avoid scanning cold files.
    // NOT a `maxFileAge` listing prune: that cutoff is RELATIVE to the
    // newest-seen file and keeps advancing, so on a stream running
    // longer than any fixed slack it overtakes the sinceMs contract
    // and silently drops late-appearing files (e.g. restored with a
    // preserved old mtime) that the row filter would admit.
    val raw = sinceMs.fold(reader.text(dir))(ms => reader.text(dir)
      .filter(col("_metadata.file_modification_time") >= timestamp_millis(lit(ms))))
    val parsed = parse(raw, pattern, tname = tname)
    filter.fold(parsed)(f => parsed.filter(expr(f)))
  }

  /** Follow ONE growing file by byte offset — the reference's actual
    * `tail -f` (source/fs.go:24-66 Follow+ReOpen), backed by the
    * [[FollowFileDataSource]] micro-batch stream: checkpointed byte
    * offsets, line-boundary flooring (no partial lines), rotation-safe
    * reopen-from-zero when the file shrinks. `seekToEnd` is the
    * reference's `do_not_tail=false` default: start at the current
    * EOF instead of byte 0. `maxBytesPerTrigger` bounds a micro-batch
    * the way maxFilesPerTrigger does for the directory source.
    */
  def followFile(spark: SparkSession, path: String, pattern: String,
                 filter: Option[String] = None,
                 tname: Option[String] = None,
                 seekToEnd: Boolean = false,
                 maxBytesPerTrigger: Option[Long] = None): DataFrame = {
    var reader = spark.readStream.format("follow-file")
      .option("path", path).option("seekToEnd", seekToEnd.toString)
    maxBytesPerTrigger.foreach(m => reader = reader.option("maxBytesPerTrigger", m.toString))
    val parsed = parse(reader.load(), pattern, tname = tname)
    filter.fold(parsed)(f => parsed.filter(expr(f)))
  }

  /** Socket text source — the streaming analogue of the reference's
    * stdin / named-pipe inputs (source/stdin.go, source/namedpipe.go):
    * something external pushes lines, we parse them as they arrive.
    * Dev/debug tool, same caveats as Spark's socket source (not
    * fault-tolerant; use the file/dir source for production tails).
    */
  def socket(spark: SparkSession, host: String, port: Int, pattern: String,
             filter: Option[String] = None): DataFrame = {
    val lines = spark.readStream
      .format("socket").option("host", host).option("port", port).load()
    val parsed = parse(lines, pattern)
    filter.fold(parsed)(f => parsed.filter(expr(f)))
  }

  /** The reference's `randfilter(rate)` sampling (sql/funcs.go:14):
    * keep each row with probability `rate`. Seeded for reproducible
    * runs; still nondeterministic across partitionings, as in the
    * original (rand per evaluation).
    */
  def randFilter(df: DataFrame, rate: Double, seed: Long = 42L): DataFrame =
    df.filter(rand(seed) < rate)
}
