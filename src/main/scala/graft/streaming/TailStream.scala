package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Throttle
import graft.sinks.Formatters
import graft.sources.LogSource

/** The reference's whole pipeline (sql/squeryer.go:370-430) as one
  * Structured Streaming builder, [[TailStream.start]], for any number of
  * tailed sources:
  *
  * {{{
  * tail(dir) -> regex parse -> filter -> throttle -> window
  *   -> arbitrary SQL over the window -> stdout formatter
  * }}}
  *
  * Mapping to Spark primitives:
  *  - tail -f / ReOpen     -> FileStreamSource on a directory (new
  *    data arrives as new files; checkpointed, replayable), or with
  *    `follow` the FollowFile source on ONE growing file (checkpointed
  *    byte offsets, reopen on truncation), which reads each
  *    micro-batch as line-aligned byte ranges in parallel — a backlog
  *    parses on every core, a small live batch stays one range
  *  - batch bound          -> maxFilesPerTrigger (directory) or
  *    followMaxBytes (follow-file); the reference's row throttle is
  *    [[Throttle.streaming]]
  *  - tumbling/sliding     -> window(ts, size, slide) + watermark
  *    (event time), or window over the ingest timestamp
  *    (processing time, reference default when idx_of_ts_field < 0)
  *  - per-window SQL       -> one foreachBatch: register each source's
  *    rows as t0..tN, run the user's SQL — the exact "snapshot table per
  *    window fire" semantics of the reference's in-mem engine, except
  *    distributed. As in any SQL table, t0's rows have no defined
  *    order: a query whose output depends on row order needs an ORDER BY
  *  - sink table/raw/rawv  -> Formatters over the (small) SQL result
  *
  * State at 100 TB: the watermark bounds window state; the shuffle is
  * on (window, keys) only; parsing stays a narrow map on the source.
  *
  * State plan and checkpoints: in snapshot mode the window state depends
  * on the SQL. Decomposable aggregate SQL holds partials keyed on
  * (window, its grouping columns); any other SQL holds the window's rows
  * (see [[TailStream.start]]). The first start writes that state plan
  * into the checkpoint (`graft_state_plan`), and restarting the
  * checkpoint under SQL that picks the other plan, other grouping
  * columns or other aggregates fails at start, before any batch runs or
  * any sink call. A change above the aggregate (ORDER BY, HAVING on the
  * same aggregates, the projection) keeps the plan and restarts.
  *
  * Delivery semantics: the SOURCE side is exactly-once (checkpointed
  * file offsets; a restarted query never re-reads processed files),
  * but the stdout-style `sink` callback runs inside foreachBatch and
  * is therefore at-least-once under failure/retry — a batch that
  * crashes after printing re-prints on restart. Sinks needing
  * exactly-once should write through an idempotent/transactional
  * target (e.g. overwrite-by-batchId parquet) instead of a console
  * formatter, exactly as with any Spark foreachBatch sink.
  */
object TailStream {

  /** The SQL a run fires when its config gives none. */
  val DefaultSql: String =
    "SELECT window_start, window_end, count(*) AS n FROM t0 GROUP BY 1, 2 ORDER BY 1"

  final case class Config(
      dir: String,
      pattern: String,
      filter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None,
      windowSizeSec: Long = 60L,
      slideSec: Option[Long] = None,
      tsField: Option[String] = None, // event-time column; None => processing time
      watermarkDelay: String = "10 minutes",
      sql: Option[String] = None,     // runs per window-fire over view t0
      format: String = "table",
      // the reference's do_not_tail (config.yaml): true = process files
      // already in the dir (this API's historical behavior, so the
      // default); false = the reference's default tail -f seek-to-end —
      // only files modified after the stream starts are read.
      doNotTail: Boolean = true,
      // pin the seek-to-end cutoff (epoch ms) instead of "stream start";
      // None + doNotTail=false resolves to the wall clock at plan time
      tailSince: Option[Long] = None,
      // the reference's per-source row throttle (squeryer.go:352): at
      // most N rows admitted per period, overflow discarded, counted
      // exactly across micro-batches. Event-time based: requires
      // tsField. periodSec defaults to the window size.
      throttleMax: Option[Int] = None,
      throttlePeriodSec: Option[Long] = None,
      // true = `dir` is ONE growing file, followed by byte offset
      // (LogSource.followFile) — the reference's same-file tail -f.
      // doNotTail=false then means byte-level seek-to-end, and
      // followMaxBytes bounds each micro-batch.
      follow: Boolean = false,
      followMaxBytes: Option[Long] = None)

  /** source → parse → filter → throttle, as an unbounded DataFrame.
    * `tname` tags every row for the multi-source union ([[start]] with
    * N > 1) — the tag rides through the throttle, which
    * keeps the full row schema.
    */
  def parsed(spark: SparkSession, cfg: Config,
             tname: Option[String] = None): DataFrame = {
    requireThrottleTs(cfg)
    val base = if (cfg.follow) {
      LogSource.followFile(spark, cfg.dir, cfg.pattern, cfg.filter,
        tname = tname, seekToEnd = !cfg.doNotTail,
        maxBytesPerTrigger = cfg.followMaxBytes)
    } else {
      val sinceMs =
        if (cfg.doNotTail) None
        else Some(cfg.tailSince.getOrElse(System.currentTimeMillis()))
      LogSource.stream(spark, cfg.dir, cfg.pattern, cfg.filter,
        cfg.maxFilesPerTrigger, tname = tname, sinceMs = sinceMs)
    }
    cfg.throttleMax match {
      case Some(n) =>
        Throttle.streaming(base, cfg.tsField.get,
          cfg.throttlePeriodSec.getOrElse(cfg.windowSizeSec), n, cfg.watermarkDelay)
      case None => base
    }
  }

  private def requireThrottleTs(cfg: Config): Unit =
    require(cfg.throttleMax.isEmpty || cfg.tsField.isDefined,
      s"${cfg.dir}: a throttle needs tsField — admissions are counted per event-time period")

  /** Add the window column: event time (with watermark) if tsField is
    * set, else processing time — the reference's
    * `idx_of_ts_field < 0` default (squeryer.go:181).
    */
  def windowed(df: DataFrame, cfg: Config): DataFrame = {
    val size = s"${cfg.windowSizeSec} seconds"
    val slide = s"${cfg.slideSec.getOrElse(cfg.windowSizeSec)} seconds"
    cfg.tsField match {
      case Some(ts) =>
        df.withWatermark(ts, cfg.watermarkDelay)
          .withColumn("window", window(col(ts), size, slide))
      case None =>
        df.withColumn("_proc_ts", current_timestamp())
          .withColumn("window", window(col("_proc_ts"), size, slide))
          .drop("_proc_ts")
    }
  }

  /** The reference's multi-file SQL (JOIN across t0..tN inside one
    * window snapshot, squeryer.go:228) in its Spark-native form: a
    * watermarked stream-stream join. Each source parses and windows
    * independently; joining on (window, keys) matches exactly the rows
    * a per-window snapshot engine would co-locate. Watermarks bound
    * both sides' join state, so at 100 TB each executor holds one
    * window's worth of keys — not the stream history.
    *
    * Right-side columns (other than the join columns) are suffixed
    * `_1`, mirroring the reference's t1 naming, so the flat result
    * view has unique names for downstream SQL.
    */
  def joinedStreams(spark: SparkSession, left: Config, right: Config,
                    keys: Seq[String]): DataFrame = {
    // Event time is mandatory here: without watermarks the join state
    // grows forever, and processing-time windows would only match rows
    // that happen to be picked up in the same wall-clock window.
    require(left.tsField.isDefined && right.tsField.isDefined,
      "joinedStreams needs tsField on both sources (stream-stream joins " +
        "require watermarked event time)")
    // After windowing, both the raw ts and the window column carry the
    // event-time watermark tag; a stream-stream join allows only one
    // event-time column per side, so the raw ts is dropped — `window`
    // IS the reference's per-snapshot time key.
    val l = windowed(parsed(spark, left), left)
      .drop(left.tsField.toSeq: _*)
    val r0 = windowed(parsed(spark, right), right)
      .drop(right.tsField.toSeq: _*)
    val joinCols = "window" +: keys
    val r = r0.columns.foldLeft(r0)((df, c) =>
      if (joinCols.contains(c)) df else df.withColumnRenamed(c, s"${c}_1"))
    l.join(r, joinCols)
  }

  /** A view [[fire]] registers: `tname` keeps only the rows carrying
    * that `_tname` tag (None = all rows), `cols` are the source's own
    * columns.
    */
  private case class View(name: String, tname: Option[String], cols: Seq[String])

  /** The reference's one pipeline (squeryer.go:370-430) for any number
    * of tailed sources: merge them, window once, load each source as its
    * own view t0..tN, run the SQL and sink the result. One source is
    * simply N = 1.
    *
    * Input side:
    *  - `joinKeys = None`: every source parses on its own (pattern,
    *    filter, throttle, seek-to-end, tsField name) and windows under
    *    the FIRST config's window/slide/watermark (the reference's
    *    WindowCfg is likewise global). With N > 1 each row is tagged
    *    `_tname` = t<i> and the streams union by name (missing columns
    *    null-filled), so all tails share one checkpoint and one trigger
    *    clock, like the reference's single merged window stage — "create
    *    multi table by metafield __tname" (squeryer.go:429). Each source
    *    comes back as view t<i> restricted to its own columns. N = 1 adds
    *    no tag and no union.
    *  - `joinKeys = Some(keys)`: exactly two sources through
    *    [[joinedStreams]], seen as one view t0.
    *
    * Output side, `snapshot = false` (INCREMENTAL): each micro-batch's
    * rows fire the SQL once. A window whose rows span several
    * micro-batches is reported once per batch, over that batch's rows
    * only — a partial, incremental preview (useful as a low-latency
    * tail).
    *
    * `snapshot = true` (COMPLETE WINDOW, needs `tsField` on every
    * source): the SQL fires exactly once per window, over that window's
    * full contents, when the event-time watermark closes it — the
    * reference's window-snapshot semantics made distributed. The window
    * state is a watermarked APPEND-mode aggregate grouped by `window`, so
    * a group only reaches the batch once the watermark passes the window
    * end, and every closing window fires once, in window order. What the
    * state holds is chosen once, at start, from the ANALYZED SQL
    * ([[WindowPartials.choose]]), never from its text:
    *  - PARTIALS, when the SQL is Sort/Limit/Project/Filter (HAVING)
    *    operators over one Aggregate of t0 itself, grouped by plain t0
    *    columns or by nothing, whose aggregates are all non-DISTINCT,
    *    un-FILTERed count, min, max, sum or avg, with sums and averages
    *    over integral or decimal values ([[DefaultSql]] and the usual
    *    per-window `GROUP BY` qualify). The state is grouped by window
    *    plus the SQL's grouping columns and holds their running
    *    aggregates: one row per (window, group), not per line. A closing
    *    window's partial rows come to the driver, and only the operators
    *    above the Aggregate run, in one partition, over those few rows.
    *  - ROWS, for everything else: N-source `_tname` views, joins, a
    *    WHERE under the aggregate, DISTINCT or FILTER aggregates, float
    *    sums, percentiles, `first`, window functions, SQL without an
    *    aggregate. Rows are packed per (window, shard), sharded `shards`
    *    ways across executors so no single task holds a hot window. The
    *    batch caches the packed groups (one row per (window, shard)
    *    holding window_start, window_end and the `_rows` array), reads
    *    the closing windows off that small frame, and each view explodes
    *    only the selected window's groups, so a fire scans the rows of its
    *    window, not of the whole batch. A join feeds the same packing (two
    *    chained stateful operators — join state then window state, both
    *    watermark-bounded). Buffering rows is inherent to arbitrary SQL
    *    over the complete window (the reference holds the window in an
    *    in-memory database on one node).
    * Both plans print the same bytes for the same SQL and close each
    * window on the same batch. A backlog drain from a followed file reads
    * its first batch as several byte ranges, so the aggregation before the
    * state shuffle runs on every core.
    *
    * The SQL (default [[DefaultSql]]) and the format come from the first
    * config. `checkpointDir` makes the stream restartable (the
    * reference's seek-to-end tail has no such guarantee — this is
    * strictly stronger).
    */
  def start(spark: SparkSession, sources: Seq[Config], checkpointDir: String,
            sink: String => Unit = s => if (s.nonEmpty) println(s),
            trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
            snapshot: Boolean = false, joinKeys: Option[Seq[String]] = None,
            shards: Int = 32): StreamingQuery = {
    require(sources.nonEmpty, "start needs at least one source")
    sources.foreach(requireThrottleTs)
    require(!snapshot || sources.forall(_.tsField.isDefined),
      "snapshot mode needs tsField on every source: fire-once-per-complete-window " +
        "is defined by the event-time watermark (use incremental mode for " +
        "processing-time tails)")
    val (stream, views) = joinKeys match {
      case Some(keys) =>
        require(sources.size == 2, s"a join needs exactly 2 sources, got ${sources.size}")
        val joined = joinedStreams(spark, sources(0), sources(1), keys)
        (joined, Seq(View("t0", None, joined.columns.filterNot(_ == "window").toSeq)))
      case None =>
        def tag(i: Int): Option[String] = if (sources.size > 1) Some(s"t$i") else None
        // each source keeps its own throttle and seek-to-end config;
        // only the WINDOW settings come from the first config
        val parts = sources.zipWithIndex.map { case (c, i) =>
          windowed(parsed(spark, c, tname = tag(i)), sources.head.copy(tsField = c.tsField))
        }
        (parts.reduce(_.unionByName(_, allowMissingColumns = true)),
          parts.zipWithIndex.map { case (p, i) =>
            View(s"t$i", tag(i), p.columns.filterNot(c => c == "window" || c == "_tname").toSeq)
          })
    }
    val sql = sources.head.sql.getOrElse(DefaultSql)
    val format = sources.head.format
    val dataCols = stream.columns.filterNot(_ == "window").toSeq
    val partials =
      if (!snapshot || !partialsEnabled || views.size != 1 || joinKeys.isDefined) None
      else WindowPartials.choose(spark, stream.select(dataCols.map(col) ++ bounds: _*).schema, sql)
    if (snapshot) pinStatePlan(spark, checkpointDir, partials.fold("rows")(_.layout))
    val out =
      if (!snapshot) stream
      else partials match {
        case Some(p) => byWindow(stream.select(col("*") +: bounds: _*), p.keys.map(col), p.aggs)
        case None => byWindow(stream,
          Seq(pmod(xxhash64(dataCols.map(col): _*), lit(shards)).as("_shard")),
          Seq(collect_list(struct(dataCols.map(col): _*)).as("_rows")))
      }
    out.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!snapshot) fire(flatWindow(batch, dataCols), views, sql, format, sink)
        else partials match {
          case Some(p) =>
            // one row per (window, group): the closing windows' partials
            // come to the driver once, and each fire reads only its own
            val rows = flatWindow(batch, p.columns)
            rows.collect().groupBy(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
              .foreach { case (_, part) =>
                val partDf = batch.sparkSession.createDataFrame(part.toSeq.asJava, rows.schema)
                sink(Formatters.format(p.finish(partDf), format, Some(sql)))
              }
          case None =>
            // one cached row per (window, shard); rows explode per window
            val packed = flatWindow(batch, Seq("_rows")).persist()
            try {
              // the set of windows closing per trigger is small
              // (trigger/slide bounded)
              val wins = packed.select("window_start", "window_end").distinct()
                .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
              wins.foreach { case (ws, we) =>
                val w = packed.filter(col("window_start") === ws && col("window_end") === we)
                  .select(col("window_start"), col("window_end"), explode(col("_rows")).as("_r"))
                  .select(Seq(col("window_start"), col("window_end")) ++
                    dataCols.map(c => col(s"_r.$c").as(c)): _*)
                fire(w, views, sql, format, sink)
              }
            } finally { packed.unpersist(); () }
        }
      }
      .start()
  }

  /** Test hook: false keeps every snapshot SQL on row packing, the plan
    * the partial plan must reproduce byte for byte. */
  @volatile private[streaming] var partialsEnabled: Boolean = true

  /** A snapshot checkpoint's window state depends on the SQL: rows, or
    * partials keyed on its grouping columns. The first start writes the
    * state plan into the checkpoint; a restart under SQL that needs
    * another plan fails here, before the query runs a batch.
    */
  private def pinStatePlan(spark: SparkSession, checkpointDir: String, layout: String): Unit = {
    val path = new Path(checkpointDir, "graft_state_plan")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) {
      val in = fs.open(path)
      val held = try new String(in.readAllBytes(), UTF_8) finally in.close()
      require(held == layout,
        s"checkpoint $checkpointDir holds window state as [$held], but this SQL needs [$layout]: " +
          "restart it with SQL of the same state plan, or from a new checkpoint")
    } else {
      val out = fs.create(path, false)
      try out.write(layout.getBytes(UTF_8)) finally out.close()
    }
  }

  /** Groups a windowed stream by `window` plus `keys`: the watermarked
    * Append-mode aggregate behind both snapshot state plans and
    * [[windowedAgg]]. */
  private def byWindow(df: DataFrame, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(col("window") +: keys: _*).agg(aggs.head, aggs.tail: _*)

  /** The `window` struct as window_start/window_end epoch seconds,
    * followed by the `rest` columns.
    */
  private def flatWindow(df: DataFrame, rest: Seq[String]): DataFrame =
    df.select(bounds ++ rest.map(col): _*)

  private def bounds: Seq[Column] = Seq(
    unix_timestamp(col("window.start")).as("window_start"),
    unix_timestamp(col("window.end")).as("window_end"))

  /** One SQL fire: register every view over `rows` (window bounds already
    * flat), run the SQL and hand the formatted result to the sink.
    */
  private def fire(rows: DataFrame, views: Seq[View], sql: String, format: String,
                   sink: String => Unit): Unit = {
    views.foreach { v =>
      v.tname.map(t => rows.filter(col("_tname") === t)).getOrElse(rows)
        .select((v.cols :+ "window_start" :+ "window_end").map(col): _*)
        .createOrReplaceTempView(v.name)
    }
    sink(Formatters.format(rows.sparkSession.sql(sql), format, Some(sql)))
  }

  /** [[start]] over one source in snapshot mode; the `tail` benchmark
    * (perfbench) drives the loop through this signature.
    */
  def runSnapshot(spark: SparkSession, cfg: Config, checkpointDir: String,
                  sink: String => Unit = s => if (s.nonEmpty) println(s),
                  trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
                  shards: Int = 32): StreamingQuery =
    start(spark, Seq(cfg), checkpointDir, sink, trigger, snapshot = true, shards = shards)

  /** Continuous event-time windowed aggregation as a DataFrame: the
    * watermarked window aggregate snapshot mode runs for decomposable
    * SQL, for callers that write their own aggregates and sink.
    */
  def windowedAgg(spark: SparkSession, cfg: Config,
                  keys: Seq[String], aggs: Seq[Column]): DataFrame = {
    if (cfg.tsField.isEmpty)
      throw new IllegalArgumentException("windowedAgg needs an event-time field")
    byWindow(windowed(parsed(spark, cfg), cfg), keys.map(col), aggs)
  }
}
