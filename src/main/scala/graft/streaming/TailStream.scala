package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Throttle
import graft.sinks.Formatters
import graft.sources.LogSource

/** The reference's whole pipeline (sql/squeryer.go:370-430) as one
  * Structured Streaming builder:
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
  *  - per-window SQL       -> foreachBatch: register batch as t0, run
  *    the user's SQL — the exact "snapshot table per window fire"
  *    semantics of the reference's in-mem engine, except distributed.
  *    As in any SQL table, t0's rows have no defined order: a query
  *    whose output depends on row order needs an ORDER BY
  *  - sink table/raw/rawv  -> Formatters over the (small) SQL result
  *
  * State at 100 TB: the watermark bounds window state; the shuffle is
  * on (window, keys) only; parsing stays a narrow map on the source.
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
    * `tname` tags every row for the multi-source union (runMulti /
    * runMultiSnapshot) — the tag rides through the throttle, which
    * keeps the full row schema.
    */
  def parsed(spark: SparkSession, cfg: Config,
             tname: Option[String] = None): DataFrame = {
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
        val ts = cfg.tsField.getOrElse(sys.error(
          "throttle needs ts_field: admissions are counted per event-time period"))
        Throttle.streaming(base, ts, cfg.throttlePeriodSec.getOrElse(cfg.windowSizeSec),
          n, cfg.watermarkDelay)
      case None => base
    }
  }

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

  /** Full pipeline, INCREMENTAL flavor: each micro-batch's windowed
    * rows are registered as table `t0` (flattened window bounds as
    * window_start/window_end epoch seconds) and the user SQL runs over
    * it; the result goes to `sink` formatted as table/raw/rawv.
    *
    * Under a continuous trigger a window spanning several micro-batches
    * is reported once per batch, over that batch's rows only — a
    * partial, incremental preview (useful as a low-latency tail).
    * For the reference's fire-once-per-complete-window semantics use
    * [[runSnapshot]]; for aggregations expressible as DataFrame aggs
    * use [[windowedAgg]] (stateful, no row buffering).
    *
    * `checkpointDir` makes the stream restartable (the reference's
    * seek-to-end tail has no such guarantee — this is strictly
    * stronger).
    */
  def run(spark: SparkSession, cfg: Config, checkpointDir: String,
          sink: String => Unit = s => if (s.nonEmpty) println(s),
          trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    val q = cfg.sql.getOrElse(
      "SELECT window_start, window_end, count(*) AS n FROM t0 GROUP BY 1, 2 ORDER BY 1")
    windowed(parsed(spark, cfg), cfg).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val flat = batch
          .withColumn("window_start", unix_timestamp(col("window.start")))
          .withColumn("window_end", unix_timestamp(col("window.end")))
          .drop("window")
        flat.createOrReplaceTempView("t0")
        sink(Formatters.format(flat.sparkSession.sql(q), cfg.format, Some(q)))
      }
      .start()
  }

  /** A per-window view the snapshot runner registers: `tname` filters
    * the packed rows by their `_tname` tag (None = all rows), `cols`
    * restricts to that source's own columns.
    */
  private case class SnapshotView(name: String, tname: Option[String],
                                  cols: Seq[String])

  /** Shared tail of the snapshot pipelines: rows already carrying a
    * `window` struct are packed per (window, shard) under the event-time
    * watermark, and in APPEND mode a (window, shard) group only reaches
    * foreachBatch once the watermark passes the window end — i.e. once
    * the window is complete. The batch caches those packed groups (one
    * row per (window, shard) holding window_start, window_end and the
    * `_rows` array), reads the closing windows off that small frame,
    * and runs the user SQL once per closed window over its full
    * snapshot, exactly the reference's per-window in-mem engine fire.
    * Each view explodes only the selected window's groups, so a fire
    * scans the rows of its window, not of the whole batch.
    *
    * Scale shape: buffering a window's rows is inherent to "arbitrary
    * SQL over the complete window" (the reference holds the window in
    * an in-memory database on one node); here the buffer lives in the
    * state store sharded `shards` ways across executors, so no single
    * task holds a hot window. Aggregations expressible as DataFrame
    * aggs should prefer [[windowedAgg]], which keeps running partials
    * instead of rows. A backlog drain from a followed file reads its
    * first batch as several byte ranges, so the partial packing before
    * the state shuffle runs on every core.
    */
  private def runSnapshotOn(windowed: DataFrame, dataCols: Seq[String],
                            views: Seq[SnapshotView],
                            sql: String, format: String, checkpointDir: String,
                            sink: String => Unit, trigger: Trigger,
                            shards: Int): StreamingQuery =
    windowed
      .groupBy(col("window"),
        pmod(xxhash64(dataCols.map(col): _*), lit(shards)).as("_shard"))
      .agg(collect_list(struct(dataCols.map(col): _*)).as("_rows"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one cached row per (window, shard); rows explode per window
        val packed = batch
          .select(unix_timestamp(col("window.start")).as("window_start"),
            unix_timestamp(col("window.end")).as("window_end"), col("_rows"))
          .persist()
        try {
          // one SQL fire per closed window, in window order; the set of
          // windows closing per trigger is small (trigger/slide bounded)
          val wins = packed.select("window_start", "window_end").distinct()
            .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
          wins.foreach { case (ws, we) =>
            val w = packed.filter(col("window_start") === ws && col("window_end") === we)
              .select(col("window_start"), col("window_end"), explode(col("_rows")).as("_r"))
              .select(Seq(col("window_start"), col("window_end")) ++
                dataCols.map(c => col(s"_r.$c").as(c)): _*)
            views.foreach { v =>
              v.tname.map(t => w.filter(col("_tname") === t)).getOrElse(w)
                .select((v.cols.filterNot(c => c == "window" || c == "_tname") :+
                  "window_start" :+ "window_end").map(col): _*)
                .createOrReplaceTempView(v.name)
            }
            sink(Formatters.format(packed.sparkSession.sql(sql), format, Some(sql)))
          }
        } finally { packed.unpersist(); () }
      }
      .start()

  /** Full pipeline, COMPLETE-WINDOW flavor: the user SQL fires exactly
    * once per window, over that window's full contents, when the
    * event-time watermark closes it — the reference's window-snapshot
    * semantics (squeryer.go window stage) made distributed. Requires
    * `tsField` (completeness is only defined relative to a watermark).
    */
  def runSnapshot(spark: SparkSession, cfg: Config, checkpointDir: String,
                  sink: String => Unit = s => if (s.nonEmpty) println(s),
                  trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
                  shards: Int = 32): StreamingQuery = {
    require(cfg.tsField.isDefined,
      "runSnapshot needs tsField: fire-once-per-complete-window is defined " +
        "by the event-time watermark (use run() for processing-time tails)")
    val q = cfg.sql.getOrElse(
      "SELECT window_start, window_end, count(*) AS n FROM t0 GROUP BY 1, 2 ORDER BY 1")
    val src = parsed(spark, cfg)
    runSnapshotOn(windowed(src, cfg), src.columns.toSeq,
      Seq(SnapshotView("t0", None, src.columns.toSeq)),
      q, cfg.format, checkpointDir, sink, trigger, shards)
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

  /** Per-window SQL over two joined tailed sources, INCREMENTAL
    * flavor: the joined stream is registered as `t0` per micro-batch
    * (window bounds flattened) and `sql` runs over it. Like [[run]],
    * a window whose matches surface across several micro-batches is
    * previewed per batch; [[runJoinSnapshot]] gives the fire-once
    * complete-window form.
    */
  def runJoin(spark: SparkSession, left: Config, right: Config,
              keys: Seq[String], sql: String, format: String,
              checkpointDir: String,
              sink: String => Unit = s => if (s.nonEmpty) println(s),
              trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    joinedStreams(spark, left, right, keys).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val flat = batch
          .withColumn("window_start", unix_timestamp(col("window.start")))
          .withColumn("window_end", unix_timestamp(col("window.end")))
          .drop("window")
        flat.createOrReplaceTempView("t0")
        sink(Formatters.format(flat.sparkSession.sql(sql), format, Some(sql)))
      }
      .start()

  /** The reference's FULL multi-file surface (squeryer.go:429
    * "create multi table by metafield __tname"): N tailed sources,
    * each registered per micro-batch as its own view t0..tN inside
    * one window snapshot, and the user SQL free to join/union any of
    * them. Spark-native form: every source parses with a `_tname`
    * tag, the streams union by name (missing columns null-filled —
    * sources keep their own schemas), window once, and foreachBatch
    * splits the batch back into per-source views, each restricted to
    * its own columns plus the flattened window bounds.
    *
    * The window/slide/watermark settings of the FIRST config govern
    * all sources (the reference's WindowCfg is likewise global);
    * each source keeps its own pattern, filter, throttle,
    * seek-to-end (doNotTail/tailSince), and tsField name. One union
    * stream means one checkpoint and one
    * trigger clock for all tails, exactly like the reference's single
    * merged window stage.
    */
  def runMulti(spark: SparkSession, cfgs: Seq[Config], sql: String,
               format: String, checkpointDir: String,
               sink: String => Unit = s => if (s.nonEmpty) println(s),
               trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    require(cfgs.nonEmpty, "runMulti needs at least one source")
    val win = cfgs.head
    val parts = cfgs.zipWithIndex.map { case (c, i) =>
      // route through parsed() so each source's throttle and
      // seek-to-end (doNotTail/tailSince) config actually applies —
      // only the WINDOW settings come from the first config
      val src = parsed(spark, c, tname = Some(s"t$i"))
      windowed(src, win.copy(tsField = c.tsField))
    }
    // per-source data columns (minus the tag), for re-splitting below
    val perTable = parts.map(_.columns.filterNot(_ == "_tname").toSeq)
    val unioned = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    unioned.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val flat = batch
          .withColumn("window_start", unix_timestamp(col("window.start")))
          .withColumn("window_end", unix_timestamp(col("window.end")))
          .drop("window")
        perTable.zipWithIndex.foreach { case (cols, i) =>
          flat.filter(col("_tname") === s"t$i")
            .select((cols.filterNot(_ == "window") :+
              "window_start" :+ "window_end").map(col): _*)
            .createOrReplaceTempView(s"t$i")
        }
        sink(Formatters.format(flat.sparkSession.sql(sql), format, Some(sql)))
      }
      .start()
  }

  /** Complete-window SQL over two joined tailed sources: the
    * watermarked stream-stream join feeds the same append-mode
    * window-packing stage as [[runSnapshot]] (two chained stateful
    * operators — join state then window state, both watermark-bounded),
    * so `sql` fires exactly once per window over all joined rows of
    * that window.
    */
  def runJoinSnapshot(spark: SparkSession, left: Config, right: Config,
                      keys: Seq[String], sql: String, format: String,
                      checkpointDir: String,
                      sink: String => Unit = s => if (s.nonEmpty) println(s),
                      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
                      shards: Int = 32): StreamingQuery = {
    val joined = joinedStreams(spark, left, right, keys)
    val dataCols = joined.columns.filterNot(_ == "window").toSeq
    runSnapshotOn(joined, dataCols, Seq(SnapshotView("t0", None, dataCols)),
      sql, format, checkpointDir, sink, trigger, shards)
  }

  /** Complete-window form of [[runMulti]]: N tailed sources still
    * become per-window views t0..tN, but the SQL fires exactly once
    * per window — after the watermark closes it — over every source's
    * full window contents. Same append-mode (window, shard) packing as
    * [[runSnapshot]], with the `_tname` tag carried through the packed
    * rows to split the snapshot back into per-source views.
    */
  def runMultiSnapshot(spark: SparkSession, cfgs: Seq[Config], sql: String,
                       format: String, checkpointDir: String,
                       sink: String => Unit = s => if (s.nonEmpty) println(s),
                       trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
                       shards: Int = 32): StreamingQuery = {
    require(cfgs.nonEmpty, "runMultiSnapshot needs at least one source")
    require(cfgs.forall(_.tsField.isDefined),
      "runMultiSnapshot needs tsField on every source (fire-once-per-" +
        "complete-window is defined by the event-time watermark)")
    val win = cfgs.head
    val parts = cfgs.zipWithIndex.map { case (c, i) =>
      // same per-source config routing as runMulti: throttle and
      // seek-to-end apply per source, window settings are global
      val src = parsed(spark, c, tname = Some(s"t$i"))
      windowed(src, win.copy(tsField = c.tsField))
    }
    val views = parts.zipWithIndex.map { case (p, i) =>
      SnapshotView(s"t$i", Some(s"t$i"), p.columns.filterNot(_ == "window").toSeq)
    }
    val unioned = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    runSnapshotOn(unioned, unioned.columns.filterNot(_ == "window").toSeq,
      views, sql, format, checkpointDir, sink, trigger, shards)
  }

  /** Continuous event-time windowed aggregation (update-mode state,
    * watermark-bounded) — the engine-native alternative to per-batch
    * SQL when the aggregation is expressible as DataFrame aggs.
    */
  def windowedAgg(spark: SparkSession, cfg: Config,
                  keys: Seq[String], aggs: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val ts = cfg.tsField.getOrElse(
      throw new IllegalArgumentException("windowedAgg needs an event-time field"))
    val size = s"${cfg.windowSizeSec} seconds"
    val slide = s"${cfg.slideSec.getOrElse(cfg.windowSizeSec)} seconds"
    parsed(spark, cfg)
      .withWatermark(ts, cfg.watermarkDelay)
      .groupBy((window(col(ts), size, slide) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
