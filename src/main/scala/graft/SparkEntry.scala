package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{RollingHash, TextFunctions}
import graft.operators.{AsOf, Decontaminate, Dedup, Graph, Multimodal, Similarity, TextStats, Throttle, Training, Windows}
import graft.sources.LogSource

/** Driver contract: every SURVEY.md §2 capability gets a `queries`
  * entry, and (where ANSI-SQL-expressible) a DuckDB `oracleSql` twin
  * with IDENTICAL output column names, types (bigint/double/string),
  * and ORDER BY.
  *
  * Float discipline (SURVEY §5): every SUM over doubles goes through
  * DECIMAL so both engines do exact arithmetic, then casts back to
  * DOUBLE — identical IEEE64 bits on both sides regardless of
  * accumulation order. Averages divide those exact doubles.
  */
object SparkEntry {

  // ---------------------------------------------------------------- helpers

  /** Table loader. `events.ts` is parquet TIMESTAMP(NANOS), which
    * Spark only reads as long via the nanosAsLong legacy flag — so it
    * arrives as nanos and is floored to a microsecond timestamp here
    * (`div`, not `/`: ns-since-2024 overflows double precision).
    * DuckDB's µs-precision TIMESTAMP floors the same way.
    */
  private def T(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Exact money sum: cast to decimal, sum, back to double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Memoized BPE merge table per (session, dir, merges) — the
    * train-once / apply-everywhere workflow the t34/t35/t37 trio
    * models, mirrored in the registry itself (CatalogStats' per-key
    * memo, applied to training): bpeTrain costs `merges` sequential
    * 1-row argmax driver round-trips, so one bench run pays them once
    * per data directory instead of three times. Rows are (rank, pair,
    * freq), ascending rank.
    */
  private val bpeMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, String, Int), Seq[(Long, String, Long)]]
  private def bpeTable(s: SparkSession, dir: String,
                       merges: Int): Seq[(Long, String, Long)] =
    bpeMemo.getOrElseUpdate((System.identityHashCode(s), dir, merges),
      TextStats.bpeTrain(T(s, dir, "documents"), "text", merges)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq)

  /** Memoized k-means quantizer per (session, dir, k, iters, dims) —
    * the bpeMemo rule applied to the s29/s30/s32 trio: training costs
    * iters collect round-trips plus (iters+1) corpus scans, so one
    * bench run pays them once per data directory instead of three
    * times. Only the k·d driver LONGS are memoized (never a frame —
    * Bench unpersists all RDDs between queries, so a cached plan
    * would dangle); each consumer re-runs its own zero-shuffle
    * assignment pass, and identical params give identical centroids,
    * so results are unchanged.
    */
  private val kmeansMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, String, Int, Int, Int), Array[Array[Long]]]
  private def kmeansQuantizer(s: SparkSession, dir: String, k: Int,
                              iters: Int, dims: Int): Array[Array[Long]] =
    kmeansMemo.getOrElseUpdate(
      (System.identityHashCode(s), dir, k, iters, dims),
      operators.Similarity.kmeansCentroids(T(s, dir, "embeddings"),
        "vec_id", "embedding", k, iters, dims))

  private def cnt: Column = count(lit(1))

  /** Shard count for the memoized crawl-dump fixtures: scales with
    * the corpus like a production writer's output does (~25 k docs
    * per shard, floor 4, cap 64) — a fixed count would leave a 100×
    * probe scanning 4 unsplittable files on 32 cores, measuring the
    * fixture's layout instead of the reader. Layout-invariant
    * results: every consumer aggregates across files. */
  private def crawlShards(s: SparkSession, dir: String): Int = {
    val n = T(s, dir, "documents").count()
    math.max(4, math.min(64, (n / 25000L).toInt + 1))
  }

  /** r42 (r16 verdict task 3): materialize the documents table ONCE
    * per (session, sfDir) as real multi-shard gzip JSONL on local
    * disk — the layout crawl dumps actually arrive in — plus one tiny
    * corrupt gzip member, so the compressed ingestion path reads
    * actual codec-decoded files, not an in-memory string column.
    * Memoized like bpeTable: bench reruns must not rewrite. */
  /** r43: materialize the documents table ONCE per (session, sfDir)
    * as real multi-file `.warc.gz` (one gzip member per record — the
    * Common Crawl layout) plus one malformed archive, so the WARC
    * ingestion path decodes actual member-compressed records. */
  private val warcMemo = scala.collection.concurrent.TrieMap
    .empty[(String, String), String]
  private def warcDir(s: SparkSession, dir: String): String =
    warcMemo.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      // the appId rides the PATH too (not just the memo key): two
      // concurrent graft JVMs on one box must not rm/rewrite the same
      // directory out from under each other's running scans
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_r43_" + Integer.toHexString(dir.hashCode) + "_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9._-]", "_"))
      if (out.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(out)
      }
      val docs = T(s, dir, "documents").select(
        concat(lit("http://"), col("source"), lit("/doc/"),
          col("doc_id")).as("uri"),
        lit("2024-01-01T00:00:00Z").as("wd"),
        concat(lit("<urn:graft:"), col("doc_id"), lit(">")).as("rid"),
        encode(col("text"), "UTF-8").as("payload"))
      sources.Warc.write(docs.repartition(crawlShards(s, dir)),
        out.getAbsolutePath, "uri", "wd", "rid", "payload")
      val g = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(
        new java.io.File(out, "corrupt.warc.gz")))
      g.write("NOT A WARC RECORD\r\n".getBytes("US-ASCII")); g.close()
      out.getAbsolutePath
    })

  /** r44/r45: the r43 WARC store with HTTP-framed payloads — each
    * record is `application/http; msgtype=response` whose bytes are a
    * full RFC 9112 response (status line + typed headers + CRLFCRLF)
    * around the t50 HTML page, exactly how Common Crawl archives
    * frame captures. Status varies deterministically by doc_id so the
    * r45 per-status report is non-trivial; the BODY is the same page
    * for every status, which is what keeps r44's report invariant
    * under the re-framing. Materialized once per (session, sfDir). */
  private val warcHtmlMemo = scala.collection.concurrent.TrieMap
    .empty[(String, String), String]
  private def warcHtmlDir(s: SparkSession, dir: String): String =
    warcHtmlMemo.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_r44_" + Integer.toHexString(dir.hashCode) + "_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9._-]", "_"))
      if (out.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(out)
      }
      val esc = Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;")
        .foldLeft(col("text")) { case (c, (k, v)) =>
          replace(c, lit(k), lit(v)) }
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit(" &amp; co</title><style>body { color: #fff; }</style>"),
        lit("<script type=\"text/javascript\">if (1 < 2 && x > 0) { alert(\"hi\"); }</script></head>"),
        lit("<body><!-- nav --><h1>"), col("source"), lit("</h1><p>"), esc,
        lit("</p><div id=\"foot\">Contact&nbsp;&quot;us&quot; &#39;now&#39;</div></body></html>"))
      val statusLine = when(col("doc_id") % 97 === 0, lit("404 Not Found"))
        .when(col("doc_id") % 89 === 0, lit("301 Moved Permanently"))
        .otherwise(lit("200 OK"))
      // 301s carry a Location header (the r46 redirect-edge source):
      // same host, next doc id — deterministic, so the oracle replays
      // the edge list from the doc_id rule alone
      val locHeader = when(
        col("doc_id") % 97 =!= 0 && col("doc_id") % 89 === 0,
        concat(lit("Location: http://"), col("source"), lit("/doc/"),
          (col("doc_id") + 1).cast("string"), lit("\r\n")))
        .otherwise(lit(""))
      val http = concat(
        lit("HTTP/1.1 "), statusLine, lit("\r\n"), locHeader,
        lit("Content-Type: text/html; charset=utf-8\r\n"),
        lit("Content-Length: "), octet_length(html).cast("string"),
        lit("\r\nServer: graft-crawler/1.0\r\n\r\n"),
        html)
      val docs = T(s, dir, "documents").select(
        concat(lit("http://"), col("source"), lit("/doc/"),
          col("doc_id")).as("uri"),
        lit("2024-01-01T00:00:00Z").as("wd"),
        concat(lit("<urn:graft:"), col("doc_id"), lit(">")).as("rid"),
        encode(http, "UTF-8").as("payload"))
      sources.Warc.write(docs.repartition(crawlShards(s, dir)),
        out.getAbsolutePath, "uri", "wd", "rid", "payload",
        contentType = "application/http; msgtype=response")
      out.getAbsolutePath
    })

  /** r48: the WET store — the intake chain's OUTPUT format. Derived
    * from the r44 archive exactly as a production run would: record
    * decode → httpBody → htmlToText → one `conversion` record per
    * page (the Common Crawl WET shape), written through the
    * executor-side WARC writer. Materialized once per (session,
    * sfDir). */
  private val wetMemo = scala.collection.concurrent.TrieMap
    .empty[(String, String), String]
  private def wetDir(s: SparkSession, dir: String): String =
    wetMemo.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_r48_" + Integer.toHexString(dir.hashCode) + "_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9._-]", "_"))
      if (out.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(out)
      }
      val recs = streaming.CrawlIntake.wetRecords(
        sources.Warc.read(s, warcHtmlDir(s, dir)))
      sources.Warc.write(recs.repartition(crawlShards(s, dir)),
        out.getAbsolutePath, "target_uri", "wd", "rid", "payload",
        contentType = "text/plain", warcType = "conversion")
      out.getAbsolutePath
    })

  /** r49: generation B of the r43 archive — the SAME uris re-crawled
    * later, every 7th doc's text actually changed. Joined against
    * generation A by the revisit classifier. */
  private val warcBMemo = scala.collection.concurrent.TrieMap
    .empty[(String, String), String]
  private def warcGenBDir(s: SparkSession, dir: String): String =
    warcBMemo.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_r49_" + Integer.toHexString(dir.hashCode) + "_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9._-]", "_"))
      if (out.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(out)
      }
      val docs = T(s, dir, "documents").select(
        concat(lit("http://"), col("source"), lit("/doc/"),
          col("doc_id")).as("uri"),
        lit("2024-02-01T00:00:00Z").as("wd"),
        concat(lit("<urn:graft:b:"), col("doc_id"), lit(">")).as("rid"),
        encode(concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" v2")).otherwise(lit(""))),
          "UTF-8").as("payload"))
      sources.Warc.write(docs.repartition(crawlShards(s, dir)),
        out.getAbsolutePath, "uri", "wd", "rid", "payload")
      out.getAbsolutePath
    })

  /** r50/r51: the composed crawl frontier — candidate (host, tid)
    * targets from page out-links (the t51 build) ∪ redirect Locations
    * (the r46 archive-facing extraction), DISTINCT by uri, joined with
    * r47-parsed robots rules derived per CANDIDATE host and
    * LEFT-joined against the crawled (host, doc_id) set. Columns:
    * host, tid, _blocked, _crawled (null = uncrawled). Shared by the
    * r50 tally and the r51 scheduler so the two cannot drift. */
  private def crawlFrontier(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val html = concat(
      lit("<html><body><p>"), col("text"), lit("</p>"),
      lit("<a href=\"http://"), col("source"), lit("/doc/"),
      (col("doc_id") + 1).cast("string"), lit("\">next</a>"),
      when(col("doc_id") % 3 === 0,
        lit("<a href=\"http://hub.example/doc/0\">hub</a>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    val links = T(s, dir, "documents")
      .select(explode(regexp_extract_all(html,
        lit("href=\"([^\"]+)\""), lit(1))).as("_uri"))
    val redirects = sources.Warc.read(s, warcHtmlDir(s, dir))
      .withColumn("_msg", decode(col("content"), "UTF-8"))
      .filter(TextFunctions.httpStatus(col("_msg")).between(300, 399))
      .select(TextFunctions.httpHeader(col("_msg"), "Location").as("_uri"))
    val cand = links.unionByName(redirects).distinct()
      .select(
        regexp_extract(col("_uri"), "^http://([^/]+)/", 1).as("host"),
        regexp_extract(col("_uri"), "/doc/([0-9]+)$", 1)
          .cast("long").as("tid"))
    val robots = cand.select(col("host")).distinct()
      .withColumn("_robots",
        when(length(col("host")) % 2 === 0,
          lit("User-agent: *\nDisallow: /doc/1\nDisallow: /admin\n"))
          .otherwise(lit("User-agent: *\nDisallow:\n")))
      .withColumn("_dis", filter(
        transform(split(col("_robots"), "\n"),
          l => when(l.startsWith("Disallow:"),
            trim(l.substr(lit(10), length(l)))).otherwise(lit(""))),
        p => length(p) > 0))
      .select(col("host"), col("_dis"))
    val crawled = T(s, dir, "documents")
      .select(col("source").as("host"), col("doc_id").as("tid"),
        lit(true).as("_crawled"))
    cand.join(broadcast(robots), Seq("host"))
      .withColumn("_path", concat(lit("/doc/"), col("tid").cast("string")))
      .withColumn("_blocked", exists(col("_dis"),
        p => col("_path").startsWith(p)))
      .join(crawled, Seq("host", "tid"), "left")
      .select(col("host"), col("tid"), col("_blocked"), col("_crawled"))
  }

  private val jsonlGzMemo = scala.collection.concurrent.TrieMap
    .empty[(String, String), String]
  private def jsonlGzDir(s: SparkSession, dir: String): String =
    jsonlGzMemo.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      // appId in the path: see warcDir — concurrent JVMs get their own
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_r42_" + Integer.toHexString(dir.hashCode) + "_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9._-]", "_"))
        .getAbsolutePath
      sources.Jsonl.toJsonl(T(s, dir, "documents"),
          col("doc_id"), col("source"), col("lang"), col("text"))
        .repartition(crawlShards(s, dir))
        .write.mode("overwrite").option("compression", "gzip").text(out)
      val g = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(
        new java.io.File(out, "corrupt.jsonl.gz")))
      g.write("{this is not json\n".getBytes("UTF-8")); g.close()
      out
    })

  /** r17 driver-visible accuracy gate for the seeded-ANN family (the
    * q22/q25 pattern, r16 verdict task 1): pooled recall@k of a
    * seeded approximate ranking vs the hash-exact brute-force ranking
    * over the same query batch, emitted as a boolean the oracle pins
    * to LITERAL true beside the oracle-expressible per-query exact
    * counts — estimator drift now breaks the driver hash loudly
    * instead of hiding in a spec-only gate. The threshold sits a
    * measured margin below the pooled recall at all three SFs
    * (GateProbe prints the measurements), so the gate trips on a
    * mechanism change, not on data noise. */
  /** The seeded-ANN rankings behind the gate queries, exposed
    * package-private at the EXACT shipped parameters: the probes and
    * specs that justify the pinned gate thresholds (GateProbe,
    * AnnRecallSpec) call THESE, so tuning a parameter here is the
    * one and only knob — the measurement surfaces cannot
    * silently drift from the driver gates (r17 review finding).
    */
  private[graft] object AnnRankings {
    import operators.Similarity
    def emb(s: SparkSession, dir: String): DataFrame = T(s, dir, "embeddings")
    // the norm is evaluated once per row, outside the lambda: zip_with
    // pairs each element with it. A norm inside the lambda (or a norm
    // column, which CollapseProject inlines there) is recomputed per
    // element.
    def embNorm(s: SparkSession, dir: String): DataFrame = {
      val v = col("embedding")
      emb(s, dir).withColumn("embedding", zip_with(v,
        array_repeat(Similarity.norm(v), size(v)), (x, n) => x.cast("double") / n))
    }
    def queriesOf(e: DataFrame): DataFrame = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def brute(e: DataFrame): DataFrame = {
      val q = queriesOf(e)
      Similarity.bruteTopK(e, "vec_id", "embedding", q, "qid", "qvec", k = 10)
    }
    def lsh(e: DataFrame): DataFrame = {
      val q = queriesOf(e)
      Similarity.lshTopK(e, "vec_id", "embedding", q, "qid", "qvec",
        k = 10, numPlanes = 6, numTables = 8)
    }
    def ivf(e: DataFrame): DataFrame = {
      val q = queriesOf(e)
      Similarity.ivfTopK(e, "vec_id", "embedding", q, "qid", "qvec",
        k = 10, nlist = 16, nprobe = 8, refineIters = 4, spill = 2)
    }
    def codebook(eN: DataFrame): DataFrame =
      Similarity.trainPqCodebook(eN, "vec_id", "embedding",
        m = 16, ksub = 256, iters = 2)
    /** refined IVF-PQ (s12's shipped shape); refine = 1 is s26's
      * end-to-end comparison twin */
    def ivfPq(eN: DataFrame, cb: DataFrame, refine: Int = 3): DataFrame =
      Similarity.ivfPqTopK(eN, "vec_id", "embedding",
        eN.filter(col("vec_id") < 5), "vec_id", "embedding",
        cb, "code", "codeword",
        m = 16, k = 10, nlist = 16, nprobe = 8, refineIters = 4, spill = 2,
        refine = refine)
    def ivfPqResidual(eN: DataFrame): DataFrame =
      Similarity.ivfPqResidualTopK(eN, "vec_id", "embedding",
        eN.filter(col("vec_id") < 5), "vec_id", "embedding",
        m = 16, k = 10, ksub = 256, nlist = 16, nprobe = 12,
        refineIters = 4, pqIters = 4)
    def annIndexServed(eN: DataFrame, cb: DataFrame): DataFrame = {
      val (cents, postings) = Similarity.buildAnnIndex(eN, "vec_id",
        "embedding", cb, "code", "codeword",
        m = 16, nlist = 16, refineIters = 4, spill = 2)
      Similarity.annIndexTopK(cents, postings,
        eN.filter(col("vec_id") < 5), "vec_id", "embedding",
        cb, "code", "codeword", m = 16, k = 10, nprobe = 8)
    }
    def cosineLshPairs(e: DataFrame): DataFrame =
      Similarity.cosinePairsLsh(e, "vec_id", "embedding",
        threshold = 0.45, numPlanes = 6, numTables = 8,
        maxBucket = Some(10000))
  }

  private def annRecallGate(approx: DataFrame, exact: DataFrame, k: Int,
                            threshold: Double, gateCol: String): DataFrame = {
    val r = operators.Similarity.recallAtK(approx, exact, k)
    val micro = r.agg((sum(col("n_hits")).cast("double") /
      sum(col("n_exact")).cast("double")).as("_micro"))
    r.crossJoin(broadcast(micro))
      .select(col("query_id"), col("n_exact"),
        (col("_micro") >= lit(threshold)).as(gateCol))
      .orderBy("query_id")
  }

  /** The synthetic "log file": events rows formatted as text lines.
    * Both the Spark queries and the DuckDB oracle derive from the same
    * parquet, so parse(format(row)) == row is the oracle relation.
    */
  private val EventPattern =
    """id=(?P<event_id__int>\d+) ts=(?P<ts__date>[0-9:\- ]+) user=(?P<user_id__int>\d+) type=(?P<etype__str>\S+) value=(?P<value__float>\S+)"""

  private def eventLines(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events").select(concat(
      lit("id="), col("event_id"),
      lit(" ts="), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
      lit(" user="), col("user_id"),
      lit(" type="), col("event_type"),
      lit(" value="), col("value").cast("string")).as("value"))

  private def parsedEvents(s: SparkSession, dir: String): DataFrame =
    LogSource.parse(eventLines(s, dir), EventPattern)

  private val CustomerPattern =
    """user=(?P<user__int>\d+) name=(?P<name__str>\S+) segment=(?P<segment__str>\S+)"""

  private def customerLines(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer").select(concat(
      lit("user="), col("c_custkey"),
      lit(" name="), col("c_name"),
      lit(" segment="), col("c_mktsegment")).as("value"))

  /** Seed queries for the BM25 retrieval op (t17): shared between the
    * Spark query and the DuckDB oracle's VALUES list. */

  // ---------------------------------------------------------------- entry

  /** Flagship: 5-table star join with broadcast dims (q03) at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    q03(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  private def q03(s: SparkSession, dir: String): DataFrame =
    q03Over(t => T(s, dir, t))

  /** q03 with the table source abstracted: `q03_multijoin` feeds it
    * path-based parquet reads; `q03b_multijoin_cbo` feeds it the
    * ANALYZE'd catalog tables (sources/CatalogStats), so the same
    * logical query is driver-verified under BOTH planning regimes —
    * file-size estimates + AQE, and row-count/NDV statistics + CBO.
    */
  private def q03Over(tbl: String => DataFrame): DataFrame = {
    // EAGER AGGREGATION below the join (the classic partial-agg
    // pushdown a CBO would derive): revenue and line counts fold to
    // one row per l_orderkey BEFORE lineitem meets the dim chain —
    // decimal sums re-sum associatively, so (r_name, n_name) totals
    // are bit-identical. The shuffle carries (orderkey, decimal,
    // long) with map-side combine instead of the full line stream,
    // and the join input shrinks by the lines-per-order factor at ANY
    // scale. Without this, the planner's stats-free size estimate
    // picked LINEITEM's 3-column scan as the broadcast build side —
    // the biggest table shipped whole to every task (the known-limit
    // q03 note; ANALYZE-grade stats are the other fix). The join
    // itself stays declarative: broadcast at bench SFs, free to be a
    // sort-merge on orderkey at cluster scale.
    val lagg = tbl("lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("_rev"),
        cnt.as("_nl"))
    tbl("region")
      .join(tbl("nation"), col("n_regionkey") === col("r_regionkey"))
      .join(tbl("customer"), col("c_nationkey") === col("n_nationkey"))
      .join(tbl("orders"), col("o_custkey") === col("c_custkey"))
      .join(lagg, col("l_orderkey") === col("o_orderkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(col("_rev")).cast("double").as("revenue"),
        sum(col("_nl")).as("n"))
      .orderBy("r_name", "n_name")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- reference surface (tailsql core) ----------------
    "r01_regex_parse" -> ((s, dir) =>
      parsedEvents(s, dir)
        .select(col("event_id"), unix_timestamp(col("ts")).as("ts_s"),
          col("user_id"), col("etype"), col("value"))
        .orderBy("event_id")),

    "r02_date_parse" -> ((s, dir) => {
      // nine-way format mix round-tripped through parseAnyDate: the
      // oracle is the original timestamp truncated to each format's
      // own resolution (second for most, minute for RFC822Z, day for
      // yyyyMMdd), so every branch must be recognized AND parsed to
      // the same instant
      val m = pmod(col("event_id"), lit(9))
      val raw = T(s, dir, "events").select(col("event_id"),
        when(m === 0, date_format(col("ts"), "yyyy/MM/dd HH:mm:ss"))
          .when(m === 1, date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))
          .when(m === 2, date_format(col("ts"), "MM/dd/yyyy HH:mm:ss"))
          .when(m === 3, expr("CAST(unix_micros(ts) div 1000 AS STRING)")) // epoch ms
          .when(m === 4, date_format(col("ts"), "EEE, dd MMM yyyy HH:mm:ss Z")) // RFC1123
          .when(m === 5, date_format(col("ts"), "dd MMM yy HH:mm Z")) // RFC822Z
          .when(m === 6, date_format(col("ts"), "MMM d, yyyy HH:mm:ss")) // US long
          .when(m === 7, date_format(col("ts"), "yyyyMMdd"))
          .otherwise(date_format(col("ts"), "dd MMM yyyy HH:mm:ss")).as("raw"))
      raw.select(col("event_id"),
          unix_timestamp(LogSource.parseAnyDate(col("raw"))).as("ts_s"))
        .orderBy("event_id")
    }),

    "r03_filter" -> ((s, dir) =>
      parsedEvents(s, dir)
        .filter(expr("etype = 'error' AND value > 50.0"))
        .select(col("event_id"), col("etype"), col("value"))
        .orderBy("event_id")),

    "r04_sample" -> ((s, dir) =>
      LogSource.randFilter(parsedEvents(s, dir), 0.1)
        .select(col("event_id")).orderBy("event_id")),

    "r05_throttle" -> ((s, dir) =>
      Throttle.firstNPerPeriod(
          T(s, dir, "events"), "ts", periodSec = 60L, n = 5, tieCols = Seq("event_id"))
        .select(col("event_id")).orderBy("event_id")),

    "r06_window_tumbling" -> ((s, dir) =>
      Windows.aggregate(T(s, dir, "events"), "ts", 300L, 300L, Seq("event_type"),
          Seq(cnt.as("n_events"), dsum(col("value")).as("sum_value")))
        .select("window_start", "event_type", "n_events", "sum_value")
        .orderBy("window_start", "event_type")),

    "r07_window_sliding" -> ((s, dir) =>
      Windows.aggregate(T(s, dir, "events"), "ts", 600L, 300L, Seq("event_type"),
          Seq(cnt.as("n_events"), dsum(col("value")).as("sum_value")))
        .select("window_start", "event_type", "n_events", "sum_value")
        .orderBy("window_start", "event_type")),

    "r08_multitable_join" -> ((s, dir) => {
      val t0 = parsedEvents(s, dir)
      val t1 = LogSource.parse(customerLines(s, dir), CustomerPattern)
      t0.join(t1, t0("user_id") === t1("user"))
        .groupBy(col("segment"))
        .agg(cnt.as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("segment")
    }),

    "r09_sql_per_window" -> ((s, dir) => {
      Windows.tumbling(parsedEvents(s, dir), "ts", 3600L)
        .createOrReplaceTempView("graft_r09")
      s.sql("""SELECT window_start, etype, count(*) AS n, max(value) AS max_v
               FROM graft_r09 GROUP BY window_start, etype
               ORDER BY window_start, etype""")
    }),

    "r10_bool_parse" -> ((s, dir) => {
      // completes the parser's type matrix: bool fields (str/int/float/
      // date are exercised by r01/r02)
      val lines = T(s, dir, "events").select(concat(
        lit("id="), col("event_id"),
        lit(" big="), (col("value") > 50.0).cast("string")).as("value"))
      LogSource.parse(lines, """id=(?P<event_id__int>\d+) big=(?P<big__bool>\S+)""")
        .groupBy("big").agg(cnt.as("n"))
        .orderBy("big")
    }),

    "q24_setops" -> ((s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id").as("id"))
      val cust = T(s, dir, "customer").select(col("c_custkey").cast("long").as("id"))
      val both = ev.intersect(cust).withColumn("src", lit("both"))
      val onlyCust = cust.except(ev).withColumn("src", lit("cust_only"))
      both.unionAll(onlyCust).orderBy("src", "id")
    }),

    // ---------------- batch SQL engine capability ----------------
    "q01_agg" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          (dsum(col("l_quantity")) / cnt.cast("double")).as("avg_qty"),
          cnt.as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q02_join_agg" -> ((s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(cnt.as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment")),

    "q03_multijoin" -> ((s, dir) => q03(s, dir)),

    "q03b_multijoin_cbo" -> ((s, dir) => {
      // the same star join planned from ANALYZE'd statistics: register
      // the five tables (idempotent per session/dir), enable CBO, and
      // read through the catalog so broadcast selection and join
      // reordering see row counts + NDVs instead of file sizes. Same
      // oracle as q03 — the planning regime must not change a bit of
      // the answer.
      graft.sources.CatalogStats.register(s, dir,
        Seq("region", "nation", "customer", "orders", "lineitem"))
      graft.sources.CatalogStats.enableCbo(s)
      q03Over(t => s.table(graft.sources.CatalogStats.name(dir, t)))
    }),

    "q04_topk_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
        .orderBy("o_orderpriority", "rnk")
    }),

    "q05_distinct" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          cnt.as("n"))
        .orderBy("l_returnflag")),

    "q06_anti_join" -> ((s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")),

    "q07_rollup" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"), cnt.as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("returnflag", "linestatus")),

    "q08_case_agg" -> ((s, dir) =>
      T(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "F", col("o_totalprice").cast("decimal(18,2)"))
            .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("f_total"),
          count(when(col("o_orderstatus") === "O", lit(1))).as("n_open"),
          cnt.as("n"))
        .orderBy("o_orderpriority")),

    "q09_strings" -> ((s, dir) =>
      T(s, dir, "part").select(
          col("p_partkey"),
          upper(substring(col("p_name"), 1, 8)).as("pfx"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
          length(col("p_name")).cast("long").as("name_len"),
          when(col("p_name").like("%a%"), lit(1L)).otherwise(lit(0L)).as("has_a"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"))
        .orderBy("p_partkey")),

    "q10_time_extract" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy(unix_timestamp(date_trunc("DAY", col("ts"))).as("d"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(cnt.as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("d", "hr")),

    "q11_percentile" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"))
        .orderBy("l_returnflag")),

    "q12_having" -> ((s, dir) => {
      val orders = T(s, dir, "orders")
      val per = orders.groupBy("o_custkey")
        .agg(dsum(col("o_totalprice")).as("total"), cnt.as("n"))
      val thr = orders.agg(
        (dsum(col("o_totalprice")) / cnt.cast("double")).as("avg_total"))
      per.crossJoin(broadcast(thr))
        .filter(col("total") > col("avg_total") * 2.0)
        .select("o_custkey", "total", "n")
        .orderBy("o_custkey")
    }),

    "q13_union" -> ((s, dir) => {
      val a = T(s, dir, "events").select(col("user_id").as("id")).distinct()
      val b = T(s, dir, "customer").select(col("c_custkey").cast("long").as("id")).distinct()
      a.unionAll(b).groupBy("id").agg(cnt.as("n_sources")).orderBy("id")
    }),

    "q15_window_funcs" -> ((s, dir) => {
      val wOrd = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(wOrd).as("prev_price"),
          lead(col("o_totalprice"), 1).over(wOrd).as("next_price"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"),
          row_number().over(wOrd).cast("long").as("order_seq"))
        .orderBy("o_custkey", "order_seq")
    }),

    "q16_semi_join" -> ((s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "orders").filter(col("o_totalprice") > 100000.0),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")),

    "q14_json" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .agg(cnt.as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("k")),

    "q17_cube" -> ((s, dir) =>
      T(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(dsum(col("o_totalprice")).as("total"), cnt.as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("total"), col("n"))
        .orderBy("status", "priority")),

    "q18_corr_subquery" -> ((s, dir) => {
      val wType = Window.partitionBy("p_type")
      T(s, dir, "part")
        .withColumn("avg_price",
          sum(col("p_retailprice").cast("decimal(18,2)")).over(wType).cast("double")
            / cnt.over(wType).cast("double"))
        .filter(col("p_retailprice") > col("avg_price"))
        .select("p_partkey", "p_type", "p_retailprice")
        .orderBy("p_partkey")
    }),

    "q19_pivot" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy(unix_timestamp(date_trunc("DAY", col("ts"))).as("d"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(dsum(col("value")))
        .orderBy("d")),

    "q33_interval_coverage" -> ((s, dir) =>
      // interval-union active time per user: each event opens a
      // 30-minute activity interval, overlaps count once — endpoint
      // sweep line (row-local expand, one (key,pos) shuffle, per-key
      // windows over the endpoint frame), exact epoch micros
      operators.Windows.intervalCoverage(
          T(s, dir, "events"), "ts", "user_id", durSec = 1800L)
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id")),

    "q32_unpivot" -> ((s, dir) => {
      // the q19 complement: wide per-flag measures melted back to
      // (flag, measure, total) long form — Dataset.unpivot, the
      // declarative melt (one agg shuffle; the melt itself is a
      // row-local expand, no shuffle)
      val wide = T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(dsum(col("l_quantity")).as("qty"),
          dsum(col("l_extendedprice")).as("price"),
          dsum(col("l_discount"), 4).as("disc"),
          dsum(col("l_tax"), 4).as("tax"))
      wide.unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price"), col("disc"), col("tax")),
          "measure", "total")
        .orderBy("l_returnflag", "measure")
    }),

    "q20_asof_join" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      AsOf.join(errors, clicks, Seq("user_id"), "ts", "event_id",
          Seq("event_id" -> "click_id", "ts" -> "click_ts"))
        .select(col("event_id"), col("user_id"), col("click_id"),
          unix_timestamp(col("click_ts")).as("click_ts_s"))
        .orderBy("event_id")
    }),

    "q21_range_join" -> ((s, dir) => {
      val buckets = s.range(50).select(col("id").as("bucket"),
        (col("id") * 10.0).as("lo"), ((col("id") + 1) * 10.0).as("hi"))
      T(s, dir, "events")
        .join(broadcast(buckets),
          col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("bucket")
        .agg(cnt.as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("bucket")
    }),

    // ---------------- LLM-data-pipeline extensions ----------------
    "d01_dedup_exact" -> ((s, dir) =>
      Dedup.exact(T(s, dir, "documents"), "doc_id", "text")
        .select("keep_id", "n_dups").orderBy("keep_id")),

    "d29_normalized_dedup" -> ((s, dir) =>
      // normalize-then-hash dedup (the C4/CCNet rung between d01's
      // byte-exact and d02's fuzzy): casing/punctuation/whitespace
      // variants collapse at d01's one-shuffle cost
      Dedup.normalizedExact(T(s, dir, "documents"), "doc_id", "text")
        .select("keep_id", "n_dups").orderBy("keep_id")),

    "d02_dedup_minhash" -> ((s, dir) =>
      Dedup.minHashLsh(T(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, numHashes = 32, bands = 8, threshold = 0.5)
        .orderBy("id1", "id2")),

    "d03_dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(
          Dedup.simHash(T(s, dir, "documents"), "doc_id", "text"), maxDist = 3)
        .orderBy("id1", "id2")),

    "d04_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(
          Dedup.shingles(T(s, dir, "documents").filter(col("doc_id") < 500),
            "doc_id", "text", 3), 0.5)
        .orderBy("id1", "id2")),

    "d38_lsh_plan" -> ((s, dir) =>
      // LSH parameter planner: expected candidates / recall / FP for
      // each (bands, rows) split of an 8-permutation budget, S-curve
      // evaluated at the d04 truth chain's exact pair jaccards —
      // the b×r decision made with data instead of folklore
      Dedup.lshPlan(
        Dedup.shingles(T(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", 3),
        tauNum = 1, tauDen = 2,
        splits = Seq((8, 1), (4, 2), (2, 4), (1, 8)))),

    "d24_allpairs_exact" -> ((s, dir) =>
      // exact all-pairs Jaccard >= 0.5 on word-token sets via prefix
      // filtering (SSJoin/AllPairs): recall-1.0 similarity join whose
      // candidate keys are each doc's RAREST tokens — the oracle is a
      // full quadratic brute force, so the hash-match proves the
      // prefix filter dropped nothing. Guarded at 256x docs: on this
      // 500-doc corpus the word-set output mass is ~74% of quadratic
      // by design so the cap cannot trip here, but on a larger corpus
      // it fails loudly BEFORE the verify join goes quadratic instead
      // of in stage 40 of a 100 TB run.
      Dedup.allPairsJaccard(
          T(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", tau = 0.5,
          maxCandidateFactor = Some(256.0))
        .orderBy("id1", "id2")),

    "d24b_allpairs_3gram" -> ((s, dir) =>
      // the discriminative production configuration of d24: 3-gram
      // shingle sets at dedup-grade tau=0.8, where the rare-gram
      // prefixes keep candidates near the true pair count (vs the
      // word-set form whose output mass is the cost). Guarded: fail
      // loudly if candidates exceed 64x docs rather than letting a
      // degenerate corpus go quadratic in the verify join. Same
      // brute-force quadratic oracle shape as d24 proves recall 1.0.
      Dedup.allPairsJaccard(
          T(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", tau = 0.8, shingleN = 3,
          maxCandidateFactor = Some(64.0))
        .orderBy("id1", "id2")),

    "d12_simhash_portable" -> ((s, dir) =>
      // SimHash on the portable md5 family (Dedup.simHashPortablePairs)
      // so banding + popcount verify hash-match the DuckDB twin — the
      // last dedup algorithm family to get an oracle-exact variant
      Dedup.simHashPortablePairs(
          T(s, dir, "documents").filter(col("doc_id") < 500), "doc_id", "text")
        .orderBy("id1", "id2")),

    "d30_edit_verify" -> ((s, dir) =>
      // fuzzy dedup for short docs: d11's LSH candidates verified by
      // Levenshtein similarity over the first 256 chars — the edit
      // RATIO catches one-typo twins shingle Jaccard undercounts
      Dedup.editVerifiedPairs(
          T(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", shingleN = 3, minSim = 0.5, clipChars = 256)
        .orderBy("id1", "id2")),

    "d34_threshold_curve" -> ((s, dir) => {
      // THRESHOLD TUNING CURVE for the banded MinHash finder (d32
      // grades ONE operating point; the tuner wants the whole curve
      // before a 100 TB run): the d11 chain's candidates scored by
      // raw signature agreement (0-8 matches), full-joined against
      // the exhaustive d04 truth (so banding misses COUNT as false
      // negatives at every threshold), then precision/recall/F1 per
      // min-matches cut — all exact counts, three pinned divisions
      // persisted (r19): THREE consumers read the signature frame
      // (bands, and both sides of the match join) — unpersisted, each
      // re-ran the shingle explode + 8-hash aggregate; the frame is
      // |docs|×8 rows. Sealed away by the result below.
      val sigs = Dedup.portableSignatureStore(
        T(s, dir, "documents").filter(col("doc_id") < 500), "doc_id", "text").persist()
      val bands = Dedup.portableBands(sigs)
      val m = Dedup.sigMatches(
        Dedup.bucketPairs(bands, bands, Seq("band", "bkey"), self = true),
        "id1", sigs, "id2", sigs)
      val truth = queries("d04_ngram_jaccard")(s, dir)
        .select(col("id1"), col("id2"), lit(1L).as("_t"))
      val lab = m.join(truth, Seq("id1", "id2"), "full")
        .na.fill(0L, Seq("matches", "_t"))
      val tp = sum(when(col("matches") >= col("min_matches")
        && col("_t") === 1L, 1L).otherwise(0L)).cast("long")
      val fp = sum(when(col("matches") >= col("min_matches")
        && col("_t") === 0L, 1L).otherwise(0L)).cast("long")
      val fn = sum(when(col("matches") < col("min_matches")
        && col("_t") === 1L, 1L).otherwise(0L)).cast("long")
      val pr = col("tp").cast("double") /
        (col("tp") + col("fp")).cast("double")
      val rc = col("tp").cast("double") /
        (col("tp") + col("fn")).cast("double")
      graft.operators.Caching.sealOver(lab
        .select(explode(sequence(lit(1L), lit(8L))).as("min_matches"),
          col("matches"), col("_t"))
        .groupBy(col("min_matches"))
        .agg(tp.as("tp"), fp.as("fp"), fn.as("fn"))
        .withColumn("p_precision",
          when(col("tp") + col("fp") > 0L, round(pr, 6)))
        .withColumn("p_recall",
          when(col("tp") + col("fn") > 0L, round(rc, 6)))
        .withColumn("f1", when(col("tp") + col("fp") > 0L
          && col("tp") + col("fn") > 0L && pr + rc > 0.0,
          round(lit(2.0) * pr * rc / (pr + rc), 6)))
        .orderBy("min_matches"), sigs)
    }),

    "d11_minhash_portable" -> ((s, dir) => {
      // the d02 MinHash+LSH pipeline re-run on an md5 hash family that
      // DuckDB can evaluate too, so the ENTIRE chain — signatures →
      // banding → candidate pairs → exact-jaccard verify — is
      // oracle-exact, not just rows-only: the self-join form of d14's
      // portable chain (k=8 signatures, 4 bands of r=2, intersections
      // computed ONLY for candidate pairs). Internal stages run on
      // 16-byte unhex'd digests whose decisions are bitwise the hex
      // chain's; nothing binary surfaces in (id1, id2, jaccard).
      Dedup.portableNearDup(T(s, dir, "documents").filter(col("doc_id") < 500),
          None, "doc_id", "text", shingleN = 3, tau = 0.5)
        .orderBy("id1", "id2")
    }),

    "d33_sparse_cosine" -> ((s, dir) =>
      // exact all-pairs sparse cosine over df-damped term-frequency
      // 3-gram vectors — the WEIGHTED rung beside d04's set Jaccard
      // (repeated phrases count, df damps boilerplate grams); decimal
      // dot/norm folds make the floats order-free and oracle-exact
      operators.Dedup.allPairsCosine(
          T(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", tau = 0.5, shingleN = 3)
        .orderBy("id1", "id2")),

    "d32_dedup_effectiveness" -> ((s, dir) =>
      // the banding-recovery gate as a FIRST-CLASS operator (the
      // MinHashRecallSpec comparison productionized): d11's banded
      // MinHash+verify pairs measured against d04's exhaustive
      // shared-shingle truth — the report a pipeline re-runs on a
      // labeled sample whenever it retunes bands/rows; the finder
      // verifies at the truth threshold so precision is 1.0 by
      // construction and pair_recall is the banding miss rate
      operators.Dedup.pairRecovery(
        queries("d11_minhash_portable")(s, dir),
        queries("d04_ngram_jaccard")(s, dir))),

    "d06_dedup_resolve" -> ((s, dir) => {
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
      val pairs = Dedup.jaccardPairs(
        Dedup.shingles(docs, "doc_id", "text", 3), 0.5)
      Dedup.components(docs.select(col("doc_id")), "doc_id", pairs)
        .orderBy("doc_id")
    }),

    "d39_cluster_audit" -> ((s, dir) => {
      // TRANSITIVE-DRIFT AUDIT of the d06 resolution — the dedup
      // failure mode nothing else on the board measures: min-jaccard
      // CHAINS (A~B~C) merge A and C that share almost nothing, and a
      // 100 TB collapse then deletes half a source on the strength of
      // one bridge doc. Per multi-doc cluster: its truth-pair count,
      // the weakest link (min jaccard), the mean link, and
      // pair_coverage = n_pairs / C(n,2) — a chained cluster shows
      // coverage ≪ 1 with a low min; a genuine duplicate set shows
      // coverage ≈ 1. Exact counts, round-6 links DECIMAL-folded,
      // pinned divisions.
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
      val pairs = Dedup.jaccardPairs(
        Dedup.shingles(docs, "doc_id", "text", 3), 0.5)
      val comp = Dedup.components(docs.select(col("doc_id")), "doc_id", pairs)
      val sizes = comp.groupBy(col("component")).agg(cnt.as("n_docs"))
        .filter(col("n_docs") >= 2)
      pairs.join(comp.withColumnRenamed("doc_id", "id1")
          .select(col("id1"), col("component")), "id1")
        .groupBy(col("component"))
        .agg(cnt.as("n_pairs"),
          min(col("jaccard")).as("min_jaccard"),
          round(sum(col("jaccard").cast("decimal(24,8)")).cast("double")
            / count(lit(1)).cast("double"), 6).as("mean_jaccard"))
        .join(sizes, "component")
        .select(col("component"), col("n_docs"), col("n_pairs"),
          col("min_jaccard"), col("mean_jaccard"),
          round((col("n_pairs") * lit(2L)).cast("double")
            / (col("n_docs") * (col("n_docs") - lit(1L))).cast("double"), 6)
            .as("pair_coverage"))
        .orderBy("component")
    }),

    "d37_savings_curve" -> ((s, dir) => {
      // the BUSINESS CASE before a 100 TB dedup run (d34 tunes the
      // detector, this prices the outcome): per threshold τ, docs /
      // tokens / bytes removed if near-dups at ≥ τ collapse to their
      // cluster winner — the d06 resolution replayed at each τ, exact
      // integer savings + pinned share
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
      val sh = Dedup.shingles(docs, "doc_id", "text", 3)
      val sizes = docs.select(col("doc_id"),
        octet_length(col("text")).cast("long").as("_bytes"),
        size(filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0)).cast("long").as("_toks"))
      val totals = sizes.agg(cnt.as("_nd"), sum(col("_toks")).as("_tt"),
        sum(col("_bytes")).as("_tb"))
      // r19: ONE sealed overlap computation feeds all four taus
      // (jaccardPairsSweep) — the per-tau jaccardPairs calls re-ran
      // the shingle self-join four times; per-tau pair membership is
      // unchanged (same unrounded compare), so components are too
      val pairsByTau = Dedup.jaccardPairsSweep(sh, Seq(0.5, 0.6, 0.7, 0.8))
        .toMap
      Seq(0.5, 0.6, 0.7, 0.8).map { tau =>
        val comp = Dedup.components(docs.select(col("doc_id")), "doc_id",
          pairsByTau(tau))
        comp.filter(col("doc_id") =!= col("component"))
          .join(sizes, Seq("doc_id"))
          .agg(cnt.as("n_removed"),
            coalesce(sum(col("_toks")), lit(0L)).as("tokens_removed"),
            coalesce(sum(col("_bytes")), lit(0L)).as("bytes_removed"))
          .crossJoin(broadcast(totals))
          .select(lit(tau).as("tau"), col("n_removed"),
            col("tokens_removed"), col("bytes_removed"),
            round(col("tokens_removed").cast("double")
              / col("_tt").cast("double"), 6).as("token_share"))
      }.reduce(_ unionAll _).orderBy("tau")
    }),

    "d36_dup_by_source" -> ((s, dir) => {
      // WHICH sources contribute the duplicates (the actionable
      // dedup dashboard row — d28 histograms cluster sizes, d22
      // measures pairwise overlap; the curator's question is "which
      // crawl do I drop"): the d06 resolution joined back to source,
      // dup = any non-winner member, per-source rate
      val comp = queries("d06_dedup_resolve")(s, dir)
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), col("source"))
      comp.join(docs, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(cnt.as("n_docs"),
          sum(when(col("doc_id") =!= col("component"), 1L).otherwise(0L))
            .as("n_dups"))
        .withColumn("dup_rate",
          round(col("n_dups").cast("double") / col("n_docs").cast("double"), 6))
        .orderBy("source")
    }),

    "d20_soft_dedup" -> ((s, dir) => {
      // SoftDeDup: downweight near-dup clusters to unit total mass
      // instead of dropping members — weight = 1/|component|
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
      val pairs = Dedup.jaccardPairs(
        Dedup.shingles(docs, "doc_id", "text", 3), 0.5)
      Dedup.softDedupWeights(docs.select(col("doc_id")), "doc_id", pairs)
        .select(col("doc_id"), col("component"), col("cluster_size"), col("weight"))
        .orderBy("doc_id")
    }),

    "d07_keep_best" -> ((s, dir) => {
      // near-dup resolution a curation pipeline wants: among near
      // duplicates keep the highest-QUALITY copy, not the smallest id
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
      val pairs = Dedup.jaccardPairs(
        Dedup.shingles(docs, "doc_id", "text", 3), 0.5)
      Dedup.resolveKeepBest(docs, "doc_id", "quality", pairs)
        .select("doc_id", "component", "quality")
        .orderBy("doc_id")
    }),

    "d08_decontaminate" -> ((s, dir) => {
      // eval-contamination sweep: every 50th doc plays the benchmark set
      val docs = T(s, dir, "documents")
      Decontaminate.flag(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", shingleN = 3, minOverlap = 5)
        .select(col("id").as("doc_id"), col("n_bench_hits"), col("max_overlap"))
        .orderBy("doc_id")
    }),

    "d21_semantic_decontaminate" -> ((s, dir) => {
      // paraphrase-contamination sweep: the 20 lowest-id embeddings
      // play the eval set; corpus rows within cosine 0.35 of any of
      // them flag, with the nearest eval item named. Eval vectors ride
      // as literals — zero shuffles, no join
      val emb = T(s, dir, "embeddings")
      Decontaminate.semanticFlag(
          emb.filter(col("vec_id") >= 20), "vec_id", "embedding",
          emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          threshold = 0.35)
        .select(col("id").as("vec_id"), col("eval_id"), col("cos"))
        .orderBy("vec_id")
    }),

    "d22_source_overlap" -> ((s, dir) =>
      // cross-source overlap audit: pairwise shingle-Jaccard estimates
      // from per-source KMV bottom-128 sketches — the "how much does
      // crawl A repeat crawl B" report, corpus touched exactly once
      Dedup.sourceOverlapKmv(T(s, dir, "documents"), "source", "text",
          k = 128)
        .orderBy("s1", "s2")),

    "d09_blocklist" -> ((s, dir) => {
      // bloom-prune + exact-verify blocklist scrub: result is exactly
      // the anti join, but only bloom-positive rows reach the join
      val docs = T(s, dir, "documents")
      val blocked = docs.filter(col("doc_id") % 97 === 0)
        .select(col("text").as("blocked_text"))
      operators.Blocklist.filterOut(docs, blocked, "text", "blocked_text")
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    "d10_containment" -> ((s, dir) =>
      // asymmetric near-dup: short doc quoted inside a longer one has
      // low jaccard but high containment from the short side
      Dedup.containmentPairs(
          Dedup.shingles(T(s, dir, "documents").filter(col("doc_id") < 500),
            "doc_id", "text", 3), 0.8)
        .orderBy("id1", "id2")),

    "t10_heavy_hitters_by_key" -> ((s, dir) =>
      // the Misra-Gries aggregate is mergeable AND group-able: per-user-
      // segment top event types in k-bounded memory per group
      T(s, dir, "events")
        .withColumn("seg", (col("user_id") % 10).cast("long"))
        .groupBy("seg")
        .agg(graft.functions.HeavyHittersAgg.top(col("event_type"), 16).as("hh"))
        .select(col("seg"), explode(col("hh")).as("h"))
        .select(col("seg"), col("h.item").as("item"), col("h.cnt").as("cnt"))
        .orderBy(col("seg"), col("cnt").desc, col("item"))),

    "d05_dedup_embedding" -> ((s, dir) =>
      // exact-cosine ORACLE baseline, bounded to a fixed id slice: the
      // all-pairs join is quadratic, so it runs only on this slice (the
      // whole table at sf0.01); s06 is the unbounded-scale LSH path
      Similarity.cosinePairs(
          T(s, dir, "embeddings").filter(col("vec_id") < 1000),
          "vec_id", "embedding", 0.45)
        .orderBy("id1", "id2")),

    "s01_ann_brute" -> ((s, dir) =>
      AnnRankings.brute(AnnRankings.emb(s, dir))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")),

    "s17_filtered_ann" -> ((s, dir) => {
      // metadata-filtered vector search (pre-filter strategy): top-10
      // cosine among label=1 vectors only; the predicate reaches the
      // parquet scan, the ranking is exact within survivors
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.filteredTopK(emb, "vec_id", "embedding",
          col("label") === 1, q, "qid", "qvec", k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "s18_postfiltered_ann" -> ((s, dir) => {
      // the POST-FILTER strategy on the same task as s17: top-20 on
      // the unfiltered corpus, then label=1 + re-rank to 10. Short
      // result lists (a predicate-sparse neighborhood survives with
      // < 10 rows) are the measurable recall loss the over-fetch
      // factor trades against; exact arithmetic end to end
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.filteredTopKPost(emb, "vec_id", "embedding",
          col("label") === 1, q, "qid", "qvec", k = 10, overFetch = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "s19_mmr_rerank" -> ((s, dir) => {
      // MMR diverse re-ranking (Carbonell & Goldstein 1998): 5 greedy
      // rounds of argmax(0.7*rel - 0.3*maxSimToSelected) over the
      // exact top-20 prefetch — declarative round unrolling, no UDF;
      // the oracle replays the identical rounds as chained CTEs
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.mmrTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
          k = 5, prefetch = 20, lam = 0.7)
        .orderBy("query_id", "mmr_rank")
    }),

    "s02_ann_lsh" -> ((s, dir) => {
      // seeded multi-table LSH ANN, served as a DRIVER-PROVABLE
      // recall report (r16 verdict task 1): the xxhash-seeded ranking
      // itself is not DuckDB-expressible, so the query runs lshTopK
      // AND the brute-force exact ranking and emits pooled recall@10
      // >= 0.80 pinned true in the oracle (measured micro 0.88–0.94
      // across the three SFs; GateProbe). The ranking mechanism stays
      // the operator under test — a signature or banding drift now
      // breaks the driver hash, not just ScaleOpsSpec's 0.89 gate.
      val emb = AnnRankings.emb(s, dir)
      annRecallGate(AnnRankings.lsh(emb), AnnRankings.brute(emb),
        k = 10, threshold = 0.80, "recall_ge_080")
    }),

    "s33_lsh_portable" -> ((s, dir) => {
      // hash-exact multi-probe LSH (lshTopK's portable twin): md5-sign
      // hyperplanes + ordered-fold projections make the signature,
      // bucket join, RADIUS-2 probe expansion (all 22 probeMasks(6,2)
      // bit-flips, enumerated literally in the oracle), and top-k all
      // replay in SQL — the d11/d12 auditability move applied to the
      // ANN family, at the fewer-tables/deeper-probe operating point
      // the multi-probe trade exists for
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshPortableTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
          k = 10, dims = 64, numPlanes = 6, numTables = 4, probeRadius = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "s41_knn_homophily" -> ((s, dir) => {
      // label homophily of the exact kNN graph (does the embedding
      // geometry respect the labels? the go/no-go check before
      // trusting s38's label propagation): per label, the share of
      // kNN edges staying in-label vs the chance rate (n_l−1)/(N−1),
      // lift = share/chance — all exact counts and pinned divisions
      // over the s16 graph on the same bounded slice
      val emb = T(s, dir, "embeddings").filter(col("vec_id") < 200)
      val lab = emb.select(col("vec_id"), col("label").cast("long").as("_l"))
      val sizes = lab.groupBy(col("_l")).agg(cnt.as("n_nodes"))
      val nTot = lab.agg(cnt.as("_N"))
      val e = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
        .join(broadcast(lab.select(col("vec_id").as("src"),
          col("_l").as("_sl"))), Seq("src"))
        .join(broadcast(lab.select(col("vec_id").as("dst"),
          col("_l").as("_dl"))), Seq("dst"))
      val g = e.groupBy(col("_sl").as("label"))
        .agg(cnt.as("n_edges"),
          sum(when(col("_sl") === col("_dl"), 1L).otherwise(0L)).as("n_same"))
      val share = col("n_same").cast("double") / col("n_edges").cast("double")
      val chance = (col("n_nodes") - lit(1L)).cast("double") /
        (col("_N") - lit(1L)).cast("double")
      g.join(broadcast(sizes.withColumnRenamed("_l", "label")), Seq("label"))
        .crossJoin(broadcast(nTot))
        .select(col("label"), col("n_nodes"), col("n_edges"), col("n_same"),
          round(share, 6).as("same_share"),
          round(share / chance, 6).as("lift"))
        .orderBy("label")
    }),

    "s40_dim_profile" -> ((s, dir) =>
      // the dead-dimension audit: per-position mean/variance/min/max
      // + dead flag over the embedding column, one pos-keyed shuffle
      Similarity.dimProfile(T(s, dir, "embeddings"), "embedding")),

    "s42_mrr" -> ((s, dir) => {
      // mean-reciprocal-rank eval beside s35/s39's recall: WHERE in
      // the approx ranking does the true nearest neighbor land (a
      // recall=1 index that ranks the true NN 9th still degrades
      // retrieval) — exact top-1 joined into the portable LSH
      // ranking, rr = 1/rank, 0 when missed
      val ex1 = queries("s01_ann_brute")(s, dir)
        .filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"))
      val ap = queries("s33_lsh_portable")(s, dir)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("_ar"))
      ex1.join(ap, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(min(col("_ar")).as("rank_of_true"))
        .select(col("query_id"), col("rank_of_true"),
          coalesce(round(lit(1.0) / col("rank_of_true").cast("double"), 6),
            lit(0.0)).as("reciprocal_rank"))
        .orderBy("query_id")
    }),

    "s39_recall_curve" -> ((s, dir) => {
      // s35's gate as a CURVE (the tuning view: how fast does LSH
      // recall decay as k grows): recall@{1,5,10} of the portable
      // multi-probe rung vs brute force, micro (pooled) and macro
      // (per-query mean, decimal-quantized) in one report
      val ap = queries("s33_lsh_portable")(s, dir)
      val ex = queries("s01_ann_brute")(s, dir)
      Seq(1, 5, 10).map { k =>
        operators.Similarity.recallAtK(ap, ex, k)
          .agg(cnt.as("n_queries"),
            sum(col("n_exact")).as("total_exact"),
            sum(col("n_hits")).as("total_hits"),
            (sum(col("recall").cast("decimal(18,6)")).cast("double")
              / count(lit(1)).cast("double")).as("_m"))
          .select(lit(k.toLong).as("k"), col("n_queries"),
            col("total_exact"), col("total_hits"),
            round(col("total_hits").cast("double")
              / col("total_exact").cast("double"), 6).as("micro_recall"),
            round(col("_m"), 6).as("macro_recall"))
      }.reduce(_ unionAll _).orderBy("k")
    }),

    "s35_recall_eval" -> ((s, dir) =>
      // the ANN accuracy gate as a FIRST-CLASS operator (AnnRecallSpec
      // productionized): recall@10 of the portable multi-probe LSH
      // rung against the exact brute-force rung over the same query
      // set — the check a 100 TB deployment re-measures on every
      // index rebuild and alerts on; both rungs are oracle-exact, so
      // the composed report is hash-exact too
      operators.Similarity.recallAtK(
          queries("s33_lsh_portable")(s, dir),
          queries("s01_ann_brute")(s, dir), k = 10)
        .orderBy("query_id")),

    "s03_ann_ivf" -> ((s, dir) => {
      // seeded IVF ANN as a driver-provable recall report (same move
      // as s02; measured micro 0.96–1.00 across SFs, gate 0.90). The
      // hash-sampled coarse quantizer + nprobe search still runs in
      // full — only the driver-visible surface is the gate.
      val emb = AnnRankings.emb(s, dir)
      annRecallGate(AnnRankings.ivf(emb), AnnRankings.brute(emb),
        k = 10, threshold = 0.90, "recall_ge_090")
    }),

    "s06_cosine_pairs_lsh" -> ((s, dir) => {
      // the embedding near-dup SCALE path: O(bucket^2) LSH candidates
      // instead of the O(n^2) exhaustive d05, served as a
      // driver-provable COVERAGE report (r16 verdict task 1): the
      // seeded pair mining runs over the FULL corpus, then its found
      // set is audited against the exact cosine>=0.45 pairs on the
      // bounded d05 slice (vec_id < 1000 — ground truth must stay
      // sub-quadratic, the s35 five-query discipline applied to
      // pairs). Found pairs are verified-exact by construction
      // (precision 1), so coverage is the only quality axis; SRP
      // collision math puts threshold-boundary pairs near p≈0.46 per
      // 8-table probe, and measured slice coverage is 0.51–0.64
      // across SFs → gate 0.40, pinned true in the oracle. maxBucket
      // caps a degenerate hyperplane bucket pre-self-join (no-op at
      // these SFs — buckets run ~100x smaller than the cap).
      val emb = AnnRankings.emb(s, dir)
      val lsh = AnnRankings.cosineLshPairs(emb)
      val exact = Similarity.cosinePairs(emb.filter(col("vec_id") < 1000),
        "vec_id", "embedding", 0.45).select(col("id1"), col("id2"))
      exact.join(lsh.select(col("id1"), col("id2"), lit(1L).as("_f")),
          Seq("id1", "id2"), "left")
        .agg(cnt.as("n_exact_slice"),
          sum(coalesce(col("_f"), lit(0L))).as("_h"))
        .select(col("n_exact_slice"),
          coalesce(col("_h").cast("double") /
              col("n_exact_slice").cast("double") >= lit(0.40),
            lit(true)).as("coverage_ge_040"))
    }),

    "s34_cosine_pairs_portable" -> ((s, dir) =>
      // s06's hash-exact twin: md5-plane signatures make the bucket
      // membership — hence the EXACT candidate set — SQL-replayable,
      // so the sublinear pair-mining mechanism itself is auditable,
      // not just recall-gated; same 10k degenerate-bucket cap,
      // replicated in the oracle as a windowed count filter
      Similarity.cosinePairsPortable(T(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.45, dims = 64, numPlanes = 6,
          numTables = 4, maxBucket = Some(10000))
        .orderBy("id1", "id2")),

    "s07_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(T(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("pos"), col("code"), col("scale"))
        .orderBy("vec_id", "pos")),

    "s21_top_pc" -> ((s, dir) =>
      // top principal component by power iteration: the PCA-rotation
      // prerequisite and the embedding anisotropy/drift diagnostic;
      // one corpus moment pass + a driver-side iteration over the
      // d x d matrix, hash-exact via the round6/decimal discipline
      Similarity.topPcPower(T(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("pos")),

    "s22_pc_project" -> ((s, dir) =>
      // the PCA APPLY step: every vector's signed coordinate along
      // the corpus top PC (s21's training pass), centered by the same
      // corpus mean; loadings+means embed as literals in one
      // zero-shuffle narrow pass, engine-exact via round6/decimal
      Similarity.pcProject(T(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("pc_score"))
        .orderBy("vec_id")),

    "s27_top_pc_fd" -> ((s, dir) =>
      // Frequent-Directions top direction: the scale path past s21's
      // d^2 <= 16384 exact-Gramian contract — an ell x d mergeable
      // sketch with the Liberty covariance guarantee. Rows-only
      // (SVD not oracle-expressible); FdSketchSpec gates accuracy,
      // the error bound, and d=768 recovery.
      Similarity.topPcFd(T(s, dir, "embeddings"), "vec_id", "embedding",
          ell = 32)
        .orderBy("pos")),

    "s24_pca_topk" -> ((s, dir) =>
      // top-3 principal components by power iteration + Hotelling
      // deflation: ONE Gramian corpus pass trains all components
      // (deflation is a d^2 driver update); the k-axis anisotropy
      // view and the OPQ-style rotation trainer
      Similarity.topKPcPower(T(s, dir, "embeddings"), "vec_id",
          "embedding", k = 3)
        .orderBy("component", "pos")),

    "s25_pc_whiten" -> ((s, dir) =>
      // PCA whitening: every vector's centered coordinate along each
      // top-3 component plus the sqrt(eigenvalue)-normalized whitened
      // coordinate — k*d loadings + d means as literals, one
      // zero-shuffle narrow pass, k rows per vector
      Similarity.pcWhiten(T(s, dir, "embeddings"), "vec_id",
          "embedding", k = 3)
        .select(col("id").as("vec_id"), col("component"),
          col("score"), col("white"))
        .orderBy("vec_id", "component")),

    "s20_int8_ann" -> ((s, dir) => {
      // symmetric int8 quantized search (FAISS SQ8 shape): scales
      // cancel out of the cosine, so ranking runs entirely on BIGINT
      // code arithmetic — 8x less scan bandwidth than float64 and
      // zero float-reassociation hazard; oracle-EXACT
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.int8TopK(emb, "vec_id", "embedding", q, "qid", "qvec", k = 10)
        .orderBy("query_id", "rank")
    }),

    "s08_random_projection" -> ((s, dir) =>
      // deterministic SRP 64 -> 16 dims (md5-parity signs, decimal
      // sums): the dimensionality-reduction front of an embedding
      // pipeline, bit-identical across engines
      Similarity.randomProjection(T(s, dir, "embeddings"), "vec_id", "embedding", 16)
        .select(col("id").as("vec_id"), col("j"), col("proj"))
        .orderBy("vec_id", "j")),

    "p04_source_quota" -> ((s, dir) =>
      // cap any one source's contribution (md5-ordered keep, not
      // arrival-ordered): no giant domain dominates the corpus
      Training.sourceQuota(T(s, dir, "documents"), "source", "doc_id", 30L)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    "p22_fim_split" -> ((s, dir) =>
      // fill-in-the-middle span assignment at the published 0.5 rate:
      // hash-gated selection, two uniform md5-channel cut points,
      // PSM/SPM by a further channel — row-local, reproducible,
      // composes in front of the packing family unchanged
      Training.fimSplit(T(s, dir, "documents"), "doc_id", "text",
          fimRate = 0.5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "p05_split" -> ((s, dir) =>
      // deterministic 10/10/80 val/test/train split by md5 hash range:
      // a doc's split never changes as the corpus grows
      Training.assignSplit(T(s, dir, "documents"), "doc_id",
          valFrac = 0.1, testFrac = 0.1)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),

    "p19_interleave" -> ((s, dir) =>
      // stratified interleaved training order: round r holds the
      // r-th md5-ranked doc of every source — consecutive training
      // positions rotate across sources instead of chancing long
      // same-source runs; one source-key shuffle, no global window
      Training.interleaveOrder(T(s, dir, "documents"), "doc_id", "source")
        .select(col("doc_id"), col("source"), col("round"), col("ord"))
        .orderBy("round", "ord")),

    "p18_leakage_split" -> ((s, dir) => {
      // cluster-aware train/val/test split: near-dup components (the
      // d06 machinery on the same 3-gram tau=0.5 pairs) draw ONE hash
      // bucket per component, so a duplicate can never land in train
      // while its twin lands in test
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
      val pairs = Dedup.jaccardPairs(
        Dedup.shingles(docs, "doc_id", "text", 3), 0.5)
      Training.leakageSafeSplit(docs.select(col("doc_id")), "doc_id",
          pairs, valFrac = 0.2, testFrac = 0.2)
        .select(col("doc_id"), col("component"), col("split"))
        .orderBy("doc_id")
    }),

    "p06_token_budget" -> ((s, dir) =>
      // reproducible ~N-token corpus cut: whole docs in md5 order
      // until the budget; distributed prefix sum, no global window
      Training.tokenBudget(
          T(s, dir, "documents").withColumn("n_toks",
            graft.functions.TextFunctions.tokenCountWs(col("text")).cast("long")),
          "doc_id", "n_toks", budget = 20000L)
        .select(col("doc_id"), col("n_toks"))
        .orderBy("doc_id")),

    "p06b_token_budget_bpe" -> ((s, dir) => {
      // the honest-token budget cut the t34/t35 trio advertises:
      // p06's distributed prefix-sum budget device fed by the
      // corpus-trained BPE token counts (shared memoized table)
      // instead of whitespace counts — budget math over the tokens
      // the model actually pays for
      val merges = bpeTable(s, dir, 8).map(_._2)
      val counted = TextStats.bpeTokenCounts(
          T(s, dir, "documents"), "doc_id", "text", merges)
        .withColumnRenamed("id", "doc_id")
      Training.tokenBudget(counted, "doc_id", "n_bpe", budget = 80000L)
        .select(col("doc_id"), col("n_bpe"))
        .orderBy("doc_id")
    }),

    "p10_chunk_windows" -> ((s, dir) =>
      // context-window chunking: 32-token windows every 24 tokens
      // (8-token overlap); the tail chunk runs short, empty docs drop
      Training.chunkWindows(T(s, dir, "documents"), "doc_id", "text",
          maxLen = 32, stride = 24)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_idx")),

    "p07_dsir" -> ((s, dir) =>
      // DSIR importance resampling (Xie et al. 2023): hashed
      // unigram+bigram bucket LM ratio of the en-language target
      // slice vs the raw corpus; deterministic top-100 by log weight
      Training.dsirWeights(T(s, dir, "documents"), "doc_id", "text",
          targetPred = col("lang") === "en")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "p08_temperature" -> ((s, dir) =>
      // Pile/mT5-style temperature mixture: halve the corpus with
      // per-source shares ∝ sqrt(n_s); exact integer quota math,
      // salted two-phase md5-order selection
      Training.temperatureSample(T(s, dir, "documents"), "source",
          "doc_id", targetNum = 1L, targetDen = 2L)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    "p09_curriculum" -> ((s, dir) =>
      // curriculum staging: 4 quality bands cut BY VALUE on the score
      // histogram (stage 1 = cleanest; equal scores share a stage) —
      // the corpus itself never windows
      Training.curriculumStages(T(s, dir, "documents"), "doc_id",
          functions.TextFunctions.qualityScore(col("text")), nStages = 4)
        .select(col("id").as("doc_id"), col("score").as("quality"),
          col("stage"))
        .orderBy("doc_id")),

    "p11_diverse_sample" -> ((s, dir) => {
      // cluster-balanced coreset sampling: nearest of 8 fixed
      // centroids (lowest-id embeddings — the s09 oracle-replayable
      // k-means stand-in), then at most 50 md5-ordered picks per
      // cluster: dense modes clip at the quota, rare modes keep all
      val emb = T(s, dir, "embeddings")
      Similarity.diverseSample(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", quota = 50)
        .orderBy("vec_id")
    }),

    "p12_pack_greedy" -> ((s, dir) =>
      // no-split greedy (next-fit) packing: 512-token packs that never
      // cross a 128-doc id shard — the bounded sequential unit that
      // makes greedy packing distribute
      Training.packGreedy(
          T(s, dir, "documents").withColumn("n_toks",
            graft.functions.TextFunctions.tokenCountWs(col("text")).cast("long")),
          "doc_id", "n_toks", seqLen = 512L, shardSize = 128L)
        .orderBy("doc_id")),

    "p20_pack_efficiency" -> ((s, dir) => {
      // the packing-quality report (the metric Krell et al. optimize):
      // padding vs capacity over p12's packs — an oversized lone doc
      // contributes its own fill as capacity, padding nothing
      val docs = T(s, dir, "documents").withColumn("n_toks",
        graft.functions.TextFunctions.tokenCountWs(col("text")).cast("long"))
      val packed = Training.packGreedy(docs, "doc_id", "n_toks",
        seqLen = 512L, shardSize = 128L)
      packed.join(docs.select(col("doc_id"), col("n_toks")), "doc_id")
        .groupBy(col("shard"), col("pack"))
        .agg(sum(col("n_toks")).as("fl"))
        .agg(cnt.as("n_packs"),
          sum(col("fl")).cast("long").as("n_tokens"),
          sum(when(col("fl") > 512, 1L).otherwise(0L)).cast("long")
            .as("n_oversized"),
          round(sum(greatest(lit(0L), lit(512L) - col("fl"))).cast("double")
            / sum(greatest(lit(512L), col("fl"))).cast("double"), 6)
            .as("waste_frac"),
          round(expr("percentile(fl, 0.5)"), 6).as("p50_fill"))
    }),

    "p21_seq_profile" -> ((s, dir) =>
      // per-source sequence-length profile: the distribution maxLen /
      // packing / chunking choices are made FROM — exact percentiles
      // per |sources| group, one shuffle
      T(s, dir, "documents")
        .select(col("source"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("n_toks"))
        .groupBy(col("source"))
        .agg(cnt.as("n_docs"),
          round(expr("percentile(n_toks, 0.5)"), 6).as("p50_toks"),
          round(expr("percentile(n_toks, 0.95)"), 6).as("p95_toks"),
          max(col("n_toks")).as("max_toks"),
          sum(col("n_toks")).cast("long").as("total_toks"))
        .orderBy("source")),

    "p15_pack_bestfit" -> ((s, dir) =>
      // best-fit-decreasing packing (Krell et al.'s main algorithm;
      // p12 is its next-fit baseline): longest-first placement into
      // the fullest open pack that fits, per 128-doc shard
      Training.packBestFit(
          T(s, dir, "documents").withColumn("n_toks",
            graft.functions.TextFunctions.tokenCountWs(col("text")).cast("long")),
          "doc_id", "n_toks", seqLen = 512L, shardSize = 128L)
        .orderBy("doc_id")),

    "p16_token_waterfill" -> ((s, dir) =>
      // max-min fair token allocation across sources: one water level
      // L with sum_s min(T_s, L) <= budget maximal; under-cap sources
      // keep everything, over-cap sources keep md5-first docs to L
      // tokens. BIGINT-exact level solve over the |sources|-row
      // totals frame; oracle replays the identical windows
      Training.tokenWaterfill(
          T(s, dir, "documents").withColumn("n_toks",
            graft.functions.TextFunctions.tokenCountWs(col("text")).cast("long")),
          "doc_id", "source", "n_toks", budget = 26000L)
        .select(col("doc_id"), col("source"), col("n_toks"))
        .orderBy("doc_id")),

    "p17_effective_tokens" -> ((s, dir) =>
      // Muennighoff 2023 data-constrained accounting: per-source
      // effective tokens under a 2000-token/source allocation —
      // repetition value decays as e^(-R/5.3), evaluated as an
      // engine-exact Horner chain so the oracle hash-matches
      Training.effectiveTokens(
          T(s, dir, "documents").withColumn("n_toks",
            graft.functions.TextFunctions.tokenCountWs(col("text")).cast("long")),
          "source", "n_toks", allocPerSource = 2000.0)
        .orderBy("source")),

    "d25_sig_store_dedup" -> ((s, dir) => {
      // signature-store dedup: the old half's text never enters the
      // plan after its one-time signature build — candidates from
      // band buckets, similarity ESTIMATED as matching components/8
      // (the MinHash unbiased estimator), the realistic corpus-append
      // shape where yesterday's petabytes are cold
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
      val store = Dedup.portableSignatureStore(
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      Dedup.sigStoreDedup(store, docs.filter(col("doc_id") >= 250),
          "doc_id", "text", minMatches = 4)
        .select(col("doc_id"), col("matched_id"), col("matches"),
          col("est_jaccard"))
        .orderBy("doc_id", "matched_id")
    }),

    "d28_dedup_report" -> ((s, dir) => {
      // per-source duplication report card: how much of each source
      // is duplicated text, how many clusters, the largest cluster —
      // the between-stage drift view (mirror/SEO-farm jumps, giant
      // boilerplate clusters) on the same 3-gram tau=0.5 components
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
      val pairs = Dedup.jaccardPairs(
        Dedup.shingles(docs, "doc_id", "text", 3), 0.5)
      Dedup.dedupReport(docs.select(col("doc_id"), col("source")),
          "doc_id", "source", pairs)
        .orderBy("source")
    }),

    "d27_incremental_cc" -> ((s, dir) => {
      // append-mode component resolution: yesterday's store (old half
      // + its own pairs) folds in today's batch via edge CONTRACTION
      // — CC runs on a graph proportional to the NEW pairs, never
      // history — and must equal one-shot CC over everything (the
      // oracle computes exactly that)
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
      val oldDocs = docs.filter(col("doc_id") < 250)
      val newDocs = docs.filter(col("doc_id") >= 250)
      val store = Dedup.components(oldDocs.select(col("doc_id")), "doc_id",
          Dedup.jaccardPairs(Dedup.shingles(oldDocs, "doc_id", "text", 3), 0.5))
        .select(col("doc_id").as("id"), col("component"))
      // in production these arrive from d25's sig-store matches; here
      // the same tau=0.5 pairs touching at least one new doc
      val newPairs = Dedup.jaccardPairs(
          Dedup.shingles(docs, "doc_id", "text", 3), 0.5)
        .filter(col("id1") >= 250 || col("id2") >= 250)
      Dedup.incrementalComponents(store, newDocs.select(col("doc_id")),
          "doc_id", newPairs)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    "d26_kmv_store_merge" -> ((s, dir) => {
      // incremental corpus stats: two ingest runs each sketch their
      // own half's per-source distinct tokens (KMV bottom-64 over
      // portable md5); the stores merge with pure column arithmetic
      // and the merged estimates HASH-MATCH the oracle's one-shot
      // whole-corpus pass — the driver-verified mergeability proof
      // behind never re-scanning cold history
      val docs = T(s, dir, "documents")
      def toks(df: org.apache.spark.sql.DataFrame) = df
        .select(col("source"),
          explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
      val runA = graft.operators.SketchStore.kmvStore(
        toks(docs.filter(col("doc_id") < 500)), "source", md5(col("tok")), 64)
      val runB = graft.operators.SketchStore.kmvStore(
        toks(docs.filter(col("doc_id") >= 500)), "source", md5(col("tok")), 64)
      graft.operators.SketchStore.kmvStoreMerge(runA, runB, "source", 64)
        .select(col("source"), size(col("kmv")).cast("long").as("n_sketch"),
          graft.functions.KmvAgg.distinctEst(col("kmv"), 64)
            .as("distinct_tokens_est"))
        .orderBy("source")
    }),

    "p13_epoch_repeat" -> ((s, dir) =>
      // fractional epoch mixing (GPT-3 Table 2.2 style): the head
      // sources train 2.45 epochs, the tail 0.7 — every doc repeats
      // floor(ep) times plus an md5-drawn extra for the fraction
      Training.epochRepeat(T(s, dir, "documents"), "doc_id",
          when(col("source").isin("src0", "src1", "src2", "src3", "src4"),
            lit(2.45)).otherwise(lit(0.7)))
        .orderBy("doc_id", "epoch")),

    "p14_weighted_sample" -> ((s, dir) =>
      // Efraimidis–Spirakis A-ES weighted sample: 100 docs drawn
      // without replacement, inclusion odds ∝ token count; u from the
      // doc's own md5 so the draw reproduces in any engine. Empty
      // docs are excluded EXPLICITLY (weight 0 can never be drawn —
      // passing one fails loudly by contract)
      Training.weightedSample(
          T(s, dir, "documents").withColumn("n_toks",
            graft.functions.TextFunctions.tokenCountWs(col("text")).cast("long"))
            .filter(col("n_toks") > 0),
          "doc_id", col("n_toks"), k = 100)
        .select(col("doc_id"), col("n_toks"), col("_wkey").as("wkey"))
        .orderBy("doc_id")),

    "s37_pq_error" -> ((s, dir) => {
      // PQ RECONSTRUCTION-ERROR report (the pre-commit check for a PQ
      // index: how much geometry does each subspace's codebook throw
      // away?): per (vector, subspace) the true squared error to the
      // assigned codeword — terms sum in pinned i-order (both engines
      // fold sequentially), quantize to DECIMAL (the q53 rule), and
      // the per-subspace mean is one division; reuses the s10 code
      // assignment verbatim
      val emb = T(s, dir, "embeddings")
      val codes = queries("s10_pq")(s, dir)
      val cb = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("code"), col("embedding").as("_cv"))
      val ev = emb.select(col("vec_id"), col("embedding").as("_ev"))
      val se = (0 until 8).map { i =>
        val pos = (col("sub") * 8 + lit(i) + lit(1)).cast("int")
        val d = element_at(col("_ev"), pos).cast("double") -
          element_at(col("_cv"), pos).cast("double")
        d * d
      }.reduceLeft(_ + _)
      codes.join(ev, Seq("vec_id")).join(broadcast(cb), Seq("code"))
        .withColumn("_se", round(se, 6).cast("decimal(24,8)"))
        .groupBy(col("sub"))
        .agg(cnt.as("n_vectors"),
          round(sum(col("_se")).cast("double")
            / count(lit(1)).cast("double"), 6).as("mse"))
        .orderBy("sub")
    }),

    "s10_pq" -> ((s, dir) => {
      // product quantization m=8 over 64 dims — 8 codes per vector,
      // the IVF-PQ storage layout; codebook = the 16 lowest-id
      // vectors' subvectors (deterministic k-means stand-in)
      val emb = T(s, dir, "embeddings")
      Similarity.productQuantize(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 16), "vec_id", "embedding", m = 8)
        .select(col("id").as("vec_id"), col("sub"), col("code"))
        .orderBy("vec_id", "sub")
    }),

    "s11_pq_adc" -> ((s, dir) => {
      // PQ asymmetric-distance top-k: the IVF-PQ query path — corpus
      // seen only through its 8 codes, per-query distance tables
      // broadcast, decimal-summed lookups (deterministic vs oracle)
      val emb = T(s, dir, "embeddings")
      Similarity.pqAdcTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          emb.filter(col("vec_id") < 16), "vec_id", "embedding",
          m = 8, k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "s12_ivf_pq" -> ((s, dir) => {
      // IVF-PQ end-to-end (FAISS IVFPQ composition): coarse-probe
      // nprobe of 16 lists, ADC-rank candidates through their 8 PQ
      // codes — the billion-scale query path assembled from s03's
      // lists + s10's codes + s11's ADC scan. Vectors are
      // L2-NORMALIZED first (the FAISS cosine recipe: on unit vectors
      // L2² = 2 − 2·cos, so the ADC L2 rank IS the cosine rank —
      // unnormalized, the two orderings diverge and recall@10 vs the
      // cosine brute force drops 0.42-level). Codebook = TRAINED
      // per-subspace k-means (trainPqCodebook — raw corpus rows as
      // codewords, s11's stand-in, quantize near-random embeddings too
      // coarsely to rank neighbors). Served as a driver-provable
      // recall report (r16 verdict task 1): the xxhash-seeded ranking
      // is not DuckDB-expressible, so the query emits pooled
      // recall@10 vs brute-force-on-the-same-normalized-vectors >=
      // 0.80 pinned true (measured micro 0.88–0.98 across SFs).
      // refine=3: ADC shortlists 3k, exact cosine re-ranks ONLY those
      // (FAISS IndexRefineFlat) — 30 raw-vector reads per query at any
      // corpus size, recall 0.74 -> 0.98
      val eN = AnnRankings.embNorm(s, dir)
      annRecallGate(AnnRankings.ivfPq(eN, AnnRankings.codebook(eN)),
        AnnRankings.brute(eN), k = 10, threshold = 0.80, "recall_ge_080")
    }),

    "s26_ann_index" -> ((s, dir) => {
      // the persistent ANN index workflow (build once, serve many —
      // the d25 store split applied to ANN): buildAnnIndex trains the
      // coarse quantizer and encodes the corpus into posting lists
      // with inline PQ codes; annIndexTopK then serves a query batch
      // against the STORE alone, never touching raw corpus vectors.
      // Served as a driver-provable EQUALITY report (r16 verdict
      // task 1): AnnIndexSpec's store-served == end-to-end ivfPqTopK
      // bit-for-bit pin, computed INSIDE the query — per query_id,
      // bool_and over the rank-aligned full-outer join of both
      // rankings (neighbor AND adc_dist equal, nulls coalesced to
      // false so a missing rank fails loudly) — with n_served pinned
      // to the exact-k count. A store-layout or serve-path drift now
      // breaks the driver hash, not just the spec.
      val eN = AnnRankings.embNorm(s, dir)
      val cb = AnnRankings.codebook(eN)
      val served = AnnRankings.annIndexServed(eN, cb)
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("_na"), col("adc_dist").as("_da"))
      val e2e = AnnRankings.ivfPq(eN, cb, refine = 1)
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("_nb"), col("adc_dist").as("_db"))
      served.join(e2e, Seq("query_id", "rank"), "full_outer")
        .groupBy(col("query_id"))
        .agg(cnt.as("n_served"),
          bool_and(coalesce(col("_na") === col("_nb") &&
            col("_da") === col("_db"), lit(false))).as("store_equals_e2e"))
        .orderBy("query_id")
    }),

    "s13_ivf_pq_residual" -> ((s, dir) => {
      // RESIDUAL-encoded IVF-PQ (the actual FAISS layout): corpus
      // vectors PQ-encode v − centroid with residual-trained subspace
      // codebooks; each query builds one ADC table per probed list
      // from its own residual. refine=1 on purpose: this entry shows
      // the COMPRESSED-domain rank quality residual coding buys; s12
      // shows the refined path. Served as a driver-provable recall
      // report (r16 verdict task 1): pooled compressed-domain
      // recall@10 >= 0.50 pinned true (measured micro 0.62–0.80
      // across SFs — the honest compressed-only number).
      val eN = AnnRankings.embNorm(s, dir)
      annRecallGate(AnnRankings.ivfPqResidual(eN), AnnRankings.brute(eN),
        k = 10, threshold = 0.50, "recall_ge_050")
    }),

    "s14_hamming_topk" -> ((s, dir) => {
      // binary-sketch ANN (Charikar simhash-for-cosine): 16-bit
      // portable SRP sign codes, XOR+popcount shortlist, exact-cosine
      // rerank — the whole path md5-deterministic, so unlike the
      // seeded LSH family it is oracle-exact end to end
      val emb = T(s, dir, "embeddings")
      Similarity.hammingTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    }),

    "s15_matryoshka" -> ((s, dir) => {
      // Matryoshka prefix-dim ANN (Kusupati et al. 2022): 16-of-64-dim
      // prefix cosine shortlist (the scan reads 1/4 of the vector
      // bytes), exact full-dim rerank of the top-50 — plain arithmetic
      // end to end, so oracle-exact
      val emb = T(s, dir, "embeddings")
      Similarity.matryoshkaTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 10, prefixDims = 16, shortlist = 50)
        .orderBy("query_id", "rank")
    }),

    "s09_semdedup" -> ((s, dir) => {
      // SemDeDup: centroid clusters bound the quadratic cosine scan;
      // within each cluster the lowest-id member of every >=0.35 ball
      // survives. Centroids here = the 8 lowest-id embeddings (a
      // deterministic stand-in for the k-means step, which the oracle
      // cannot replay)
      val emb = T(s, dir, "embeddings")
      Similarity.semDedup(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          threshold = 0.35)
        .select(col("id").as("vec_id"), col("cluster"))
        .orderBy("vec_id")
    }),

    "s04_centroids" -> ((s, dir) =>
      Similarity.centroids(T(s, dir, "embeddings"), "label", "embedding")
        .select(col("label"), col("pos"), round(col("c"), 6).as("c"))
        .orderBy("label", "pos")),

    "s23_centroid_sim" -> ((s, dir) =>
      // inter-slice redundancy audit: pairwise cosine between the
      // per-label centroids — near-1 pairs are candidate merges or
      // leakage; one corpus centroid pass, everything after runs on
      // the |labels| x d frame
      Similarity.centroidSimilarity(T(s, dir, "embeddings"),
          "label", "embedding")
        .orderBy("label1", "label2")),

    "s32_ivf_exact" -> ((s, dir) => {
      // ORACLE-EXACT IVF: trained coarse quantizer (s29's exact
      // trajectory), exact-integer probe of 2 nearest lists, s01
      // cosine over the probed candidates — the whole search replays
      // in SQL, making IVF's recall/cost trade auditable hash-exactly
      val emb = T(s, dir, "embeddings")
      Similarity.ivfExactTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 2, kClusters = 8, iters = 3, dims = 64,
          trained = Some(kmeansQuantizer(s, dir, 8, 3, 64)))
        .orderBy("query_id", "rank")
    }),

    "s44_store_adc" -> ((s, dir) => {
      // PORTABLE persisted-ANN serve (s26's build-once/serve-many
      // semantics made driver-provable — r15 verdict task 4): the
      // exact-Lloyd quantizer (s29/s32 trajectory) assigns the lists,
      // s10's PQ codes fill buildAnnIndex's store layout, and the s11
      // ADC chain serves queries FROM THE STORE ALONE — no raw corpus
      // vectors at query time. Every arithmetic step replays in SQL,
      // so the whole build+serve path is hash-exact, where the seeded
      // s26 rung can only be spec-gated.
      val emb = T(s, dir, "embeddings")
      val cents = kmeansQuantizer(s, dir, 8, 3, 64)
      val store = Similarity.buildPortableAnnStore(emb, "vec_id",
        "embedding", cents, emb.filter(col("vec_id") < 16), "vec_id",
        "embedding", m = 8, dims = 64)
      Similarity.storeAdcPortable(store, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", cents,
          emb.filter(col("vec_id") < 16), "vec_id", "embedding",
          m = 8, k = 10, nprobe = 2, dims = 64)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "s31_centroid_drift" -> ((s, dir) => {
      // snapshot drift monitor: even vec_ids stand in for the old
      // crawl, odd for the new — per label, did its region of
      // embedding space move?
      val emb = T(s, dir, "embeddings")
      Similarity.centroidDrift(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "label", "embedding")
        .orderBy("label")
    }),

    "s36_silhouette" -> ((s, dir) =>
      // clustering-quality gate for the s29/s30 pipeline: per-cluster
      // simplified silhouette under the SAME exact-micro Lloyd
      // centroids — separated clusters score high, one sliced blob
      // scores near 0
      operators.Similarity.silhouette(T(s, dir, "embeddings"),
        "vec_id", "embedding", kmeansQuantizer(s, dir, 8, 3, 64),
        dims = 64)),

    "s30_kmeans_prune" -> ((s, dir) => {
      // unsupervised SSL prototypes (Sorscher et al. 2022, the
      // headline composition): k-means in embedding space, then
      // prototypicality pruning within each TRAINED cluster — s29's
      // assignment feeds s28's ranker unchanged
      val emb = T(s, dir, "embeddings")
      val asg = Similarity.kmeansAssign(emb, "vec_id", "embedding",
          kmeansQuantizer(s, dir, 8, 3, 64), dims = 64)
        .select(col("id").as("vec_id"), col("cluster"))
      Similarity.protoPrune(emb.join(asg, "vec_id"), "vec_id", "cluster",
          "embedding", pruneNum = 3, pruneDen = 10)
        .withColumnRenamed("label", "cluster")
        .withColumnRenamed("rank_in_label", "rank_in_cluster")
        .withColumnRenamed("n_label", "n_cluster")
        .orderBy("cluster", "rank_in_cluster")
    }),

    "s43_ivf_balance" -> ((s, dir) => {
      // IVF index-health audit (the number that decides nprobe and
      // whether to retrain: a skewed list map makes every probe of
      // the fat list pay the imbalance): list sizes under the s29
      // quantizer with EMPTY lists materialized off the cluster
      // axis, share and imbalance = n·k/N as pinned divisions
      val k = 8
      val asg = Similarity.kmeansAssign(T(s, dir, "embeddings"), "vec_id",
        "embedding", kmeansQuantizer(s, dir, k, 3, 64), dims = 64)
      val counts = asg.groupBy(col("cluster")).agg(cnt.as("n_points"))
      val tot = asg.agg(cnt.as("_N"))
      s.range(k).select(col("id").as("cluster"))
        .join(counts, Seq("cluster"), "left")
        .na.fill(0L, Seq("n_points"))
        .crossJoin(broadcast(tot))
        .select(col("cluster"), col("n_points"),
          round(col("n_points").cast("double") / col("_N").cast("double"), 6)
            .as("share"),
          round(col("n_points").cast("double") * k.toDouble
            / col("_N").cast("double"), 6).as("imbalance"))
        .orderBy("cluster")
    }),

    "s29_kmeans_train" -> ((s, dir) =>
      // distributed Lloyd: 3 exact-integer-micro updates from the
      // md5-deterministic seed, then the final assignment — one
      // (cluster,pos) shuffle + one bounded k*d collect per iteration,
      // zero-shuffle literal-codegen assignment passes
      Similarity.kmeansAssign(T(s, dir, "embeddings"), "vec_id",
          "embedding", kmeansQuantizer(s, dir, 8, 3, 64), dims = 64)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")),

    "s28_proto_prune" -> ((s, dir) =>
      // prototypicality pruning (Sorscher et al. 2022): score every
      // vector against its own label centroid, prune the top-30% most
      // prototypical per label — one centroid pass, broadcast joins,
      // window ranked within the pruning cluster
      Similarity.protoPrune(T(s, dir, "embeddings"), "vec_id", "label",
          "embedding", pruneNum = 3, pruneDen = 10)
        .orderBy("label", "rank_in_label")),

    "s05_vec_norm" -> ((s, dir) =>
      T(s, dir, "embeddings")
        .select(col("vec_id"), round(Similarity.norm(col("embedding")), 6).as("l2"))
        .orderBy("vec_id")),

    "q26_full_outer" -> ((s, dir) => {
      // full outer join: users seen in events vs customers — either
      // side may be absent; shuffle on the key, AQE handles skew
      val ev = T(s, dir, "events")
        .groupBy(col("user_id")).agg(cnt.as("n_events"))
      val cust = T(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("cust_id"), col("c_mktsegment"))
      ev.join(cust, ev("user_id") === cust("cust_id"), "full_outer")
        .select(coalesce(col("user_id"), col("cust_id")).as("id"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("c_mktsegment"), lit("NONE")).as("segment"))
        .orderBy("id")
    }),

    "q27_rolling_window" -> ((s, dir) => {
      // TIME-range frame, not row frame: each event's trailing-1h sum
      // per user — ties in ts all join the frame, so the result is
      // order-independent; one shuffle on user_id
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600000000L, Window.currentRow)
      T(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"))
        .withColumn("rolling_sum",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .drop("value")
        .orderBy("user_id", "ts_us", "event_id")
    }),

    "q28_rank_funcs" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          dense_rank().over(w).cast("long").as("drnk"),
          round(percent_rank().over(w), 6).as("prnk"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_orderpriority", "drnk", "o_orderkey")
    }),

    "q23_grouping_sets" -> ((s, dir) => {
      T(s, dir, "orders").createOrReplaceTempView("graft_q23_orders")
      s.sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
                      coalesce(o_orderpriority, 'ALL') AS priority,
                      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                      CAST(count(*) AS BIGINT) AS n
               FROM graft_q23_orders
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                       (o_orderstatus, o_orderpriority))
               ORDER BY 1, 2""")
    }),

    "q25_percentile_approx" -> ((s, dir) =>
      // mergeable quantile sketch — the 100 TB path where exact
      // percentile's full sort-per-group is too expensive. r16: the
      // error gate is DRIVER-VISIBLE — the sketch value must land
      // within rank-tolerance of the exact percentile (accuracy=1000
      // bounds rank error by 1/1000 ≪ the ±0.02-rank bracket used
      // here), emitted as a boolean the oracle pins to LITERAL true
      // alongside the exact (class-P-safe) percentiles — so a drifted
      // sketch now fails the hash gate loudly instead of hiding in a
      // rows-only row
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile_approx(l_quantity, 0.5, 1000)").as("_a50"),
          expr("percentile_approx(l_quantity, 0.9, 1000)").as("_a90"),
          expr("percentile(l_quantity, 0.5)").as("p50_exact"),
          expr("percentile(l_quantity, 0.9)").as("p90_exact"),
          expr("percentile(l_quantity, 0.48)").as("_lo50"),
          expr("percentile(l_quantity, 0.52)").as("_hi50"),
          expr("percentile(l_quantity, 0.88)").as("_lo90"),
          expr("percentile(l_quantity, 0.92)").as("_hi90"))
        .select(col("l_returnflag"),
          round(col("p50_exact"), 6).as("p50_exact"),
          round(col("p90_exact"), 6).as("p90_exact"),
          (col("_a50").cast("double").between(col("_lo50"), col("_hi50")))
            .as("p50_in_rank_tol"),
          (col("_a90").cast("double").between(col("_lo90"), col("_hi90")))
            .as("p90_in_rank_tol"))
        .orderBy("l_returnflag")),

    "q22_approx_distinct" -> ((s, dir) =>
      // HLL++ distinct sketch (the 100 TB path vs q05's exact
      // shuffle). r16 driver-visible error gate: rsd=0.01 makes the
      // 5% acceptance a ~5σ bound, the exact distinct rides along
      // (hash-checked), and the oracle pins within_5pct to LITERAL
      // true — estimator drift now breaks the hash gate loudly
      // TWO-LEVEL aggregate: dedupe to (flag, partkey) grain first,
      // then count the grain rows (exact distinct WITHOUT the
      // count-distinct expand) and feed the SAME keys to the HLL —
      // registers are duplicate-insensitive, so the estimate is
      // bit-identical to the raw-stream sketch (isolated 4.6s → the
      // map-side-combining pair aggregate)
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_partkey"))
        .agg(cnt.as("_c"))
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.01).as("_approx"),
          cnt.as("exact_parts"),
          sum(col("_c")).cast("long").as("n"))
        .select(col("l_returnflag"), col("exact_parts"), col("n"),
          (abs(col("_approx").cast("double") -
            col("exact_parts").cast("double"))
            <= col("exact_parts").cast("double") * lit(0.05))
            .as("within_5pct"))
        .orderBy("l_returnflag")),

    "q30_distinct_kmv" -> ((s, dir) =>
      // q22's portable twin: KMV distinct estimate off the mergeable
      // bottom-256 md5 sketch — deterministic, so unlike HLL the
      // ESTIMATE itself hash-matches the oracle
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(functions.KmvAgg.sketch(
          md5(col("l_partkey").cast("string")), 256).as("_sk"))
        .select(col("l_returnflag"),
          size(col("_sk")).cast("long").as("n_sketch"),
          functions.KmvAgg.distinctEst(col("_sk"), 256).as("distinct_est"))
        .orderBy("l_returnflag")),

    "t40_code_switch" -> ((s, dir) =>
      // per-doc language consistency: sentence-level langId labels
      // collapsed to a (doc, lang) histogram — mixed-language docs
      // the doc-level t01 label hides by construction
      TextStats.codeSwitch(T(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "r41_jsonl" -> ((s, dir) => {
      // JSONL ingestion (the format crawl dumps arrive in): format
      // every document as a JSONL line, parse back under an EXPLICIT
      // schema with loud corrupt-record accounting, and aggregate —
      // the r01 format(parse(x)) == x oracle relation applied to the
      // JSON escape round trip, plus one injected malformed line that
      // must surface in the '(corrupt)' bucket instead of vanishing
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("lang", StringType), StructField("text", StringType)))
      val sq = s
      import sq.implicits._
      val lines = sources.Jsonl.toJsonl(T(s, dir, "documents"),
          col("doc_id"), col("source"), col("lang"), col("text"))
        .unionByName(Seq("{this is not json").toDF("value"))
      sources.Jsonl.parse(lines, schema)
        .withColumn("_src", when(col("_corrupt").isNotNull, lit("(corrupt)"))
          .otherwise(col("source")))
        .groupBy(col("_src").as("source"))
        .agg(cnt.as("n_docs"),
          coalesce(sum(size(filter(split(lower(col("text")), "\\s+"),
            t => length(t) > 0)).cast("long")), lit(0L)).as("n_tokens"))
        .orderBy("source")
    }),

    "r42_jsonl_gz" -> ((s, dir) => {
      // COMPRESSED JSONL ingestion (r16 verdict task 3): the r41
      // schema + corrupt-accounting chain reading ACTUAL gzip files
      // from disk — 4 shards written once per session (jsonlGzDir)
      // plus one malformed gzip member that must land in '(corrupt)'.
      // readJsonl resolves the codec from the extension and carries
      // the unsplittable-file guard (one giant .gz = one task = a
      // serialized scan at cluster scale — it throws instead).
      // zstd: probed at runtime via Jsonl.zstdAvailable — absent on
      // this build, so the query gates .gz and JsonlSpec documents
      // the env-dependence (the verdict-prescribed fallback).
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("lang", StringType), StructField("text", StringType)))
      sources.Jsonl.readJsonl(s, jsonlGzDir(s, dir), schema)
        .withColumn("_src", when(col("_corrupt").isNotNull, lit("(corrupt)"))
          .otherwise(col("source")))
        .groupBy(col("_src").as("source"))
        .agg(cnt.as("n_docs"),
          coalesce(sum(size(filter(split(lower(col("text")), "\\s+"),
            t => length(t) > 0)).cast("long")), lit(0L)).as("n_tokens"))
        .orderBy("source")
    }),

    "r43_warc" -> ((s, dir) => {
      // WARC ingestion (r17 — the web-archive half of the crawl-dump
      // story beside r42's JSONL): documents written once per session
      // as REAL member-compressed .warc.gz (Common Crawl layout),
      // read back through Warc.read's per-file record iterator, host
      // parsed from the WARC-Target-URI, payload decoded explicitly
      // (bytes stay opaque until the caller asks). One malformed
      // archive must surface as a '(corrupt)' row — the r41/r42
      // loud-loss discipline applied to record streams.
      sources.Warc.read(s, warcDir(s, dir))
        .withColumn("_src",
          when(col("warc_type") === "(corrupt)", lit("(corrupt)"))
            .otherwise(regexp_extract(col("target_uri"),
              "^http://([^/]+)/", 1)))
        .withColumn("_text", decode(col("content"), "UTF-8"))
        .groupBy(col("_src").as("source"))
        .agg(cnt.as("n_records"),
          coalesce(sum(size(filter(split(lower(col("_text")), "\\s+"),
            t => length(t) > 0)).cast("long")), lit(0L)).as("n_tokens"))
        .orderBy("source")
    }),

    "r44_crawl_intake" -> ((s, dir) => {
      // the END-TO-END crawl-intake chain in one driver-gated query
      // (r17, HTTP-framed in r18): a real member-compressed WARC
      // archive whose payloads are RFC 9112 responses around HTML
      // pages (the t50 template) → per-file record decode (r43's
      // path) → explicit payload decode → httpBody (r45's framing
      // split) → htmlToText → per-host corpus report. This is the
      // first mile of a 100 TB pipeline run exactly as deployed —
      // archive files in, clean tokens out — with every step's
      // arithmetic replayed by the oracle. The report transform is
      // streaming.CrawlIntake.report — shared verbatim with the
      // dir-watch tail form (WarcStreamSpec pins stream ≡ batch).
      streaming.CrawlIntake.report(
        sources.Warc.read(s, warcHtmlDir(s, dir))).orderBy("host")
    }),

    "r45_http_frame" -> ((s, dir) => {
      // HTTP payload framing (r18 — the step between r43's record
      // decode and t50's extraction): real WARC response payloads are
      // HTTP MESSAGES, not bare HTML. Typed extraction per response —
      // status code off the status line, Content-Type and
      // Content-Length off the head (case-insensitive field names),
      // body split at the first CRLFCRLF — rolled into a per-(host,
      // status) intake report. body_bytes is measured off the SPLIT
      // body while declared_bytes trusts the HEADER; the oracle
      // replays both from the page build, so an off-by-one at the
      // framing split (or a header leaking from the body) breaks the
      // hash loudly.
      import graft.functions.TextFunctions
      sources.Warc.read(s, warcHtmlDir(s, dir))
        .withColumn("_host",
          regexp_extract(col("target_uri"), "^http://([^/]+)/", 1))
        .withColumn("_msg", decode(col("content"), "UTF-8"))
        .select(col("_host"),
          TextFunctions.httpStatus(col("_msg")).as("_status"),
          TextFunctions.httpHeader(col("_msg"), "Content-Type").as("_ct"),
          TextFunctions.httpHeader(col("_msg"), "Content-Length")
            .cast("long").as("_clen"),
          octet_length(TextFunctions.httpBody(col("_msg")))
            .cast("long").as("_blen"))
        .groupBy(col("_host").as("host"), col("_status").as("status"),
          col("_ct").as("content_type"))
        .agg(cnt.as("n_responses"),
          sum(col("_clen")).as("declared_bytes"),
          sum(col("_blen")).as("body_bytes"))
        .orderBy("host", "status")
    }),

    "r46_redirect_edges" -> ((s, dir) => {
      // REDIRECT-EDGE EXTRACTION (r18 — the crawl frontier's second
      // input after page text): 3xx responses carry the next fetch
      // target in the Location header; this query lifts the typed
      // (from_doc, to_doc) edge list out of the archive — filter on
      // the parsed status, header extraction head-only (r45's
      // contract), ids parsed off both URIs. Downstream this edge
      // list is what q37/q39 chain-resolution machinery consumes; the
      // extraction is the new, archive-facing step, replayed by the
      // oracle from the fixture's doc_id rule.
      import graft.functions.TextFunctions
      sources.Warc.read(s, warcHtmlDir(s, dir))
        .withColumn("_msg", decode(col("content"), "UTF-8"))
        .select(
          regexp_extract(col("target_uri"), "^http://([^/]+)/", 1).as("host"),
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("from_doc"),
          TextFunctions.httpStatus(col("_msg")).as("_status"),
          TextFunctions.httpHeader(col("_msg"), "Location").as("_loc"))
        .filter(col("_status") >= 300 && col("_status") < 400)
        .select(col("host"), col("from_doc"),
          regexp_extract(col("_loc"), "/doc/([0-9]+)$", 1)
            .cast("long").as("to_doc"))
        .orderBy("from_doc")
    }),

    "r47_robots_filter" -> ((s, dir) => {
      // ROBOTS POLICY FILTER (r18 — the fetch-permission gate every
      // crawler runs ahead of the intake chain): a per-host
      // robots.txt is PARSED, not assumed — split lines, keep
      // Disallow rules, trim the prefixes, drop empties (an empty
      // Disallow allows everything) — then every doc URI path tests
      // against its host's prefixes and the per-host allowed/blocked
      // tally is reported. Parsing is pure higher-order-function
      // codegen (split/transform/filter/exists); the rule table is a
      // |hosts|-row broadcast join — policy lookup never shuffles the
      // corpus.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("source"),
        concat(lit("/doc/"), col("doc_id").cast("string")).as("_path"))
      val robots = docs.select(col("source")).distinct()
        .withColumn("_robots",
          when(length(col("source")) % 2 === 0,
            lit("User-agent: *\nDisallow: /doc/1\nDisallow: /admin\n"))
            .otherwise(lit("User-agent: *\nDisallow:\n")))
        .withColumn("_dis", filter(
          transform(split(col("_robots"), "\n"),
            l => when(l.startsWith("Disallow:"),
              trim(l.substr(lit(10), length(l)))).otherwise(lit(""))),
          p => length(p) > 0))
      docs.join(broadcast(robots.select(col("source"), col("_dis"))),
          Seq("source"))
        .withColumn("_blocked", exists(col("_dis"),
          p => col("_path").startsWith(p)))
        .groupBy(col("source").as("host"))
        .agg(cnt.as("n_docs"),
          sum(when(col("_blocked"), 1L).otherwise(0L)).as("n_blocked"))
        .orderBy("host")
    }),

    "r48_wet_export" -> ((s, dir) => {
      // WET EXPORT ROUND TRIP (r18 — the intake chain's OUTPUT side):
      // the r44 archive's pages are extracted and re-archived as
      // WARC `conversion` records (the Common Crawl WET shape) through
      // the executor-side writer, then read back and aggregated. The
      // report must equal r44's — the oracle replays the page
      // build + extraction from documents — so a divergence anywhere
      // in extract → encode → record write → member gzip → record
      // read → decode breaks the hash. warc_type rides the output to
      // pin that `conversion` actually round-trips.
      sources.Warc.read(s, wetDir(s, dir))
        .withColumn("_host",
          regexp_extract(col("target_uri"), "^http://([^/]+)/", 1))
        .withColumn("_t", decode(col("content"), "UTF-8"))
        .groupBy(col("_host").as("host"), col("warc_type"))
        .agg(cnt.as("n_docs"),
          sum(size(filter(split(col("_t"), " "), t => length(t) > 0))
            .cast("long")).as("n_tokens"),
          sum(length(col("_t")).cast("long")).as("n_chars"))
        .orderBy("host")
    }),

    "r49_revisit_classify" -> ((s, dir) => {
      // CROSS-SNAPSHOT REVISIT CLASSIFICATION (r18 — the refresh
      // pipeline's first question: what actually changed since the
      // last crawl?): two generations of the same archive join on
      // WARC-Target-URI and payloads compare by sha2-256 digest — the
      // WARC 'revisit' concept (an unchanged capture is recorded as a
      // digest-matching revisit, not a duplicate payload). Digests
      // are computed ON the opaque bytes (never decoded), the join is
      // uri-keyed, and the per-host changed/unchanged tally is what a
      // refresh run feeds the scheduler. The oracle replays the
      // fixture's change rule, so a digest or join defect surfaces as
      // a hash break.
      val a = sources.Warc.read(s, warcDir(s, dir))
        .filter(col("warc_type") === "response")
        .select(col("target_uri"), sha2(col("content"), 256).as("_da"))
      val b = sources.Warc.read(s, warcGenBDir(s, dir))
        .select(col("target_uri"),
          regexp_extract(col("target_uri"), "^http://([^/]+)/", 1)
            .as("host"),
          sha2(col("content"), 256).as("_db"))
      b.join(a, Seq("target_uri"))
        .groupBy(col("host"))
        .agg(cnt.as("n_pages"),
          sum(when(col("_da") === col("_db"), 1L).otherwise(0L))
            .as("n_unchanged"),
          sum(when(col("_da") =!= col("_db"), 1L).otherwise(0L))
            .as("n_changed"))
        .orderBy("host")
    }),

    "r50_frontier" -> ((s, dir) => {
      // FRONTIER COMPOSITION (r18 — the capstone of the crawl family,
      // the next-fetch list every crawler computes): candidate
      // targets = page out-links (the t51 build) ∪ redirect targets
      // (r46's archive-facing Location extraction), DISTINCT by uri,
      // robots-filtered with r47's parse chain (rules derived per
      // candidate host — hub.example gets a rule too), then
      // anti-joined against the crawled uri set. Note the fixture's
      // doc ids are GLOBAL across hosts, so "next doc on my host" is
      // usually uncrawled (id+1 lives on another host) — the new/
      // crawled split is non-degenerate by construction. Per-host
      // n_candidates / n_blocked / n_new out; every rule replays in
      // the oracle. The composition lives in crawlFrontier (shared
      // with the r51 scheduler).
      crawlFrontier(s, dir)
        .groupBy(col("host"))
        .agg(cnt.as("n_candidates"),
          sum(when(col("_blocked"), 1L).otherwise(0L)).as("n_blocked"),
          sum(when(!col("_blocked") && col("_crawled").isNull, 1L)
            .otherwise(0L)).as("n_new"))
        .orderBy("host")
    }),

    "r51_politeness_schedule" -> ((s, dir) => {
      // POLITENESS SCHEDULING (r18 — from frontier to fetch plan):
      // the allowed, uncrawled frontier serializes PER HOST under
      // that host's Crawl-delay (1 + len(host) % 3 seconds — the
      // de-facto robots extension every polite crawler honors), fetch
      // i firing at i·delay; the report is the crawler's aggregate
      // request-rate curve — fetches and active hosts per 60 s slot —
      // the number capacity planning reads off a fetch plan. One
      // host-partitioned window (key shuffle, never corpus-wide
      // sort), then a slot-grain aggregate; slot division is integer
      // `div` on nonnegative operands, where Spark and DuckDB agree.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("host")).orderBy(col("tid"))
      crawlFrontier(s, dir)
        .filter(!col("_blocked") && col("_crawled").isNull)
        .withColumn("_delay", (length(col("host")) % 3 + 1).cast("long"))
        .withColumn("_seq", row_number().over(w).cast("long") - 1L)
        .withColumn("_at", col("_seq") * col("_delay"))
        .withColumn("slot", expr("_at div 60"))
        .groupBy(col("slot"))
        .agg(cnt.as("n_fetches"),
          count_distinct(col("host")).as("n_hosts"))
        .orderBy("slot")
    }),

    "r52_sitemap" -> ((s, dir) => {
      // SITEMAP INTAKE (r18 post-cert — the crawl's third discovery
      // channel after page links (t51) and redirects (r46)): each
      // host publishes a sitemap.xml; url entries are PARSED back out
      // (loc + lastmod) with one regexp_extract_all group pull per
      // field and zipped POSITIONALLY (arrays_zip keeps the
      // loc↔lastmod pairing — a parse that loses or misaligns an
      // entry breaks n_stale, not just a count), then the per-host
      // freshness report comes off the PARSED lastmod values. The
      // sitemap build is an in-query fixture (entries sorted
      // lexicographically so both engines agg the same string);
      // lastmod day = doc_id % 28 + 1, stale = on or before the 14th.
      val day = (col("doc_id") % 28 + 1).cast("int")
      val entry = concat(lit("<url><loc>http://"), col("source"),
        lit("/doc/"), col("doc_id").cast("string"),
        lit("</loc><lastmod>2024-01-"),
        lpad(day.cast("string"), 2, "0"), lit("</lastmod></url>"))
      T(s, dir, "documents")
        .groupBy(col("source").as("host"))
        .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
          concat_ws("", array_sort(collect_list(entry))),
          lit("</urlset>")).as("_xml"))
        .select(col("host"),
          regexp_extract_all(col("_xml"),
            lit("<loc>([^<]+)</loc>"), lit(1)).as("_locs"),
          regexp_extract_all(col("_xml"),
            lit("<lastmod>([^<]+)</lastmod>"), lit(1)).as("_mods"))
        .select(col("host"),
          explode(arrays_zip(col("_locs"), col("_mods"))).as("_e"))
        .select(col("host"), col("_e._locs").as("_loc"),
          col("_e._mods").as("_mod"))
        .groupBy(col("host"))
        .agg(cnt.as("n_urls"),
          sum(when(col("_mod") <= "2024-01-14", 1L).otherwise(0L))
            .as("n_stale"),
          max(col("_mod")).as("latest_mod"))
        .orderBy("host")
    }),

    "r53_fetch_savings" -> ((s, dir) => {
      // CONDITIONAL-GET SAVINGS (r18 post-cert — the refresh crawl's
      // bandwidth ledger, the number that justifies If-Modified-Since
      // / 304 handling): generation B re-crawls every uri; a digest
      // match (r49's sha2-256 on the OPAQUE payload bytes) means
      // 304-not-modified — those payload bytes are SAVED; a mismatch
      // is a real download. Per-host requests / downloads / bytes
      // each way. Digests and byte counts shuffle (40 B/row); the
      // payloads themselves never move cross-generation.
      val a = sources.Warc.read(s, warcDir(s, dir))
        .filter(col("warc_type") === "response")
        .select(col("target_uri").as("uri"),
          sha2(col("content"), 256).as("_da"))
      val b = sources.Warc.read(s, warcGenBDir(s, dir))
        .select(col("target_uri").as("uri"),
          regexp_extract(col("target_uri"), "^http://([^/]+)/", 1)
            .as("host"),
          sha2(col("content"), 256).as("_db"),
          length(col("content")).cast("long").as("_blen"))
      b.join(a, Seq("uri"))
        .withColumn("_changed", col("_da") =!= col("_db"))
        .groupBy(col("host"))
        .agg(cnt.as("n_requests"),
          sum(when(col("_changed"), 1L).otherwise(0L)).as("n_downloads"),
          sum(when(col("_changed"), col("_blen")).otherwise(0L))
            .as("bytes_downloaded"),
          sum(when(!col("_changed"), col("_blen")).otherwise(0L))
            .as("bytes_saved"))
        .orderBy("host")
    }),

    "t51_link_extract" -> ((s, dir) => {
      // OUT-LINK EXTRACTION (r18 — the op that feeds the crawl
      // frontier and the q38b link graph): each doc's page carries a
      // same-host next-doc anchor (and a cross-host hub anchor on
      // every 3rd); href values come out with ONE codegen'd
      // regexp_extract_all, explode, target-host parse, then the
      // (host, target_host) link matrix. RE2-safe regexes, so the
      // whole build+extract chain replays in DuckDB.
      val html = concat(
        lit("<html><body><p>"), col("text"), lit("</p>"),
        lit("<a href=\"http://"), col("source"), lit("/doc/"),
        (col("doc_id") + 1).cast("string"), lit("\">next</a>"),
        when(col("doc_id") % 3 === 0,
          lit("<a href=\"http://hub.example/doc/0\">hub</a>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      T(s, dir, "documents")
        .select(col("source").as("host"),
          explode(regexp_extract_all(html,
            lit("href=\"([^\"]+)\""), lit(1))).as("_href"))
        .select(col("host"),
          regexp_extract(col("_href"), "^http://([^/]+)/", 1)
            .as("target_host"))
        .groupBy(col("host"), col("target_host"))
        .agg(cnt.as("n_links"))
        .orderBy("host", "target_host")
    }),

    "t50_html_extract" -> ((s, dir) => {
      // HTML → text extraction (r17 — the step between r43's WARC
      // payloads and every text operator on this board): each doc is
      // framed as a realistic page — title, style+script blocks whose
      // CODE must NOT leak (the script even contains bare '<' and '>'
      // that naive tag-stripping would mis-eat), a comment, an
      // entity-ESCAPED body, an entity-laden footer incl. the
      // double-escape case (&amp; in the title must surface as '&')
      // — and htmlToText must recover exactly the visible text.
      // Every build and extract step replays in DuckDB (literal
      // replace + RE2-safe regexes, explicit whitespace classes).
      import graft.functions.TextFunctions
      val esc = Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;")
        .foldLeft(col("text")) { case (c, (k, v)) => replace(c, lit(k), lit(v)) }
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit(" &amp; co</title><style>body { color: #fff; }</style>"),
        lit("<script type=\"text/javascript\">if (1 < 2 && x > 0) { alert(\"hi\"); }</script></head>"),
        lit("<body><!-- nav --><h1>"), col("source"), lit("</h1><p>"), esc,
        lit("</p><div id=\"foot\">Contact&nbsp;&quot;us&quot; &#39;now&#39;</div></body></html>"))
      T(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.htmlToText(html).as("_t"))
        .select(col("doc_id"),
          length(col("_t")).cast("long").as("n_chars"),
          size(filter(split(col("_t"), " "), t => length(t) > 0))
            .cast("long").as("n_tokens"),
          substring(col("_t"), 1, 24).as("lead"))
        .orderBy("doc_id")
    }),

    "t49_vocab_coverage" -> ((s, dir) =>
      // tokenizer-budget planning: covered token-mass share at
      // candidate vocab sizes (t33 grows the type count, t24 fits the
      // rank curve — this one answers "how big a vocab do we buy")
      TextStats.vocabCoverage(T(s, dir, "documents"), "text",
        cuts = Seq(100L, 1000L, 4000L, 16000L))),

    "t01_lang_id" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    "t02_quality" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    "t03_tokens" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCountWs(col("text")).as("n_ws"),
          TextFunctions.tokenCountBpeish(col("text")).as("n_bpe"))
        .orderBy("doc_id")),

    "t07_redact" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.redact(col("text")).as("redacted"))
        .orderBy("doc_id")),

    "t06_heavy_hitters" -> ((s, dir) =>
      // k=16 > 5 distinct event types, so Misra-Gries counts are exact
      // here and the oracle can hash-check the custom aggregate; at
      // real cardinalities the same aggregate answers approximately in
      // k-bounded memory
      T(s, dir, "events")
        .agg(graft.functions.HeavyHittersAgg.top(col("event_type"), 16).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.item").as("item"), col("h.cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("item"))),

    "t05_lang_eval" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("lang"), TextFunctions.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(cnt.as("n"))
        .orderBy("lang", "lang_pred")),

    "t08_repetition" -> ((s, dir) =>
      TextStats.repetition(T(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_toks"),
          col("top_tok_frac"), col("top_bigram_frac"))
        .orderBy("doc_id")),

    "r11_hash_sample" -> ((s, dir) =>
      // DETERMINISTIC sampling for data mixing: keep rows whose md5
      // bucket falls under the rate (26/256 ~ 10.2%) — reproducible
      // across runs/engines, unlike randfilter (r04), and exactly
      // oracle-checkable
      T(s, dir, "events")
        .filter(substring(md5(col("event_id").cast("string")), 1, 2) < "1a")
        .select(col("event_id"), col("event_type").as("etype"), col("value"))
        .orderBy("event_id")),

    "q61_session_kpis" -> ((s, dir) => {
      // session-level KPI report over the r12 sessionization (the
      // web-analytics headline row): bounce rate (1-event sessions),
      // exact session-depth and duration percentiles, all from the
      // (user, session) frame — one user shuffle total, the report is
      // one aggregate of the session frame
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sess = T(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("_brk",
          when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > 1800000000L
            || lag(col("ts_us"), 1).over(byUser).isNull, 1).otherwise(0))
        .withColumn("session", sum(col("_brk")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session"))
        .agg(cnt.as("_n"), (max(col("ts_us")) - min(col("ts_us"))).as("_dur"))
      sess.agg(cnt.as("n_sessions"),
        round(sum(when(col("_n") === 1L, 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double"), 6).as("bounce_rate"),
        round(sum(col("_n").cast("decimal(19,0)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("avg_events"),
        round(expr("percentile(_n, 0.5)"), 6).as("p50_events"),
        round(expr("percentile(_dur, 0.5)"), 6).as("p50_duration_us"),
        round(expr("percentile(_dur, 0.9)"), 6).as("p90_duration_us"))
    }),

    "r12_sessionize" -> ((s, dir) => {
      // batch twin of streaming/Sessionize: split each user's events
      // into sessions on >30min gaps — lag to mark breaks, running sum
      // to number sessions, one shuffle on user_id for all three steps
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sess = T(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"))
        .withColumn("_brk",
          when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > 1800000000L
            || lag(col("ts_us"), 1).over(byUser).isNull, 1).otherwise(0))
        .withColumn("session", sum(col("_brk")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy("user_id", "session")
        .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
          cnt.as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("user_id", "session")
    }),

    "r13_stratified" -> ((s, dir) =>
      // stratified deterministic sampling for data mixing: per-source
      // md5-bucket rates (src0 ~25%, rest ~10%) — reproducible, and a
      // pure narrow filter at any scale
      T(s, dir, "documents")
        .filter(substring(md5(col("doc_id").cast("string")), 1, 2) <
          when(col("source") === "src0", "40").otherwise("1a"))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    "r14_rate_alert" -> ((s, dir) =>
      // the reference's monitoring use case as a batch op: hourly
      // tumbling windows, alert where the error share exceeds 25%.
      // One shuffle on window_start; the rate is an IEEE division of
      // the same two longs in both engines, so the filter is exact.
      Windows.aggregate(T(s, dir, "events"), "ts", 3600L, 3600L, Nil,
          Seq(cnt.as("n_events"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors")))
        .filter(col("n_errors").cast("double") / col("n_events").cast("double") > 0.25)
        .select(col("window_start"), col("n_events"), col("n_errors"),
          (col("n_errors").cast("double") / col("n_events").cast("double")).as("error_rate"))
        .orderBy("window_start")),

    "r27_seasonal_baseline" -> ((s, dir) =>
      // seasonal-naive weekly baseline: per (event_type, hour-of-
      // week), the historical mean vs the last full week — Tuesday
      // 9am compares to Tuesday 9ams, not a flat trailing mean that
      // pages every Monday morning; calendar slots counted by exact
      // integer arithmetic so zero-event hours deflate the mean
      Windows.seasonalBaseline(T(s, dir, "events"), "ts", "event_type")
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type", "how")),

    "r28_incidents" -> ((s, dir) =>
      // incidents + MTTR: fire edges pair with their key's next
      // resolve (one lead over the tiny edge frame); open incidents
      // surface as n_open, MTTR averages closed durations only
      Windows.incidents(T(s, dir, "events"), "ts", "event_type")
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type")),

    "r33_spike_attribution" -> ((s, dir) =>
      // "the total rate is anomalous — which segment drives it": the
      // r16 chain on the GLOBAL rate, then per-event-type share lift
      // and two-proportion z between anomalous and normal hours
      Windows.spikeAttribution(T(s, dir, "events"), "ts", "event_type")
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type")),

    "r32_canary_compare" -> ((s, dir) =>
      // before/after deploy comparison: last week vs the 3 weeks
      // before it, per event_type — volume rates, mix shares, and the
      // two-proportion z on the share shift
      Windows.canaryCompare(T(s, dir, "events"), "ts", "event_type",
          beforeHours = 504, afterHours = 168)
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type")),

    "r31_budget_status" -> ((s, dir) =>
      // the SLO review dashboard row above r26: budget consumed this
      // trailing period (time-linear model), trailing-week burn, and
      // projected hours to exhaustion at the recent pace — one
      // hourly-histogram shuffle, conditional aggregates only
      Windows.budgetStatus(T(s, dir, "events"), "ts",
        col("event_type") === "error", slo = 0.995,
        periodHours = 720, recentHours = 168)),

    "r26_burn_rate" -> ((s, dir) =>
      // the SRE multiwindow burn-rate frame: error budget consumption
      // as a multiple of a 99.5% SLO over trailing 1h/6h/24h/72h
      // windows ending at the stream's last hour — one hourly
      // histogram shuffle, windows aggregated over the histogram
      Windows.burnRate(T(s, dir, "events"), "ts",
          col("event_type") === "error", slo = 0.995,
          windowsHours = Seq(1, 6, 24, 72))
        .orderBy("window_hours")),

    "r16_rate_anomaly" -> ((s, dir) =>
      // statistical upgrade of r14: per-event-type hourly counts
      // scored against the trailing-24h mean/stddev; the rolling
      // window runs over the hourly frame, never the event stream
      Windows.rateAnomaly(T(s, dir, "events"), "ts", "event_type")
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type", "hr_start")),

    "r20_ewma_forecast" -> ((s, dir) =>
      // recency-weighted upgrade of r16: trailing EWMA forecast with
      // dyadic (α=1/2) weights — exact integer sums, one IEEE
      // division — and 3× spike/drop flags against the forecast
      Windows.ewmaForecast(T(s, dir, "events"), "ts", "event_type")
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type", "hr_start")),

    "r40_rate_correlation" -> ((s, dir) => {
      // WHICH types fail together (incident correlation — the cross-
      // key question r16..r39 all score per key): pairwise Pearson of
      // the hourly count series over the FULL hour axis with absent
      // hours as true zeros (a type that's quiet while another spikes
      // is signal, not missing data); the zero-filled grid is
      // |hours|·|types| rows off the hourly histogram, pairs join at
      // hour grain, moments fold as exact DECIMAL in the q43 chain
      val hourly = T(s, dir, "events")
        .select(col("event_type").as("_k"),
          expr("unix_timestamp(ts) div 3600").as("_hr"))
        .groupBy(col("_k"), col("_hr")).agg(cnt.as("_c"))
      val span = hourly.agg(min(col("_hr")).as("_lo"), max(col("_hr")).as("_hi"))
      val axis = span.select(explode(sequence(col("_lo"), col("_hi"))).as("_hr"))
      val keys = hourly.select(col("_k")).distinct()
      val grid = axis.crossJoin(broadcast(keys))
        .join(hourly, Seq("_k", "_hr"), "left")
        .na.fill(0L, Seq("_c"))
      val a = grid.select(col("_hr"), col("_k").as("key_a"), col("_c").as("_x"))
      val b = grid.select(col("_hr"), col("_k").as("key_b"), col("_c").as("_y"))
      def d2(c: Column) = c.cast("decimal(28,0)")
      val g = a.join(b, Seq("_hr")).filter(col("key_a") < col("key_b"))
        .groupBy(col("key_a"), col("key_b"))
        .agg(cnt.as("n_hours"),
          sum(d2(col("_x"))).cast("double").as("_sx"),
          sum(d2(col("_y"))).cast("double").as("_sy"),
          sum(d2(col("_x") * col("_x"))).cast("double").as("_sxx"),
          sum(d2(col("_y") * col("_y"))).cast("double").as("_syy"),
          sum(d2(col("_x") * col("_y"))).cast("double").as("_sxy"))
      val nD = col("n_hours").cast("double")
      g.select(col("key_a"), col("key_b"), col("n_hours"),
          round((nD * col("_sxy") - col("_sx") * col("_sy")) /
            (sqrt(nD * col("_sxx") - col("_sx") * col("_sx")) *
              sqrt(nD * col("_syy") - col("_sy") * col("_sy"))), 6)
            .as("corr"))
        .orderBy("key_a", "key_b")
    }),

    "r39_holt_forecast" -> ((s, dir) =>
      // trend-aware upgrade of r20: Holt's level+trend forecast as an
      // exact finite dyadic filter (no recurrence, no pow()), absent
      // hours zero-filled for free by the dot product
      Windows.holtForecast(T(s, dir, "events"), "ts", "event_type")
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type", "hr_start")),

    "r24_rare_transitions" -> ((s, dir) =>
      // rare template-transition mining: per-user event lines mask to
      // r18 skeletons, adjacent skeletons form transitions, and a
      // transition flags when absolutely infrequent (n <= 2) or an
      // out-of-character exit (< 5% of its source's outgoing edges) —
      // the "service never used to go login -> crash" detector
      operators.LogMining.rareTransitions(
          T(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"),
            concat(
              lit("id="), col("event_id"),
              lit(" ts="), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
              lit(" user="), col("user_id"),
              lit(" type="), col("event_type"),
              lit(" value="), col("value").cast("string")).as("line")),
          "user_id", "ts", "event_id", "line")
        .orderBy("src_template", "dst_template")),

    "r23_alert_edges" -> ((s, dir) =>
      // alert-flap suppression (the PagerDuty/Alertmanager rule: page
      // on STATE CHANGES, not on every anomalous hour): r16's hourly
      // anomaly verdicts collapse to rising/falling edges via one lag
      // over the per-key hourly frame — a 6-hour incident pages once,
      // not six times. The scored-hours-only caveat is inherited:
      // unscored cold-start hours are absent, so the first SCORED
      // anomalous hour is a rising edge by definition
      Windows.rateAnomaly(T(s, dir, "events"), "ts", "event_type")
        .withColumn("_prev", lag(col("is_anomaly"), 1).over(
          Window.partitionBy("key").orderBy("hr_start")))
        .filter(col("is_anomaly") =!= coalesce(col("_prev"), lit(false)))
        .select(col("key").as("event_type"), col("hr_start"),
          col("n_events"), col("z_score"),
          when(col("is_anomaly"), lit("fire")).otherwise(lit("resolve")).as("edge"))
        .orderBy("event_type", "hr_start")),

    "r30_cusum" -> ((s, dir) =>
      // Page's CUSUM chart per event type: 24 warmup hours set the
      // baseline, later hours accumulate deviations above a 1.25×
      // allowance, signal at 5× baseline — the sustained-drift
      // detector; exact integer micros, closed-form (cumsum +
      // running-min) windows over the hourly frame only
      Windows.cusumChangepoint(T(s, dir, "events"), "ts", "event_type")
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type", "hr_start")),

    "r29_alert_storms" -> ((s, dir) =>
      // incident grouping above r23: maximal runs of fire edges (any
      // key) at most 2h apart collapse to one storm row — the
      // shared-root-cause view (n_keys >> 1 in a tight span); the
      // global-order window runs over the tiny edge frame only
      Windows.alertStorms(T(s, dir, "events"), "ts", "event_type",
          gapHours = 2)
        .orderBy("storm_start")),

    "r38_hampel" -> ((s, dir) =>
      // LOCAL robust outliers: each hour vs its +-3h neighborhood's
      // median/MAD — the diurnal-safe complement of r35's global
      // baseline
      Windows.hampel(T(s, dir, "events"), "ts", "event_type")
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type", "hr_start")),

    "r37_changepoint" -> ((s, dir) =>
      // WHERE did the level shift: per type, the least-squares
      // single-changepoint split of the hourly rate series
      Windows.changepoint(T(s, dir, "events"), "ts", "event_type")
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type")),

    "r36_trend" -> ((s, dir) =>
      // Mann-Kendall monotonic-trend z + Theil-Sen slope per type:
      // the trending-not-spiking question, robust to the very spikes
      // r16/r35 flag
      Windows.trendTest(T(s, dir, "events"), "ts", "event_type")
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type")),

    "r35_mad_outliers" -> ((s, dir) =>
      // robust upgrade of r16: median/MAD have a 50% breakdown point,
      // so one massive spike cannot inflate the baseline enough to
      // hide itself (the masking failure of mean/stddev charts)
      Windows.madOutliers(T(s, dir, "events"), "ts", "event_type")
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type", "hr_start")),

    "r34_alert_suppression" -> ((s, dir) =>
      // alert-fatigue suppression: per user, an error alert survives
      // only if >= 1h passed since the last SURVIVING alert — the
      // kept-decision feedback no window/lag can express (lag sees
      // the previous event, not the previous survivor); the oracle
      // replays the sequential pass as a recursive CTE
      operators.Windows.suppressAlerts(
          T(s, dir, "events").filter(col("event_type") === "error")
            .select(col("user_id"), unix_micros(col("ts")).as("_us"),
              col("event_id")),
          "user_id", "_us", "event_id", suppressSec = 3600L)
        .select(col("key").as("user_id"), col("ts_us"),
          col("id").as("event_id"))
        .orderBy("user_id", "ts_us", "event_id")),

    "r25_template_drift" -> ((s, dir) =>
      // what changed between then and now: per-template counts in
      // the earlier vs later half of the time range, add-1 log rate
      // ratio, new/vanished/shifted status — one masking pass into a
      // template-keyed conditional agg, top-k movers via TakeOrdered
      operators.LogMining.templateDrift(
        T(s, dir, "events").select(col("ts"), concat(
          lit("user="), col("user_id"),
          lit(" type="), col("event_type"),
          lit(" value="), col("value").cast("string")).as("line")),
        "ts", "line", k = 20)
        .orderBy(abs(col("log_ratio")).desc, col("template"))),

    "r22_template_anomaly" -> ((s, dir) =>
      // which MESSAGE TYPE misbehaves: r18's masking keys the raw
      // line stream (no schema knowledge needed), r16's trailing
      // z-score scores each template's hourly rate — the
      // burst/new-template detector a monitoring pipeline deploys,
      // composed from the two existing operators with zero new
      // arithmetic; the corpus collapses to (template, hour) counts
      // before any window
      Windows.rateAnomaly(
          T(s, dir, "events").select(col("ts"), concat(
            lit("id="), col("event_id"),
            lit(" ts="), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
            lit(" user="), col("user_id"),
            lit(" type="), col("event_type"),
            lit(" value="), col("value").cast("string")).as("value"))
            .withColumn("_tmpl", operators.LogMining.template(col("value"))),
          "ts", "_tmpl")
        .withColumnRenamed("key", "template")
        .orderBy("template", "hr_start")),

    "r17_parse_rate" -> ((s, dir) => {
      // monitor the reference parser's silent failure mode: lines the
      // regex rejects just vanish (lparser.go drops non-matching
      // lines). Every 13th event line is corrupted, the REAL parse
      // path (RegexGroups) runs over the mix, and per-hour parse
      // rates alert below 95%. The oracle knows the drop set
      // analytically, so this also gates that the parser never drops
      // a well-formed line.
      val lines = T(s, dir, "events").select(concat(
        when(col("event_id") % 13 === 0, lit("corrupt ")).otherwise(lit("id=")),
        col("event_id"),
        lit(" ts="), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
        lit(" user="), col("user_id"),
        lit(" type="), col("event_type"),
        lit(" value="), col("value").cast("string")).as("value"))
      // ONE corpus scan: the hour of EVERY line comes from the still-
      // intact ts= field (the denominator a real monitor needs), and
      // the numerator is the parse path's own survival predicate
      // (LogSource.parses = the same compiled RegexGroups pass that
      // parse() drops on) evaluated in the same projection — the old
      // two-sided join read and regexed every line twice
      lines
        .select(to_timestamp(
            regexp_extract(col("value"), " ts=([0-9: -]+) user", 1)).as("_ts_raw"),
          LogSource.parses(col("value"), EventPattern).as("_ok"))
        .groupBy(expr("unix_timestamp(_ts_raw) div 3600").as("_hr"))
        .agg(cnt.as("n_lines"),
          sum(when(col("_ok"), 1L).otherwise(0L)).as("n_parsed"))
        .select((col("_hr") * 3600L).as("hr_start"),
          col("n_lines"), col("n_parsed"),
          (col("n_parsed").cast("double")
            / col("n_lines").cast("double")).as("parse_rate"))
        .withColumn("alert", col("parse_rate") < 0.95)
        .orderBy("hr_start")
    }),

    "r18_log_templates" -> ((s, dir) =>
      // Drain-style template mining over a two-pattern line corpus:
      // variable fields (numbers incl. engine-specific float digits)
      // mask to placeholders, constants survive — the population of
      // distinct things the stream says, with frequencies
      operators.LogMining.templates(
          eventLines(s, dir).unionByName(customerLines(s, dir)), "value")
        .select(col("template"), col("n"))
        .orderBy("template")),

    "r19_template_latency" -> ((s, dir) =>
      // per-template metric percentiles: the r18 skeletons with exact
      // p50/p95/max of the value field extracted back off each line —
      // "which event type is slow" over a pattern-unknown stream
      operators.LogMining.templateQuantiles(
          eventLines(s, dir).withColumn("_lat",
            regexp_extract(col("value"), " value=(.+)$", 1).cast("double")),
          "value", "_lat")
        .orderBy("template")),

    "q31_retention" -> ((s, dir) => {
      // weekly cohort retention: users grouped by first-seen week,
      // n distinct users active at each week offset — the classic
      // product-analytics matrix. Three bounded shuffles: the
      // (user, week) distinct, the per-user min, the tiny
      // (cohort, offset) histogram. Week = floor-div of epoch µs
      // (ts >= epoch here; Spark div truncates toward zero, SQL //
      // floors — equal on non-negatives, the packGreedy rule)
      val wk = expr("unix_micros(ts) div 604800000000").as("wk")
      val uw = T(s, dir, "events").select(col("user_id"), wk).distinct()
      val fw = uw.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      uw.join(fw, "user_id")
        .groupBy(col("cohort").as("cohort_week"),
          (col("wk") - col("cohort")).as("week_offset"))
        .agg(cnt.as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    "r21_session_paths" -> ((s, dir) =>
      // top-20 session paths: r12's gap-split sessions, each session's
      // first-8 event types joined into one "a>b>c" string, counted —
      // the discovery complement of q29's fixed funnel. One user-key
      // shuffle end-to-end until the bounded path histogram
      operators.LogMining.sessionPaths(
          T(s, dir, "events")
            .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("ts_us"), col("event_type")),
          "user_id", "ts_us", "event_id", "event_type",
          gapUs = 1800000000L, maxLen = 8, k = 20)
        .orderBy(col("n_sessions").desc, col("path"))),

    "q37_reachability" -> ((s, dir) => {
      // exact minimum-hop BFS over the order-part co-purchase graph
      // (bipartite: order node 2k, part node 2k+1), seeded at parts
      // {0,1,2}, capped at 4 hops — first-visit level expansion on the
      // Spark side, proven against the oracle's full recursive path
      // enumeration min(): a graph-traversal answer Spark lacks a
      // built-in for (no recursive CTE), expressed as bounded
      // driver-sequenced join rounds
      val li = T(s, dir, "lineitem")
        .select((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
      val edges = li.unionByName(
        li.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = T(s, dir, "part").filter(col("p_partkey") < 3)
        .select((col("p_partkey") * 2 + 1).as("id"))
      Graph.bfsHops(edges, "src", "dst", seeds, "id", maxHops = 4)
        .select(
          when(col("id") % 2 === 0, lit("order")).otherwise(lit("part")).as("kind"),
          shiftright(col("id"), 1).as("node_id"),
          col("hops").cast("long").as("hops"))
        .orderBy("kind", "node_id")
    }),

    "q41_pit_join" -> ((s, dir) => {
      // the warehouse POINT-IN-TIME lookup, composed from the parts
      // it is made of: q34's SCD2 version build (non-purchase state
      // changes per user) probed by purchase facts through the q20
      // as-of union-merge — which version was in effect when each
      // purchase happened; facts before any version surface NULLs
      // (no evidence), a version opening at the purchase's exact
      // microsecond counts ("at or before"), same-instant versions
      // resolve to the highest version. One key shuffle, no join
      // node, no row replication — the PIT answer that survives
      // 100 TB where a theta range join degenerates
      val ev = T(s, dir, "events")
      val dim = operators.Windows.scd2(
          ev.filter(col("event_type") =!= "purchase")
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("_us"), col("event_id")),
          "user_id", "event_type", "_us", "event_id")
        .select(col("key").as("user_id"),
          col("effective_from").as("ts_us"), col("state"), col("version"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      AsOf.join(facts, dim, Seq("user_id"), "ts_us", "version",
          Seq("state" -> "state_at", "version" -> "version_at"))
        .orderBy("event_id")
    }),

    "q45_activity_islands" -> ((s, dir) => {
      // GAPS-AND-ISLANDS (the warehouse streak pattern): per user,
      // maximal runs of consecutive active days via the day −
      // row_number() constant-group trick — consecutive days share a
      // group key, one user shuffle feeds window and aggregate,
      // everything integer-exact (epoch days)
      val ev = T(s, dir, "events")
      val days = ev.select(col("user_id"),
        (unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days.withColumn("_grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("_grp"))
        .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
          cnt.as("n_days"))
        .select(col("user_id"), col("start_day"), col("end_day"), col("n_days"))
        .orderBy("user_id", "start_day")
    }),

    "q46_user_growth" -> ((s, dir) => {
      // cumulative-user growth curve (the DAU-report classic): each
      // user's FIRST active day, new-user counts per day, and the
      // running total — the global window runs over the ≤|days|
      // aggregated frame (30 rows here), never the event stream (the
      // q35 stated-bound contract)
      val ev = T(s, dir, "events")
      val firstDay = ev.groupBy(col("user_id"))
        .agg(min((unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
          .as("day"))
      val perDay = firstDay.groupBy(col("day")).agg(cnt.as("n_new"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDay.withColumn("n_total", sum(col("n_new")).over(w).cast("long"))
        .select(col("day"), col("n_new"), col("n_total"))
        .orderBy("day")
    }),

    "q62_new_vs_returning" -> ((s, dir) => {
      // weekly actives split NEW vs RETURNING (the growth dashboard's
      // second row, q46's cumulative curve made actionable): distinct
      // (user, week) activity joins each user's first week — new iff
      // week == first; one user-grain aggregate + one user-keyed join
      // + one week-grain aggregate
      val ev = T(s, dir, "events")
      val wk = (unix_micros(col("ts")) / lit(604800000000L)).cast("long")
      val act = ev.select(col("user_id"), wk.as("week")).distinct()
      val first = act.groupBy(col("user_id")).agg(min(col("week")).as("_fw"))
      act.join(first, Seq("user_id"))
        .groupBy(col("week"))
        .agg(cnt.as("n_active"),
          sum(when(col("week") === col("_fw"), 1L).otherwise(0L))
            .cast("long").as("n_new"))
        .withColumn("n_returning", col("n_active") - col("n_new"))
        .withColumn("pct_returning",
          round(col("n_returning").cast("double")
            / col("n_active").cast("double"), 6))
        .orderBy("week")
    }),

    "q60_ltv_curve" -> ((s, dir) => {
      // cohort LTV TRIANGLE (q31 retention counts users; growth asks
      // how much VALUE a cohort accrues by age): cohort = first-
      // PURCHASE epoch week (first-activity degenerates to one cohort
      // on this corpus), per (cohort, age) purchase revenue folds
      // as DECIMAL, the cumulative runs per cohort over the bounded
      // age axis (the q35 contract), divided once by cohort size
      val ev = T(s, dir, "events")
      val wk = (unix_micros(col("ts")) / lit(604800000000L)).cast("long")
      val purch = ev.filter(col("event_type") === "purchase")
      val first = purch.groupBy(col("user_id")).agg(min(wk).as("_cohort"))
      val sizes = first.groupBy(col("_cohort")).agg(cnt.as("_n"))
      val rev = purch
        .select(col("user_id"), wk.as("_wk"),
          col("value").cast("decimal(18,6)").as("_v"))
        .join(first, Seq("user_id"))
        .groupBy(col("_cohort"), (col("_wk") - col("_cohort")).as("age_weeks"))
        .agg(sum(col("_v")).as("_rev"))
      val w = Window.partitionBy(col("_cohort")).orderBy(col("age_weeks"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.join(broadcast(sizes), Seq("_cohort"))
        .withColumn("_cum", sum(col("_rev")).over(w))
        .select(col("_cohort").as("cohort_week"), col("age_weeks"),
          col("_n").as("n_users"),
          round(col("_rev").cast("double"), 6).as("revenue"),
          round(col("_cum").cast("double") / col("_n").cast("double"), 6)
            .as("cum_ltv_per_user"))
        .orderBy("cohort_week", "age_weeks")
    }),

    "q59_rfm" -> ((s, dir) => {
      // RFM SEGMENTATION (the marketing-warehouse classic): per
      // customer recency (days since last order vs the corpus
      // anchor), frequency, monetary; quintile boundaries via the
      // exact percentile pair (one broadcast 1-row frame), assignment
      // by pinned <= comparisons, per-segment counts + DECIMAL mean
      // spend. The customer frame persists across its four consumers
      // and the <=125-segment result seals over it
      val cust = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max((unix_micros(col("o_orderdate")) / lit(86400000000L))
          .cast("long")).as("_last"),
          cnt.as("_f"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("_m"))
        .persist()
      val anchor = cust.agg(max(col("_last")).as("_anchor"))
      val rfm = cust.crossJoin(broadcast(anchor))
        .withColumn("_r", (col("_anchor") - col("_last")).cast("long"))
      val qs = rfm.agg(
        expr("percentile(CAST(_r AS DOUBLE), array(0.2D,0.4D,0.6D,0.8D))")
          .as("_qr"),
        expr("percentile(CAST(_f AS DOUBLE), array(0.2D,0.4D,0.6D,0.8D))")
          .as("_qf"),
        expr("percentile(CAST(_m AS DOUBLE), array(0.2D,0.4D,0.6D,0.8D))")
          .as("_qm"))
      def qi(x: Column, b: Column): Column =
        when(x <= b.getItem(0), 1L).when(x <= b.getItem(1), 2L)
          .when(x <= b.getItem(2), 3L).when(x <= b.getItem(3), 4L)
          .otherwise(5L)
      val out = rfm.crossJoin(broadcast(qs))
        .select(qi(col("_r").cast("double"), col("_qr")).as("r_q"),
          qi(col("_f").cast("double"), col("_qf")).as("f_q"),
          qi(col("_m").cast("double"), col("_qm")).as("m_q"), col("_m"))
        .groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(cnt.as("n_customers"),
          round(sum(col("_m")).cast("double") / count(lit(1)).cast("double"),
            6).as("avg_monetary"))
        .orderBy("r_q", "f_q", "m_q")
      operators.Caching.sealOver(out, cust)
    }),

    "q58_conversion_lag" -> ((s, dir) => {
      // funnel LATENCY (q29 counts conversions; product asks HOW
      // LONG): per user, first view -> first subsequent purchase,
      // exact integer-micro lags, percentiles via the q11 pair; two
      // user-grain aggregates + one user-keyed join
      val ev = T(s, dir, "events")
      val tv = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("_tv"))
      val tp = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("_tp"))
      tp.join(tv, Seq("user_id"))
        .filter(col("_tp") >= col("_tv"))
        .groupBy(col("user_id"))
        .agg(min(col("_tp") - col("_tv")).as("_lag"))
        .agg(cnt.as("n_converted"),
          round(expr("percentile(_lag, 0.5)"), 6).as("p50_lag_us"),
          round(expr("percentile(_lag, 0.9)"), 6).as("p90_lag_us"),
          round(sum(col("_lag").cast("decimal(19,0)")).cast("double")
            / count(lit(1)).cast("double"), 6).as("mean_lag_us"))
    }),

    "q57_weighted_median" -> ((s, dir) =>
      // quantity-weighted median price per returnflag: the exact
      // lower weighted median (a real data value, no interpolation),
      // per-group cumulative weights via the distributed prefix
      operators.Stats.weightedMedian(T(s, dir, "lineitem"),
        "l_returnflag", "l_extendedprice", "l_quantity")),

    "q65_histogram" -> ((s, dir) =>
      // exact equi-width histogram of order value (q48's shape
      // companion): integer-quantized bin assignment (no IEEE
      // boundary drift), empty bins materialize as 0-count rows
      operators.Profile.histogram(T(s, dir, "orders"),
        "o_totalprice", bins = 20)),

    "q66_fifo_allocation" -> ((s, dir) => {
      // FIFO cost-of-goods per part: 'N' lines supply lots, 'R'
      // lines demand against them in shipdate order — the sequential
      // walk restated as a prefix-interval overlap join
      val li = T(s, dir, "lineitem")
      Windows.fifoAllocate(
        li.filter(col("l_returnflag") === "N"),
        li.filter(col("l_returnflag") === "R"),
        "l_partkey", "l_quantity", "l_extendedprice",
        Seq("l_shipdate", "l_orderkey", "l_linenumber"))
    }),

    "q75_skyline" -> ((s, dir) => {
      // SKYLINE / Pareto-optimal suppliers (the multi-objective
      // shortlist no single ranking can produce: maximize revenue,
      // minimize return rate — q35/q63 rank one axis, the skyline
      // keeps every supplier nobody beats on BOTH): dominance tested
      // on EXACT arithmetic — DECIMAL revenue compares and the
      // return-rate compare cross-multiplied to integers (r_a·n_b vs
      // r_b·n_a — the q51 ECDF trick), so the frontier is
      // engine-neutral with no float thresholds; the dominance
      // anti-join runs on the |suppliers|-grain AGGREGATE (the
      // stated-bound contract — never the line stream)
      val sup = T(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("_rev"),
          cnt.as("_n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("_r"))
      val a = sup.select(col("l_suppkey"), col("_rev"), col("_n"), col("_r"))
      val b = sup.select(col("l_suppkey").as("_ok"), col("_rev").as("_orev"),
        col("_n").as("_on"), col("_r").as("_or"))
      val betterEq = col("_orev") >= col("_rev") &&
        col("_or") * col("_n") <= col("_r") * col("_on")
      val strictly = col("_orev") > col("_rev") ||
        col("_or") * col("_n") < col("_r") * col("_on")
      a.join(b, betterEq && strictly, "left_anti")
        .select(col("l_suppkey"),
          col("_rev").cast("double").as("revenue"),
          col("_n").as("n_lines"),
          round(col("_r").cast("double") / col("_n").cast("double"), 6)
            .as("return_rate"))
        .orderBy("l_suppkey")
    }),

    "q74_traffic_heatmap" -> ((s, dir) => {
      // the dow × hour load heatmap (capacity planning's first
      // chart, and the shape r27's per-key baselines slice from):
      // one grid-grain aggregate + a broadcast 1-row total, share as
      // a pinned division
      val ev = T(s, dir, "events")
        .select(dayofweek(col("ts")).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
      val tot = ev.agg(cnt.as("_N"))
      ev.groupBy(col("dow"), col("hr")).agg(cnt.as("n_events"))
        .crossJoin(broadcast(tot))
        .select(col("dow"), col("hr"), col("n_events"),
          round(col("n_events").cast("double") / col("_N").cast("double"), 6)
            .as("share"))
        .orderBy("dow", "hr")
    }),

    "q73_purchase_intervals" -> ((s, dir) => {
      // repeat-purchase cadence (the CRM question behind q59's R
      // score: not just HOW recent, but the customer's own rhythm):
      // per customer, consecutive-order gaps in exact epoch days (lag
      // at customer grain — the data-model-bounded group), then the
      // exact q11 percentile pair + DECIMAL mean over the gap frame
      val o = T(s, dir, "orders")
        .select(col("o_custkey"),
          expr("unix_micros(o_orderdate) div 86400000000").as("_d"),
          col("o_orderkey"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("_d"), col("o_orderkey"))
      val gaps = o.withColumn("_gap", col("_d") - lag(col("_d"), 1).over(w))
        .filter(col("_gap").isNotNull)
      gaps.agg(cnt.as("n_gaps"),
          countDistinct(col("o_custkey")).as("n_repeat_customers"),
          round(expr("percentile(_gap, 0.5)"), 6).as("p50_days"),
          round(expr("percentile(_gap, 0.9)"), 6).as("p90_days"),
          round(sum(col("_gap").cast("decimal(19,0)")).cast("double")
            / count(lit(1)).cast("double"), 6).as("mean_days"),
          sum(when(col("_gap") === 0, 1L).otherwise(0L)).as("n_same_day"))
    }),

    "q72_ri_audit" -> ((s, dir) => {
      // referential-integrity audit across the star (the OTHER half
      // of data quality q48's single-column profile can't see: a
      // foreign key pointing nowhere silently drops rows at every
      // downstream join): per relationship, child rows / orphans /
      // orphan rate — each relationship is one left join against the
      // parent's distinct key set (dims broadcast; the fact-to-fact
      // edge shuffles on the key, as it must at any scale)
      def rel(name: String, child: DataFrame, ck: String,
              parent: DataFrame, pk: String): DataFrame = {
        val p = parent.select(col(pk).as("_pk")).distinct()
          .withColumn("_hit", lit(1))
        child.select(col(ck).as("_ck"))
          .join(p, col("_ck") === col("_pk"), "left")
          .agg(cnt.as("n_child"),
            sum(when(col("_hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(lit(name).as("relationship"), col("n_child"),
            col("n_orphans"),
            round(col("n_orphans").cast("double")
              / col("n_child").cast("double"), 6).as("orphan_rate"))
      }
      val li = T(s, dir, "lineitem"); val o = T(s, dir, "orders")
      val c = T(s, dir, "customer"); val su = T(s, dir, "supplier")
      val n = T(s, dir, "nation"); val r = T(s, dir, "region")
      val pt = T(s, dir, "part")
      Seq(
        rel("lineitem.orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        rel("lineitem.partkey->part", li, "l_partkey", pt, "p_partkey"),
        rel("lineitem.suppkey->supplier", li, "l_suppkey", su, "s_suppkey"),
        rel("orders.custkey->customer", o, "o_custkey", c, "c_custkey"),
        rel("customer.nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
        rel("supplier.nationkey->nation", su, "s_nationkey", n, "n_nationkey"),
        rel("nation.regionkey->region", n, "n_regionkey", r, "r_regionkey"))
        .reduce(_ unionAll _).orderBy("relationship")
    }),

    "q71_pvm_bridge" -> ((s, dir) => {
      // PRICE-VOLUME-MIX revenue bridge (the finance "why did revenue
      // move" waterfall r33 answers for event rates): lineitem splits
      // at the integer midpoint week, per-part effects decompose
      // ΔR = (V_B−V_A)·P_A + (P_B−P_A)·V_B. Effect terms are
      // INTEGER microdollar arithmetic (the q66 lesson, hit here too:
      // quantizing an IEEE product to DECIMAL(18,6) rounds the
      // shortest-string double in Spark but the binary double in
      // DuckDB, and diverged live at the last digit) — a sign-split
      // half-away integer division keeps Spark's truncating `div` and
      // DuckDB's flooring `//` in agreement on negative volume
      // deltas. The per-part products run in DECIMAL(38,0) (HUGEINT
      // on the oracle side) — qty·revenue per part grows
      // QUADRATICALLY with corpus scale and overflowed a long at the
      // very first 10× probe; only the QUOTIENT (the microdollar
      // effect itself) must fit a long, and it grows linearly.
      // The residual row makes the micro rounding honest:
      // baseline + effects + residual = total, by construction.
      // OUTPUT IS INTEGER MICRODOLLARS (r15 driver red-row fix): the
      // old render divided the micro totals by 1e6 as IEEE doubles and
      // finished with round(value, 6) — exactly the cross-engine
      // boundary class (Spark rounds the shortest-string repr, DuckDB
      // the binary double), and the driver corpus hit it. Every one of
      // the 7 components is exact in integer micros by construction
      // (revenues are cents×10⁴, effects are half-away micro
      // quotients, the residual is a pure integer identity), so the
      // query never leaves integer space: value_micros is a BIGINT on
      // both engine sides and hashes exactly at any SF.
      val li = T(s, dir, "lineitem")
        .select(col("l_partkey").as("_pk"),
          expr("unix_micros(l_shipdate) div 604800000000").as("_wk"),
          col("l_extendedprice").cast("decimal(18,2)").as("_r"),
          col("l_quantity").cast("decimal(18,2)").as("_v"))
      val mid = li.agg(expr("(min(_wk) + max(_wk) + 1) div 2").as("_mid"))
      val per = li.crossJoin(broadcast(mid))
        .groupBy(col("_pk"))
        .agg(sum(when(col("_wk") < col("_mid"), col("_r"))).as("_ra"),
          sum(when(col("_wk") < col("_mid"), col("_v"))).as("_va"),
          sum(when(col("_wk") >= col("_mid"), col("_r"))).as("_rb"),
          sum(when(col("_wk") >= col("_mid"), col("_v"))).as("_vb"))
        .withColumn("_rai", (col("_ra") * 100).cast("decimal(38,0)"))
        .withColumn("_vai", (col("_va") * 100).cast("decimal(38,0)"))
        .withColumn("_rbi", (col("_rb") * 100).cast("decimal(38,0)"))
        .withColumn("_vbi", (col("_vb") * 100).cast("decimal(38,0)"))
        // vol = (Vb−Va)·Ra/Va, price = Rb − Ra·Vb/Va (microdollars)
        .withColumn("_voln", (col("_vbi") - col("_vai")) * col("_rai") * 10000L)
        .withColumn("_volm", expr(
          """IF(_voln < 0, -((-2 * _voln + _vai) div (2 * _vai)),
                           (2 * _voln + _vai) div (2 * _vai))"""))
        .withColumn("_prim", (col("_rbi") * 10000L).cast("decimal(38,0)")
          .cast("long") - expr(
          "(2 * _rai * _vbi * 10000 + _vai) div (2 * _vai)"))
      val agg = per.agg(
        sum(col("_volm").cast("decimal(38,0)")).cast("long").as("_volu"),
        sum(col("_prim").cast("decimal(38,0)")).cast("long").as("_priu"),
        // _rai/_rbi totals ride DECIMAL(38,0) through BOTH the sum and
        // the ×10000 (r16 ADVICE): the DuckDB oracle sums in HUGEINT
        // and casts exactly, so the Spark side must keep every step
        // in decimal where overflow surfaces as a LOUD null (pinned
        // by PvmBridgeSpec) instead of a silently wrapped long
        coalesce((sum(when(col("_ra").isNull, col("_rbi")))
            .cast("decimal(38,0)") * lit(10000L)).cast("decimal(38,0)"),
          lit(0L).cast("decimal(38,0)")).cast("long").as("_newu"),
        coalesce((sum(when(col("_rb").isNull, col("_rai")))
            .cast("decimal(38,0)") * lit(10000L)).cast("decimal(38,0)"),
          lit(0L).cast("decimal(38,0)")).cast("long").as("_lostu"),
        (sum(col("_rbi")).cast("decimal(38,0)") * lit(10000L))
          .cast("decimal(38,0)").cast("long").as("_totbu"),
        (sum(col("_rai")).cast("decimal(38,0)") * lit(10000L))
          .cast("decimal(38,0)").cast("long").as("_totau"))
      val resid = col("_totbu") - col("_totau") - col("_volu") -
        col("_priu") - col("_newu") + col("_lostu")
      agg.withColumn("_residu", resid)
        .selectExpr("""stack(7,
           '1_revenue_a', _totau,
           '2_volume_effect', _volu,
           '3_price_effect', _priu,
           '4_new_parts', _newu,
           '5_lost_parts', -_lostu,
           '6_residual', _residu,
           '7_revenue_b', _totbu) as (component, value_micros)""")
        .orderBy("component")
    }),

    "q70_ols_fit" -> ((s, dir) => {
      // the regression primitive beside q43's correlation: exact OLS
      // of quantity on discount per returnflag — slope/intercept/R²
      // derive from the SAME five DECIMAL raw-sum folds in one fixed
      // parenthesization (no streaming IEEE aggregates)
      val x = col("l_discount").cast("decimal(18,4)")
      val y = col("l_quantity").cast("decimal(18,2)")
      val g = T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(cnt.as("n"),
          sum(x).cast("double").as("_sx"), sum(y).cast("double").as("_sy"),
          sum(x * x).cast("double").as("_sxx"),
          sum(y * y).cast("double").as("_syy"),
          sum(x * y).cast("double").as("_sxy"))
      val nD = col("n").cast("double")
      val slope = (nD * col("_sxy") - col("_sx") * col("_sy")) /
        (nD * col("_sxx") - col("_sx") * col("_sx"))
      val r = (nD * col("_sxy") - col("_sx") * col("_sy")) /
        (sqrt(nD * col("_sxx") - col("_sx") * col("_sx")) *
          sqrt(nD * col("_syy") - col("_sy") * col("_sy")))
      g.select(col("l_returnflag"), col("n"),
          round(slope, 6).as("slope"),
          round((col("_sy") - slope * col("_sx")) / nD, 6).as("intercept"),
          round(r * r, 6).as("r2"))
        .orderBy("l_returnflag")
    }),

    "q69_wow_growth" -> ((s, dir) => {
      // week-over-week growth (the dashboard's first derivative):
      // DECIMAL weekly revenue, lag + one pinned division — the
      // global lag window runs over the ≤|weeks| aggregate (q46's
      // stated-bound contract), never the order stream
      val wk = T(s, dir, "orders")
        .select(expr("unix_micros(o_orderdate) div 604800000000").as("week"),
          col("o_totalprice").cast("decimal(18,2)").as("_p"))
        .groupBy(col("week")).agg(cnt.as("n_orders"), sum(col("_p")).as("_rev"))
      val w = Window.orderBy(col("week"))
      wk.withColumn("_prev", lag(col("_rev"), 1).over(w))
        .select(col("week"), col("n_orders"),
          col("_rev").cast("double").as("revenue"),
          col("_prev").cast("double").as("prev_revenue"),
          when(col("_prev").isNotNull && col("_prev") =!= 0,
            round((col("_rev") - col("_prev")).cast("double")
              / col("_prev").cast("double"), 6)).as("wow_growth"))
        .orderBy("week")
    }),

    "q68_window_funnel" -> ((s, dir) => {
      // windowFunnel (the ClickHouse classic, vs q29's first-event
      // greedy chain): a user reaches level L if ANY ordered
      // view→click→purchase chain fits in 24h FROM THE CHAIN'S OWN
      // START — first-event funnels undercount users whose first view
      // went nowhere but whose later one converted. Exists-chains via
      // two per-user equi-joins (per-user event counts are the
      // data-model-bounded grain), then one level histogram
      val ev = T(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("_us"))
      def of(t: String, as: String) =
        ev.filter(col("event_type") === t)
          .select(col("user_id"), col("_us").as(as))
      val W = 24L * 3600L * 1000000L
      val l2 = of("view", "_tv").join(of("click", "_tc"), Seq("user_id"))
        .filter(col("_tc") > col("_tv") && col("_tc") <= col("_tv") + W)
      val l3u = l2.join(of("purchase", "_tp"), Seq("user_id"))
        .filter(col("_tp") > col("_tc") && col("_tp") <= col("_tv") + W)
        .select(col("user_id")).distinct()
      val l2u = l2.select(col("user_id")).distinct()
      val l1u = of("view", "_tv").select(col("user_id")).distinct()
      l1u.join(l2u.withColumn("_l2", lit(1)), Seq("user_id"), "left")
        .join(l3u.withColumn("_l3", lit(1)), Seq("user_id"), "left")
        .select(when(col("_l3") === 1, 3L).when(col("_l2") === 1, 2L)
          .otherwise(1L).as("level"))
        .groupBy(col("level")).agg(cnt.as("n_users"))
        .orderBy("level")
    }),

    "q67_stickiness" -> ((s, dir) => {
      // DAU/WAU/MAU + stickiness (the product-analytics headline
      // q46/q62 lead up to): trailing distinct-user windows computed
      // at the (user, day) grain — the corpus reduces ONCE to that
      // frame, the 7/28-day trailing joins expand only it (×7/×28 at
      // day grain), never the event stream; partial leading windows
      // report as-is, as dashboards do
      val ud = T(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("_d"))
        .distinct()
      val days = ud.select(col("_d").as("day")).distinct()
      val dau = ud.groupBy(col("_d").as("day")).agg(cnt.as("dau"))
      def trailing(n: Int, name: String) =
        broadcast(days).join(ud,
            col("_d") <= col("day") && col("_d") >= col("day") - (n - 1))
          .groupBy(col("day")).agg(countDistinct(col("user_id")).as(name))
      dau.join(trailing(7, "wau"), Seq("day"))
        .join(trailing(28, "mau"), Seq("day"))
        .select(col("day"), col("dau"), col("wau"), col("mau"),
          round(col("dau").cast("double") / col("mau").cast("double"), 6)
            .as("stickiness"))
        .orderBy("day")
    }),

    "q64_spearman" -> ((s, dir) =>
      // monotone association q43's Pearson misreads under heavy
      // tails: Spearman rho of quantity vs price per returnflag —
      // doubled average ranks (exact integers under ties) off the
      // distributed prefix, moments as exact DECIMAL folds, one
      // pinned IEEE chain
      operators.Stats.spearman(T(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", "l_extendedprice")),

    "q63_abc_analysis" -> ((s, dir) =>
      // which parts make up the first 80% of revenue: exact
      // integer-scaled class cuts over the distributed DESC rank
      operators.Stats.abcAnalysis(
        T(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev")),
        "l_partkey", "rev")),

    "q56_topk_others" -> ((s, dir) => {
      // the dashboard classic q04's plain top-k misses: top-3
      // suppliers per nation PLUS an "(other)" bucket so the report
      // still sums to the total — rank window on the (nation,
      // supplier) aggregate (never the line stream), deterministic
      // (revenue DESC, suppkey) ties, one re-aggregate after labeling
      val li = T(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"))
      val sup = T(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = T(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val rev = li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("s_suppkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("_rev"))
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("_rev").desc, col("s_suppkey"))
      rev.withColumn("_rk", row_number().over(w))
        .withColumn("supplier", when(col("_rk") <= 3,
          col("s_suppkey").cast("string")).otherwise("(other)"))
        .groupBy(col("n_name"), col("supplier"))
        .agg(sum(col("_rev")).cast("double").as("revenue"),
          cnt.as("n_suppliers"))
        .select(col("n_name"), col("supplier"),
          round(col("revenue"), 2).as("revenue"), col("n_suppliers"))
        .orderBy(col("n_name"), col("revenue").desc, col("supplier"))
    }),

    "q55_lorenz_gini" -> ((s, dir) => {
      // revenue-concentration curve + exact Gini over per-customer
      // revenue: distributed global ranks (packSequences prefix
      // discipline, no global window), rank*x folds as exact DECIMAL
      val rev = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("rev"))
      operators.Stats.lorenzGini(rev, "o_custkey", "rev")
    }),

    "q54_benford" -> ((s, dir) => {
      // BENFORD first-digit audit (the fraud/fabrication screen
      // auditors run on any monetary column): leading significant
      // digit via one DECIMAL render + regex (decimal→string is the
      // one cross-engine-stable numeric rendering; doubles are not),
      // shares against the log10(1+1/d) literals (pinned to 12
      // digits, bit-shared with the oracle), one digit-grain
      // aggregate + a broadcast 1-row total
      val p = Map("1" -> 0.301029995664, "2" -> 0.176091259056,
        "3" -> 0.124938736608, "4" -> 0.096910013008,
        "5" -> 0.079181246048, "6" -> 0.066946789631,
        "7" -> 0.057991946978, "8" -> 0.051152522447,
        "9" -> 0.045757490561)
      val bp = p.foldLeft(lit(null).cast("double")) { case (acc, (d, v)) =>
        when(col("digit") === d, lit(v)).otherwise(acc)
      }
      val digits = T(s, dir, "orders")
        .select(regexp_extract(
          col("o_totalprice").cast("decimal(18,2)").cast("string"),
          "([1-9])", 1).as("digit"))
        .filter(col("digit") =!= "")
      val counts = digits.groupBy(col("digit")).agg(cnt.as("n"))
      counts
        .crossJoin(broadcast(counts.agg(sum(col("n")).cast("long").as("_t"))))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("_t").cast("double"), 6)
            .as("share"),
          bp.as("benford_p"),
          round(abs(col("n").cast("double") / col("_t").cast("double") - bp),
            6).as("abs_dev"))
        .orderBy("digit")
    }),

    "q53_chi2_independence" -> ((s, dir) => {
      // CHI-SQUARE independence (event_type x day-of-week): the float
      // SUM over cells is the one order-sensitive step, so each cell
      // term quantizes to DECIMAL(28,9) (one identical round of
      // identical doubles) and the cumulative sum folds EXACTLY —
      // no engine's window-fold order can move a bit; everything
      // upstream is exact integers (obs, row/col/grand totals) and
      // per-cell E/residual are pinned IEEE chains.
      // One (etype, dow) aggregate shuffle; the full cross of the two
      // bounded domains fills absent cells with obs=0 (they still
      // carry expected mass). The LAST row's cum_chi2 is the
      // statistic; df = (R-1)(C-1) rides every row
      val ev = T(s, dir, "events")
        .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
      operators.Stats.chi2Independence(ev, "event_type", "dow")
    }),

    "q52_mannwhitney" -> ((s, dir) =>
      // nonparametric A/B beside q51: stochastic dominance (AUC) and
      // the tie-corrected rank-sum z, exact integer folds in doubled
      // units until one pinned IEEE chain
      operators.Stats.mannWhitneyAllPairs(T(s, dir, "events"),
        "event_type", "value")),

    "q51_ks_drift" -> ((s, dir) =>
      // exact all-pairs two-sample KS over the per-type value
      // distributions: integer cross-multiplied ECDF gaps (one IEEE
      // division at the very end), cumsums assembled with the
      // packSequences distributed-prefix discipline — no global window
      operators.Stats.ksAllPairs(T(s, dir, "events"),
        "event_type", "value")),

    "q50_bootstrap_ci" -> ((s, dir) =>
      // deterministic Poisson-bootstrap 95% CI on the per-type mean
      // value: all 64 resamples fold in ONE pass as weighted sums
      // (online bootstrap), draws replayed exactly by the oracle via
      // the shared md5-hex threshold text
      operators.Bootstrap.meanCi(T(s, dir, "events"),
          "event_type", "event_id", "value", b = 64)
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type")),

    "q49_basket_lift" -> ((s, dir) => {
      // MARKET-BASKET pair mining (the recommendation classic):
      // co-purchase support and lift over order baskets. The pair
      // join is WITHIN the order key — per-key work is quadratic in
      // BASKET size (bounded ~7 lines in this schema), never in
      // corpus size, so the shuffle stays one orderkey
      // co-partitioning. Item supports attach by key join (|parts|
      // grows with the corpus — no broadcast assumption), the order
      // total is a broadcast 1-row aggregate. Lift divides in pinned
      // order (n_ab/n_a/n_b*N) — three IEEE ops on exact longs, no
      // integer-product overflow at any scale
      val items = T(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val pairs = items.select(col("ok"), col("pk").as("pa"))
        .join(items.select(col("ok"), col("pk").as("pb")), Seq("ok"))
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(cnt.as("n_ab"))
        .filter(col("n_ab") >= 2)
      val supp = items.groupBy(col("pk")).agg(cnt.as("n_item"))
      val total = items.agg(countDistinct(col("ok")).as("_n"))
      pairs
        .join(supp.select(col("pk").as("pa"), col("n_item").as("n_a")), Seq("pa"))
        .join(supp.select(col("pk").as("pb"), col("n_item").as("n_b")), Seq("pb"))
        .crossJoin(broadcast(total))
        .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
          round(col("n_ab").cast("double") / col("n_a").cast("double")
            / col("n_b").cast("double") * col("_n").cast("double"), 6)
            .as("lift"))
        .orderBy("pa", "pb")
    }),

    "q48_dq_profile" -> ((s, dir) =>
      // per-column data-quality profile (the trust-a-new-feed audit):
      // row/null/blank/exact-distinct counts per column, all
      // format-independent so the string funnel cannot pin an
      // engine's double/timestamp formatter
      operators.Profile.columnProfile(T(s, dir, "events"),
          Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
        .select(col("col_name"), col("n_rows"), col("n_null"),
          col("n_blank"), col("n_distinct"), col("null_rate"))
        .orderBy("col_name")),

    "q47_daily_balance" -> ((s, dir) => {
      // gap-filled DAILY BALANCE snapshots (the warehouse
      // carry-forward classic: positions must exist for EVERY day in
      // an entity's active span, not just days with activity): per
      // user, daily purchase totals fold into a running balance, and
      // each observed day emits itself PLUS every gap day up to the
      // next observation via one sequence() explode — JOIN-FREE (no
      // spine-vs-facts join: lead() already knows each fill range);
      // one (user,day) aggregate + one user window; the fill factor
      // is OUTPUT mass (bounded by the span), never shuffle mass.
      // Balance folds as exact DECIMAL(18,6), one final double cast
      // (the q44 discipline)
      val ev = T(s, dir, "events").filter(col("event_type") === "purchase")
      val daily = ev.groupBy(col("user_id"),
          (unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("_total"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      daily
        .withColumn("_bal", sum(col("_total")).over(w))
        .withColumn("_next", lead(col("day"), 1).over(w))
        .select(col("user_id"), col("day").as("_obs"), col("_bal"),
          explode(sequence(col("day"),
            coalesce(col("_next") - lit(1L), col("day")))).as("_d"))
        .select(col("user_id"), col("_d").as("day"),
          col("_bal").cast("double").as("balance"),
          (col("_d") === col("_obs")).as("is_active"))
        .orderBy("user_id", "day")
    }),

    "q43_stats_moments" -> ((s, dir) => {
      // per-group statistical profile (mean/stddev/corr) with
      // ORDER-EXACT moments: Spark's corr/stddev aggregates stream
      // IEEE updates whose result depends on partitioning and differs
      // from DuckDB's single-pass algorithms — instead the five raw
      // sums (n, Σx, Σy, Σx², Σxy, Σy²) fold as exact DECIMALs and
      // the statistics derive in ONE fixed double parenthesization
      // both engines replay bit for bit (the §5 discipline applied to
      // second moments)
      val x = col("l_quantity").cast("decimal(18,2)")
      val y = col("l_extendedprice").cast("decimal(18,2)")
      val g = T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(cnt.as("n"),
          sum(x).cast("double").as("_sx"), sum(y).cast("double").as("_sy"),
          sum(x * x).cast("double").as("_sxx"),
          sum(y * y).cast("double").as("_syy"),
          sum(x * y).cast("double").as("_sxy"))
      val nD = col("n").cast("double")
      g.select(col("l_returnflag"), col("n"),
          round(col("_sx") / nD, 6).as("avg_qty"),
          round(sqrt((col("_sxx") - col("_sx") * col("_sx") / nD) / (nD - 1.0)), 6)
            .as("std_qty"),
          round(col("_sy") / nD, 6).as("avg_price"),
          round(sqrt((col("_syy") - col("_sy") * col("_sy") / nD) / (nD - 1.0)), 6)
            .as("std_price"),
          round((nD * col("_sxy") - col("_sx") * col("_sy")) /
            (sqrt(nD * col("_sxx") - col("_sx") * col("_sx")) *
              sqrt(nD * col("_syy") - col("_sy") * col("_sy"))), 6)
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    }),

    "q44_attribution" -> ((s, dir) => {
      // LAST-TOUCH revenue attribution (the marketing warehouse
      // classic): each purchase attributes its value to the user's
      // most recent PRECEDING non-purchase event type — a
      // last(ignoreNulls) running frame over one user_id shuffle, the
      // q20 union-merge idea inside a single window; purchases with
      // no prior touch attribute to "(direct)"; values fold as exact
      // DECIMAL(18,6) so the per-touch sums are order-free
      val ev = T(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("_touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("touch", coalesce(col("_touch"), lit("(direct)")))
        .groupBy("touch")
        .agg(cnt.as("n_purchases"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("attributed_value"))
        .orderBy("touch")
    }),

    "q42_bitemporal" -> ((s, dir) => {
      // BITEMPORAL point-in-time audit (valid time × transaction
      // time): the q41 PIT lookup run against TWO transaction-time
      // snapshots of the same change stream — "what did the warehouse
      // believe on report date T1 vs now about the state valid at
      // each fact's time". Changes arrive LATE (tx = valid +
      // (event_id % 7) hours, a deterministic ingest delay), so the
      // T1 snapshot misses still-in-flight changes and some facts'
      // attributed state is RESTATED between report dates — the drift
      // a warehouse audit surfaces. Pure composition: Windows.scd2 +
      // AsOf.join, both unchanged, once per snapshot; each leg is one
      // user_id shuffle with no join node (the q20/q34/q41
      // discipline), and the snapshot cut is a literal filter, so the
      // whole plan stays join-free
      val ev = T(s, dir, "events")
      val changes = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("_us"), col("event_id"))
        .withColumn("_tx_us",
          col("_us") + (col("event_id") % 7) * lit(3600000000L))
      // report date T1 = 2024-01-16 00:00:00 UTC (mid-corpus at every
      // SF; the testdata spans Jan 2024)
      val t1Us = 1705363200000000L
      def dimAt(snap: DataFrame) = operators.Windows.scd2(
          snap.select(col("user_id"), col("event_type"), col("_us"),
            col("event_id")),
          "user_id", "event_type", "_us", "event_id")
        .select(col("key").as("user_id"),
          col("effective_from").as("ts_us"), col("state"), col("version"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      val a1 = AsOf.join(facts,
        dimAt(changes.filter(col("_tx_us") <= t1Us)),
        Seq("user_id"), "ts_us", "version",
        Seq("state" -> "state_t1", "version" -> "version_t1"))
      AsOf.join(a1, dimAt(changes), Seq("user_id"), "ts_us", "version",
          Seq("state" -> "state_now", "version" -> "version_now"))
        .withColumn("restated",
          !(col("state_t1") <=> col("state_now")) ||
            !(col("version_t1") <=> col("version_now")))
        .orderBy("event_id")
    }),

    "q40_communities" -> ((s, dir) => {
      // deterministic weighted label propagation on the symmetrized
      // event-type transition graph (3 synchronous rounds, exact long
      // weight argmax, min-label ties): the topic/community view of
      // the same graph q38 ranks — every round replays in SQL, so the
      // final labeling hash-matches
      val ev = T(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val trans = graft.operators.Caching.sealOver(ev
        .withColumn("_prev", lag(col("event_type"), 1).over(w))
        .filter(col("_prev").isNotNull)
        .groupBy(col("_prev").as("src_type"), col("event_type").as("dst_type"))
        .agg(cnt.as("w")))
      // global window over the ≤|event types| distinct rows (the
      // stated-bound contract for global orderBy)
      val dict = trans.select(col("src_type").as("t"))
        .unionByName(trans.select(col("dst_type").as("t"))).distinct()
        .withColumn("nid",
          row_number().over(Window.orderBy(col("t"))).cast("long") - 1)
      val directed = trans
        .join(dict.select(col("t").as("src_type"), col("nid").as("src")), "src_type")
        .join(dict.select(col("t").as("dst_type"), col("nid").as("dst")), "dst_type")
        .select(col("src"), col("dst"), col("w"))
      val edges = directed.unionByName(
        directed.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      Graph.labelPropagation(edges, "src", "dst", "w", iters = 3,
          undirected = true)
        .join(dict.select(col("nid").as("id"), col("t").as("event_type")), "id")
        .join(dict.select(col("nid").as("label"), col("t").as("community")), "label")
        .select(col("event_type"), col("community"))
        .orderBy("event_type")
    }),

    "q39_shortest_path" -> ((s, dir) => {
      // bounded-round Bellman-Ford over the weighted co-purchase
      // graph (edge weight = line quantity, exact longs): minimum
      // total weight from parts {0,1,2} using <= 4 edges — round k is
      // provably min over all <=k-edge paths, so the oracle's full
      // path enumeration min() must agree exactly
      val li = T(s, dir, "lineitem")
        .select((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"),
          col("l_quantity").cast("long").as("w"))
      val edges = li.unionByName(
        li.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val seeds = T(s, dir, "part").filter(col("p_partkey") < 3)
        .select((col("p_partkey") * 2 + 1).as("id"))
      Graph.shortestPaths(edges, "src", "dst", "w", seeds, "id", maxRounds = 4)
        .select(
          when(col("id") % 2 === 0, lit("order")).otherwise(lit("part")).as("kind"),
          shiftright(col("id"), 1).as("node_id"), col("dist"))
        .orderBy("kind", "node_id")
    }),

    "q38_pagerank" -> ((s, dir) => {
      // PageRank over the event-type transition graph: the heavy part
      // is corpus-scale (one lag window + count aggregate builds the
      // weighted edge list from every user's event stream); the 3
      // fixed iterations then run on the small type graph with
      // decimal-exact contribution sums — every iteration replays bit
      // for bit in the oracle (the §5 float discipline applied to an
      // iterative algorithm)
      val ev = T(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      // sealed: the corpus-scale lag window + aggregate runs ONCE —
      // dict (twice) and edges (twice more) all read the ≤|types|²
      // edge frame, never the event stream (PlanSpec pins no user_id
      // exchange survives into the final plan)
      val trans = graft.operators.Caching.sealOver(ev
        .withColumn("_prev", lag(col("event_type"), 1).over(w))
        .filter(col("_prev").isNotNull)
        .groupBy(col("_prev").as("src_type"), col("event_type").as("dst_type"))
        .agg(cnt.as("w")))
      // portable dense node dictionary: alphabetical event_type order
      // (global window over the ≤|event types| distinct rows — the
      // stated-bound contract for global orderBy)
      val dict = trans.select(col("src_type").as("t"))
        .unionByName(trans.select(col("dst_type").as("t"))).distinct()
        .withColumn("nid",
          row_number().over(Window.orderBy(col("t"))).cast("long") - 1)
      val edges = trans
        .join(dict.select(col("t").as("src_type"), col("nid").as("src")), "src_type")
        .join(dict.select(col("t").as("dst_type"), col("nid").as("dst")), "dst_type")
        .select(col("src"), col("dst"), col("w"))
      Graph.pageRank(edges, "src", "dst", "w", d = 0.85, iters = 3)
        .join(dict.select(col("nid").as("id"), col("t").as("event_type")), "id")
        .select(col("event_type"), col("rank"))
        .orderBy("event_type")
    }),

    "q38b_pagerank_big" -> ((s, dir) => {
      // PageRank at REAL graph scale: the directed bipartite
      // order→part co-purchase graph (order node 2k, part node 2k+1 —
      // q37/q39's encoding), quantity-weighted. Unlike q38's 5-node
      // type graph, every part node is DANGLING here (no out-edges),
      // so the dangling-mass DECIMAL fold carries half the graph's
      // rank mass every iteration — the iterative arithmetic
      // (contribution sums, dangling redistribution, the (1−d)/N
      // combine) is oracle-proven over thousands of nodes, closing
      // the r14 verdict's validation-breadth caveat
      val e = T(s, dir, "lineitem")
        .groupBy((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        .agg(sum(col("l_quantity").cast("long")).as("w"))
      Graph.pageRank(e, "src", "dst", "w", d = 0.85, iters = 3)
        .select(
          when(col("id") % 2 === 0, lit("order")).otherwise(lit("part")).as("kind"),
          shiftright(col("id"), 1).as("node_id"), col("rank"))
        .orderBy("kind", "node_id")
    }),

    "q40b_communities_big" -> ((s, dir) => {
      // label propagation at real graph scale: the SYMMETRIZED
      // quantity-weighted co-purchase graph; 3 synchronous rounds of
      // exact long-weight argmax with (weight DESC, label) tie-break
      // over ~10⁵ (node, label) pairs prove the argmax/tie discipline
      // far beyond q40's 5 event types
      val e0 = T(s, dir, "lineitem")
        .groupBy((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        .agg(sum(col("l_quantity").cast("long")).as("w"))
      val edges = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      Graph.labelPropagation(edges, "src", "dst", "w", iters = 3,
          undirected = true)
        .select(
          when(col("id") % 2 === 0, lit("order")).otherwise(lit("part")).as("kind"),
          shiftright(col("id"), 1).as("node_id"),
          when(col("label") % 2 === 0, lit("order")).otherwise(lit("part"))
            .as("label_kind"),
          shiftright(col("label"), 1).as("label_id"))
        .orderBy("kind", "node_id")
    }),

    "q36_listagg" -> ((s, dir) =>
      // grouped string aggregation (LISTAGG/string_agg — the report
      // column every BI export wants): nations per region, sorted so
      // the aggregate is deterministic under any partitioning
      T(s, dir, "nation")
        .join(T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(cnt.as("n_nations"),
          array_join(sort_array(collect_list(col("n_name"))), ",")
            .as("nations"))
        .orderBy("r_name")),

    "q35_pareto" -> ((s, dir) => {
      // revenue concentration (the 80/20 audit): per-customer revenue
      // share and cumulative share in descending order; the global
      // window runs over the already-aggregated DIMENSION-sized frame
      // (|customers| rows), never the fact table — at extreme
      // dimension cardinality the packSequences distributed prefix
      // sum is the stated fallback
      import org.apache.spark.sql.expressions.Window
      val rev = T(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("_rev"))
      val tot = rev.agg(sum(col("_rev")).as("_tot"))
      val w = Window.orderBy(col("_rev").desc, col("o_custkey"))
      rev.crossJoin(broadcast(tot))
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("revenue", col("_rev").cast("double"))
        .withColumn("share",
          round(col("_rev").cast("double") / col("_tot").cast("double"), 6))
        .withColumn("cum_share", round(
          sum(col("_rev")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).cast("double") / col("_tot").cast("double"), 6))
        .select(col("o_custkey"), col("rank"), col("revenue"),
          col("share"), col("cum_share"))
        .orderBy("rank")
    }),

    "q34_scd2" -> ((s, dir) => {
      // SCD Type-2 dimension build from a change stream — the
      // warehouse versioning pattern: per user, consecutive duplicate
      // states collapse, each surviving change opens a versioned row
      // [effective_from, effective_to), the last open-ended and
      // flagged current; one user_id shuffle feeds both windows
      operators.Windows.scd2(
          T(s, dir, "events")
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("_us"), col("event_id")),
          "user_id", "event_type", "_us", "event_id")
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id", "version")
    }),

    "q29_funnel" -> ((s, dir) => {
      // ordered-step conversion funnel: first view, then first click
      // within 24h of it, then first purchase within 24h of that. Each
      // step is one user_id shuffle (agg) + a join against the prior
      // step's survivors — a set that only shrinks, so at corpus scale
      // later steps broadcast.
      val ev = T(s, dir, "events")
      def first(df: DataFrame): DataFrame =
        df.groupBy("user_id").agg(min(col("ts")).as("t"))
      def step(prev: DataFrame, etype: String): DataFrame =
        first(ev.filter(col("event_type") === etype)
          .join(prev.select(col("user_id"), col("t").as("t0")), "user_id")
          .filter(col("ts") > col("t0") &&
            col("ts") <= col("t0") + expr("INTERVAL 24 HOURS")))
      val v = first(ev.filter(col("event_type") === "view"))
      val c = step(v, "click")
      val p = step(c, "purchase")
      v.agg(cnt.as("users")).select(lit("1_view").as("step"), col("users"))
        .unionAll(c.agg(cnt.as("users")).select(lit("2_click").as("step"), col("users")))
        .unionAll(p.agg(cnt.as("users")).select(lit("3_purchase").as("step"), col("users")))
        .orderBy("step")
    }),

    "r15_multiline" -> ((s, dir) => {
      // multiline log-record assembly (stack-trace style): header lines
      // start a record, continuation lines attach to the preceding
      // header. The synthetic "file" is each user's event stream; error
      // events carry one continuation line. Record numbering is a
      // running count of headers per user — one user_id shuffle that
      // the (user_id, rec_no) aggregate reuses (subset partitioning
      // satisfies the clustered distribution), so assembly scales as a
      // single-shuffle op however long the traces get.
      val ev = T(s, dir, "events")
      val headers = ev.select(col("user_id"),
        (col("event_id") * 2).as("line_no"),
        concat(lit("id="), col("event_id"), lit(" type="), col("event_type")).as("line"),
        lit(1L).as("is_header"))
      val conts = ev.filter(col("event_type") === "error").select(col("user_id"),
        (col("event_id") * 2 + 1).as("line_no"),
        concat(lit("  at trace#"), col("event_id")).as("line"),
        lit(0L).as("is_header"))
      headers.unionAll(conts)
        .withColumn("rec_no", sum(col("is_header"))
          .over(Window.partitionBy("user_id").orderBy("line_no")))
        .groupBy(col("user_id"), col("rec_no"))
        .agg(cnt.as("n_lines"),
          concat_ws(" | ", transform(
            array_sort(collect_list(struct(col("line_no"), col("line")))),
            x => x.getField("line"))).as("record"))
        .orderBy("user_id", "rec_no")
    }),

    "t09_top_ngrams" -> ((s, dir) =>
      // corpus-level vocabulary report: global top-20 trigrams; partial
      // agg collapses repeats map-side, TakeOrdered keeps the top k —
      // no global sort of the full gram table
      Dedup.shinglesRaw(T(s, dir, "documents"), "doc_id", "text", 3)
        .groupBy("shingle").agg(cnt.as("n"))
        .orderBy(col("n").desc, col("shingle"))
        .limit(20)),

    "t04_fingerprint" -> ((s, dir) => {
      RollingHash.register(s)
      T(s, dir, "documents")
        .groupBy(expr("rolling_hash(text)").as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), cnt.as("n"))
        .select("keep_id", "n")
        .orderBy("keep_id")
    }),

    "m13_cell_stats" -> ((s, dir) => {
      // the flat/blank-image screen before spending decode/embed
      // compute: exact integer cell mean/contrast + a pure-integer
      // flat rule ((max-min)*20*n < sum), no IEEE threshold
      val blobs = Multimodal.withBlob(T(s, dir, "documents"), "text")
      Multimodal.cellStats(blobs, "doc_id", "blob")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "m01_multimodal" -> ((s, dir) => {
      val blobs = Multimodal.withBlob(T(s, dir, "documents"), "text")
      Multimodal.decodeFeatures(blobs, "doc_id", "blob")
        .select(col("id").as("doc_id"), col("n_bytes"), col("head_byte"),
          round(col("byte_mean"), 6).as("byte_mean"),
          size(col("feature")).cast("long").as("feat_dim"))
        .orderBy("doc_id")
    }),

    "m02_frames" -> ((s, dir) => {
      val blobs = Multimodal.withBlob(T(s, dir, "documents"), "text")
      Multimodal.sampleFrames(blobs, "doc_id", "blob", n = 4)
        .select(col("id").as("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_bytes"))
        .orderBy("doc_id", "frame_idx")
    }),

    "m09_keyframes" -> ((s, dir) => {
      // keyframe per scene: m08's boundaries split frames into
      // scenes (running boundary count), keyframe = max-energy frame
      // per scene, ties to the earliest — all windows over the tiny
      // frame stream, exact BIGINT energy
      val blobs = Multimodal.withBlob(T(s, dir, "documents"), "text")
      Multimodal.keyframes(blobs, "doc_id", "blob", n = 4,
          tau2 = 150000L)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "scene")
    }),

    "m08_scene_changes" -> ((s, dir) => {
      // shot-boundary detection over the sampled frame stream:
      // adjacent frame features differ by exact-integer squared L2,
      // boundaries above tau2 — one id-keyed lag window
      val blobs = Multimodal.withBlob(T(s, dir, "documents"), "text")
      Multimodal.sceneChanges(blobs, "doc_id", "blob", n = 4,
          tau2 = 150000L)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "frame_idx")
    }),

    "m07_audio_overlap" -> ((s, dir) => {
      // audio segment dedup: files pairing on shared 100-byte chunk
      // contents at any block-aligned offset — the "same jingle in
      // two recordings" screen; md5 keys keep audio off the shuffle
      val blobs = Multimodal.withBlob(
        T(s, dir, "documents").filter(col("doc_id") < 500), "text")
      Multimodal.audioChunkOverlap(blobs, "doc_id", "blob", chunkBytes = 100)
        .orderBy("id1", "id2")
    }),

    "m11_silence_segments" -> ((s, dir) => {
      // VAD-shaped segmentation: runs of chunks above 3/4 of the
      // file's mean byte-energy become active segments — exact
      // integer cross-multiplication, islands cumsum at chunk grain
      val blobs = Multimodal.withBlob(T(s, dir, "documents"), "text")
      Multimodal.silenceSegments(blobs, "doc_id", "blob", chunkBytes = 100)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "seg_idx")
    }),

    "m14_wav_clipping" -> ((s, dir) => {
      // the recording-quality screen, REAL decoder hash-gated like
      // m12: synth WAVs decode through javax.sound, clip counts /
      // peak / integer rate flag from the DECODED amplitudes; the
      // oracle replays (byte-128)*256 from the text alone
      val wavs = Multimodal.synthWav(T(s, dir, "documents"), "doc_id", "text")
      Multimodal.clippingStats(wavs, "id", "wav",
          frontend = Multimodal.WavAudio)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "m12_wav_vad" -> ((s, dir) => {
      // the REAL decoder, hash-gated end to end: every document
      // synthesizes to an actual RIFF/PCM WAV (sample f = text byte f
      // recentred to 16 bits), javax.sound decodes it back, and the
      // m11 silence segmentation runs on the DECODED frame energies
      // (50-frame chunks, exact integer |amplitude| sums). The oracle
      // replays the post-decode pipeline from the text bytes alone —
      // if the decode path drops, scales, or reorders one sample, the
      // hash breaks
      val wavs = Multimodal.synthWav(T(s, dir, "documents"), "doc_id", "text")
      Multimodal.silenceSegments(wavs, "id", "wav", chunkBytes = 50,
          frontend = Multimodal.WavAudio)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "seg_idx")
    }),

    "m04_audio_chunks" -> ((s, dir) => {
      val blobs = Multimodal.withBlob(T(s, dir, "documents"), "text")
      Multimodal.chunkAudio(blobs, "doc_id", "blob", chunkBytes = 100)
        .select(col("id").as("doc_id"), col("chunk_idx"), col("offset"),
          col("n_bytes"), round(col("byte_mean"), 6).as("byte_mean"))
        .orderBy("doc_id", "chunk_idx")
    }),

    "m03_resize" -> ((s, dir) => {
      val blobs = Multimodal.withBlob(T(s, dir, "documents"), "text")
      Multimodal.resizeStub(blobs, "doc_id", "blob", w = 32, h = 32)
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("in_bytes"), col("out_bytes"))
        .orderBy("doc_id")
    }),

    "m06_alignment" -> ((s, dir) => {
      // CLIP-score-style text-image alignment filtering plumbing:
      // stub image tower (partition-batched byte-fold features) vs
      // the doc's embedding through the portable s08 projection head;
      // vec_id doubles as doc_id in the testdata pairing
      val blobs = Multimodal.withBlob(
        T(s, dir, "documents").filter(col("doc_id") < 500), "text")
      Multimodal.textImageAlignment(blobs, "doc_id", "blob",
          T(s, dir, "embeddings"), "vec_id", "embedding",
          tau = 0.0, embDims = 64)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "m10_phash_resolve" -> ((s, dir) => {
      // image near-dup RESOLUTION: m05's pigeonhole pHash pairs feed
      // d06's component machinery; each cluster keeps its min-id
      // member as the canonical image (no quality column on blobs)
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
      val blobs = Multimodal.withBlob(docs, "text")
      val pairs = Dedup.chunkedHammingPairs(
          Multimodal.imagePhash(blobs, "doc_id", "blob"))
        .select(col("id1"), col("id2"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
      Dedup.components(docs.select(col("doc_id")), "doc_id", pairs)
        .withColumn("n_members", count(lit(1)).over(w))
        .withColumn("is_canonical", col("doc_id") === col("component"))
        .orderBy("doc_id")
    }),

    "m05_phash_pairs" -> ((s, dir) => {
      // image near-dup detection: 64-bit perceptual hash from the
      // partition-batched decode stub, pairs at hamming <= 3 via the
      // d12 pigeonhole machinery; the oracle brute-forces ALL pairs,
      // so the hash-match also proves banding completeness on images
      val blobs = Multimodal.withBlob(
        T(s, dir, "documents").filter(col("doc_id") < 500), "text")
      Dedup.chunkedHammingPairs(
          Multimodal.imagePhash(blobs, "doc_id", "blob"))
        .orderBy("id1", "id2")
    }),

    "p24_cap_sweep" -> ((s, dir) => {
      // SEQUENCE-CAP tuning sweep (the d34-style curve for packing:
      // which max_seq_len to commit before a 100 TB tokenization
      // run?): for each candidate cap, exact truncation losses and
      // pad waste under the per-doc layout (p23's single-cap world)
      // plus utilization — one token-count scan exploded over the
      // bounded cap list, all integer sums, one pinned division
      val caps = Seq(32L, 128L, 256L, 512L, 1024L)
      val toks = T(s, dir, "documents")
        .select(functions.TextFunctions.tokenCountWs(col("text"))
          .cast("long").as("_n"))
      toks
        .select(explode(typedlit(caps)).as("cap"), col("_n"))
        .groupBy(col("cap"))
        .agg(cnt.as("n_docs"),
          sum(when(col("_n") > col("cap"), 1L).otherwise(0L)).cast("long")
            .as("n_truncated"),
          sum(greatest(col("_n") - col("cap"), lit(0L))).cast("long")
            .as("tokens_lost"),
          sum(col("cap") - least(col("_n"), col("cap"))).cast("long")
            .as("pad_tokens"),
          round(sum(least(col("_n"), col("cap"))).cast("double")
            / (count(lit(1)) * col("cap")).cast("double"), 6)
            .as("utilization"))
        .orderBy("cap")
    }),

    "p23_length_batches" -> ((s, dir) =>
      // pad-efficiency dynamic batching: docs bucket to the smallest
      // power-of-two cap holding them, md5-shuffled within the
      // bucket, runs of 16 form batches; per-doc padding reported
      Training.lengthBatches(
          T(s, dir, "documents")
            .select(col("doc_id"), TextFunctions.tokenCountWs(col("text")).as("n_toks")),
          "doc_id", "n_toks",
          caps = Seq(64L, 128L, 256L, 512L, 1024L, 2048L), batchSize = 16)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "p01_pack" -> ((s, dir) =>
      // sequence packing for training: docs in doc_id order become one
      // virtual token stream cut into 2048-token sequences; each doc
      // reports the sequence span it lands in (distributed prefix sum,
      // no global single-partition window — see Training.packSequences)
      Training.packSequences(
        T(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokenCountWs(col("text")).as("n_toks")),
        "doc_id", "n_toks", seqLen = 2048L)
        .orderBy("doc_id")),

    "p02_mixture" -> ((s, dir) =>
      // mixture sampling: resample the corpus to ~50% with srcs 0-4
      // upweighted (8% each) and the other 15 sharing the rest — the
      // domain-mixing step of a training-data pipeline, md5-keyed so
      // the draw is reproducible and oracle-exact
      Training.mixtureSample(
        T(s, dir, "documents"), "source", "doc_id",
        when(col("source").isin("src0", "src1", "src2", "src3", "src4"), lit(0.08))
          .otherwise(lit(0.6) / 15.0),
        targetFrac = 0.5)
        .groupBy("source")
        .agg(cnt.as("n_kept"))
        .orderBy("source")),

    "p26_shard_entropy" -> ((s, dir) => {
      // shard-mix audit over p03's assignment (a shard that drew one
      // domain trains a skewed step — the md5 shuffle should mix
      // sources uniformly, so MEASURE it): per shard, source-mix
      // Shannon entropy (t14's quantize-then-fold log discipline) and
      // balance = entropy / ln(|sources|); everything after the
      // shard×source aggregate runs on ≤16×|sources| rows
      val docs = T(s, dir, "documents")
      val c = Training.shardAssign(docs, "doc_id")
        .groupBy(col("shard"), col("source")).agg(cnt.as("_c"))
      val tot = docs.agg(countDistinct(col("source")).as("_s"))
      val p = col("_c").cast("double") / col("_n").cast("double")
      c.join(c.groupBy(col("shard")).agg(sum(col("_c")).as("_n")), Seq("shard"))
        .groupBy(col("shard"), col("_n"))
        .agg(cnt.as("n_sources"),
          sum(round(p * log(p), 6).cast("decimal(24,8)")).as("_hs"))
        .crossJoin(broadcast(tot))
        .select(col("shard"), col("_n").as("n_docs"), col("n_sources"),
          round((-col("_hs")).cast("double"), 6).as("entropy"),
          round((-col("_hs")).cast("double")
            / log(col("_s").cast("double")), 6).as("balance"))
        .orderBy("shard")
    }),

    "p25_mix_report" -> ((s, dir) =>
      // the audit that closes p02's loop: achieved vs target share
      // per source after the md5-threshold draw, with relative error
      Training.mixtureReport(
        T(s, dir, "documents"), "source", "doc_id",
        when(col("source").isin("src0", "src1", "src2", "src3", "src4"), lit(0.08))
          .otherwise(lit(0.6) / 15.0),
        targetFrac = 0.5)),

    "p03_shard" -> ((s, dir) =>
      // shard assignment + deterministic pseudo-random training order:
      // md5 digit 1 picks the shard, the remaining digits order within
      // it — a reproducible global shuffle
      Training.shardAssign(T(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("doc_id")),

    "t11_normalize" -> ((s, dir) => {
      // text normalization pre-tokenizer: control chars to spaces, runs
      // of whitespace collapsed, ends trimmed. Pure codegen'd regex
      // map — a narrow pass at any scale.
      val norm = trim(regexp_replace(
        regexp_replace(col("text"), "[\\x00-\\x1F\\x7F]", " "), "\\s+", " "))
      T(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_raw"),
          length(norm).cast("long").as("n_norm"),
          (norm =!= col("text")).cast("long").as("changed"),
          norm.as("norm_text"))
        .orderBy("doc_id")
    }),

    "t12_boilerplate" -> ((s, dir) => {
      // C4-style repeated-line scrub. The corpus has single-line docs,
      // so the fixture FRAMES each one the way a crawl page arrives:
      // a banner every page shares, the body, a footer shared by half
      // the corpus, and a per-doc line. The operator must strip
      // exactly the first two classes (>= minDocs docs) and keep the
      // body and unique footer, reassembled in order.
      val framed = T(s, dir, "documents").select(col("doc_id"), concat(
        lit("subscribe to our newsletter\n"),
        col("text"), lit("\n"),
        when(col("doc_id") % 2 === 0, lit("all rights reserved"))
          .otherwise(lit("thanks for reading")),
        lit("\nref "), col("doc_id")).as("text"))
      TextStats.stripRepeatedLines(framed, "doc_id", "text", minDocs = 100L)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "t15_collapse_runs" -> ((s, dir) => {
      // intra-doc consecutive-duplicate-line collapse. The corpus has
      // single-line docs, so the fixture builds the failure mode: a
      // "loading..." flood (1-2 lines), the body stuttered twice, a
      // closing line — the operator must keep one of each run, in order
      val framed = T(s, dir, "documents").select(col("doc_id"), concat(
        when(col("doc_id") % 2 === 0, lit("loading...\n")).otherwise(lit("")),
        lit("loading...\n"),
        col("text"), lit("\n"), col("text"),
        lit("\ndone")).as("text"))
      TextStats.collapseRepeatRuns(framed, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "t27_c4_line_filter" -> ((s, dir) => {
      // C4 line-level cleaning (Raffel et al. 2020 §2.2). The corpus
      // has single-line docs, so the fixture frames each one as a
      // crawled page exercising every rule: a nav line (no terminal
      // punctuation), two well-formed sentences, the body (terminated;
      // short bodies fail the 3-word floor and can sink the page below
      // minKeptLines), a javascript plea, a policy line, and — on a
      // sparse modulus — the two page-level killers (lorem ipsum /
      // curly brace).
      val framed = T(s, dir, "documents").select(col("doc_id"), concat(
        lit("home | about | contact\n"),
        lit("this page is archived for reference.\n"),
        col("text"), lit(".\n"),
        lit("comments are closed on this article.\n"),
        lit("please enable javascript to continue.\n"),
        lit("read our privacy policy."),
        when(col("doc_id") % 97 === 0, lit("\nlorem ipsum dolor sit amet."))
          .otherwise(lit("")),
        when(col("doc_id") % 89 === 0, lit("\nfunction() { return; }"))
          .otherwise(lit(""))).as("text"))
      TextStats.c4LineFilter(framed, "doc_id", "text", minKeptLines = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "t28_readability" -> ((s, dir) => {
      // Flesch-Kincaid grade level; the fixture frames each one-line
      // doc with an opening and closing sentence so the words-per-
      // sentence term varies with body length
      val framed = T(s, dir, "documents").select(col("doc_id"), concat(
        lit("a short opening line. "), col("text"),
        lit(". the closing line ends here.")).as("text"))
      TextStats.readability(framed, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "t29_corpus_card" -> ((s, dir) => {
      // the corpus report card: docs, token mass, empty share, mean
      // quality per (source, lang) with ROLLUP subtotals — the
      // one-page drift view a curation run gates between stages. One
      // narrow pass + one rollup aggregate; per-doc metrics are the
      // t02/t03 expressions verbatim so the card cannot drift from
      // the operators it summarizes
      val d = T(s, dir, "documents")
        .withColumn("_nt",
          graft.functions.TextFunctions.tokenCountWs(col("text")).cast("long"))
        .withColumn("_q", graft.functions.TextFunctions.qualityScore(col("text")))
      // subtotal rows are labeled via grouping(), NOT a bare coalesce:
      // a natural NULL source/lang group would otherwise collide with
      // its own subtotal's 'ALL' and leave two identical keys in a
      // nondeterministic relative order
      d.rollup("source", "lang")
        .agg(cnt.as("n_docs"),
          sum(col("_nt")).as("n_tokens"),
          sum(when(col("_nt") === 0L, 1L).otherwise(0L)).as("n_empty"),
          round(sum(col("_q").cast("decimal(18,4)")).cast("double")
            / count(lit(1)).cast("double"), 6).as("mean_quality"),
          grouping(col("source")).as("_gs"), grouping(col("lang")).as("_gl"))
        .select(
          when(col("_gs") === 1, lit("ALL"))
            .otherwise(coalesce(col("source"), lit("(null)"))).as("source"),
          when(col("_gl") === 1, lit("ALL"))
            .otherwise(coalesce(col("lang"), lit("(null)"))).as("lang"),
          col("n_docs"), col("n_tokens"), col("n_empty"), col("mean_quality"))
        .orderBy("source", "lang")
    }),

    "t13_unigram_logprob" -> ((s, dir) =>
      // unigram-LM quality score (KenLM-perplexity stand-in): mean
      // log-prob of each doc's tokens under the corpus's own unigram
      // distribution; per-token log-probs rounded then decimal-summed
      // so the mean is partitioning-independent and oracle-exact
      TextStats.unigramLogProb(T(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "t16_bigram_logprob" -> ((s, dir) =>
      // bigram-LM quality score: mean CONDITIONAL log-prob of each
      // doc's adjacent token pairs — one Markov order up from t13,
      // catches fluent-token word salad unigram scores miss
      TextStats.bigramLogProb(T(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "t41_kneser_ney" -> ((s, dir) =>
      // interpolated Kneser-Ney bigram score (the KenLM smoothing):
      // absolute discount + continuation-diversity backoff mass —
      // "francisco" is frequent but only ever follows "san", so it
      // earns almost no backoff mass; the honest fluency score
      TextStats.kneserNey(T(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "t33_heaps" -> ((s, dir) =>
      // Heaps'-law vocabulary-growth fit over 8 doc-id-ordered
      // corpus prefixes — the t24 Zipf fit's companion corpus law
      TextStats.heapsFit(T(s, dir, "documents"), "doc_id", "text",
        points = 8)),

    "t34_bpe_train" -> ((s, dir) => {
      // BPE tokenizer training (Sennrich 2016): 8 merge rounds over
      // the corpus VOCABULARY (one corpus agg collapses to (word,
      // count); merges never touch the corpus again); ties to the
      // smallest pair make the table engine-deterministic. Trained
      // ONCE per (session, dir) and shared with t35/t37 via bpeTable.
      import s.implicits._
      bpeTable(s, dir, 8).toDF("rank", "pair", "freq").orderBy("rank")
    }),

    "t37_bpe_fertility" -> ((s, dir) => {
      // tokenizer fertility audit per language: subword tokens per
      // word and chars per token under the corpus-trained BPE table
      // — the multilingual context-budget inequity view
      val merges = bpeTable(s, dir, 8).map(_._2)
      TextStats.bpeFertility(T(s, dir, "documents"), "lang", "text", merges)
        .orderBy("lang")
    }),

    "t35_bpe_tokens" -> ((s, dir) => {
      // the trained tokenizer applied back to the corpus: per-doc BPE
      // token counts — the honest upgrade over whitespace counts for
      // budget math. The 8-row merge table comes from the shared
      // memoized training run; application is a row-local replace
      // chain.
      val merges = bpeTable(s, dir, 8).map(_._2)
      TextStats.bpeTokenCounts(T(s, dir, "documents"), "doc_id", "text", merges)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "t32_pmi" -> ((s, dir) =>
      // PMI collocation mining: top-30 adjacent token pairs by
      // pointwise mutual information with the >= 20 count floor
      // (PMI's hapax bias remedy)
      TextStats.pmiTopK(T(s, dir, "documents"), "text", minCount = 20L, k = 30)
        .orderBy(col("pmi").desc, col("w1"), col("w2"))),

    "t31_novelty" -> ((s, dir) =>
      // n-gram novelty: the fraction of each doc's distinct 3-grams
      // appearing nowhere else in the corpus — the per-document
      // memorization/templating score over the d16 gram machinery
      TextStats.ngramNovelty(T(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "t30_stupid_backoff" -> ((s, dir) =>
      // Stupid Backoff cross-slice fluency score: the en-language
      // slice trains the bigram model (the DSIR-style target), every
      // doc scores under it — out-of-slice docs fall to the α=0.4
      // backed-off add-1 unigram floor
      TextStats.stupidBackoff(T(s, dir, "documents"), "doc_id", "text",
          lmPred = col("lang") === "en")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "t39_sentence_stats" -> ((s, dir) =>
      // sentence-profile quality signal (the Gopher-family rung at
      // SENTENCE grain): sentences split on terminal punctuation
      // runs, per doc the count, mean and max words per sentence —
      // wall-of-text and fragment-spam docs sit at the two tails
      T(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(col("text"), "[.!?]+")).as("_sent"))
        .select(col("doc_id"), trim(col("_sent")).as("_sent"))
        .filter(length(col("_sent")) > 0)
        .select(col("doc_id"),
          size(split(col("_sent"), "\\s+")).cast("long").as("_w"))
        .groupBy(col("doc_id"))
        .agg(cnt.as("n_sentences"),
          round(sum(col("_w")).cast("double") / count(lit(1)).cast("double"), 6)
            .as("mean_words"),
          max(col("_w")).as("max_words"))
        .orderBy("doc_id")),

    "t38_tfidf_terms" -> ((s, dir) =>
      // per-doc TF-IDF top-3 keywords: the "what is this doc about"
      // signal for topic tagging and mixture labeling; stopwords die
      // by idf, no list needed
      operators.Retrieval.tfidfTerms(T(s, dir, "documents"),
          "doc_id", "text", k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "rank")),

    "t17_bm25" -> ((s, dir) => {
      // BM25 top-10 per query over the corpus: the sparse-retrieval
      // side of data mining (rank corpus docs against seed queries).
      // Token stream filtered to the broadcast query vocabulary before
      // anything shuffles; per-term contributions rounded then
      // decimal-summed; rank window runs as WindowGroupLimit.
      import s.implicits._
      val qt = OracleHelpers.bm25Queries.toDF("qid", "term")
      operators.Retrieval.bm25TopK(
          T(s, dir, "documents"), "doc_id", "text", qt, "qid", "term", k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy("qid", "rank")
    }),

    "t42_kn_buckets" -> ((s, dir) =>
      // CCNet terciles under the Kneser-Ney score — KN IS KenLM's
      // smoothing, so this is the closest self-contained stand-in
      // for the published composition; tercile cut shared with
      // t18/t36 (the bucketers cannot drift)
      TextStats.knBuckets(T(s, dir, "documents"), "doc_id", "text", "lang")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "t18_ppl_buckets" -> ((s, dir) =>
      // CCNet head/middle/tail terciles of the per-language unigram-LM
      // score distribution — cut on the (lang, score) histogram, the
      // corpus never windows
      TextStats.pplBuckets(T(s, dir, "documents"), "doc_id", "text", "lang")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "t36_backoff_buckets" -> ((s, dir) =>
      // the DEPLOYABLE CCNet composition: the en slice trains the
      // backoff LM (t30), every doc scores under it, and each
      // language buckets by tercile on ITS OWN score distribution —
      // out-of-domain text falls to the unigram floor and the tail
      TextStats.backoffPplBuckets(T(s, dir, "documents"), "doc_id", "text",
          "lang", lmPred = col("lang") === "en")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "t14_token_entropy" -> ((s, dir) =>
      // within-doc token entropy: the low-entropy detector that
      // catches even-cycling template text top-fraction metrics miss
      TextStats.tokenEntropy(T(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "d13_url_canon" -> ((s, dir) => {
      // URL canonicalization + dedup, the crawl-side twin of d01: two
      // surface forms per target (scheme/host case, default port, www,
      // trailing slash) plus tracking params and fragments, collapsed
      // to one canonical URL; keep-first, count variants
      val urls = T(s, dir, "documents").select(col("doc_id"), concat(
        when(col("doc_id") % 3 === 0,
            concat(lit("HTTP://WWW.Example.COM:80/articles/item-"),
              col("doc_id") % 100, lit("/")))
          .otherwise(concat(lit("http://example.com/articles/item-"),
            col("doc_id") % 100)),
        when(col("doc_id") % 2 === 0, lit("?utm_source=feed&ref=home"))
          .otherwise(lit("?ref=home")),
        when(col("doc_id") % 5 === 0, lit("#section-2")).otherwise(lit("")))
        .as("url"))
      urls
        .withColumn("canon_url", TextFunctions.canonicalizeUrl(col("url")))
        .groupBy("canon_url")
        .agg(min(col("doc_id")).as("keep_id"), cnt.as("n_variants"))
        .orderBy("canon_url")
    }),

    "d31_corpus_diff" -> ((s, dir) => {
      // snapshot churn between two crawls: old = docs 0..599, new =
      // docs 300..899 with every 5th doc's text re-crawled (uppercased)
      // — so the diff shows removals (0..299), additions (600..899),
      // changes (every 5th of 300..599), and unchanged rows, rolled up
      // per source with the churn rate
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val oldSnap = docs.filter(col("doc_id") < 600)
      val newSnap = docs.filter(col("doc_id") >= 300 && col("doc_id") < 900)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, upper(col("text"))).otherwise(col("text")))
      Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text", "source")
        .orderBy("source")
    }),

    "d14_cross_dedup" -> ((s, dir) => {
      // dedupe the NEW crawl against the EXISTING training set: every
      // 10th doc plays the existing corpus; incoming docs near any of
      // them (banded md5 MinHash -> exact-jaccard verify) are flagged.
      // Unlike d02/d11's self-join this is an incoming x existing band
      // join — existing-vs-existing pairs never form.
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
      Dedup.crossNearDupPortable(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", shingleN = 3, minJaccard = 0.5)
        .orderBy("doc_id", "matched_id")
    }),

    "d15_para_dedup" -> ((s, dir) => {
      // paragraph-level exact cross-corpus dedup (RefinedWeb/CCNet
      // step): each distinct paragraph survives once, in its
      // (id, pos)-first document. The corpus has single-paragraph
      // docs, so the fixture frames each one the way a crawl page
      // arrives: a site-wide "about us" para (first doc wins it), the
      // body, a half-shared footer para, and a per-doc unique para.
      val framed = T(s, dir, "documents").select(col("doc_id"), concat(
        lit("about us\n\n"), col("text"),
        when(col("doc_id") % 2 === 0, lit("\n\ncontact us at example.com"))
          .otherwise(lit("\n\nfollow us on social media")),
        lit("\n\npara "), col("doc_id")).as("text"))
      Dedup.paraDedup(framed, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "d16_dup_substrings" -> ((s, dir) => {
      // exact duplicated-substring spans (Lee et al. 2021). Fixture:
      // every doc opens with a shared 8-token slogan (cross-doc dup
      // span), every 7th doc repeats its own body (intra-doc dup) —
      // the operator reports tokens covered by any k-gram occurring
      // more than once in the corpus.
      val framed = T(s, dir, "documents").select(col("doc_id"), concat(
        lit("subscribe to our newsletter today for free updates "),
        col("text"),
        when(col("doc_id") % 7 === 0, concat(lit(" "), col("text")))
          .otherwise(lit(""))).as("text"))
      Dedup.dupSubstringSpans(framed, "doc_id", "text", k = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "d17_winnowing" -> ((s, dir) =>
      // winnowing fingerprints (Schleimer et al. 2003, MOSS): min-hash
      // of each w-gram window of k-gram hashes, rightmost min on ties;
      // docs sharing >= 2 fingerprint hashes pair up. Exact variant
      // (no bucket cap) on the oracle slice.
      Dedup.winnowingPairs(
          T(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", k = 4, w = 4, minShared = 2)
        .orderBy("id1", "id2")),

    "d19_bloom_decontaminate" -> ((s, dir) => {
      // d08's sweep in its bloom-only 100 TB-prefilter shape: the
      // benchmark shingles fold into one portable 2^20-bit bitmap
      // (128 KB broadcast), the corpus side is a narrow codegen probe
      // with NO shingle join; the oracle rebuilds the identical
      // bitmap in SQL, so even false positives hash-match
      val docs = T(s, dir, "documents")
      Decontaminate.bloomFlag(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", shingleN = 3, minHits = 5)
        .select(col("id").as("doc_id"), col("bloom_hits"))
        .orderBy("doc_id")
    }),

    "d18_dup_substring_cut" -> ((s, dir) => {
      // the CUT step of Lee et al. exact-substring dedup, on the d16
      // fixture (shared slogan + every-7th-doc self-repeat): remove
      // every token covered by a corpus-duplicated k-gram
      val framed = T(s, dir, "documents").select(col("doc_id"), concat(
        lit("subscribe to our newsletter today for free updates "),
        col("text"),
        when(col("doc_id") % 7 === 0, concat(lit(" "), col("text")))
          .otherwise(lit(""))).as("text"))
      Dedup.cutDupSubstrings(framed, "doc_id", "text", k = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "d23_span_dedup" -> ((s, dir) => {
      // C4's three-sentence-span dedup (Raffel et al. 2020 §2.2). The
      // fixture frames each single-sentence doc as a page: a
      // 3-sentence intro every page shares (one corpus-duplicated
      // span — only the corpus-first doc keeps it), the body as its
      // own sentence, and a closer shared by even docs (a second
      // duplicated span) or unique per odd doc.
      val framed = T(s, dir, "documents").select(col("doc_id"), concat(
        lit("welcome to the archive. this copy is mirrored nightly. " +
          "enjoy your stay. "),
        col("text"), lit("."),
        when(col("doc_id") % 2 === 0,
          lit(" thanks for visiting. see you next time. goodbye."))
          .otherwise(concat(lit(" closing note "), col("doc_id"), lit("."))))
        .as("text"))
      Dedup.spanDedup(framed, "doc_id", "text", spanLen = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "t19_gopher_rules" -> ((s, dir) =>
      // the Gopher hard-filter bundle (Rae et al. 2021 A1): every
      // signal surfaced next to the composite pass flag; zero shuffles
      TextStats.gopherRules(T(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "t22_gopher_repetition" -> ((s, dir) => {
      // Gopher A2 repetition rules on a d18-style framed fixture
      // (the raw corpus has no line structure or injected repeats):
      // a shared slogan line plus an every-7th-doc full self-repeat
      // as a second line — those docs must fail the line AND
      // dup-n-gram rules, the rest only their natural repetition
      // the testdata file is ONE parquet row group = one input split,
      // which would serialize the gram-counting projection onto a
      // single core; a real corpus arrives in thousands of splits, so
      // spread the tiny frame first (0.6 MB shuffle, then 32-way CPU)
      val framed = T(s, dir, "documents").repartition(32, col("doc_id"))
        .select(col("doc_id"), concat(
          lit("subscribe to our newsletter today for free updates"), lit("\n"),
          col("text"),
          when(col("doc_id") % 7 === 0, concat(lit("\n"), col("text")))
            .otherwise(lit(""))).as("text"))
      TextStats.gopherRepetition(framed, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "t23_divergence" -> ((s, dir) =>
      // per-source KL / cross-entropy vs the corpus unigram blend:
      // which slice drifts, in nats; absent-token mass folded in
      // exactly via the factored add-1 correction (O(nnz), no V×G)
      TextStats.corpusDivergence(T(s, dir, "documents"), "source", "text")
        .orderBy("source")),

    "t47_mattr" -> ((s, dir) => {
      // MATTR (Covington & McFall: the moving-average type-token
      // ratio — t26's raw TTR falls with length by construction, the
      // 50-token moving window removes the length confound): per doc,
      // Σ distinct(window) over all windows, ONE division by
      // (w · n_windows) — integer sum, pinned denominator; short docs
      // fall back to plain TTR; entirely row-local (O(n·w) per doc,
      // zero shuffles beyond the scan)
      val toks = filter(split(lower(col("text")), "\\s+"),
        t => length(t) > 0)
      val w = 50
      T(s, dir, "documents")
        .select(col("doc_id"), toks.as("_t"))
        .withColumn("_n", size(col("_t")))
        .withColumn("_sd", when(col("_n") >= w,
          aggregate(
            transform(sequence(lit(1), col("_n") - (w - 1)),
              p => size(array_distinct(slice(col("_t"), p, lit(w))))),
            lit(0L), (acc, x) => acc + x)))
        .select(col("doc_id"), col("_n").cast("long").as("n_tokens"),
          round(
            when(col("_n") === 0, lit(null).cast("double"))
              .when(col("_n") >= w, col("_sd").cast("double")
                / ((col("_n") - (w - 1)).cast("double") * lit(w.toDouble)))
              .otherwise(size(array_distinct(col("_t"))).cast("double")
                / col("_n").cast("double")), 6).as("mattr"))
        .orderBy("doc_id")
    }),

    "t48_vocab_overlap" -> ((s, dir) => {
      // which sources speak the same language — the SET view beside
      // t23's distributional KL: pairwise vocabulary Jaccard from
      // exact counts at the (source, token) distinct grain; the
      // self-join keys on TOKEN (per-token fanout ≤ |sources|²,
      // never corpus-quadratic), sizes attach by key join, one
      // pinned division
      val st = T(s, dir, "documents")
        .select(col("source"),
          explode(filter(split(lower(col("text")), "\\s+"),
            t => length(t) > 0)).as("_tok"))
        .distinct()
      val sizes = st.groupBy(col("source")).agg(cnt.as("_sz"))
      val inter = st.select(col("source").as("src_a"), col("_tok"))
        .join(st.select(col("source").as("src_b"), col("_tok")), Seq("_tok"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(cnt.as("_nab"))
      inter
        .join(sizes.select(col("source").as("src_a"), col("_sz").as("_na")),
          Seq("src_a"))
        .join(sizes.select(col("source").as("src_b"), col("_sz").as("_nb")),
          Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("_nab").as("n_shared"),
          round(col("_nab").cast("double")
            / (col("_na") + col("_nb") - col("_nab")).cast("double"), 6)
            .as("vocab_jaccard"))
        .orderBy("src_a", "src_b")
    }),

    "t46_burstiness" -> ((s, dir) => {
      // term BURSTINESS (Church & Gale: content words clump, function
      // words spread — the Fano factor Var/Mean over PER-DOC counts,
      // zeros included, separates them where raw frequency can't):
      // top-50 terms by total count, moments from exact integer folds
      // with absent docs contributing implicit zeros (they add nothing
      // to Σc or Σc², and N comes from the corpus frame)
      val docs = T(s, dir, "documents")
      val nTot = docs.agg(cnt.as("_N"))
      val per = docs
        .select(col("doc_id"),
          explode(filter(split(lower(col("text")), "\\s+"),
            t => length(t) > 0)).as("tok"))
        .groupBy(col("tok"), col("doc_id")).agg(cnt.as("_c"))
        .groupBy(col("tok"))
        .agg(cnt.as("n_docs"), sum(col("_c")).as("n_occurrences"),
          sum((col("_c") * col("_c")).cast("decimal(38,0)"))
            .cast("double").as("_ssq"))
        .orderBy(col("n_occurrences").desc, col("tok")).limit(50)
      val nD = col("_N").cast("double")
      val mean = col("n_occurrences").cast("double") / nD
      val vr = col("_ssq") / nD - mean * mean
      per.crossJoin(broadcast(nTot))
        .select(col("tok"), col("n_docs"), col("n_occurrences"),
          round(mean, 6).as("mean_per_doc"),
          round(vr / mean, 6).as("fano"))
        .orderBy(col("n_occurrences").desc, col("tok"))
    }),

    "t45_textrank" -> ((s, dir) =>
      // corpus keywords via PageRank on the word co-occurrence graph
      // (TextRank): row-local pair extraction, broadcast vocab maps,
      // q38's DECIMAL-exact iterations on the bounded graph
      TextStats.textrank(T(s, dir, "documents"), "text")),

    "t24_zipf" -> ((s, dir) =>
      // power-law exponent of the top-500 vocabulary: one-number
      // corpus health check; everything after the TakeOrdered runs
      // on 500 rows
      TextStats.zipfFit(T(s, dir, "documents"), "text", topR = 500)),

    "s38_knn_classify" -> ((s, dir) => {
      // semi-supervised label propagation: the [200,400) slice takes
      // the majority label of its 5 nearest labeled seeds (<200);
      // is_correct audits against the held-back true label
      val emb = T(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 200)
      val qs = emb.filter(col("vec_id") >= 200 && col("vec_id") < 400)
      Similarity.knnClassify(qs, seeds, "vec_id", "embedding", "label", k = 5)
        .join(qs.select(col("vec_id"),
          col("label").cast("long").as("_true")), Seq("vec_id"))
        .select(col("vec_id"), col("pred_label"), col("votes"),
          (col("pred_label") === col("_true")).as("is_correct"))
        .orderBy("vec_id")
    }),

    "s16_knn_graph" -> ((s, dir) =>
      // exact directed 5-NN graph of a bounded node slice (the input
      // to kNN clustering / label propagation); the LSH family is the
      // corpus-scale candidate path, as with d05 vs s06
      Similarity.knnGraph(
          T(s, dir, "embeddings").filter(col("vec_id") < 200),
          "vec_id", "embedding", k = 5)
        .orderBy("src", "rank")),

    "t26_lexical_diversity" -> ((s, dir) =>
      // named lexical-diversity indices (TTR, Guiraud, Herdan) —
      // row-local, zero shuffles
      TextStats.lexicalDiversity(T(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_types"),
          col("ttr"), col("root_ttr"), col("herdan_c"))
        .orderBy("doc_id")),

    "t25_bpe_pairs" -> ((s, dir) =>
      // BPE tokenizer training, first iteration (Sennrich 2016):
      // adjacent char-pair counts over the word HISTOGRAM — the pair
      // explode runs on the vocabulary, never the corpus
      TextStats.bpePairStats(T(s, dir, "documents"), "text", topK = 30)),

    "t43_classifier_auc" -> ((s, dir) => {
      // CLASSIFIER EVAL: exact ROC-AUC of the t21 naive-Bayes quality
      // score against the t19 Gopher rule verdict — AUC IS the
      // Mann-Whitney U statistic, so q52's exact machinery scores the
      // classifier with zero float accumulation; the oracle composes
      // the t21 + t19 chains verbatim as subqueries into the
      // generated MW text
      val docs = T(s, dir, "documents")
      val sc = operators.Training.qualityClassifier(docs, "doc_id", "text",
        posPred = col("doc_id") % 50 === 0).select(col("id"), col("score"))
      val lb = operators.TextStats.gopherRules(docs, "doc_id", "text")
        .select(col("id"), col("pass"))
      val j = sc.join(lb, Seq("id"))
        .select(when(col("pass"), "b_pass").otherwise("a_fail").as("k"),
          col("score").as("x"))
      operators.Stats.mannWhitneyAllPairs(j, "k", "x")
    }),

    "t44_calibration" -> ((s, dir) => {
      // CALIBRATION curve (the other half of classifier eval beside
      // t43's discrimination): equal-width score buckets between the
      // observed min/max (one broadcast 1-row aggregate), per bucket
      // the empirical rule-pass rate — exact counts, one pinned
      // IEEE bucket chain, DECIMAL mean-score fold
      val docs = T(s, dir, "documents")
      val sc = operators.Training.qualityClassifier(docs, "doc_id", "text",
        posPred = col("doc_id") % 50 === 0).select(col("id"), col("score"))
      val lb = operators.TextStats.gopherRules(docs, "doc_id", "text")
        .select(col("id"), col("pass"))
      val j = sc.join(lb, Seq("id"))
      val mm = j.agg(min(col("score")).as("_mn"), max(col("score")).as("_mx"))
      j.crossJoin(broadcast(mm))
        .withColumn("bucket", when(col("_mx") === col("_mn"), lit(0L))
          .otherwise(least(floor((col("score") - col("_mn"))
            / (col("_mx") - col("_mn")) * lit(10.0)), lit(9.0)).cast("long")))
        .groupBy(col("bucket"))
        .agg(cnt.as("n_docs"),
          round(sum(col("score").cast("decimal(18,6)")).cast("double")
            / count(lit(1)).cast("double"), 6).as("mean_score"),
          round(sum(when(col("pass"), 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double"), 6).as("pass_rate"))
        .orderBy("bucket")
    }),

    "t21_quality_classifier" -> ((s, dir) =>
      // GPT-3-style quality filter: every-50th doc plays the curated
      // seed set (same split as d08/d19); naive-Bayes log-odds over
      // hashed n-gram buckets score the whole corpus, keep = score>0
      Training.qualityClassifier(T(s, dir, "documents"), "doc_id", "text",
          posPred = col("doc_id") % 50 === 0)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "t20_cms" -> ((s, dir) => {
      // Count-Min sketch frequency estimates: the mergeable d=4×w=1024
      // grid aggregates map-side; probes (incl. an absent term) read
      // the broadcast sketch via the SAME portable md5 buckets; the
      // exact counts ride along to exhibit the one-sided error.
      // The sketch builds from the (tok, count) HISTOGRAM via the
      // weighted update (bit-identical grid, |vocab| md5 calls instead
      // of |tokens|), and the histogram serves the exact side too —
      // filtered to the 5 probe terms, not a full-vocab left join.
      import s.implicits._
      val probeTerms = Seq("hash", "join", "batch", "the", "nosuchtoken")
      val probes = probeTerms.toDF("term")
      val tokCounts = T(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(cnt.as("c"))
        .persist() // two consumers: sketch build + probe-filtered exact
      val sk = tokCounts.agg(graft.functions.CountMinAgg.sketchWeighted(
        col("tok"), col("c"), 1024, 4).as("sk"))
      val exact = tokCounts.filter(col("tok").isin(probeTerms: _*))
        .select(col("tok").as("term"), col("c").as("_ex"))
      val res = probes.crossJoin(broadcast(sk))
        .withColumn("est", graft.functions.CountMinAgg.estimate(
          col("sk"), col("term"), 1024, 4))
        .join(exact, Seq("term"), "left")
        .select(col("term"), col("est").cast("long").as("est"),
          coalesce(col("_ex"), lit(0L)).cast("long").as("exact"))
        .orderBy("term")
      graft.operators.Caching.sealOver(res, tokCounts)
    })
  )

  // ---------------------------------------------------------------- oracle

  /** DuckDB twin of TextFunctions.langId, generated from the same
    * stopword table so the two can never drift. */
  /** The langId CASE chain over any relation exposing (keyCols...,
    * txt, toks) — generated from the same stopword table as
    * TextFunctions.langId, shared by the t01 oracle and t40's
    * per-sentence labeling so the twins can never drift. */
  /** DuckDB oracle SQL per query key (the driver's correctness
    * gate): same column aliases as the Spark side, total-order
    * ORDER BY, and explicit BIGINT/DOUBLE casts where DuckDB's
    * types diverge (sum(int) widens to HUGEINT, which breaks the
    * value hash). Entries live in the per-family Oracles* files;
    * keys absent here get the weaker rows-only check by design.
    */
  def oracleSql: Map[String, String] =
    OraclesD.sql ++ OraclesM.sql ++ OraclesP.sql ++ OraclesQ.sql ++
      OraclesR.sql ++ OraclesS.sql ++ OraclesT.sql
}
