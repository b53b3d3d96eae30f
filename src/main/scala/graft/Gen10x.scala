package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
/** Dev tool: build a 10x copy of an sf dir (key-offset fact copies,
  * dims as-is) for scaling experiments. Usage: runMain graft.Gen10x
  * <srcDir> <dstDir> [copies] [mode] [tables]. Never touches
  * /root/testdata. `tables` (comma list, default all) limits the
  * stretch to the named fact tables — a copies=100 graph probe only
  * needs lineitem, not 100x of the salted documents corpus. Under a
  * `tables` subset dst is a PARTIAL dataset: dims always copy,
  * unselected facts are absent, and key spans are read only from the
  * tables the selection actually offsets against.
  *
  * Modes (r15, the d24 probe-conflation fix):
  *  - `dup` (default): copies carry the ORIGINAL text verbatim, so
  *    every doc gains copies-many exact duplicates — the worst case
  *    for dedup operators whose OUTPUT is pair mass (a 10x dup corpus
  *    has ~100x the true pairs, so a pair-emitting operator's wall
  *    growing >10x is output mass, not a scan defect).
  *  - `unique`: every copy's tokens are RENAMED with a copy-specific
  *    suffix (w → w_c<i>) — a bijective vocabulary rename, so each
  *    copy's within-copy duplicate structure (jaccard, shingle sets,
  *    token counts) is EXACTLY the original corpus's, while token and
  *    shingle sets are fully DISJOINT across copies (cross-copy
  *    jaccard 0) — true pair mass grows linearly with copies,
  *    isolating scan scaling from output growth. (Inserting salt
  *    TOKENS instead would degrade 3-grams to unigram-grade shingles
  *    — measured: 2.25M candidates over 5k docs — hence the rename.)
  *    Copy 0 is renamed too; compare a unique-N run against a
  *    unique-1 baseline, not the raw dir.
  */
object Gen10x {
  def main(args: Array[String]): Unit = {
    val Array(src, dst) = args.take(2)
    val n = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "dup"
    require(Set("dup", "unique")(mode), s"Gen10x: mode $mode not dup|unique")
    val allFacts = Seq("lineitem", "orders", "customer", "events",
      "documents", "embeddings")
    val wanted: Set[String] =
      if (args.length > 4) args(4).split(",").map(_.trim).toSet
      else allFacts.toSet
    require(wanted.subsetOf(allFacts.toSet),
      s"Gen10x: unknown tables ${wanted -- allFacts}")
    val spark = GraftSession.get()
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String) =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def stretch(df: DataFrame, keys: Map[String, Long],
                salt: Option[Int => DataFrame => DataFrame] = None): DataFrame =
      (0 until n).map { i =>
        val shifted = keys.foldLeft(df) { case (d, (k, span)) =>
          d.withColumn(k, col(k) + lit(i * span)) }
        salt.fold(shifted)(s => s(i)(shifted))
      }.reduce(_ unionAll _)
    // per-copy token rename: word "w" -> "w_c<i>", making cross-copy
    // shingle sets disjoint while within-copy dup structure survives
    // bit for bit (the rename is a vocabulary bijection)
    def saltText(i: Int): DataFrame => DataFrame = df =>
      df.withColumn("text",
        expr(s"array_join(transform(split(text, ' '), x -> concat(x, '_c$i')), ' ')"))

    // spans compute LAZILY, only when a selected table (or one whose
    // keys offset against it) needs them (r16 ADVICE): a source dir
    // holding just the tables the caller selected must not fail on an
    // absent unselected fact. dst is a PARTIAL dataset under a
    // `tables` subset — dims always copy, unselected facts are absent.
    def span(t: String, k: String) = rd(t).agg(max(k)).head.getLong(0) + 1
    lazy val oSpan = span("orders", "o_orderkey")
    lazy val cSpan = span("customer", "c_custkey")
    lazy val eSpan = span("events", "event_id")
    lazy val dSpan = span("documents", "doc_id")
    lazy val vSpan = span("embeddings", "vec_id")

    if (wanted("lineitem"))
      wr(stretch(rd("lineitem"), Map("l_orderkey" -> oSpan)), "lineitem")
    if (wanted("orders"))
      wr(stretch(rd("orders"), Map("o_orderkey" -> oSpan, "o_custkey" -> cSpan)), "orders")
    if (wanted("customer"))
      wr(stretch(rd("customer"), Map("c_custkey" -> cSpan)), "customer")
    if (wanted("events"))
      wr(stretch(rd("events"), Map("event_id" -> eSpan, "user_id" -> cSpan)), "events")
    if (wanted("documents"))
      wr(stretch(rd("documents"), Map("doc_id" -> dSpan),
        if (mode == "unique") Some(saltText _) else None), "documents")
    if (wanted("embeddings"))
      wr(stretch(rd("embeddings"), Map("vec_id" -> vSpan)), "embeddings")
    for (t <- Seq("region", "nation", "supplier", "part")) wr(rd(t), t)
    spark.stop()
  }
}
