package graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.operators.Similarity
import SparkEntry.AnnRankings

/** Dev tool: measure the quantities behind the r17 driver-visible
  * accuracy gates (the q22 pattern applied to the seeded-ANN keys) at
  * each SF dir — the measurements the pinned thresholds were chosen
  * from, re-runnable whenever the operators or the data change. Runs
  * [[SparkEntry.AnnRankings]] — the SAME parameter block the shipped
  * gates use, so this probe cannot measure a different configuration
  * than the driver gates ship. Prints, per SF:
  *   - s02/s03/s12/s13 micro (pooled) and min per-query recall@10 vs
  *     the brute-force exact ranking on the same preprocessed vectors
  *   - s06 coverage of the exact cosine>=0.45 pair set on the
  *     bounded audit slice (vec_id < 1000, d05's slice)
  *   - s26 store-served == end-to-end ivfPqTopK equality
  * Usage: runMain graft.GateProbe [sfDir ...]
  */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val s = GraftSession.get()
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (sf <- dirs) {
      val emb = AnnRankings.emb(s, sf)
      val eN = AnnRankings.embNorm(s, sf)
      val brute = sets(AnnRankings.brute(emb))
      val bruteN = sets(AnnRankings.brute(eN))
      def rep(name: String, ap: Map[Long, Set[Long]],
              ex: Map[Long, Set[Long]]): String = {
        val per = ex.keys.toSeq.sorted.map(k =>
          (ap.getOrElse(k, Set.empty) intersect ex(k)).size.toDouble / ex(k).size)
        val micro = ex.keys.toSeq.map(k =>
          (ap.getOrElse(k, Set.empty) intersect ex(k)).size).sum.toDouble /
          ex.values.map(_.size).sum
        f"$name micro=$micro%.3f min=${per.min}%.2f per=${per.map(p => f"$p%.1f").mkString(",")}"
      }
      val cb = AnnRankings.codebook(eN)
      println(s"GATES sf=$sf " + rep("s02_ann_lsh",
        sets(AnnRankings.lsh(emb)), brute))
      println(s"GATES sf=$sf " + rep("s03_ann_ivf",
        sets(AnnRankings.ivf(emb)), brute))
      println(s"GATES sf=$sf " + rep("s12_ivf_pq",
        sets(AnnRankings.ivfPq(eN, cb)), bruteN))
      println(s"GATES sf=$sf " + rep("s13_ivf_pq_residual",
        sets(AnnRankings.ivfPqResidual(eN)), bruteN))

      // s26 equality vs end-to-end ivfPqTopK (same codebook, refine=1)
      def rows(df: DataFrame) = df
        .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
          col("rank").cast("long"), col("adc_dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val served = rows(AnnRankings.annIndexServed(eN, cb))
      val e2eRows = rows(AnnRankings.ivfPq(eN, cb, refine = 1))
      println(s"GATES sf=$sf s26 store==e2e: ${served == e2eRows} " +
        s"(served=${served.size} e2e=${e2eRows.size}) recall_vs_bruteN=" +
        // denominator from the brute ranking itself (|queries| x k),
        // not a literal — an AnnRankings batch/k change must not
        // silently mis-scale the recall the gate thresholds trust
        f"${served.groupBy(_._1).map { case (k, v) => (v.map(_._2) intersect bruteN(k)).size }.sum.toDouble / bruteN.values.map(_.size).sum}%.3f")

      // s06 coverage on the d05 audit slice
      val slice = emb.filter(col("vec_id") < 1000)
      val exact = Similarity.cosinePairs(slice, "vec_id", "embedding", 0.45)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val lsh = AnnRankings.cosineLshPairs(emb)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val cov = if (exact.isEmpty) 1.0
        else (exact intersect lsh).size.toDouble / exact.size
      println(f"GATES sf=$sf s06 slice_exact=${exact.size} lsh_total=${lsh.size} coverage=$cov%.3f")
    }
    s.stop()
  }
}
