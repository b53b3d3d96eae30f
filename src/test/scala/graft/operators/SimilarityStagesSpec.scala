package graft.operators

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The shared exact-cosine scorer's no-evidence rule, entry by entry:
  * a zero-norm corpus row is never a neighbor, a zero-norm query gets
  * no rows, and neither fails the query (under ANSI, the session
  * default, a zero norm in the cosine division raises DIVIDE_BY_ZERO).
  */
class SimilarityZeroNormSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8
  private val ZeroRow = 0L
  private val ZeroQuery = 100L
  private val LiveQuery = 101L

  private lazy val corpus = {
    val rnd = new scala.util.Random(29)
    ((ZeroRow, Array.fill(dims)(0f), 0) +: (1L until 24L).map(i =>
      (i, Array.fill(dims)(rnd.nextGaussian().toFloat), (i % 2).toInt)))
      .toDF("vec_id", "embedding", "label")
  }
  private lazy val queries = corpus.filter(col("vec_id") === 5L)
    .select(lit(LiveQuery).as("qid"), col("embedding").as("qvec"))
    .union(Seq((ZeroQuery, Array.fill(dims)(0f))).toDF("qid", "qvec"))

  private def emb = "embedding"

  /** entry -> (query, neighbor) pairs it returns; a neighbor of -1
    * marks an entry whose output names no neighbor. */
  private val entries: Seq[(String, () => DataFrame)] = Seq(
    "bruteTopK" -> (() => Similarity.bruteTopK(corpus, "vec_id", emb,
      queries, "qid", "qvec", k = 5)),
    "filteredTopK" -> (() => Similarity.filteredTopK(corpus, "vec_id", emb,
      lit(true), queries, "qid", "qvec", k = 5)),
    "filteredTopKPost" -> (() => Similarity.filteredTopKPost(corpus, "vec_id", emb,
      lit(true), queries, "qid", "qvec", k = 5)),
    "lshTopK" -> (() => Similarity.lshTopK(corpus, "vec_id", emb,
      queries, "qid", "qvec", k = 5, numPlanes = 4, numTables = 4)),
    "lshPortableTopK" -> (() => Similarity.lshPortableTopK(corpus, "vec_id", emb,
      queries, "qid", "qvec", k = 5, dims = dims, numPlanes = 4, numTables = 4)),
    "ivfTopK" -> (() => Similarity.ivfTopK(corpus, "vec_id", emb,
      queries, "qid", "qvec", k = 5, nlist = 4, nprobe = 4)),
    "int8TopK" -> (() => Similarity.int8TopK(corpus, "vec_id", emb,
      queries, "qid", "qvec", k = 5)),
    "hammingTopK" -> (() => Similarity.hammingTopK(corpus, "vec_id", emb,
      queries, "qid", "qvec", k = 5, bits = 8, shortlist = 24)),
    "matryoshkaTopK" -> (() => Similarity.matryoshkaTopK(corpus, "vec_id", emb,
      queries, "qid", "qvec", k = 5, prefixDims = 4, shortlist = 24)),
    "ivfExactTopK" -> (() => Similarity.ivfExactTopK(corpus, "vec_id", emb,
      queries, "qid", "qvec", k = 5, nprobe = 2, kClusters = 3, iters = 2,
      dims = dims)),
    "ivfPqTopK with refine" -> (() => Similarity.ivfPqTopK(corpus, "vec_id", emb,
      queries, "qid", "qvec", corpus.filter(col("vec_id").between(1L, 8L)),
      "vec_id", emb, m = 2, k = 5, nlist = 4, nprobe = 4, refine = 2)),
    "mmrTopK" -> (() => Similarity.mmrTopK(corpus, "vec_id", emb,
      queries, "qid", "qvec", k = 3, prefetch = 5)),
    "knnGraph" -> (() => Similarity.knnGraph(
      corpus.union(queries.select(col("qid").as("vec_id"), col("qvec").as(emb),
        lit(0).as("label"))), "vec_id", emb, k = 5)
      .select(col("src").as("query_id"), col("dst").as("neighbor_id"))),
    "knnClassify" -> (() => Similarity.knnClassify(
      queries.select(col("qid").as("vec_id"), col("qvec").as(emb)), corpus,
      "vec_id", emb, "label", k = 5)
      .select(col("vec_id").as("query_id"), lit(-1L).as("neighbor_id"))))

  entries.foreach { case (name, run) =>
    test(s"$name: a zero corpus row and a zero query produce no rows") {
      val got = run().select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(!got.exists(_._2 == ZeroRow), s"zero corpus row ranked: ${got.toSeq}")
      assert(!got.exists(_._1 == ZeroQuery), s"zero query answered: ${got.toSeq}")
      assert(got.exists(_._1 == LiveQuery), s"live query lost: ${got.toSeq}")
    }
  }
}

/** Source-text pin of the stage composition in Similarity.scala: every
  * per-query top-k routes through the one rank stage, every ADC
  * distance through the one DECIMAL(24,8) sum.
  */
class SimilarityStructureSpec extends AnyFunSuite {
  private lazy val src = new String(Files.readAllBytes(
    new File("src/main/scala/graft/operators/Similarity.scala").toPath), "UTF-8")

  private def count(re: String): Int = re.r.findAllMatchIn(src).length

  test("one per-query row_number top-k window and one ADC decimal sum") {
    // every per-query top-k copy named its row_number rank, _srnk or _rk
    assert(count("""withColumn\("(rank|_srnk|_rk)", row_number\(\)""") == 1)
    assert(count("""col\("_d"\)\.cast\("decimal\(24,8\)"\)""") == 1)
  }
}
