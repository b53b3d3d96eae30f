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

/** The embedding near-dup paths under the same no-evidence rule: a
  * zero-norm vector is never paired and never assigned to a centroid,
  * and neither fails the query (under ANSI a zero norm in a cosine
  * division raises DIVIDE_BY_ZERO). Two zero rows share every LSH
  * bucket, so the bucketed pair finders score them too.
  */
class NearDupZeroNormSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8
  private val Zeros = Set(0L, 1L)
  private val Live = 2L
  private val Twin = 3L // Live scaled by 2: cosine 1

  private lazy val corpus = {
    val rnd = new scala.util.Random(31)
    val live = Array.fill(dims)(rnd.nextGaussian().toFloat)
    (Seq((0L, Array.fill(dims)(0f)), (1L, Array.fill(dims)(0f)),
      (Live, live), (Twin, live.map(_ * 2f))) ++
      (4L until 24L).map(i => (i, Array.fill(dims)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
  }
  private def cents(k: Int): DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until k).map(i => (i.toLong, Array.fill(dims)(rnd.nextGaussian())))
      .toDF("cid", "cvec")
  }

  /** Pair finders: no pair touches a zero row; the live twin pairs. */
  private def pairsOf(df: => DataFrame): () => Unit = () => {
    val got = df.select(col("id1").cast("long"), col("id2").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.exists(p => Zeros(p._1) || Zeros(p._2)), s"zero row paired: $got")
    assert(got((Live, Twin)), s"live twin pair lost: $got")
  }

  /** semDedup: zero rows survive with no cluster; the twin is dropped. */
  private def keptOf(df: => DataFrame): () => Unit = () => {
    val got = df.select(col("id"), col("cluster").cast("long"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    Zeros.foreach(z => assert(got.get(z).contains(None), s"zero row $z: $got"))
    assert(got.get(Live).exists(_.isDefined), s"live row unassigned: $got")
    assert(!got.contains(Twin), s"live twin kept: $got")
  }

  private val entries: Seq[(String, () => Unit)] = Seq(
    "cosinePairs" -> pairsOf(
      Similarity.cosinePairs(corpus, "vec_id", "embedding", 0.99)),
    "cosinePairsLsh" -> pairsOf(Similarity.cosinePairsLsh(corpus, "vec_id",
      "embedding", 0.99, numPlanes = 4, numTables = 4)),
    "cosinePairsPortable" -> pairsOf(Similarity.cosinePairsPortable(corpus,
      "vec_id", "embedding", 0.99, dims = dims, numPlanes = 4, numTables = 4)),
    "semDedup, literal centroids" -> keptOf(Similarity.semDedup(corpus,
      "vec_id", "embedding", cents(4), "cid", "cvec", 0.99)),
    "semDedup, K > 128 centroids" -> keptOf(Similarity.semDedup(corpus,
      "vec_id", "embedding", cents(130), "cid", "cvec", 0.99)),
    "assignNearestCentroid" -> (() => {
      val got = Similarity.assignNearestCentroid(corpus, "embedding",
          cents(4), "cid", "cvec")
        .select(col("vec_id"), col("cluster"), col("centroid_cos"))
        .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
      Zeros.foreach(z => assert(got(z) == ((None, None)), s"zero row $z: ${got(z)}"))
      assert(got.removedAll(Zeros).values.forall(v => v._1.isDefined && v._2.isDefined),
        s"live row unassigned: $got")
    }))

  entries.foreach { case (name, check) =>
    test(s"$name: a zero-norm vector is never paired or assigned") { check() }
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
