package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Similarity's search entries: Hamming and Matryoshka shortlist +
  * rerank, the exact kNN graph, cluster-balanced diversity sampling,
  * filtered search and MMR re-ranking.
  */
class HammingTopKSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("a shortlist covering the whole corpus reproduces brute-force exactly") {
    // deterministic pseudo-random corpus; queries are rows 0..2
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 40L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
    val viaHamming = Similarity.hammingTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, shortlist = 40)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaBrute = Similarity.bruteTopK(corpus, "vec_id", "embedding",
        queries.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(viaHamming == viaBrute)
  }

  test("identical and sign-identical vectors land at hamming 0; self is rank 1") {
    val corpus = Seq(
      (0L, vec(1, -2, 3, -4)),
      (1L, vec(2, -4, 6, -8)),      // same signs, scaled: hamming 0
      (2L, vec(-1, 2, -3, 4))).toDF("vec_id", "embedding") // opposite
    val out = Similarity.hammingTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 3, shortlist = 3)
      .orderBy("rank").collect()
    assert(out(0).getLong(1) == 0L && out(0).getLong(2) == 0L) // self
    assert(out(1).getLong(1) == 1L && out(1).getLong(2) == 0L)
    assert(out(1).getDouble(3) == 1.0) // exact rerank: colinear
    assert(out(2).getLong(1) == 2L && out(2).getLong(2) > 0L)
  }

  test("a tight shortlist keeps true near-duplicates (sign codes collide)") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(16)(rnd.nextGaussian())
    val twin = base.map(x => x * 1.01 + math.signum(x) * 1e-3)
    val noise = (2L until 60L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val corpus = (Seq((0L, base.map(_.toFloat)), (1L, twin.map(_.toFloat)))
      ++ noise).toDF("vec_id", "embedding")
    val out = Similarity.hammingTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 2, shortlist = 5)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 1L)) // self, then twin
  }
}

class MatryoshkaSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("a shortlist covering the whole corpus reproduces brute-force ranks") {
    val rnd = new scala.util.Random(13)
    val corpus = (0L until 40L).map(i =>
      (i, Array.fill(32)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
    val viaPrefix = Similarity.matryoshkaTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, prefixDims = 8, shortlist = 40)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaBrute = Similarity.bruteTopK(corpus, "vec_id", "embedding",
        queries.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(viaPrefix == viaBrute)
  }

  test("prefix stage reads ONLY the prefix; rerank restores full-dim order") {
    // decoy 1 matches the query's prefix exactly but flips the tail;
    // vector 2 is colinear with the query everywhere. The prefix pass
    // cannot tell them apart (both prefix_cos 1.0); the full-dim
    // rerank must put the true twin first.
    val corpus = Seq(
      (0L, vec(1, 2, -5, 7)),
      (1L, vec(1, 2, 5, -7)),   // prefix twin, tail flipped
      (2L, vec(2, 4, -10, 14)), // colinear with query
      (3L, vec(-1, -2, 5, -7))).toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 4, prefixDims = 2, shortlist = 4)
      .orderBy("rank").collect()
    assert(out(0).getLong(1) == 0L && out(0).getDouble(3) == 1.0) // self
    assert(out(1).getLong(1) == 2L && out(1).getDouble(3) == 1.0) // colinear
    assert(out(0).getDouble(2) == 1.0 && out(1).getDouble(2) == 1.0)
    // the prefix twin had prefix_cos 1.0 too but reranks below
    assert(out(2).getLong(1) == 1L && out(2).getDouble(2) == 1.0
      && out(2).getDouble(3) < 1.0)
    assert(out(3).getLong(1) == 3L) // anti-colinear last
  }

  test("a tight shortlist can only return shortlisted candidates") {
    val rnd = new scala.util.Random(19)
    val corpus = (0L until 30L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 10, prefixDims = 4, shortlist = 10)
      .collect()
    assert(out.length == 10)
    assert(out.map(_.getLong(4)).toSet == (1L to 10L).toSet)
    // self survives any shortlist: its prefix cosine is exactly 1
    assert(out.exists(r => r.getLong(1) == 0L && r.getLong(4) == 1L))
  }
}

class KnnGraphSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("each node ranks the OTHERS; self edges never appear") {
    val nodes = Seq(
      (0L, vec(1, 0)),
      (1L, vec(0.9, 0.1)),
      (2L, vec(0, 1))).toDF("vec_id", "embedding")
    val out = Similarity.knnGraph(nodes, "vec_id", "embedding", k = 2)
      .orderBy("src", "rank").collect()
    assert(out.length == 6) // 3 nodes x 2 edges
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
    // node 0's nearest other node is 1, then 2
    assert(out(0).getLong(1) == 1L && out(1).getLong(1) == 2L)
    // node 2 prefers 1 (slightly rotated toward it) over 0
    assert(out(4).getLong(1) == 1L)
  }

  test("k larger than n-1 returns all n-1 edges per node") {
    val rnd = new scala.util.Random(23)
    val nodes = (0L until 5L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val out = Similarity.knnGraph(nodes, "vec_id", "embedding", k = 10)
    assert(out.count() == 20) // 5 x 4
    val perSrc = out.groupBy("src").count().collect()
    assert(perSrc.forall(_.getLong(1) == 4L))
  }
}

class DiverseSampleSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated centroids on the axes; members lean toward one
  private def corpus(n: Int): Seq[(Long, Array[Float])] =
    (0L until n.toLong).map { i =>
      val toward0 = i % 3 != 0 // cluster 0 gets ~2/3 of the mass
      val eps = (i % 7).toFloat / 20f
      if (toward0) (i, Array(1f, eps)) else (i, Array(eps, 1f))
    }

  test("diverseSample: quota clips dense clusters, spares small ones, md5 order") {
    val rows = corpus(90)
    val df = rows.toDF("vec_id", "embedding")
    val cents = Seq((100L, Array(1f, 0f)), (101L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.diverseSample(df, "vec_id", "embedding",
        cents, "vec_id", "embedding", quota = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCluster = out.groupBy(_._2)
    // cluster 100 holds 60 members -> clipped at 40; cluster 101 holds
    // 30 -> kept whole
    assert(byCluster(100L).length == 40 && byCluster(101L).length == 30)
    // picks are exactly the md5-lowest ids of the cluster
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val dense = rows.collect { case (i, v) if v(0) == 1f => i }
    val expect = dense.sortBy(i => (h(i), i)).take(40).toSet
    assert(byCluster(100L).map(_._1).toSet == expect)
    // pick ranks are 1-based and dense per cluster
    assert(byCluster(101L).map(_._3).sorted.toSeq == (1L to 30L))
  }

  test("diverseSample: null vectors stay, visibly unassigned, under their own quota") {
    val df = Seq((1L, Array(1f, 0f)), (2L, null.asInstanceOf[Array[Float]]),
        (3L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val cents = Seq((100L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.diverseSample(df, "vec_id", "embedding",
        cents, "vec_id", "embedding", quota = 1)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    // doc 1 assigned; exactly ONE of the null rows survives the
    // null-cluster quota (no-evidence-keeps, still quota-bounded)
    assert(out.count(_._2 == 100L) == 1)
    assert(out.count(_._2 == -1L) == 1)
  }
}

/** Filtered vector search strategy pair (s17/s18): pre-filter is
  * exact at any selectivity; post-filter trades recall for a
  * predicate-agnostic index, recovered by over-fetch.
  */
class FilteredAnnSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def results(q: String): Map[Long, Seq[Long]] =
    graft.SparkEntry.queries(q)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  test("post-filter returns a strict subset; over-fetch recovers recall") {
    val pre = results("s17_filtered_ann")
    val post = results("s18_postfiltered_ann")
    // everything post-filter returns is correct (a prefix of truth)...
    post.foreach { case (q, ids) =>
      assert(ids.toSet.subsetOf(pre(q).toSet), s"query $q: $ids not in truth") }
    // ...but at overFetch=2 over a ~10%-selective label the recall
    // loss is drastic — the regime the operator doc warns about
    val truth = pre.values.map(_.size).sum
    val got = post.values.map(_.size).sum
    info(s"post-filter recall at overFetch=2: $got/$truth")
    assert(got < truth / 2, s"expected drastic loss, got $got/$truth")
    // raising the over-fetch factor recovers it
    val s = spark
    import org.apache.spark.sql.functions._
    val emb = graft.GraftSession.table(s, dir, "embeddings")
    val q5 = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val wide = Similarity.filteredTopKPost(emb, "vec_id", "embedding",
        col("label") === 1, q5, "qid", "qvec", k = 10, overFetch = 40)
      .count()
    assert(wide >= truth * 0.9, s"overFetch=40 recovered only $wide/$truth")
  }
}

/** MMR diverse re-ranking (s19, Carbonell & Goldstein 1998). */
class MmrSpec extends SparkSpec {
  import spark.implicits._

  test("a near-dup of the top hit is demoted below a diverse result") {
    // q=[1,0]; A=[.95,.31] rel .951, A'=[.94,.34] rel .940 but
    // sim(A,A') ~ .9995, B=[.9,-.436] rel .900 but sim(A,B) ~ .720.
    // Plain top-3 = A, A', B. MMR round 2 at lambda .7:
    //   A' scores .7*.940 - .3*.9995 = .358
    //   B  scores .7*.900 - .3*.720  = .414  -> B wins, A' demoted
    val corpus = Seq(
      (1L, Array(0.95f, 0.31f)),
      (2L, Array(0.94f, 0.34f)),
      (3L, Array(0.9f, -0.436f))).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.0f))).toDF("qid", "qvec")
    val got = Similarity.mmrTopK(corpus, "vec_id", "embedding",
        q, "qid", "qvec", k = 3, prefetch = 3, lam = 0.7)
      .orderBy("mmr_rank")
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 1L), (3L, 2L), (2L, 3L)), got.toSeq)
  }

  test("lambda 1.0 degenerates to plain relevance order") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.999f, 0.045f)),
      (3L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.0f))).toDF("qid", "qvec")
    val got = Similarity.mmrTopK(corpus, "vec_id", "embedding",
        q, "qid", "qvec", k = 3, prefetch = 3, lam = 1.0)
      .orderBy("mmr_rank")
      .collect().map(_.getLong(1))
    assert(got.toSeq == Seq(1L, 2L, 3L), got.toSeq)
  }
}
