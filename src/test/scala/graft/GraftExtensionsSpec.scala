package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions expose graft expressions as SQL functions") {
    // Needs its own session: extensions bind at session build time, and
    // getOrCreate would otherwise return the shared test session.
    // withExtensions (not the spark.sql.extensions conf): that conf is
    // static and ignored when the JVM's SparkContext already exists.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val r = s.sql(
        """SELECT rolling_hash('a') AS h,
                  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                  regex_groups('k=7 v=x', 'k=(\\d+) v=(\\w+)', 2) AS g""").head()
      assert(r.getAs[Long]("h") == 0xaf63dc4c8601ec8cL)
      assert(r.getAs[Double]("d") == 11.0)
      val g = r.getStruct(2)
      assert(g.getString(0) == "7" && g.getString(1) == "x")
      val sig = s.sql(
        """SELECT minhash_sig(xxhash64(tok), 8) AS sig
           FROM VALUES ('a'), ('b'), ('c') AS t(tok)""").head.getSeq[Long](0)
      assert(sig.length == 8 && sig.forall(_ != Long.MaxValue))
      val nShingles = s.sql(
        "SELECT size(shingle_hashes('a b c d', 2)) AS n").head.getInt(0)
      assert(nShingles == 3)
      val parsed = s.sql(
        """SELECT unix_timestamp(parse_any_date('Tue, 05 Mar 2024 08:07:08 +0200')) AS a,
                  unix_timestamp(parse_any_date('2024-03-05T06:07:08.123456789Z')) AS b,
                  parse_any_date('2024-13-05') AS c""").head()
      assert(parsed.getLong(0) == 1709618828L && parsed.getLong(1) == 1709618828L)
      assert(parsed.isNullAt(2))
    } finally {
      // Hand the shared-session slot back to the other suites.
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
