package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{HeavyHittersAgg, MinHashAgg, ParseAnyDate, RegexGroups, RollingHash, ShingleHashes, VecDot}

/** Session-extension entry point: registers graft's native Catalyst
  * expressions as SQL functions, so `spark.sql` users get them without
  * touching the Scala API:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * SELECT rolling_hash(text), vec_dot(a, b), regex_groups(line, '(\\d+)', 1),
  *        parse_any_date(ts_text) ...
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      info("rolling_hash", "rolling_hash(str) - 64-bit FNV-1a content fingerprint"),
      (args: Seq[Expression]) => RollingHash(args.head)))

    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(array, array) - fused dot product (float/double arrays)"),
      (args: Seq[Expression]) => VecDot(args(0), args(1))))

    ext.injectFunction((
      FunctionIdentifier("regex_groups"),
      info("regex_groups",
        "regex_groups(str, pattern, numGroups) - one-pass capture-group extraction to struct"),
      (args: Seq[Expression]) => {
        val pattern = args(1).eval(null).toString
        val n = args(2).eval(null).asInstanceOf[Number].intValue()
        RegexGroups(args(0), pattern, n)
      }))

    ext.injectFunction((
      FunctionIdentifier("parse_any_date"),
      info("parse_any_date",
        "parse_any_date(str) - lenient timestamp: recognizes the layout once, parses once"),
      (args: Seq[Expression]) => ParseAnyDate(args.head)))

    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes",
        "shingle_hashes(text, n) - 64-bit hashes of all word n-gram shingles, one fused pass"),
      (args: Seq[Expression]) => {
        val n = args(1).eval(null).asInstanceOf[Number].intValue()
        ShingleHashes(args.head, n)
      }))

    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig",
        "minhash_sig(hash, k) - aggregate: k-permutation MinHash signature of a 64-bit hash column"),
      (args: Seq[Expression]) => {
        val k = args(1).eval(null).asInstanceOf[Number].intValue()
        MinHashAgg(args.head, k).toAggregateExpression()
      }))

    ext.injectFunction((
      FunctionIdentifier("heavy_hitters"),
      info("heavy_hitters",
        "heavy_hitters(item, k) - aggregate: Misra-Gries approximate top items in k-bounded memory"),
      (args: Seq[Expression]) => {
        val k = args(1).eval(null).asInstanceOf[Number].intValue()
        HeavyHittersAgg(args.head, k).toAggregateExpression()
      }))
  }
}
