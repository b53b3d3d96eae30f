package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Run `body` with Spark's file-split rule forced down to `bytes` per
    * split: the session's own maxPartitionBytes / openCostInBytes, which
    * the follow-file planner reads like `spark.read.text` does.
    */
  def withSplit[T](bytes: Long)(body: => T): T = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", bytes.toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try body finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }
}
