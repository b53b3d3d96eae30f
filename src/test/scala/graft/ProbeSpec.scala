package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.LogicalRDD

/** Smoke run of the per-query cost record on the shared session: one
  * plain key and one sealed key at sf0.001. */
class ProbeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("Probe records parse, count eager jobs, and dump pre-seal plans without leaking the scope") {
    val out = Files.createTempDirectory("graft-probe").toFile
    val described = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("Probe ")).foreach(described.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val recs = try Probe.run(spark, out.getAbsolutePath, Seq(sf), Seq("q01_agg", "d02_dedup_minhash"))
      .map(r => new ObjectMapper().readTree(r))
    finally {
      Metrics.start(spark.sparkContext).stop() // drains the listener bus: every job start is seen
      spark.sparkContext.removeSparkListener(listener)
    }
    // every (key, sfDir) is warmed before the first measured call of any key
    val order = described.asScala.toSeq
    val (warm, measured) = order.partition(_.startsWith("Probe warm "))
    assert(warm.distinct == Seq(s"Probe warm q01_agg $sf", s"Probe warm d02_dedup_minhash $sf"), order)
    assert(measured.distinct.size == 6, order)
    assert(order.lastIndexWhere(warm.contains) < order.indexWhere(measured.contains), order)
    assert(recs.map(_.get("key").asText) == Seq("q01_agg", "d02_dedup_minhash"))
    val Seq(q01, d02) = recs
    recs.foreach { r =>
      assert(r.get("exec_ms").size == 3, r)
      assert(r.get("jobs").asLong > 0 && r.get("tasks").asLong > 0, r)
      assert(r.get("top_stages").size > 0, r)
      assert(r.get("phase_ms").has("planning"), r)
      assert(new File(out, s"${r.get("key").asText}.sf0.001.json").isFile)
    }
    assert(q01.get("eager_jobs").asLong == 0, q01)
    assert(d02.get("eager_jobs").asLong > 0, d02)
    // the plan is the lineage the seal would cut, not its stub
    val plan = new String(Files.readAllBytes(new File(out, "d02_dedup_minhash.plan.txt").toPath), "UTF-8")
    assert(plan.contains("Scan parquet") && !plan.contains("Scan ExistingRDD"), plan.take(2000))
    // the plan dump's seal bypass ended with it: a fresh build seals
    val meter = Metrics.start(spark.sparkContext)
    val df = SparkEntry.queries("d02_dedup_minhash")(spark, sf)
    assert(meter.stop().sqlJobs > 0, "a fresh d02 build ran no seal jobs")
    assert(df.queryExecution.logical.collectFirst { case r: LogicalRDD => r }.nonEmpty)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
