package graft

import java.io.File
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.LogicalRDD

/** Smoke run of the per-query cost record on the shared session: one
  * plain key and one sealed key at sf0.001. */
class ProbeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("Probe records parse, count eager jobs, and dump pre-seal plans without leaking the scope") {
    val out = Files.createTempDirectory("graft-probe").toFile
    val recs = Probe.run(spark, out.getAbsolutePath, Seq(sf), Seq("q01_agg", "d02_dedup_minhash"))
      .map(r => new ObjectMapper().readTree(r))
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
