package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.{Metrics, SparkSpec}

class CachingSpec extends SparkSpec {

  test("sealOver without a checkpoint dir: local checkpoint, inputs unpersisted") {
    val cached = spark.range(100).toDF("id").persist()
    val out = Caching.sealOver(cached.filter("id < 7"), cached)
    assert(out.count() == 7)
    assert(cached.storageLevel == StorageLevel.NONE, "input must be unpersisted")
  }

  test("sealOver with a checkpoint dir set: RELIABLE checkpoint on the checkpoint FS") {
    val dir = java.nio.file.Files.createTempDirectory("graft-seal-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val cached = spark.range(100).toDF("id").persist()
      val out = Caching.sealOver(cached.filter("id >= 90"), cached)
      assert(out.count() == 10)
      assert(cached.storageLevel == StorageLevel.NONE)
      // reliable checkpoint = the sealed result was written to the
      // checkpoint filesystem, so executor loss cannot invalidate it
      def rddDirs(p: java.io.File): Seq[java.io.File] =
        Option(p.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
          (if (f.isDirectory) rddDirs(f) else Nil) ++
            (if (f.getName.startsWith("rdd-")) Seq(f) else Nil)
        }
      assert(rddDirs(dir.toFile).nonEmpty,
        s"expected rdd-* checkpoint data under $dir")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  private def isSealed(df: DataFrame): Boolean =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r }.nonEmpty

  test("withoutSeals: sealOver returns the unsealed plan, runs no job, releases its inputs") {
    val cached = spark.range(100).toDF("id").persist()
    val result = cached.filter("id < 7")
    val meter = Metrics.start(spark.sparkContext)
    val out = Caching.withoutSeals(Caching.sealOver(result, cached))
    assert(meter.stop().jobs == 0, "an unsealed sealOver must not run a checkpoint job")
    assert(out eq result)
    assert(!isSealed(out))
    assert(cached.storageLevel == StorageLevel.NONE, "input must be unpersisted")
    assert(out.count() == 7)
  }

  test("withoutSeals is scoped: other threads and later calls checkpoint again") {
    val inScope = Caching.withoutSeals {
      var other: DataFrame = null
      val worker = new Thread(() => other = Caching.sealOver(spark.range(5).toDF("id")))
      worker.start(); worker.join()
      other
    }
    assert(isSealed(inScope), "another thread inside the scope must still seal")
    val cached = spark.range(100).toDF("id").persist()
    val after = Caching.sealOver(cached.filter("id < 7"), cached)
    assert(isSealed(after))
    assert(cached.storageLevel == StorageLevel.NONE)
    assert(after.count() == 7)
  }

  test("the retired graft.seal.skip property changes nothing") {
    sys.props("graft.seal.skip") = "1"
    try {
      val cached = spark.range(100).toDF("id").persist()
      val out = Caching.sealOver(cached.filter("id >= 95"), cached)
      assert(isSealed(out))
      assert(out.count() == 5)
    } finally { sys.props -= "graft.seal.skip"; () }
  }
}
