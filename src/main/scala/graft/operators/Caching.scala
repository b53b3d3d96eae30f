package graft.operators

import org.apache.spark.sql.DataFrame

/** Persist-scope discipline for operators that cache an intermediate
  * for multi-branch reuse (LSH band tables, shingle tables, signature
  * frames). A bare `persist()` with no matching `unpersist()` leaks
  * the block into the caller's session: Bench/Verify clear the cache
  * between queries, but a long-lived user session would accumulate
  * orphaned cache entries.
  *
  * [[sealOver]] eagerly materializes `result` with a checkpoint —
  * which also CUTS THE LINEAGE, so the returned plan no longer
  * references the persisted intermediates — then unpersists them.
  * Results sealed this way are the SMALL end of their operators
  * (verified pair sets, candidate lists), so materializing them
  * eagerly is cheap relative to the self-joins they conclude.
  *
  * Checkpoint flavor is chosen by durability context:
  *
  *  - when `SparkContext.setCheckpointDir` is set (any real cluster
  *    run should set one), a RELIABLE `checkpoint()` writes the
  *    sealed result to the checkpoint filesystem — executor loss
  *    (spot kill, dynamic-allocation decommission) cannot invalidate
  *    it, because the lineage needed to recompute it has been cut.
  *    The result is persisted around the checkpoint so the eager
  *    action and the checkpoint-write job compute the lineage ONCE
  *    (RDD.checkpoint otherwise re-runs it for the write pass);
  *  - otherwise `localCheckpoint()` keeps blocks on executors —
  *    fine for local[] and tests, NOT fault-tolerant on a cluster.
  *
  * Checkpoint FILES are reclaimed by Spark's ContextCleaner when the
  * sealed result is garbage-collected — but only under
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, which
  * [[graft.GraftSession]] sets. Sessions built elsewhere should set
  * it too, or a long-lived session leaks one rdd-* directory on the
  * checkpoint FS per sealed result.
  *
  * Callers of the sealing operators (Dedup / Similarity pair and
  * candidate entry points) should note both tradeoffs: sealing runs
  * a Spark job eagerly at operator-construction time (not at first
  * action, unlike a plain lazy DataFrame), and without a checkpoint
  * dir the sealed result is only as durable as its executors.
  */
private[graft] object Caching {
  private val unsealed = ThreadLocal.withInitial[Boolean](() => false)

  /** Runs `body` with [[sealOver]] as a PASS-THROUGH on the calling
    * thread: no checkpoint, cached inputs released at once, so a plan
    * built inside shows the full pre-seal lineage instead of a
    * `Scan ExistingRDD` stub. Only [[graft.Probe]]'s plan dump uses
    * it; plans built this way are for READING, not executing (an
    * unsealed repartitionByRange consumed twice may sample different
    * bounds). Other threads, and this one once `body` returns, seal
    * as usual.
    */
  def withoutSeals[A](body: => A): A = {
    val prev = unsealed.get
    unsealed.set(true)
    try body finally unsealed.set(prev)
  }

  def sealOver(result: DataFrame, cached: DataFrame*): DataFrame =
    if (unsealed.get) { cached.foreach { df => df.unpersist(); () }; result }
    else try {
      val sc = result.sparkSession.sparkContext
      if (sc.getCheckpointDir.isDefined) {
        result.persist()
        try result.checkpoint(eager = true)
        finally { result.unpersist(); () }
      } else result.localCheckpoint(eager = true)
    } finally cached.foreach { df => df.unpersist(); () }
}
