package graftbench

import java.lang.management.ManagementFactory

object Stats {
  /** Percentile with linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = (p / 100.0) * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}

/** Highest heap in use right after a full collection, sampled at fixed
  * quiet points of a workload (no query running). Collections the JVM
  * starts on its own are not used: what they leave behind depends on
  * when they happen to run, which makes the figure jump between runs. */
final class HeapPeak {
  @volatile var peakBytes = 0L
  def sample(): Unit = {
    // Spark's ContextCleaner frees broadcasts and shuffles only after a
    // GC has queued their references; collect again once it has run
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peakBytes) peakBytes = used
  }
  def peakMb: Double = peakBytes / (1024.0 * 1024.0)
}
