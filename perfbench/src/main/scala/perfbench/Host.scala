package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Process and host measurements, and the clean-up run between ops. */
object Host {
  private val threads = ManagementFactory.getThreadMXBean

  /** CPU nanoseconds so far of each live Java thread: Spark's driver and
    * task threads and the stream's thread, but not the JIT compiler or
    * the garbage collector, whose share moved from run to run.
    */
  def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).toMap

  /** CPU seconds the Java threads used since `before`; threads started
    * since then count from zero, and threads that ended are lost.
    */
  def threadCpuSecondsSince(before: Map[Long, Long]): Double =
    threadCpuNs().collect { case (id, ns) if ns >= 0 =>
      ns - math.max(before.getOrElse(id, 0L), 0L) }.sum / 1e9

  /** Host CPU ticks since boot, (all, stolen by other guests), from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    (f.sum, f(7))
  }

  /** Seconds since the JVM started. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def loadavg1(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split(" ").head.toDouble finally src.close()
  }

  /** The fixed single-core xorshift loop graft.Bench stamps its runs with:
    * 1e8 iterations, best of 3 after a JIT warm-up. A busy host inflates it.
    */
  def refLoopSeconds(): Double = {
    def once(iters: Int): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    once(10000000)
    (0 until 3).map(_ => once(100000000)).min
  }

  /** Frees what one op may leave behind, as graft.Bench does between
    * queries: cached relations, pinned RDDs and temporary views. The
    * stream's memory sink is a temporary view that must survive, so it is
    * kept.
    */
  def reap(spark: SparkSession, keepViews: Set[String]): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.sources.Synthetic.clearZipfPins()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && !keepViews(t.name))
      .foreach(t => spark.catalog.dropTempView(t.name))
    System.gc()
    Thread.sleep(100)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
