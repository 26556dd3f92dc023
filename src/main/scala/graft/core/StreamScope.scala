package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** How a stream gate runs a stream: the one module that owns the
  * stream lifecycle ([[runGate]], used by every MemoryStream gate in
  * [[graft.operators.StreamingGates]]) and the session-conf scope it
  * runs under ([[withStreamPartitions]], also used by the source-driven
  * `Estimation.qRasterStream`).
  *
  * Partition scope. Every stream gate runs its micro-batches under a
  * SMALL stateful shuffle-partition count: the arrival sets are
  * count-bounded but each micro-batch pays a state-store commit PER
  * PARTITION — a `.delta` file, its `.crc` and a rename — at the
  * session's 32 a multiple of the useful work (q_stream_session
  * measured 17.3s at 32 partitions; the state itself is a few thousand
  * keys). Most of that commit cost was the stock Hadoop local FS
  * forking `chmod` per created file and `readlink` per rename;
  * [[LocalFs]] removed the forks. On the 1,000-event session benchmark
  * (traced, 4 cores) the median micro-batch's state commit, summed over
  * its partitions, fell from 383 ms to 12 ms and its offset/commit-log
  * write from 45 ms to 3 ms. The file per partition per batch remains,
  * so 8 partitions still keep the operators genuinely parallel while
  * the state machinery stays proportional to the state. Results are
  * partition-count-independent (keyed state semantics); the conf is
  * restored afterwards.
  *
  * Concurrency rule. The scope sets and restores SESSION-global conf, so
  * it is exclusive per SparkSession: a second thread that enters it on
  * the same session while another thread holds it fails with an
  * IllegalStateException instead of racing the set/restore. The bench,
  * Verify and the test JVM run gates sequentially and never contend;
  * concurrent streams need separate sessions (`SparkSession.newSession()`
  * has its own SQLConf).
  */
object StreamScope {
  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  private val holders = new ConcurrentHashMap[SparkSession, Thread]()

  /** Run `f` with `confs` set on `s`, restoring the prior values after. */
  private def scoped[T](s: SparkSession, confs: (String, String)*)(f: => T): T = {
    val me = Thread.currentThread()
    val holder = holders.putIfAbsent(s, me)
    if (holder != null)
      throw new IllegalStateException(
        s"StreamScope is exclusive per SparkSession: ${me.getName} entered " +
          s"while ${holder.getName} holds it (the scope sets session-global " +
          "conf; run concurrent streams on separate sessions)")
    val prev = confs.map { case (k, _) => k -> s.conf.get(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      f
    } finally {
      prev.foreach { case (k, v) => s.conf.set(k, v) }
      holders.remove(s)
    }
  }

  def withStreamPartitions[T](s: SparkSession, n: Int = 8)(f: => T): T =
    scoped(s, ShufflePartitions -> n.toString)(f)

  /** The stream-gate lifecycle: a MemoryStream feeds `build`'s query into
    * a memory sink named `name` (output `mode`); each batch is added in
    * order and fully processed before the next, then `read` turns the
    * sink table into driver-side data. The query is stopped and the
    * sink's temp view dropped on every path, so `read` must not return a
    * lazy frame over the sink. `noDataBatches = false` skips the
    * watermark-only micro-batches (for operators whose output does not
    * depend on them).
    */
  def runGate[In: Encoder, R](s: SparkSession, name: String, mode: String,
                              batches: Seq[Seq[In]], partitions: Int = 8,
                              noDataBatches: Boolean = true)
                             (build: Dataset[In] => Dataset[_])
                             (read: DataFrame => R): R =
    scoped(s, ShufflePartitions -> partitions.toString,
        NoDataBatches -> noDataBatches.toString) {
      implicit val sqlCtx: SQLContext = s.sqlContext
      val input = MemoryStream[In]
      val q = build(input.toDS()).writeStream.format("memory")
        .queryName(name).outputMode(mode).start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        read(s.table(name))
      } finally {
        q.stop()
        s.catalog.dropTempView(name)
      }
    }
}
