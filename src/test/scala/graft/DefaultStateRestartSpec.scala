package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_micros, unix_micros}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** The checkpoint restart of `RocksDbRestartSpec`, under the DEFAULT
  * HDFS-backed state-store provider — the one every stream gate and the
  * session benchmark run on, whose `.delta` files and offset/commit logs
  * go through `graft.core.LocalFs`. The session-window stream is stopped
  * between committed micro-batches with sessions open in state, a new
  * query restarts from the checkpoint, and the finalized sessions must
  * equal an uninterrupted run exactly.
  */
class DefaultStateRestartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** 12 users, 250 events each, in global event-time order; every 4th
    * per-user step gaps 45 minutes (a session break past the 30-minute
    * gap), the rest 10 minutes.
    */
  private def sessionFixture(): Vector[EventStreams.Ev] = {
    val base = 1700000000000000L
    val ts = Array.fill(12)(0L)
    Vector.tabulate(3000) { i =>
      val (u, k) = (i % 12, i / 12)
      ts(u) = if (k == 0) base + u * 1000000L
        else ts(u) + (if (k % 4 == 0) 45L else 10L) * 60 * 1000000
      EventStreams.Ev(u.toLong, ts(u), i.toLong, (i % 97).toDouble / 4.0)
    }.sortBy(e => (e.ts, e.event_id))
  }

  test("F22 session_window restarts from a default-provider checkpoint with exact sessions") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = sessionFixture()
    val sentA = EventStreams.Ev(999999999L, evs.map(_.ts).max + 7L * 24 * 3600 * 1000000, 900001L, 0.0)
    val sentB = sentA.copy(ts = sentA.ts + 1000000L, event_id = 900002L)
    type Key = (Long, Long, Long, Long, Long)
    def rowsOf(ds: DataFrame): Seq[Key] =
      ds.filter(col("user_id") =!= sentA.user_id)
        .select(col("user_id"), unix_micros(col("session_start")),
          unix_micros(col("session_end")), col("n_events"), col("sum_value"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          math.round(r.getDouble(4) * 100)))
    def run(ckpt: Option[String]): Seq[Key] = {
      val epochs = scala.collection.concurrent.TrieMap.empty[Long, Seq[Key]]
      val input = MemoryStream[EventStreams.Ev]
      def start() = {
        val w = EventStreams.sessionWindowStream(
            input.toDF().withColumn("ts", timestamp_micros(col("ts"))))
          .writeStream.outputMode("append")
          .foreachBatch { (ds: org.apache.spark.sql.Dataset[Row], id: Long) =>
            epochs.put(id, rowsOf(ds.toDF())): Unit
          }
        ckpt.fold(w)(c => w.option("checkpointLocation", c)).start()
      }
      val half = evs.length / 2
      var q = start()
      try {
        input.addData(evs.take(half)); q.processAllAvailable()
        ckpt.foreach { c =>
          q.stop() // kill with sessions open in state
          assertDeltaArtifacts(c)
          q = start()
        }
        input.addData(evs.drop(half)); q.processAllAvailable()
        input.addData(Seq(sentA)); q.processAllAvailable()
        input.addData(Seq(sentB)); q.processAllAvailable()
      } finally q.stop()
      epochs.toSeq.sortBy(_._1).flatMap(_._2)
    }
    val prev = s.conf.getOption(ProviderKey)
    s.conf.set(ProviderKey,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    val ckpt = Files.createTempDirectory("default_ckpt")
    try {
      val restarted = run(Some(ckpt.toString))
      val uninterrupted = run(None)
      assert(uninterrupted.nonEmpty)
      assert(restarted.sorted == uninterrupted.sorted,
        s"session sets diverged: restarted=${restarted.size} " +
          s"uninterrupted=${uninterrupted.size}")
    } finally {
      prev match {
        case Some(v) => s.conf.set(ProviderKey, v)
        case None    => s.conf.unset(ProviderKey)
      }
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }
  }

  /** The HDFS-backed provider writes `.delta` files and no RocksDB zip
    * or changelog: proves which provider held the state.
    */
  private def assertDeltaArtifacts(ckpt: String): Unit = {
    val walk = Files.walk(Paths.get(ckpt))
    val names = try walk.map[String](_.getFileName.toString).toArray.toSeq.map(_.toString)
      finally walk.close()
    assert(names.exists(_.endsWith(".delta")), "no state-store .delta files under the checkpoint")
    assert(!names.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
      "RocksDB artifacts under a default-provider checkpoint")
  }
}
