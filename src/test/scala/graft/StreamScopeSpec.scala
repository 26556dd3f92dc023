package graft

import scala.util.Try

import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.core.StreamScope

/** The stream-gate harness: batch order, the sink-view and conf cleanup
  * on success and on failure, and the one-holder-per-session rule.
  */
class StreamScopeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val PartsKey = "spark.sql.shuffle.partitions"
  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  private def confNow: (String, String) =
    (spark.conf.get(PartsKey), spark.conf.get(NoDataKey))

  test("runGate feeds every batch in order and drops its sink view") {
    import spark.implicits._
    val before = confNow
    val got = StreamScope.runGate(spark, "scope_ok_out", "append",
        Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L)))(_.toDF("v")) { out =>
      (out.collect().map(_.getLong(0)).toSeq, confNow)
    }
    assert(got._1.sorted == Seq(1L, 2L, 3L, 4L, 5L))
    assert(got._2 == ("8", "true"))
    assert(!spark.catalog.tableExists("scope_ok_out"))
    assert(spark.streams.active.isEmpty)
    assert(confNow == before)
  }

  test("runGate rethrows a failing batch and still stops, drops and restores") {
    import spark.implicits._
    val before = confNow
    var inScope: (String, String) = null
    val err = intercept[StreamingQueryException] {
      StreamScope.runGate(spark, "scope_fail_out", "append",
          Seq(Seq(1L, 2L), Seq(3L, -1L, 4L)), partitions = 3,
          noDataBatches = false) { in =>
        inScope = confNow
        in.map { v =>
          if (v == -1L) throw new IllegalStateException("marker row")
          v
        }
      }(_.collect())
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("marker row")))
    assert(inScope == ("3", "false"))
    assert(spark.streams.active.isEmpty)
    assert(!spark.catalog.tableExists("scope_fail_out"))
    assert(confNow == before)
  }

  test("a second thread entering the scope on the same session fails loudly") {
    val before = spark.conf.get(PartsKey)
    val other = StreamScope.withStreamPartitions(spark, 5) {
      var res: Try[String] = null
      val t = new Thread(() =>
        res = Try(StreamScope.withStreamPartitions(spark, 7)(spark.conf.get(PartsKey))))
      t.start()
      t.join()
      assert(spark.conf.get(PartsKey) == "5")
      res
    }
    val e = intercept[IllegalStateException](other.get)
    assert(e.getMessage.contains("exclusive per SparkSession"))
    assert(spark.conf.get(PartsKey) == before)
    // released on exit: another thread may now enter
    var after: Try[String] = null
    val t = new Thread(() =>
      after = Try(StreamScope.withStreamPartitions(spark, 7)(spark.conf.get(PartsKey))))
    t.start()
    t.join()
    assert(after.get == "7")
    assert(spark.conf.get(PartsKey) == before)
  }
}
