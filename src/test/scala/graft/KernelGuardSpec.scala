package graft
package operators

import scala.reflect.io.Directory

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Loud guards on the text/similarity kernels' input invariants. The
  * compiled mapPartitions kernels read their input fields without null
  * propagation, so each asserts its non-null invariant: a null input
  * row must fail the query with the kernel's named `require`, never
  * with a NullPointerException from inside the task. The BPE driver
  * merge loop likewise refuses a round with no adjacent pair to merge.
  */
class KernelGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withTable(name: String, schema: StructType, rows: Seq[Row])(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_null_guard")
    try {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$dir/$name.parquet")
      f(dir.toString)
    } finally new Directory(dir.toFile).deleteRecursively()
  }

  /** Runs `body`, which must fail; returns the messages and exception
    * classes along the cause chain.
    */
  private def failure(body: => Unit): (String, Seq[Class[_]]) = {
    val e = intercept[Exception](body)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    (chain.map(t => String.valueOf(t.getMessage)).mkString("\n"), chain.map(_.getClass))
  }

  test("qLmScore bigram kernel: a null document text fails with the named invariant") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    val rows = Seq(Row(1L, "a b c", "s"), Row(2L, null, "s"), Row(3L, "b c d", "s"))
    withTable("documents", schema, rows) { dir =>
      val (msgs, classes) = failure(TextOps.qLmScore(spark, dir).collect())
      assert(msgs.contains("qLmScore bigram kernel: document text must be non-null"), msgs)
      assert(!classes.contains(classOf[NullPointerException]), msgs)
      assert(!msgs.contains("NullPointerException"), msgs)
    }
  }

  test("qKmeans kernel: a null embedding fails with the named invariant") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType)),
      StructField("label", StringType)))
    // the 8 init centroids (vec_id = 60·c) plus one null embedding
    val rows = (0 until 8).map(c => Row(c * 60L, Seq.fill(64)(c.toDouble), "l")) :+
      Row(1L, null, "l")
    withTable("embeddings", schema, rows) { dir =>
      val (msgs, classes) = failure(Similarity.qKmeans(spark, dir).collect())
      assert(msgs.contains("qKmeans kernel: embedding must be non-null"), msgs)
      assert(!classes.contains(classOf[NullPointerException]), msgs)
      assert(!msgs.contains("NullPointerException"), msgs)
    }
  }

  test("BPE merge round with no adjacent pairs fails with the named invariant") {
    // single-character word types leave nothing to merge in round 1
    val e = intercept[IllegalArgumentException](
      TextOps.bpeDriverMerges(Array(("a", 3L), ("b", 1L)), rounds = 1))
    assert(e.getMessage.contains("BPE merge round found no adjacent pairs"))
  }
}
