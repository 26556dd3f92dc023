package graft.estimators

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Parity of the feature-major two-pass kNN kernel ([[KnnKernel]]) with
  * the row-major single-pass kernel it replaced, kept below verbatim as
  * the reference:
  *
  *  - topK: same neighbor count, same index order, and the same raw
  *    bits of every squared distance — including partial-NaN and
  *    all-NaN queries (nan_euclidean) and m < k.
  *  - ModeRadius: same ball count and the same raw bits of every
  *    target mean (queries are fully observed: the scan's NoData mask
  *    routes NaN rows around it).
  *  - Concurrency: 4 threads sharing one [[KnnState]] and one
  *    [[KnnScanExpr]] each get the single-thread answers (the scan's
  *    scratch buffers are per thread).
  *
  * Features sit on a small integer grid and rows are often duplicated,
  * so distance ties — the (d², id) tie-break — are the common case.
  */
object KnnKernelParitySpec extends Properties("graft.knn") {

  // ---- the pre-feature-major kernel, the parity reference ----

  private final class RowMajorState(
      val ids: Array[Long],      // m training-row ids
      val x: Array[Double],      // m*d row-major features
      val m: Int,
      val d: Int)

  private def refTopK(
      q: Array[Double],
      st: RowMajorState,
      k: Int,
      outIdx: Array[Int],
      outD: Array[Double]
  ): Int = {
    val m = st.m; val d = st.d
    val n = math.min(k, m)
    var nobs = 0
    var jj = 0
    while (jj < d) { if (!q(jj).isNaN) nobs += 1; jj += 1 }
    val factor = d.toDouble / nobs
    var filled = 0
    var i = 0
    while (i < m) {
      val base = i * d
      var d2 = 0.0
      var j = 0
      while (j < d) {
        val qj = q(j)
        if (qj == qj) { // not NaN
          val diff = qj - st.x(base + j)
          d2 += diff * diff
        }
        j += 1
      }
      d2 *= factor
      val id = st.ids(i)
      if (filled < n) {
        // insertion sort into the not-yet-full buffer
        var p = filled
        while (p > 0 && (outD(p - 1) > d2 ||
               (outD(p - 1) == d2 && st.ids(outIdx(p - 1)) > id))) {
          outD(p) = outD(p - 1); outIdx(p) = outIdx(p - 1); p -= 1
        }
        outD(p) = d2; outIdx(p) = i
        filled += 1
      } else {
        val lastD = outD(n - 1)
        if (d2 < lastD || (d2 == lastD && id < st.ids(outIdx(n - 1)))) {
          var p = n - 1
          while (p > 0 && (outD(p - 1) > d2 ||
                 (outD(p - 1) == d2 && st.ids(outIdx(p - 1)) > id))) {
            outD(p) = outD(p - 1); outIdx(p) = outIdx(p - 1); p -= 1
          }
          outD(p) = d2; outIdx(p) = i
        }
      }
      i += 1
    }
    n
  }

  private def refRadius(q: Array[Double], st: RowMajorState, y: Array[Double],
                        t: Int, radius2: Double): Array[Double] = {
    val d = st.d
    val o = new Array[Double](1 + t)
    var cnt = 0
    var i = 0
    while (i < st.m) {
      val base = i * d
      var dd = 0.0; var jj = 0
      while (jj < d) { val diff = q(jj) - st.x(base + jj); dd += diff * diff; jj += 1 }
      if (dd <= radius2) {
        cnt += 1
        var ti = 0
        while (ti < t) { o(1 + ti) += y(i * t + ti); ti += 1 }
      }
      i += 1
    }
    o(0) = cnt.toDouble
    var ti = 0
    while (ti < t) { o(1 + ti) = if (cnt > 0) o(1 + ti) / cnt else Double.NaN; ti += 1 }
    o
  }

  // ---- generated fits and queries ----

  private final case class Fit(rows: Array[Array[Double]], d: Int, t: Int) {
    def state: KnnState = KnnState(rows, d, t)
    def reference: RowMajorState = new RowMajorState(
      Array.tabulate(rows.length)(_.toLong), rows.flatMap(_.take(d)), rows.length, d)
    override def toString: String =
      s"Fit(m=${rows.length}, d=$d, t=$t, rows=${rows.map(_.mkString("[", ",", "]")).mkString(" ")})"
  }

  private val grid: Gen[Double] = Gen.choose(-2, 3).map(_.toDouble)

  private val fitGen: Gen[Fit] = for {
    m <- Gen.choose(0, 300)
    d <- Gen.choose(1, 8)
    t <- Gen.choose(0, 3)
    fresh <- Gen.listOfN(m, Gen.listOfN(d + t, grid).map(_.toArray))
    // about one row in four repeats an earlier row (features and targets)
    dupOf <- Gen.listOfN(m, Gen.frequency(3 -> Gen.const(-1), 1 -> Gen.choose(0, math.max(m - 1, 0))))
  } yield {
    val rows = fresh.toArray
    dupOf.zipWithIndex.foreach { case (src, i) => if (src >= 0 && src < i) rows(i) = rows(src) }
    Fit(rows, d, t)
  }

  private def queriesGen(d: Int): Gen[List[Array[Double]]] = for {
    observed <- Gen.listOfN(4, Gen.listOfN(d, grid).map(_.toArray))
    partial <- Gen.listOfN(4, Gen.listOfN(d, Gen.frequency(3 -> grid, 1 -> Gen.const(Double.NaN))).map(_.toArray))
  } yield observed ++ partial :+ Array.fill(d)(Double.NaN)

  private val caseGen: Gen[(Fit, Int, List[Array[Double]])] = for {
    fit <- fitGen
    k <- Gen.choose(1, fit.rows.length + 3)
    qs <- queriesGen(fit.d)
  } yield (fit, k, qs)

  private val radiusGen: Gen[(Fit, List[Array[Double]])] = for {
    fit <- fitGen
    qs <- Gen.listOfN(6, Gen.listOfN(fit.d, grid).map(_.toArray))
  } yield (fit, qs)

  private def bits(a: Array[Double], n: Int): Seq[Long] =
    a.take(n).toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def show(q: Array[Double]): String = q.mkString("[", ",", "]")

  private def scan(st: KnnState, k: Int, mode: Int, radius2: Double = 0.0): KnnScanExpr =
    KnnScanExpr(BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = false),
      st, k, mode, 0, radius2)

  private def eval(e: KnnScanExpr, q: Array[Double]): Array[Double] =
    e.nullSafeEval(ArrayData.toArrayData(q)).asInstanceOf[ArrayData].toDoubleArray()

  // ---- properties ----

  property("topK == the row-major reference: count, index order, distance bits") =
    forAll(caseGen) { case (fit, k, qs) =>
      val st = fit.state; val ref = fit.reference
      val m = fit.rows.length
      val n0 = math.min(k, m)
      val acc = new Array[Double](m)
      Prop.all(qs.map { q =>
        val idx = new Array[Int](n0); val d2 = new Array[Double](n0)
        val rIdx = new Array[Int](n0); val rD2 = new Array[Double](n0)
        val n = KnnKernel.topK(q, st, k, idx, d2, acc)
        val rn = refTopK(q, ref, k, rIdx, rD2)
        Prop(n == rn && idx.take(n).toSeq == rIdx.take(rn).toSeq && bits(d2, n) == bits(rD2, rn)) :|
          s"$fit k=$k q=${show(q)} got=${idx.take(n).toSeq}/${d2.take(n).toSeq} " +
            s"ref=${rIdx.take(rn).toSeq}/${rD2.take(rn).toSeq}"
      }: _*)
    }

  property("ModeRadius == the row-major reference: count and target-mean bits") =
    forAll(radiusGen, Gen.choose(0, 30).map(_.toDouble)) { case ((fit, qs), radius2) =>
      val st = fit.state; val ref = fit.reference
      val y = fit.rows.flatMap(_.slice(fit.d, fit.d + fit.t))
      // the scan derives t as y.length / m, so an empty fit has no target slots
      val t = if (fit.rows.isEmpty) 0 else fit.t
      val e = scan(st, 0, KnnScanExpr.ModeRadius, radius2)
      Prop.all(qs.map { q =>
        val got = eval(e, q)
        val want = refRadius(q, ref, y, t, radius2)
        Prop(bits(got, got.length) == bits(want, want.length)) :|
          s"$fit r2=$radius2 q=${show(q)} got=${got.toSeq} ref=${want.toSeq}"
      }: _*)
    }

  property("4 threads sharing one KnnState and scan expression get the single-thread answers") =
    forAll(caseGen) { case (fit, k, qs) =>
      // ModeNN output as raw bits: k neighbor ids, then k distances
      val e = scan(fit.state, k, KnnScanExpr.ModeNN)
      def nnBits(q: Array[Double]): Seq[Long] = bits(eval(e, q), 2 * k)
      val expected = qs.map(nnBits).toVector
      val threads = 4
      val pool = Executors.newFixedThreadPool(threads)
      try {
        val start = new CyclicBarrier(threads)
        val futures = (0 until threads).map { th =>
          pool.submit(new Callable[Boolean] {
            def call(): Boolean = {
              start.await()
              // each thread walks the queries from its own offset, 5 times
              (0 until 5 * qs.length).forall { r =>
                val qi = (r + th) % qs.length
                nnBits(qs(qi)) == expected(qi)
              }
            }
          })
        }
        Prop(futures.forall(_.get(60, TimeUnit.SECONDS))) :| s"$fit k=$k"
      } finally pool.shutdownNow()
    }
}
