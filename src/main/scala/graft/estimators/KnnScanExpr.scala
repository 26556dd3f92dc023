package graft.estimators

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Catalyst expression form of the kNN scan: evaluates directly on
  * InternalRow data inside the projection, replacing the mapPartitions
  * kernel whose per-row Row decode/encode dominated predict cost (the
  * math is unchanged — it delegates to [[KnnKernel.topK]], so distance
  * accumulation and (dist, id) tie-breaks stay bit-identical to the
  * oracles).
  *
  * Per row, the kernel makes two passes over the feature-major
  * [[KnnState]]: a vectorized distance pass fills an m-slot d² buffer
  * ([[KnnKernel.distances]]), then a select pass picks the neighbors
  * ([[KnnKernel.topK]]) or, for [[KnnScanExpr.ModeRadius]], the ball.
  * The query, d² and top-k buffers are per-thread scratch reused across
  * rows ([[KnnScratch]]); only the output array is allocated per row.
  *
  * Input: `array<double>` of features (NoData rows must be routed around
  * the expression by the caller's `when(mask, ...)`). Output:
  * `array<double>` whose layout depends on `mode`:
  *  - [[KnnScanExpr.ModeReg]]:      t mean-of-neighbors targets
  *  - [[KnnScanExpr.ModeWeighted]]: t 1/distance-weighted targets
  *                                  (zero-distance neighbors average)
  *  - [[KnnScanExpr.ModeCounts]]:   classCount neighbor class counts
  *  - [[KnnScanExpr.ModeNN]]:       k neighbor ids then k distances
  *                                  (ids are exact ≤ 2^53 doubles)
  *  - [[KnnScanExpr.ModeRadius]]:   count within `radius2`, then t target
  *                                  means (NaN for an empty ball); its
  *                                  rows are NoData-masked before the
  *                                  scan, so the query carries no NaN
  *
  * The fitted state ships inside the expression → serialized once into
  * the stage's task binary (the fit side is small by construction).
  */
case class KnnScanExpr(
    child: Expression,
    st: KnnState,
    k: Int,
    mode: Int,
    classCount: Int,
    radius2: Double = 0.0
) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_knn_scan"

  /** Stays inside whole-stage codegen: the generated projection passes
    * the child ArrayData straight to the compiled kernel via a
    * task-serialized reference — unlike CodegenFallback, which drops
    * out of the generated plan and materializes an InternalRow per
    * input row just to call eval().
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("knnScan", this, classOf[KnnScanExpr].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }

  @transient private lazy val scratch: ThreadLocal[KnnScratch] =
    ThreadLocal.withInitial(() => new KnnScratch(st.d, st.m, math.min(k, st.m)))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sc = scratch.get
    val q = sc.q; val idx = sc.idx; val d2 = sc.d2
    val d = st.d
    var j = 0
    while (j < d) { q(j) = arr.getDouble(j); j += 1 }
    val t = if (st.m == 0) 0 else st.y.length / st.m
    if (mode == KnnScanExpr.ModeRadius) {
      // all-neighbors-within-radius: [count, mean per target]; NaN means
      // when the ball is empty (callers fill). Target sums accumulate in
      // training-id order — identical to the oracle for integer-valued
      // targets (exact) and within round-off for continuous ones.
      val o = new Array[Double](1 + t)
      val acc = sc.acc
      KnnKernel.distances(q, st, acc)
      var cnt = 0
      var i = 0
      while (i < st.m) {
        if (acc(i) <= radius2) {
          cnt += 1
          var ti = 0
          while (ti < t) { o(1 + ti) += st.y(i * t + ti); ti += 1 }
        }
        i += 1
      }
      o(0) = cnt.toDouble
      var ti = 0
      while (ti < t) { o(1 + ti) = if (cnt > 0) o(1 + ti) / cnt else Double.NaN; ti += 1 }
      return new GenericArrayData(o)
    }
    val n = KnnKernel.topK(q, st, k, idx, d2, sc.acc)
    val out = mode match {
      case KnnScanExpr.ModeReg =>
        val o = new Array[Double](t)
        var ti = 0
        while (ti < t) {
          var sum = 0.0; var i = 0
          while (i < n) { sum += st.y(idx(i) * t + ti); i += 1 }
          o(ti) = sum / n
          ti += 1
        }
        o
      case KnnScanExpr.ModeWeighted =>
        val o = new Array[Double](t)
        var nExact = 0
        while (nExact < n && d2(nExact) == 0.0) nExact += 1
        var ti = 0
        while (ti < t) {
          if (nExact > 0) {
            var sum = 0.0; var i = 0
            while (i < nExact) { sum += st.y(idx(i) * t + ti); i += 1 }
            o(ti) = sum / nExact
          } else {
            var num = 0.0; var den = 0.0; var i = 0
            while (i < n) {
              val w = 1.0 / math.sqrt(d2(i))
              num += w * st.y(idx(i) * t + ti); den += w
              i += 1
            }
            o(ti) = num / den
          }
          ti += 1
        }
        o
      case KnnScanExpr.ModeCounts =>
        val o = new Array[Double](classCount)
        var i = 0
        while (i < n) { o(st.yCls(idx(i))) += 1.0; i += 1 }
        o
      case KnnScanExpr.ModeWeightedCounts =>
        // per-class 1/distance weight sums, accumulated in neighbor-rank
        // order (the oracle sums an ORDER BY rn list, so per-class scores
        // are bit-identical); sklearn zero-distance rule: exact matches
        // vote with weight 1 and everything else 0
        val o = new Array[Double](classCount)
        var nExact = 0
        while (nExact < n && d2(nExact) == 0.0) nExact += 1
        var i = 0
        while (i < n) {
          val w =
            if (nExact > 0) { if (d2(i) == 0.0) 1.0 else 0.0 }
            else 1.0 / math.sqrt(d2(i))
          o(st.yCls(idx(i))) += w
          i += 1
        }
        o
      case KnnScanExpr.ModeNN =>
        val o = new Array[Double](2 * k)
        var i = 0
        while (i < k) {
          o(i) = if (i < n) st.ids(idx(i)).toDouble else -1.0
          o(k + i) = if (i < n) math.sqrt(d2(i)) else Double.NaN
          i += 1
        }
        o
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): KnnScanExpr =
    copy(child = newChild)
}

object KnnScanExpr {
  val ModeReg = 0
  val ModeWeighted = 1
  val ModeCounts = 2
  val ModeNN = 3
  val ModeRadius = 4
  val ModeWeightedCounts = 5
}

/** One thread's reusable kNN scan buffers: the d-slot query, the m-slot
  * d² accumulator of the distance pass, and the n-slot top-k (index, d²)
  * buffer.
  */
private[estimators] final class KnnScratch(d: Int, m: Int, n: Int) {
  val q = new Array[Double](d)
  val acc = new Array[Double](m)
  val idx = new Array[Int](n)
  val d2 = new Array[Double](n)
}
