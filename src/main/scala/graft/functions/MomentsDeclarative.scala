package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.types._

/** Weighted streaming moments as a DeclarativeAggregate: the same Pébay
  * update/merge law as [[graft.core.Moments]]
  * (`/root/reference/cxx/include/pyinterp/math/descriptive_statistics
  * .hpp:246-297`), but written as pure Catalyst expressions — so the
  * whole aggregation runs inside codegen'd HashAggregate (partial +
  * final) with UnsafeRow buffers (also as streaming state), no object
  * buffer and no Kryo. It is the engine's one moments aggregate: the
  * `aggregators.stats_agg` column, binning, `NdStats` and the streaming
  * binning all run on it.
  *
  * Update is implemented as merge-with-singleton (count=1, sumW=w),
  * which is the reference's own weighted-push definition
  * (`descriptive_statistics.hpp:70-77`). Rows whose value or weight is
  * null or NaN are skipped (`pybind/binning.hpp:266`). The result is the
  * reference's descriptive-statistics column set
  * (`descriptive_statistics.hpp:80-150`), variance and std with `ddof`
  * delta degrees of freedom.
  */
case class MomentsDeclarativeAgg(child: Expression, weightExpr: Expression,
    ddof: Int = 0) extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(child, weightExpr)
  override def nullable: Boolean = false
  private val resultNames = Seq("count", "sum_of_weights", "mean", "min",
    "max", "sum", "variance", "std", "skewness", "kurtosis")
  override def dataType: DataType = StructType(resultNames.map(n =>
    StructField(n, if (n == "count") LongType else DoubleType,
      nullable = false)))

  private val count = AttributeReference("cnt", LongType, nullable = false)()
  private val sumW = AttributeReference("sumW", DoubleType, nullable = false)()
  private val mean = AttributeReference("mean", DoubleType, nullable = false)()
  private val minA = AttributeReference("minv", DoubleType, nullable = false)()
  private val maxA = AttributeReference("maxv", DoubleType, nullable = false)()
  private val sumA = AttributeReference("sumv", DoubleType, nullable = false)()
  private val m2 = AttributeReference("m2", DoubleType, nullable = false)()
  private val m3 = AttributeReference("m3", DoubleType, nullable = false)()
  private val m4 = AttributeReference("m4", DoubleType, nullable = false)()

  override val aggBufferAttributes: Seq[AttributeReference] =
    Seq(count, sumW, mean, minA, maxA, sumA, m2, m3, m4)

  override val initialValues: Seq[Expression] = Seq(
    Literal(0L), Literal(0.0), Literal(0.0),
    Literal(Double.MaxValue), Literal(Double.MinValue), Literal(0.0),
    Literal(0.0), Literal(0.0), Literal(0.0))

  /** Merge formulas, parameterized over the "right side" accumulator. */
  private def mergeWith(rCount: Expression, rSumW: Expression,
      rMean: Expression, rMin: Expression, rMax: Expression,
      rSum: Expression, rM2: Expression, rM3: Expression, rM4: Expression,
      lCount: Expression, lSumW: Expression, lMean: Expression,
      lMin: Expression, lMax: Expression, lSum: Expression,
      lM2: Expression, lM3: Expression, lM4: Expression): Seq[Expression] = {
    val w = lSumW + rSumW
    val delta = rMean - lMean
    val deltaW = If(EqualTo(w, Literal(0.0)), Literal(0.0), delta / w)
    val delta2W2 = deltaW * deltaW
    val w2 = lSumW * lSumW
    val ww = lSumW * rSumW
    val rW2 = rSumW * rSumW
    val newM4 = lM4 + rM4 +
      ww * (w2 - ww + rW2) * delta * deltaW * delta2W2 +
      Literal(6.0) * (w2 * rM2 + rW2 * lM2) * delta2W2 +
      Literal(4.0) * (lSumW * rM3 - rSumW * lM3) * deltaW
    val newM3 = lM3 + rM3 +
      ww * (lSumW - rSumW) * delta * delta2W2 +
      Literal(3.0) * (lSumW * rM2 - rSumW * lM2) * deltaW
    val newM2 = ww * delta * deltaW + (lM2 + rM2)
    val newMean = rSumW * deltaW + lMean
    // empty-side guards: merging with an empty accumulator is identity
    def guarded(merged: Expression, left: Expression,
                right: Expression): Expression =
      If(EqualTo(rCount + If(EqualTo(rSumW, Literal(0.0)), Literal(0L),
          Literal(1L)), Literal(0L)), left,
        If(EqualTo(lCount + If(EqualTo(lSumW, Literal(0.0)), Literal(0L),
            Literal(1L)), Literal(0L)), right, merged))
    Seq(
      lCount + rCount,
      lSumW + rSumW,
      guarded(newMean, lMean, rMean),
      If(LessThan(rMin, lMin), rMin, lMin),
      If(GreaterThan(rMax, lMax), rMax, lMax),
      lSum + rSum,
      guarded(newM2, lM2, rM2),
      guarded(newM3, lM3, rM3),
      guarded(newM4, lM4, rM4))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val v = child
    val wIn = weightExpr
    val skip = Or(Or(IsNull(v), IsNaN(v)), Or(IsNull(wIn), IsNaN(wIn)))
    // singleton accumulator for (v, w)
    val merged = mergeWith(
      rCount = Literal(1L), rSumW = wIn, rMean = v, rMin = v, rMax = v,
      rSum = v * wIn, rM2 = Literal(0.0), rM3 = Literal(0.0),
      rM4 = Literal(0.0),
      lCount = count, lSumW = sumW, lMean = mean, lMin = minA, lMax = maxA,
      lSum = sumA, lM2 = m2, lM3 = m3, lM4 = m4)
    aggBufferAttributes.zip(merged).map { case (attr, upd) =>
      If(skip, attr, upd)
    }
  }

  override lazy val mergeExpressions: Seq[Expression] =
    mergeWith(
      rCount = count.right, rSumW = sumW.right, rMean = mean.right,
      rMin = minA.right, rMax = maxA.right, rSum = sumA.right,
      rM2 = m2.right, rM3 = m3.right, rM4 = m4.right,
      lCount = count.left, lSumW = sumW.left, lMean = mean.left,
      lMin = minA.left, lMax = maxA.left, lSum = sumA.left,
      lM2 = m2.left, lM3 = m3.left, lM4 = m4.left)

  /** Finishing projection: the moments as `Moments` reports them (mean,
    * min, max and sum NaN on an empty group; variance NaN at or below
    * `ddof` weight; skewness and kurtosis NaN when m2 is 0).
    */
  override lazy val evaluateExpression: Expression = {
    val empty = EqualTo(count, Literal(0L))
    val nan = Literal(Double.NaN)
    val cardinal = sumW - Literal(ddof.toDouble)
    val variance =
      If(GreaterThan(cardinal, Literal(0.0)), m2 / cardinal, nan)
    val flat = EqualTo(m2, Literal(0.0))
    CreateNamedStruct(resultNames.zip(Seq(
      count, sumW,
      If(empty, nan, mean),
      If(empty, nan, minA),
      If(empty, nan, maxA),
      If(empty, nan, sumA),
      variance,
      Sqrt(variance),
      If(flat, nan, Sqrt(sumW) * m3 / Pow(m2, Literal(1.5))),
      If(flat, nan, sumW * m4 / (m2 * m2) - Literal(3.0))))
      .flatMap { case (name, e) => Seq(Literal(name), e) })
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), weightExpr = newChildren(1))
}
