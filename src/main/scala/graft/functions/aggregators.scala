package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import graft.core.TDigest

/** Quantile sketch output: requested quantiles plus the exact count /
  * min / max / mean the reference's Histogram2D exposes
  * (`pybind/histogram2d.hpp:35-240`).
  */
case class DigestResult(
    count: Long,
    min: Double,
    max: Double,
    mean: Double,
    quantiles: Seq[Double])

/** Mergeable t-digest aggregator (reference `math/tdigest.hpp:34-470`):
  * asin-scale merging digest; quantiles interpolated across centroid
  * midpoints. `compression` defaults to the reference's 100.
  */
class TDigestAgg(qs: Seq[Double], compression: Int = 100)
    extends Aggregator[Double, TDigest, DigestResult] {

  override def zero: TDigest = new TDigest(compression)

  override def reduce(b: TDigest, v: Double): TDigest = {
    if (!v.isNaN) b.add(v)
    b
  }

  override def merge(a: TDigest, b: TDigest): TDigest = { a.merge(b); a }

  override def finish(td: TDigest): DigestResult = {
    if (td.count == 0)
      DigestResult(0L, Double.NaN, Double.NaN, Double.NaN,
        qs.map(_ => Double.NaN))
    else
      DigestResult(td.count, td.min, td.max, td.mean, qs.map(td.quantile))
  }

  override def bufferEncoder: Encoder[TDigest] = Encoders.kryo[TDigest]
  override def outputEncoder: Encoder[DigestResult] = Encoders.product[DigestResult]
}

object aggregators {
  import org.apache.spark.sql.functions.udaf
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column form: `stats_agg($"z", $"w")` — a struct of (count,
    * sum_of_weights, mean, min, max, sum, variance, std, skewness,
    * kurtosis), computed by the codegen'd [[MomentsDeclarativeAgg]] over
    * the value and weight cast to double.
    */
  def stats_agg(value: Column, weight: Column, ddof: Int = 0): Column =
    ColumnBridge.column(MomentsDeclarativeAgg(
      ColumnBridge.expression(value.cast("double")),
      ColumnBridge.expression(weight.cast("double")), ddof)
      .toAggregateExpression())

  def stats_agg1(value: Column): Column =
    stats_agg(value, org.apache.spark.sql.functions.lit(1.0))

  def tdigest_agg(value: Column, qs: Seq[Double],
                  compression: Int = 100): Column = {
    val f = udaf(new TDigestAgg(qs, compression))
    f(value)
  }
}
