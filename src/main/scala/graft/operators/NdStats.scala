package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.aggregators.stats_agg

/** N-D reductions with `axis=` — the reference's
  * `DescriptiveStatistics(values, axis=(..))` over gridded data
  * (`pyinterp/descriptive_statistics.py` semantics): reduce the moments
  * over a chosen subset of dimension columns of a long-format grid
  * table, keeping the remaining dimensions as keys. One codegen'd
  * HashAggregate — the reduced axes never materialize.
  */
object NdStats {

  /** @param dimCols    all dimension columns of the table
    * @param reduceDims the dimensions to reduce over (the reference's
    *                   `axis=` tuple)
    * @param value      value column
    * @param weight     weight column (lit(1.0) for unweighted)
    */
  def reduceAxes(df: DataFrame, dimCols: Seq[String],
                 reduceDims: Seq[String], value: Column,
                 weight: Column = lit(1.0)): DataFrame = {
    require(reduceDims.forall(dimCols.contains),
      s"axis columns $reduceDims must be among $dimCols")
    val keep = dimCols.filterNot(reduceDims.contains)
    val grouped =
      if (keep.isEmpty) df.groupBy()
      else df.groupBy(keep.map(col): _*)
    grouped
      .agg(stats_agg(value, weight).as("stats"))
      .select(keep.map(col) :+ col("stats.*"): _*)
  }
}
