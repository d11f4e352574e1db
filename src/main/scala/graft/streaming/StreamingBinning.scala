package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.aggregators

/** Structured-Streaming face of the binning aggregators (SURVEY §2.10):
  * the reference's accumulators are commutative mergeable state (dask
  * `+=` fold, `/root/reference/pyinterp/dask.py:159-209`), so they drop
  * straight into `groupBy(window(ts), cell).agg(...)` — Spark maintains
  * the partial aggregation as streaming state and merges late rows with
  * the same Pébay merge law used in batch. `stats_agg` is the codegen'd
  * [[graft.functions.MomentsDeclarativeAgg]], so the state store holds
  * its UnsafeRow buffers (9 moment slots per window and cell), not
  * serialized objects.
  *
  * Late data policy (the reference has none — engine choice, documented):
  * event-time watermark `lateness`; rows later than that are dropped;
  * within the watermark the merge is order-insensitive (within fp
  * tolerance, `cxx/tests/math/statistics/descriptive_statistics.cpp:234`).
  */
object StreamingBinning {

  /** Windowed per-cell moments over a streaming DataFrame.
    *
    * @param events streaming DataFrame with event-time column `tsCol`
    * @param cell   cell/bin id column
    * @param value  value column to accumulate
    */
  def windowedStats(events: DataFrame, tsCol: String, cell: Column,
                    value: Column, windowLength: String = "1 hour",
                    lateness: String = "10 minutes"): DataFrame = {
    events
      // event-time columns must be TIMESTAMP (not NTZ) for watermarks
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLength), cell.as("cell"))
      .agg(aggregators.stats_agg1(value).as("stats"))
      .select(col("window.start").as("window_start"), col("cell"),
        col("stats.*"))
  }
}
