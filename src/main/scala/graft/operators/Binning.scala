package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Axis
import graft.functions.aggregators.stats_agg

/** Binning1D / Binning2D over a pair of axes, as pure Catalyst plans:
  * bin-index assignment is built-in column arithmetic (codegen'd, pushed
  * into the scan stage), accumulation is the mergeable moments aggregator
  * — Catalyst's partial+final aggregation reproduces the reference's
  * dask map-blocks + `+=` fold
  * (`/root/reference/pyinterp/dask.py:159-209`,
  * `pybind/binning.hpp:194-208`).
  *
  * Simple binning: nearest bin via bounded find_index
  * (`pybind/binning.hpp:257-274`). Linear binning: the value is spread
  * over the 4 surrounding bins with bilinear (opposite-area) weights
  * (`pybind/binning.hpp:276-304`, `math/interpolate/bilinear_weights
  * .hpp:87-146`), realized as a 4-row explode + weighted aggregation.
  *
  * Axes must be regular for the pure-column path (the reference's
  * default binning axes are regular `arange`s); irregular axes fall back
  * to a crafted CASE chain.
  */

final class Binning2D(xAxis: Axis, yAxis: Axis) extends Serializable {

  /** Column computing the *bounded nearest* bin index on `axis`
    * (reference `container.hpp:549-563`): round((x-x0)/step) clamped.
    * Periodic axes normalize x into the axis window first.
    */
  def binIndex(axis: Axis, x: Column): Column = {
    val xn = normalized(axis, x)
    if (axis.isRegular) {
      val raw = round((xn - lit(axis.front)) / lit(axis.step)).cast("int")
      least(greatest(raw, lit(0)), lit(axis.size - 1))
    } else {
      // irregular axis: nearest index = number of bin midpoints below x
      // (one comparison per boundary, folded into a codegen'd sum — the
      // column-expression analog of the reference's lower_bound search)
      require(axis.isAscending, "irregular binning axis must be ascending")
      (0 until axis.size - 1).map { i =>
        val mid = (axis.values(i) + axis.values(i + 1)) / 2.0
        when(xn > lit(mid), 1).otherwise(0)
      }.reduce(_ + _).cast("int")
    }
  }

  private def normalized(axis: Axis, x: Column): Column =
    if (!axis.isPeriodic) x
    else {
      val min = lit(axis.minValue)
      pmod(x - min, lit(axis.period)) + min
    }

  /** Lower frame index for linear binning: floor((x-x0)/step) clamped to
    * [0, n-2]; null (skip) when x cannot be framed on a bounded axis.
    */
  private def frameIndex(axis: Axis, x: Column): Column = {
    val xn = normalized(axis, x)
    val raw = floor((xn - lit(axis.front)) / lit(axis.step)).cast("int")
    if (axis.isPeriodic) pmod(raw, lit(axis.size)).cast("int")
    else
      when(xn < lit(axis.minValue) || xn > lit(axis.maxValue), lit(null))
        .otherwise(least(greatest(raw, lit(0)), lit(axis.size - 2)))
  }

  /** Simple (nearest-bin) 2-D binning.
    * Output: (ix, iy, x, y, <stats struct fields>) one row per non-empty
    * bin; NaN z rows are skipped (`pybind/binning.hpp:266`).
    */
  def simple(df: DataFrame, x: Column, y: Column, z: Column): DataFrame = {
    df.filter(!isnan(z) && z.isNotNull)
      .groupBy(
        binIndex(xAxis, x).as("ix"),
        binIndex(yAxis, y).as("iy"))
      .agg(stats_agg(z, lit(1.0)).as("stats"))
      .select(col("ix"), col("iy"),
        (lit(xAxis.front) + col("ix") * lit(xAxis.step)).as("x"),
        (lit(yAxis.front) + col("iy") * lit(yAxis.step)).as("y"),
        col("stats.*"))
  }

  /** Linear-binning: explode each sample into <=4 (bin, weight) rows with
    * bilinear area weights, then weighted moments per bin. Zero weights
    * are dropped (`pybind/binning.hpp:347-352` is_almost_zero guard).
    */
  def linear(df: DataFrame, x: Column, y: Column, z: Column): DataFrame = {
    val xn = normalized(xAxis, x)
    val yn = normalized(yAxis, y)
    val ix0 = frameIndex(xAxis, x)
    val iy0 = frameIndex(yAxis, y)
    val x0 = lit(xAxis.front) + ix0 * lit(xAxis.step)
    val y0 = lit(yAxis.front) + iy0 * lit(yAxis.step)
    // periodic x: normalize the coordinate into [x0, x0+period) so t stays
    // in [0,1) across the seam (`pybind/binning.hpp:384-388`)
    val xEff = if (xAxis.isPeriodic)
      pmod(xn - x0, lit(xAxis.period)) + x0
    else xn

    // materialize the frame ONCE per input row (a separate Project below
    // the Generate), so the floor/pmod chains are not re-evaluated inside
    // each of the 4 exploded structs
    val framed = df
      .filter(!isnan(z) && z.isNotNull && ix0.isNotNull && iy0.isNotNull)
      .select(z.as("z"), ix0.as("ix0"), iy0.as("iy0"),
        ((xEff - x0) / lit(xAxis.step)).as("t"),
        ((yn - y0) / lit(yAxis.step)).as("u"))

    val ix0c = col("ix0")
    val iy0c = col("iy0")
    val ix1c =
      if (xAxis.isPeriodic) pmod(ix0c + 1, lit(xAxis.size)).cast("int")
      else (ix0c + 1)
    val iy1c = iy0c + 1
    val t = col("t")
    val u = col("u")
    val exploded = framed
      .select(col("z"), explode(array(
        struct(ix0c.as("ix"), iy0c.as("iy"),
          ((lit(1) - t) * (lit(1) - u)).as("w")),
        struct(ix0c.as("ix"), iy1c.as("iy"), ((lit(1) - t) * u).as("w")),
        struct(ix1c.as("ix"), iy1c.as("iy"), (t * u).as("w")),
        struct(ix1c.as("ix"), iy0c.as("iy"), (t * (lit(1) - u)).as("w"))))
        .as("b"))
      .filter(abs(col("b.w")) > lit(1e-12))

    exploded
      .groupBy(col("b.ix").as("ix"), col("b.iy").as("iy"))
      .agg(stats_agg(col("z"), col("b.w")).as("stats"))
      .select(col("ix"), col("iy"),
        (lit(xAxis.front) + col("ix") * lit(xAxis.step)).as("x"),
        (lit(yAxis.front) + col("iy") * lit(yAxis.step)).as("y"),
        col("stats.*"))
  }

  /** Geographic (spheroid) linear binning — the reference's wgs branch
    * (`pybind/binning.hpp:88-94`, `bilinear_weights.hpp:87-146`): weights
    * are geodesic sub-rectangle areas of the cell around the sample. The
    * exact ellipsoidal lat/lon-rectangle area separates into a product of
    * 1-D ratios (longitude is linear; latitude enters through the
    * authalic q-function), so the whole thing stays one codegen'd
    * 4-struct explode — the area ratios are computed per row with NO
    * solver. x = longitude axis, y = latitude axis (degrees).
    */
  def linearGeographic(df: DataFrame, x: Column, y: Column, z: Column,
                       spheroid: graft.core.Spheroid =
                         graft.core.Spheroid.Wgs84): DataFrame = {
    val e2 = spheroid.e2
    val e = math.sqrt(e2)
    // q(lat): the latitude part of the exact ellipsoidal rectangle area
    def qLat(latDeg: Column): Column = {
      val sp = sin(radians(latDeg))
      sp / (lit(1.0) - lit(e2) * sp * sp) +
        log((lit(1.0) + lit(e) * sp) / (lit(1.0) - lit(e) * sp)) /
          lit(2.0 * e)
    }
    val xn = normalized(xAxis, x)
    val yn = normalized(yAxis, y)
    val ix0 = frameIndex(xAxis, x)
    val iy0 = frameIndex(yAxis, y)
    val x0 = lit(xAxis.front) + ix0 * lit(xAxis.step)
    val y0 = lit(yAxis.front) + iy0 * lit(yAxis.step)
    val y1 = y0 + lit(yAxis.step)
    val xEff = if (xAxis.isPeriodic)
      pmod(xn - x0, lit(xAxis.period)) + x0
    else xn

    val framed = df
      .filter(!isnan(z) && z.isNotNull && ix0.isNotNull && iy0.isNotNull)
      .select(z.as("z"), ix0.as("ix0"), iy0.as("iy0"),
        ((xEff - x0) / lit(xAxis.step)).as("t"),
        ((qLat(yn) - qLat(y0)) / (qLat(y1) - qLat(y0))).as("u"))

    val ix0c = col("ix0")
    val iy0c = col("iy0")
    val ix1c =
      if (xAxis.isPeriodic) pmod(ix0c + 1, lit(xAxis.size)).cast("int")
      else (ix0c + 1)
    val iy1c = iy0c + 1
    val t = col("t")
    val u = col("u")
    val exploded = framed
      .select(col("z"), explode(array(
        struct(ix0c.as("ix"), iy0c.as("iy"),
          ((lit(1) - t) * (lit(1) - u)).as("w")),
        struct(ix0c.as("ix"), iy1c.as("iy"), ((lit(1) - t) * u).as("w")),
        struct(ix1c.as("ix"), iy1c.as("iy"), (t * u).as("w")),
        struct(ix1c.as("ix"), iy0c.as("iy"), (t * (lit(1) - u)).as("w"))))
        .as("b"))
      .filter(abs(col("b.w")) > lit(1e-12))
    exploded
      .groupBy(col("b.ix").as("ix"), col("b.iy").as("iy"))
      .agg(stats_agg(col("z"), col("b.w")).as("stats"))
      .select(col("ix"), col("iy"),
        (lit(xAxis.front) + col("ix") * lit(xAxis.step)).as("x"),
        (lit(yAxis.front) + col("iy") * lit(yAxis.step)).as("y"),
        col("stats.*"))
  }
}

/** 1-D binning with optional weights and x-range filter
  * (`pybind/binning.hpp:407-456`).
  */
final class Binning1D(axis: Axis, range: Option[(Double, Double)] = None)
    extends Serializable {
  def push(df: DataFrame, x: Column, z: Column, weight: Column): DataFrame = {
    val b2 = new Binning2D(axis, axis)
    val filtered = range match {
      case Some((lo, hi)) => df.filter(x.between(lo, hi))
      case None => df
    }
    filtered
      .filter(!isnan(z) && z.isNotNull)
      .groupBy(b2.binIndex(axis, x).as("ix"))
      .agg(stats_agg(z, weight).as("stats"))
      .select(col("ix"),
        (lit(axis.front) + col("ix") * lit(axis.step)).as("x"),
        col("stats.*"))
  }
}
