package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{array, coalesce, col, count, explode,
  floor, least, lit, monotonically_increasing_id, pmod, round, struct, sum,
  when}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType,
  LongType, StructField, StructType}
import graft.core.{Axis, Bicubic, Boundary, Interpolate}
import graft.sources.GridLoader

/** Dense 2-D grid (x-major storage) + its axes — the broadcastable analog
  * of the reference Grid2D (`/root/reference/cxx/include/pyinterp/pybind/
  * grid.hpp:184-342`). `values(i * ny + j)` is z(x_i, y_j).
  */
final case class Grid2D(xAxis: Axis, yAxis: Axis, values: Array[Double])
    extends Serializable {
  require(values.length == xAxis.size.toLong * yAxis.size,
    s"grid size ${values.length} != ${xAxis.size}x${yAxis.size}")
  @inline def apply(i: Int, j: Int): Double = values(i * yAxis.size + j)
}

/** 1-D grid (`core.Grid` with one axis): the `univariate` /
  * `univariate_derivative` entry points' data model.
  */
final case class Grid1D(axis: Axis, values: Array[Double])
    extends Serializable {
  require(values.length == axis.size, "grid size != axis size")
}

/** 3-D grid: z-axis stacked planes of Grid2D (z may be a temporal axis
  * carried as epoch-encoded doubles).
  */
final case class Grid3D(xAxis: Axis, yAxis: Axis, zAxis: Axis,
                        values: Array[Double]) extends Serializable {
  @inline def apply(i: Int, j: Int, k: Int): Double =
    values((i.toLong * yAxis.size * zAxis.size + j.toLong * zAxis.size + k).toInt)
  def plane(k: Int): (Int, Int) => Double = (i, j) => apply(i, j, k)
}

/** 4-D grid (x, y, z, u) — u typically a level axis, z possibly temporal
  * (`pyinterp/core/__init__.pyi:599-611` Grid4D shape).
  */
final case class Grid4D(xAxis: Axis, yAxis: Axis, zAxis: Axis, uAxis: Axis,
                        values: Array[Double]) extends Serializable {
  @inline def apply(i: Int, j: Int, k: Int, l: Int): Double =
    values((((i.toLong * yAxis.size + j) * zAxis.size + k) *
      uAxis.size + l).toInt)
}

/** Grid interpolation as a shuffle-free map stage: the grid is broadcast
  * once per executor and each partition runs the per-thread kernel loop of
  * the reference (`parallel_for` chunk ≙ partition,
  * `pybind/windowed/bivariate.hpp:96-112`). Appends a `value` double
  * column (NaN when the point cannot be framed).
  *
  * Methods: geometric {bilinear, idw, nearest}
  * (`math/interpolate/geometric/bivariate.hpp`) and windowed {bicubic,
  * spline-bilinear} (`math/interpolate/bivariate/bicubic.hpp`) with the
  * reference default half-window of 3 (6x6) and undef|shrink boundaries
  * (`pyinterp/regular_grid_interpolator.py:66-79`).
  */
object GridInterpolator {

  private val geometricMethods = Set("bilinear", "idw", "nearest")

  def bivariate(spark: SparkSession, df: DataFrame, xCol: String, yCol: String,
                grid: Grid2D, method: String, halfWindow: Int = 3,
                boundary: Boundary.Value = Boundary.Undef,
                outputCol: String = "value",
                sortProbes: Boolean = true): DataFrame = {
    val bc: Broadcast[Grid2D] = spark.sparkContext.broadcast(grid)
    // windowed methods keep a per-window cache (fits reused across probes
    // in the same 6x6 window); a PARTITION-LOCAL sort by grid cell turns
    // scattered probes into runs of cache hits — no shuffle, and at scale
    // the O(p log p) per-task sort is far cheaper than per-row refits
    val input =
      if (!sortProbes || geometricMethods.contains(method)) df
      else if (grid.xAxis.isRegular && grid.yAxis.isRegular)
        df.sortWithinPartitions(
          floor((col(xCol) - lit(grid.xAxis.front)) / lit(grid.xAxis.step)),
          floor((col(yCol) - lit(grid.yAxis.front)) / lit(grid.yAxis.step)))
      else df.sortWithinPartitions(col(xCol), col(yCol))
    val outSchema = StructType(df.schema.fields :+
      StructField(outputCol, DoubleType, nullable = false))
    val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val xIdx = df.schema.fieldIndex(xCol)
    val yIdx = df.schema.fieldIndex(yCol)
    val m = method
    val hw = halfWindow
    val bdy = boundary
    input.mapPartitions { iter =>
      val g = bc.value
      val interp = new BivariateKernel(g, m, hw, bdy)
      iter.map { row =>
        val x = row.getDouble(xIdx)
        val y = row.getDouble(yIdx)
        Row.fromSeq(row.toSeq :+ interp(x, y))
      }
    }(enc)
  }

  /** Pins the synthetic probe row id BEFORE the plan branches (r3 ADVICE,
    * medium): `monotonically_increasing_id` is nondeterministic, so when
    * the id-stamped probe is evaluated once under the corner->agg branch
    * and again under the final left join, a task retry / speculative
    * re-execution / shuffled upstream could assign DIFFERENT ids in the
    * two branches — silently pairing interpolated values with the wrong
    * probe rows. `localCheckpoint` materializes the stamped rows once
    * (executor-local blocks, lineage truncated), so every branch reads the
    * SAME ids; a lost block then fails the job loudly instead of
    * corrupting it.
    */
  private def withStableId(df: DataFrame): DataFrame =
    df.withColumn("_rid", monotonically_increasing_id()).localCheckpoint()

  /** Settings of a windowed grid-as-table call: the in-plane method, the
    * z/u combines and the half window.
    */
  private final case class Windowing(method: String, zMethod: String,
                                     uMethod: String, halfWindow: Int)

  // Axis d of a grid-as-table lattice (x, y, z, u) has probe coordinate
  // letter Coord(d) and lattice index letter Index(d). Working columns:
  // `_f<x>` fractional cell position, `_<i>0` bracket origin, `_t<x>`
  // in-cell fraction, `_c<i>` cell key; windowed paths add `_wi`/`_wj`.
  private val Coord = Seq("x", "y", "z", "u")
  private val Index = Seq("i", "j", "k", "l")
  private def cellKey(d: Int): String = s"_c${Index(d)}"
  private def origin(d: Int): Column = col(s"_${Index(d)}0")
  private def frac(d: Int): Column = col(s"_t${Coord(d)}")

  /** The grid-as-table interpolation behind the six `*Table*` entry
    * points, over the lattice axes x, y[, z[, u]] named by `probeCols`.
    * The lattice is never collected or broadcast: only its axis values
    * reach the driver. `window` absent = the geometric 2^d-corner join
    * ([[cornerJoin]]); present = the windowed tile-halo plan
    * ([[windowJoin]]). A regular lattice brackets probes with column
    * arithmetic (fully codegen); an irregular one broadcasts the axis
    * value arrays (O(nx + ny + ...), the d-th root of the lattice) and
    * brackets with the broadcast kernels' `Axis.findIndexes`. Probes
    * that cannot be framed, have a null coordinate, or touch a masked
    * cell yield NaN.
    */
  private def tableInterpolate(spark: SparkSession, probe: DataFrame,
                               probeCols: Seq[String], gridTable: DataFrame,
                               zColName: String, uColName: String,
                               valueCol: String, outputCol: String,
                               xPeriod: Double, caller: String,
                               window: Option[Windowing]): DataFrame = {
    window.foreach { w =>
      require(!geometricMethods.contains(w.method), s"method ${w.method} " +
        s"is geometric — use ${caller.stripSuffix("Windowed")}")
      require(w.halfWindow >= 1, "halfWindow must be >= 1")
    }
    val (axisCols, vCol) = GridLoader.latticeColumns(gridTable,
      probeCols.size, caller, zColName, uColName, valueCol)
    val axes = GridLoader.axesOf(gridTable, axisCols)
    val planeNodes = window.fold(2)(2 * _.halfWindow)
    require(axes.indices.forall { d =>
        val a = axes(d)
        a.size >= (if (d < 2) planeNodes else 2) && !a.isPeriodic &&
          a.front < a.back
      }, s"$caller requires ascending non-periodic axes of >= 2 nodes" +
        window.fold("")(_ => ", >= 2*halfWindow on x and y"))
    val periodic = xPeriod != 0.0
    val regular = axes.forall(_.isRegular)
    require(regular || !periodic,
      "xPeriod requires a regular full-circle lattice")
    val xAxis = axes.head
    if (periodic) require(
      math.abs(xAxis.size * xAxis.step - xPeriod) <= 1e-6 * xAxis.step,
      s"xPeriod=$xPeriod requires a full-circle lattice: nx*step = " +
        s"${xAxis.size * xAxis.step}")

    val withId = withStableId(probe)
    val irregular =
      if (regular) None else Some(spark.sparkContext.broadcast(axes))
    val cells = latticeCells(gridTable, axisCols :+ vCol, axes, irregular)
    val values = window match {
      case None =>
        cornerJoin(withId, cells, probeCols, axes, periodic, irregular)
      case Some(w) => windowJoin(spark, withId, cells, probeCols, axes,
        periodic, irregular, w)
    }
    withId.join(values, Seq("_rid"), "left")
      .withColumn(outputCol, coalesce(col("_v"), lit(Double.NaN)))
      .drop("_rid", "_v")
  }

  private def rowEncoder(fields: Seq[(String, DataType)])
      : ExpressionEncoder[Row] =
    ExpressionEncoder(RowEncoder.encoderFor(StructType(fields.map {
      case (name, t) => StructField(name, t, nullable = false) })))

  /** The lattice as cell rows (_ci, _cj[, _ck[, _cl]], _z) keyed by integer
    * lattice index: affine keys on a regular lattice, the nearest-index
    * search over the `irregular` lattice's broadcast axes otherwise.
    * `cols` are the axis columns then the value column. A null
    * coordinate or value is a masked cell, like an absent row: it is
    * dropped.
    */
  private def latticeCells(gridTable: DataFrame, cols: Seq[String],
                           axes: Seq[Axis],
                           irregular: Option[Broadcast[Seq[Axis]]])
      : DataFrame = {
    val rank = axes.size
    val keys = axes.indices.map(cellKey)
    irregular match {
      case None =>
        gridTable.select(axes.indices.map { d =>
            round((col(cols(d)).cast("double") - lit(axes(d).front)) /
              lit(axes(d).step)).cast("int").as(keys(d))
          } :+ col(cols(rank)).cast("double").as("_z"): _*)
          .filter((keys :+ "_z").map(col(_).isNotNull).reduce(_ && _))
      case Some(bcAxes) =>
        gridTable.select(cols.map(c => col(c).cast("double")): _*)
          .flatMap { r =>
            val ax = bcAxes.value
            if ((0 to rank).exists(r.isNullAt)) Iterator.empty
            else {
              val idx = (0 until rank).map(d =>
                ax(d).findIndex(r.getDouble(d), bounded = false))
              if (idx.exists(_ < 0)) Iterator.empty
              else Iterator.single(Row.fromSeq(idx :+ r.getDouble(rank)))
            }
          }(rowEncoder(keys.map(_ -> IntegerType) :+ ("_z" -> DoubleType)))
    }
  }

  /** Regular lattice: per axis the probe's fractional cell position, its
    * right-edge-inclusive bracket origin (findIndexes semantics) and
    * in-cell fraction, keeping framed rows only. With `halfWindow` > 0
    * the (2·halfWindow)-node x/y window must also fit in the lattice
    * (boundary `undef`; origins `_wi`/`_wj`). A periodic x normalizes
    * into [0, nx) cell units and only rejects a null or NaN; a probe
    * exactly on its LAST node brackets (nx-2, nx-1) like findIndexes'
    * delta == 0 collapse, past it (nx-1, wrap-to-0), and its window
    * origin may be negative (unwrapped frame).
    */
  private def regularFrame(withId: DataFrame, probeCols: Seq[String],
                           axes: Seq[Axis], periodic: Boolean,
                           halfWindow: Int): DataFrame = {
    val n = 2 * halfWindow
    val withFrame = axes.indices.foldLeft(withId) { (df, d) =>
      val a = axes(d)
      val f = col(s"_f${Coord(d)}")
      val raw = (col(probeCols(d)).cast("double") - lit(a.front)) /
        lit(a.step)
      val i0 =
        if (d == 0 && periodic)
          when(f === lit((a.size - 1).toDouble), lit(a.size - 2))
            .otherwise(floor(f).cast("int")).cast("int")
        else least(floor(f).cast("int"), lit(a.size - 2))
      df.withColumn(s"_f${Coord(d)}",
          if (d == 0 && periodic) pmod(raw, lit(a.size.toDouble)) else raw)
        .withColumn(s"_${Index(d)}0", i0)
        .withColumn(s"_t${Coord(d)}", f - origin(d))
    }
    val withWindow =
      if (halfWindow == 0) withFrame
      else withFrame
        .withColumn("_wi", origin(0) - lit(halfWindow - 1))
        .withColumn("_wj", origin(1) - lit(halfWindow - 1))
    val inFrame = axes.indices.flatMap { d =>
      val f = col(s"_f${Coord(d)}")
      val last = axes(d).size - 1
      if (d == 0 && periodic) Seq(f < lit(axes(d).size.toDouble))
      else if (halfWindow == 0 || d > 1) Seq(f >= 0.0, f <= lit(last.toDouble))
      else {
        val w = col(if (d == 0) "_wi" else "_wj")
        Seq(f >= 0.0, f <= lit(last.toDouble), w >= 0,
          w + (n - 1) <= lit(last))
      }
    }
    withWindow.filter(inFrame.reduce(_ && _))
  }

  /** Irregular lattice: per axis the bracketing indexes (i0, i1) of one
    * probe (fields 1..rank of `r`) and its fraction (v − v0)/(v1 − v0)
    * between the axis values — the broadcast kernels' search and
    * weight. None when a coordinate is null or cannot be framed.
    */
  private def bracket(axes: Seq[Axis], r: Row)
      : Option[IndexedSeq[(Int, Int, Double)]] = {
    val b = axes.indices.map { d =>
      if (r.isNullAt(d + 1)) None
      else {
        val v = r.getDouble(d + 1)
        axes(d).findIndexes(v).map { case (i0, i1) =>
          val v0 = axes(d)(i0)
          val v1 = axes(d)(i1)
          (i0, i1, if (v1 == v0) 0.0 else (v - v0) / (v1 - v0))
        }
      }
    }
    if (b.forall(_.isDefined)) Some(b.map(_.get)) else None
  }

  /** Probe id and coordinates, cast to double, for the irregular paths. */
  private def probeCoords(withId: DataFrame, probeCols: Seq[String])
      : DataFrame =
    withId.select(
      col("_rid") +: probeCols.map(c => col(c).cast("double")): _*)

  /** Geometric path: each framed probe fans out to its 2^d bracketing
    * corners (x outermost, corner order (0,0)…(1,1)) weighted
    * w_x·w_y[·w_z[·w_u]], an equi-join on the cell key pulls the corner
    * values, and a groupBy reassembles sum(w·z). A corner missing from
    * the join — an absent or null lattice cell — fails the 2^d
    * completeness check, so the probe yields NaN like a NaN cell of the
    * dense grid. Returns (_rid, _v).
    */
  private def cornerJoin(withId: DataFrame, cells: DataFrame,
                         probeCols: Seq[String], axes: Seq[Axis],
                         periodic: Boolean,
                         irregular: Option[Broadcast[Seq[Axis]]])
      : DataFrame = {
    val rank = axes.size
    val keys = axes.indices.map(cellKey)
    val nx = axes.head.size
    def bit(corner: Int, d: Int): Int = (corner >> (rank - 1 - d)) & 1
    val corners = irregular match {
      case None =>
        val structs = (0 until (1 << rank)).map { c =>
          val idx = axes.indices.map { d =>
            val k = origin(d) + bit(c, d)
            // seam wrap of the right corner column
            (if (d == 0 && periodic) pmod(k, lit(nx)) else k).as(keys(d))
          }
          val w = axes.indices.map { d =>
            if (bit(c, d) == 1) frac(d) else lit(1.0) - frac(d)
          }.reduceLeft(_ * _)
          struct(idx :+ w.as("_w"): _*)
        }
        regularFrame(withId, probeCols, axes, periodic, 0)
          .select(col("_rid"), explode(array(structs: _*)).as("_c"))
          .select(col("_rid") +:
            (keys :+ "_w").map(k => col(s"_c.$k").as(k)): _*)
      case Some(bcAxes) =>
        probeCoords(withId, probeCols).flatMap { r =>
          bracket(bcAxes.value, r) match {
            case Some(b) =>
              Iterator.tabulate(1 << rank) { c =>
                val idx = axes.indices.map(d =>
                  if (bit(c, d) == 1) b(d)._2 else b(d)._1)
                val w = axes.indices.map(d =>
                  if (bit(c, d) == 1) b(d)._3 else 1 - b(d)._3)
                  .reduceLeft(_ * _)
                Row.fromSeq((r.getLong(0) +: idx) :+ w)
              }
            case None => Iterator.empty
          }
        }(rowEncoder((("_rid" -> LongType) +: keys.map(_ -> IntegerType)) :+
          ("_w" -> DoubleType)))
    }
    corners.join(cells, keys)
      .groupBy("_rid")
      .agg(sum(col("_w") * col("_z")).as("_v"), count(lit(1)).as("_n"))
      .select(col("_rid"), when(col("_n") === (1 << rank), col("_v"))
        .otherwise(lit(Double.NaN)).as("_v"))
  }

  /** Windowed path on the [[WindowedTileJoin]] tile-halo plan: each framed
    * probe becomes one [[TileProbe]] keyed by its window origin (with its
    * z/u bracket and combine fractions), the cells fan out to the window
    * tiles that need them, and each tile evaluates its probes on the
    * SAME kernels as the broadcast path. A periodic x evaluates at the
    * UNWRAPPED window coordinate front + fx·step (fx − wi lies in
    * [halfWindow−1, halfWindow), always inside the unwrapped xs frame);
    * otherwise the raw x is kept. Returns (_rid, _v).
    */
  private def windowJoin(spark: SparkSession, withId: DataFrame,
                         cells: DataFrame, probeCols: Seq[String],
                         axes: Seq[Axis], periodic: Boolean,
                         irregular: Option[Broadcast[Seq[Axis]]],
                         w: Windowing): DataFrame = {
    import spark.implicits._
    val rank = axes.size
    val hw = w.halfWindow
    val probes: Dataset[TileProbe] = irregular match {
      case None =>
        val xAxis = axes.head
        val xEval =
          if (periodic) lit(xAxis.front) + col("_fx") * lit(xAxis.step)
          else col(probeCols(0)).cast("double")
        def orZero(d: Int, c: Column, zero: Any) =
          if (d < rank) c else lit(zero)
        regularFrame(withId, probeCols, axes, periodic, hw)
          .select(col("_rid"), xEval, col(probeCols(1)).cast("double"),
            orZero(2, frac(2), 0.0), orZero(3, frac(3), 0.0), col("_wi"),
            col("_wj"), orZero(2, origin(2), 0), orZero(3, origin(3), 0))
          .as[(Long, Double, Double, Double, Double, Int, Int, Int, Int)]
          .map { case (rid, x, y, tz, tu, wi, wj, k0, l0) =>
            WindowedTileJoin.probe(rid, x, y, tz, tu, wi, wj, k0, l0)
          }
      case Some(bcAxes) =>
        val nx = axes(0).size
        val ny = axes(1).size
        probeCoords(withId, probeCols).flatMap { r =>
          bracket(bcAxes.value, r) match {
            case Some(b) =>
              val wi = b(0)._1 - (hw - 1)
              val wj = b(1)._1 - (hw - 1)
              def plane(d: Int) = if (d < rank) b(d) else (0, 0, 0.0)
              if (wi >= 0 && wi + (2 * hw - 1) <= nx - 1 &&
                  wj >= 0 && wj + (2 * hw - 1) <= ny - 1)
                Iterator.single(WindowedTileJoin.probe(r.getLong(0),
                  r.getDouble(1), r.getDouble(2), plane(2)._3, plane(3)._3,
                  wi, wj, plane(2)._1, plane(3)._1))
              else Iterator.empty
            case None => Iterator.empty
          }
        }
    }
    val tileCells = WindowedTileJoin.fanOutCells(spark, cells, hw,
      axes.map(_.size), periodic)
    WindowedTileJoin.evaluate(spark, probes, tileCells, rank, w.method,
      w.zMethod, w.uMethod, hw, axes(0), axes(1), irregular.isEmpty)
  }

  /** Grid-as-table bilinear interpolation — the big-grid path (SURVEY
    * §1.1 row 3; reference behavior `pybind/geometric/bivariate.hpp:
    * 48-97` over grids the reference memory-maps,
    * `pyinterp/backends/xarray.py:582-688`): the lattice is NEVER
    * collected or broadcast. Axis roles are inferred like `GridLoader`;
    * only the O(nx + ny) distinct axis values reach the driver. Each probe
    * row fans out to its 4 bracketing corners, a shuffle equi-join on the
    * (ix, iy) corner key pulls the corner values from the cell table, and
    * a groupBy reassembles sum(w·z) — two keyed shuffles, no driver
    * state, AQE-skew-safe. Probes outside the axes, probes with a null
    * coordinate, and probes with a masked (absent or null) corner cell
    * yield NaN — the broadcast path's semantics.
    *
    * Accepts regular ascending axes (pure column-arithmetic cell keys),
    * IRREGULAR ascending axes (the axis value arrays are broadcast and
    * the bracket comes from the same `Axis.findIndexes` binary search as
    * the broadcast kernel; the join plan is identical), and a GLOBAL
    * lon-periodic lattice — the single most common huge grid — declared
    * by `xPeriod` (e.g. 360.0): the lattice must cover the full circle
    * (nx·step = period), probe coordinates normalize into the period
    * (`math/axis.hpp:294-333` semantics), the x bracket never rejects,
    * and the seam cell's right corners wrap to lattice column 0
    * (`findIndexes` wrap, `axis.hpp:722-778`).
    */
  def bivariateTable(spark: SparkSession, probe: DataFrame, xCol: String,
                     yCol: String, gridTable: DataFrame,
                     valueCol: String = "",
                     outputCol: String = "value",
                     xPeriod: Double = 0.0): DataFrame =
    tableInterpolate(spark, probe, Seq(xCol, yCol), gridTable, "", "",
      valueCol, outputCol, xPeriod, "bivariateTable", None)

  /** 3-D grid-as-table trilinear interpolation: [[bivariateTable]]'s
    * corner join extended to the 8 bracketing lattice corners (bilinear in
    * (x, y) × linear in z — the geometric trivariate semantics,
    * `pybind/geometric/trivariate.hpp:46-120`). Same scale contract,
    * irregular axes and `xPeriod` seam as [[bivariateTable]]; z is
    * `zColName`, else the time role.
    */
  def trivariateTable(spark: SparkSession, probe: DataFrame, xCol: String,
                      yCol: String, zCol: String, gridTable: DataFrame,
                      zColName: String = "", valueCol: String = "",
                      outputCol: String = "value",
                      xPeriod: Double = 0.0): DataFrame =
    tableInterpolate(spark, probe, Seq(xCol, yCol, zCol), gridTable,
      zColName, "", valueCol, outputCol, xPeriod, "trivariateTable", None)

  /** 4-D grid-as-table QUADRILINEAR interpolation: [[trivariateTable]]'s
    * corner join extended to the 16 bracketing lattice corners (the
    * geometric quadrivariate semantics,
    * `pybind/geometric/quadrivariate.hpp`). The 4th axis column must be
    * named by `uColName`. The lattice never leaves the cluster.
    */
  def quadrivariateTable(spark: SparkSession, probe: DataFrame,
                         xCol: String, yCol: String, zCol: String,
                         uCol: String, gridTable: DataFrame,
                         zColName: String = "", uColName: String = "",
                         valueCol: String = "",
                         outputCol: String = "value",
                         xPeriod: Double = 0.0): DataFrame =
    tableInterpolate(spark, probe, Seq(xCol, yCol, zCol, uCol), gridTable,
      zColName, uColName, valueCol, outputCol, xPeriod,
      "quadrivariateTable", None)

  /** Grid-as-table WINDOWED interpolation (r3 VERDICT item 1): bicubic /
    * spline_bilinear / the separable univariate family over a lattice too
    * large for the broadcast gate — the reference's flagship windowed
    * methods (`math/interpolate/bivariate/bicubic.hpp:89-186`, default of
    * `pyinterp/regular_grid_interpolator.py:45-63`) without ever
    * collecting the grid.
    *
    * Plan ([[WindowedTileJoin]], tile-halo co-partitioning): probes and
    * lattice cells are both keyed by WINDOW TILE and co-grouped in one
    * shuffle each — each cell ships once per tile (+ once more in the
    * (2·halfWindow-1)-cell halo band), NOT once per referencing probe,
    * so shuffle volume is ~1 probe pass + ~1.2 lattice passes instead of
    * the (2·halfWindow)² per-probe stencil fan-out. Per tile the cells
    * fill a dense local block and the SAME core kernels as the broadcast
    * path ([[graft.core.Bicubic]] / [[graft.core.Univariate1D]] /
    * cspline) evaluate origin-sorted probes with a last-window fit cache
    * — so table ≡ broadcast to the last bit. Probes whose window cannot
    * be framed (boundary `undef` semantics), with a null coordinate, or
    * with a missing/masked stencil cell yield NaN, matching the
    * broadcast kernel.
    *
    * Requires ascending axes of at least 2·halfWindow nodes — regular
    * (affine cell keys, fully codegen) or IRREGULAR (broadcast axis
    * arrays + the broadcast kernel's findIndexes binary search; same
    * tile-halo plan, window nodes read from the value arrays). A GLOBAL
    * lon-periodic lattice is declared by `xPeriod` (e.g. 360.0; requires
    * nx·step = period): probe x normalizes into the period, the x frame
    * never rejects, and windows crossing the seam pull their stencil
    * columns through `floorMod(wi+di, nx)` — the broadcast window's wrap
    * (`math/interpolate/cache_loader.hpp:110-133` semantics). The
    * evaluator then works in UNWRAPPED window coordinates (xs may extend
    * past the axis ends by < halfWindow·step), exactly like the
    * broadcast kernel's monotonic window unwrap.
    */
  def bivariateTableWindowed(spark: SparkSession, probe: DataFrame,
                             xCol: String, yCol: String,
                             gridTable: DataFrame,
                             method: String = "bicubic",
                             halfWindow: Int = 3,
                             valueCol: String = "",
                             outputCol: String = "value",
                             xPeriod: Double = 0.0): DataFrame =
    tableInterpolate(spark, probe, Seq(xCol, yCol), gridTable, "", "",
      valueCol, outputCol, xPeriod, "bivariateTableWindowed",
      Some(Windowing(method, "", "", halfWindow)))

  /** 3-D grid-as-table WINDOWED interpolation: the reference's flagship
    * trivariate semantics — windowed bicubic/spline in the (x, y) plane
    * on the two z-bracketing planes, then linear (or nearest) combine
    * along z (`pybind/windowed/trivariate.hpp:36-113`) — for lattices too
    * large for the broadcast gate. [[bivariateTableWindowed]]'s
    * tile-halo plan ([[WindowedTileJoin]]) extended with the z bracket:
    * probes key by (window tile, z-plane tile), cells ship once per tile
    * (+ xy halo band + one halo plane — replication ~1.2·(1+1/tilePlane),
    * NOT the 72× per-probe stencil fan-out), and the per-tile eval runs
    * the SAME kernels as the broadcast path per plane before the z
    * combine. Probes outside the frame, and windows with missing/masked
    * cells, yield NaN (boundary `undef`); the linear z combine is
    * v0 + t·(v1 − v0) on BOTH bracketing planes even at t = 0 or 1 —
    * the broadcast kernel's exact op order and NaN propagation. A
    * GLOBAL lon-periodic lattice is declared by `xPeriod` exactly as on
    * [[bivariateTableWindowed]].
    */
  def trivariateTableWindowed(spark: SparkSession, probe: DataFrame,
                              xCol: String, yCol: String, zCol: String,
                              gridTable: DataFrame,
                              method: String = "bicubic",
                              zMethod: String = "linear",
                              halfWindow: Int = 3,
                              zColName: String = "", valueCol: String = "",
                              outputCol: String = "value",
                              xPeriod: Double = 0.0): DataFrame =
    tableInterpolate(spark, probe, Seq(xCol, yCol, zCol), gridTable,
      zColName, "", valueCol, outputCol, xPeriod, "trivariateTableWindowed",
      Some(Windowing(method, zMethod, "", halfWindow)))

  /** 4-D grid-as-table WINDOWED interpolation: windowed bicubic/spline in
    * the (x, y) plane on the FOUR (z, u)-bracketing planes, then bilinear
    * (or nearest per axis) combine across (z, u) — the
    * `pybind/windowed/quadrivariate.hpp` semantics for lattices above the
    * broadcast gate. Runs on the [[WindowedTileJoin]] tile-halo plan
    * (probes and cells co-grouped by (xy tile, z tile, u tile); cell
    * replication ~1.2·(1+1/tilePlane)², NOT the 144× per-probe stencil
    * fan-out). The linear combine is the broadcast kernel's nested lerp
    * (u outer, z inner, v0 + t·(v1 − v0) at each level) — bit-identical
    * op order and NaN propagation; nearest snaps per axis and only
    * assembles the snapped plane. A GLOBAL lon-periodic lattice is
    * declared by `xPeriod` exactly as on [[bivariateTableWindowed]].
    */
  def quadrivariateTableWindowed(spark: SparkSession, probe: DataFrame,
                                 xCol: String, yCol: String, zCol: String,
                                 uCol: String, gridTable: DataFrame,
                                 method: String = "bicubic",
                                 zMethod: String = "linear",
                                 uMethod: String = "linear",
                                 halfWindow: Int = 3,
                                 zColName: String = "", uColName: String = "",
                                 valueCol: String = "",
                                 outputCol: String = "value",
                                 xPeriod: Double = 0.0): DataFrame =
    tableInterpolate(spark, probe, Seq(xCol, yCol, zCol, uCol), gridTable,
      zColName, uColName, valueCol, outputCol, xPeriod,
      "quadrivariateTableWindowed",
      Some(Windowing(method, zMethod, uMethod, halfWindow)))

  /** Univariate interpolation / derivative over a broadcast 1-D grid —
    * the `pyinterp.univariate` / `univariate_derivative` entry points
    * (`regular_grid_interpolator.py` univariate path): the chosen
    * [[graft.core.Univariate1D]] method is fitted ONCE per partition and
    * evaluated per row; `derivative = true` emits the fitted curve's
    * derivative instead of its value.
    */
  def univariate(spark: SparkSession, df: DataFrame, xCol: String,
                 grid: Grid1D, method: String,
                 derivative: Boolean = false,
                 outputCol: String = "value"): DataFrame = {
    val bc = spark.sparkContext.broadcast(grid)
    val outSchema = StructType(df.schema.fields :+
      StructField(outputCol, DoubleType, nullable = false))
    val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val xIdx = df.schema.fieldIndex(xCol)
    val m = method
    val deriv = derivative
    df.mapPartitions { iter =>
      val g = bc.value
      val interp = graft.core.Univariate1D(m)
      val ok = interp.fit(g.axis.values, g.values)
      iter.map { row =>
        val x = row.getDouble(xIdx)
        val v =
          if (!ok) Double.NaN
          else if (deriv) interp.derivative(x)
          else interp.value(x)
        Row.fromSeq(row.toSeq :+ v)
      }
    }(enc)
  }

  /** Trivariate interpolation: bivariate on the two z-bracketing planes,
    * then linear (or nearest) combine along z
    * (`pybind/geometric/trivariate.hpp:46-120`,
    * `pybind/windowed/trivariate.hpp:36-113`).
    */
  def trivariate(spark: SparkSession, df: DataFrame, xCol: String,
                 yCol: String, zCol: String, grid: Grid3D, method: String,
                 zMethod: String = "linear", halfWindow: Int = 3,
                 boundary: Boundary.Value = Boundary.Undef,
                 outputCol: String = "value"): DataFrame = {
    val bc = spark.sparkContext.broadcast(grid)
    val outSchema = StructType(df.schema.fields :+
      StructField(outputCol, DoubleType, nullable = false))
    val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val xIdx = df.schema.fieldIndex(xCol)
    val yIdx = df.schema.fieldIndex(yCol)
    val zIdx = df.schema.fieldIndex(zCol)
    val m = method
    val zm = zMethod
    val hw = halfWindow
    val bdy = boundary
    df.mapPartitions { iter =>
      val g = bc.value
      val nz = g.zAxis.size
      // one bivariate kernel per z-plane, built lazily and cached
      val planes = new Array[BivariateKernel](nz)
      def planeKernel(k: Int): BivariateKernel = {
        if (planes(k) == null) {
          val vals = new Array[Double](g.xAxis.size * g.yAxis.size)
          var i = 0
          while (i < g.xAxis.size) {
            var j = 0
            while (j < g.yAxis.size) {
              vals(i * g.yAxis.size + j) = g(i, j, k)
              j += 1
            }
            i += 1
          }
          planes(k) = new BivariateKernel(
            Grid2D(g.xAxis, g.yAxis, vals), m, hw, bdy)
        }
        planes(k)
      }
      iter.map { row =>
        val x = row.getDouble(xIdx)
        val y = row.getDouble(yIdx)
        val z = row.getDouble(zIdx)
        val v = g.zAxis.findIndexes(z) match {
          case None => Double.NaN
          case Some((k0, k1)) =>
            val z0 = g.zAxis(k0)
            val z1 = g.zAxis(k1)
            if (zm == "nearest") {
              val k = if (math.abs(z - z0) <= math.abs(z1 - z)) k0 else k1
              planeKernel(k)(x, y)
            } else {
              val v0 = planeKernel(k0)(x, y)
              val v1 = planeKernel(k1)(x, y)
              val t = if (z1 == z0) 0.0 else (z - z0) / (z1 - z0)
              v0 + t * (v1 - v0)
            }
        }
        Row.fromSeq(row.toSeq :+ v)
      }
    }(enc)
  }
}

/** Quadrivariate: 2 (or 4) bivariate surfaces on the bracketing (z, u)
  * planes, then linear/nearest combine along z and u
  * (`pybind/windowed/quadrivariate.hpp`, `pybind/geometric/
  * quadrivariate.hpp` structure). Companion to
  * [[GridInterpolator.trivariate]].
  */
object QuadrivariateInterpolator {
  def quadrivariate(spark: SparkSession, df: DataFrame, xCol: String,
                    yCol: String, zCol: String, uCol: String, grid: Grid4D,
                    method: String, zMethod: String = "linear",
                    uMethod: String = "linear", halfWindow: Int = 3,
                    boundary: Boundary.Value = Boundary.Undef,
                    outputCol: String = "value"): DataFrame = {
    val bc = spark.sparkContext.broadcast(grid)
    val outSchema = StructType(df.schema.fields :+
      StructField(outputCol, DoubleType, nullable = false))
    val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val xIdx = df.schema.fieldIndex(xCol)
    val yIdx = df.schema.fieldIndex(yCol)
    val zIdx = df.schema.fieldIndex(zCol)
    val uIdx = df.schema.fieldIndex(uCol)
    val m = method
    val zm = zMethod
    val um = uMethod
    val hw = halfWindow
    val bdy = boundary
    df.mapPartitions { iter =>
      val g = bc.value
      // per-(z-plane, u-level) bivariate kernels, built lazily
      val kernels = new java.util.HashMap[(Int, Int), BivariateKernel]()
      def kernel(k: Int, l: Int): BivariateKernel = {
        var kr = kernels.get((k, l))
        if (kr == null) {
          val vals = new Array[Double](g.xAxis.size * g.yAxis.size)
          var i = 0
          while (i < g.xAxis.size) {
            var j = 0
            while (j < g.yAxis.size) {
              vals(i * g.yAxis.size + j) = g(i, j, k, l)
              j += 1
            }
            i += 1
          }
          kr = new BivariateKernel(Grid2D(g.xAxis, g.yAxis, vals), m, hw, bdy)
          kernels.put((k, l), kr)
        }
        kr
      }
      def alongZ(x: Double, y: Double, z: Double, l: Int): Double =
        g.zAxis.findIndexes(z) match {
          case None => Double.NaN
          case Some((k0, k1)) =>
            val z0 = g.zAxis(k0)
            val z1 = g.zAxis(k1)
            if (zm == "nearest") {
              val k = if (math.abs(z - z0) <= math.abs(z1 - z)) k0 else k1
              kernel(k, l)(x, y)
            } else {
              val v0 = kernel(k0, l)(x, y)
              val v1 = kernel(k1, l)(x, y)
              val t = if (z1 == z0) 0.0 else (z - z0) / (z1 - z0)
              v0 + t * (v1 - v0)
            }
        }
      iter.map { row =>
        val x = row.getDouble(xIdx)
        val y = row.getDouble(yIdx)
        val z = row.getDouble(zIdx)
        val u = row.getDouble(uIdx)
        val v = g.uAxis.findIndexes(u) match {
          case None => Double.NaN
          case Some((l0, l1)) =>
            val u0 = g.uAxis(l0)
            val u1 = g.uAxis(l1)
            if (um == "nearest") {
              val l = if (math.abs(u - u0) <= math.abs(u1 - u)) l0 else l1
              alongZ(x, y, z, l)
            } else {
              val v0 = alongZ(x, y, z, l0)
              val v1 = alongZ(x, y, z, l1)
              val t = if (u1 == u0) 0.0 else (u - u0) / (u1 - u0)
              v0 + t * (v1 - v0)
            }
        }
        Row.fromSeq(row.toSeq :+ v)
      }
    }(enc)
  }
}

/** Per-partition bivariate kernel with the geometric / windowed dispatch
  * of `pyinterp/regular_grid_interpolator.py:45-63`. Windowed path keeps
  * a per-instance window cache (reload only when the query leaves the
  * cached window — `math/interpolate/cache.hpp` behavior), so feeding
  * cell-sorted partitions makes consecutive lookups cache hits.
  */
final class BivariateKernel(grid: Grid2D, method: String, halfWindow: Int,
                            boundary: Boundary.Value) extends Serializable {
  private val xAxis = grid.xAxis
  private val yAxis = grid.yAxis

  // window cache state (windowed methods)
  private var cachedXIdx: Array[Int] = null
  private var cachedYIdx: Array[Int] = null
  private var cachedBicubic: Bicubic = null
  private var cachedXs: Array[Double] = null
  private var cachedYs: Array[Double] = null
  private var cachedZ: Array[Array[Double]] = null

  def apply(x: Double, y: Double): Double = method match {
    case "bilinear" | "idw" | "nearest" => geometric(x, y)
    case "bicubic" => windowedBicubic(x, y)
    case "spline_bilinear" => windowedSplineLinear(x, y)
    // windowed separable univariate methods
    // (`regular_grid_interpolator.py:49-63` windowed set)
    case "akima" | "akima_periodic" | "c_spline" | "c_spline_not_a_knot" |
         "c_spline_periodic" | "linear" | "polynomial" | "steffen" =>
      windowedSeparable(x, y)
    case other => throw new IllegalArgumentException(s"method $other")
  }

  @transient private lazy val uniY = graft.core.Univariate1D(method)
  // reused across evaluations: window shapes are constant per kernel
  @transient private var sepTmp: Array[Double] = null
  // per-window cached row fits: the x-direction fits are query-independent,
  // so an unchanged window answers each probe with evaluations + ONE
  // y-direction fit instead of (rows+1) fits (the q_akima_grid hot spot)
  @transient private var sepRowFits: Array[graft.core.Univariate1D] = null
  @transient private var sepRowOk: Array[Boolean] = null
  private var sepFitsValid = false

  /** Separable application of a univariate method: fit along x for each
    * window row, then along y (`math/interpolate/bivariate/spline.hpp`
    * structure generalized to every univariate kernel).
    */
  private def windowedSeparable(x: Double, y: Double): Double = {
    if (!loadWindow(x, y)) return Double.NaN
    val xq = queryX(x)
    val ny = cachedYs.length
    if (sepTmp == null || sepTmp.length != ny)
      sepTmp = new Array[Double](ny)
    if (!sepFitsValid) {
      if (sepRowFits == null || sepRowFits.length != ny) {
        sepRowFits = Array.fill(ny)(graft.core.Univariate1D(method))
        sepRowOk = new Array[Boolean](ny)
      }
      var j = 0
      while (j < ny) {
        // fresh slice per row: fit() retains the array reference
        val colv = new Array[Double](cachedXs.length)
        var i = 0
        while (i < cachedXs.length) { colv(i) = cachedZ(i)(j); i += 1 }
        sepRowOk(j) = sepRowFits(j).fit(cachedXs, colv)
        j += 1
      }
      sepFitsValid = true
    }
    var j = 0
    while (j < ny) {
      if (!sepRowOk(j)) return Double.NaN
      sepTmp(j) = sepRowFits(j).value(xq)
      j += 1
    }
    if (!uniY.fit(cachedYs, sepTmp)) return Double.NaN
    uniY.value(y)
  }

  private def geometric(x: Double, y: Double): Double = {
    val fx = xAxis.findIndexes(x)
    val fy = yAxis.findIndexes(y)
    if (fx.isEmpty || fy.isEmpty) return Double.NaN
    val (i0, i1) = fx.get
    val (j0, j1) = fy.get
    val x0 = xAxis(i0)
    var x1 = xAxis(i1)
    val y0 = yAxis(j0)
    val y1 = yAxis(j1)
    // periodic seam: keep x1 on the +period side of x0
    var xq = xAxis.normalize(x)
    if (xAxis.isPeriodic && x1 < x0) x1 += xAxis.period
    if (xAxis.isPeriodic && xq < x0) xq += xAxis.period
    val q00 = grid(i0, j0)
    val q01 = grid(i0, j1)
    val q10 = grid(i1, j0)
    val q11 = grid(i1, j1)
    method match {
      case "bilinear" => Interpolate.bilinear(xq, y, x0, y0, x1, y1, q00, q01, q10, q11)
      case "idw" => Interpolate.idw4(xq, y, x0, y0, x1, y1, q00, q01, q10, q11)
      case "nearest" => Interpolate.nearest4(xq, y, x0, y0, x1, y1, q00, q01, q10, q11)
    }
  }

  private def loadWindow(x: Double, y: Double): Boolean = {
    val wx = xAxis.window(x, halfWindow, boundary)
    val wy = yAxis.window(y, halfWindow, boundary)
    if (wx.isEmpty || wy.isEmpty) return false
    val xi = wx.get._1
    val yi = wy.get._1
    if (cachedXIdx != null && java.util.Arrays.equals(xi, cachedXIdx) &&
        java.util.Arrays.equals(yi, cachedYIdx)) return true
    val xs = new Array[Double](xi.length)
    var unwrapOffset = 0.0
    var prev = Double.NegativeInfinity
    var i = 0
    while (i < xi.length) {
      var xv = xAxis(xi(i)) + unwrapOffset
      if (xAxis.isPeriodic && xv <= prev) { // wrap across seam
        unwrapOffset += xAxis.period
        xv = xAxis(xi(i)) + unwrapOffset
      }
      xs(i) = xv
      prev = xv
      i += 1
    }
    val ys = yi.map(yAxis(_))
    val z = Array.ofDim[Double](xi.length, yi.length)
    i = 0
    while (i < xi.length) {
      var j = 0
      while (j < yi.length) {
        z(i)(j) = grid(xi(i), yi(j))
        j += 1
      }
      i += 1
    }
    cachedXIdx = xi
    cachedYIdx = yi
    cachedXs = xs
    cachedYs = ys
    cachedZ = z
    cachedBicubic = null
    sepFitsValid = false
    true
  }

  /** Normalize query x into the cached (possibly unwrapped) window. */
  private def queryX(x: Double): Double = {
    if (!xAxis.isPeriodic) return x
    var xq = xAxis.normalize(x)
    if (xq < cachedXs(0)) xq += xAxis.period
    xq
  }

  private def windowedBicubic(x: Double, y: Double): Double = {
    if (!loadWindow(x, y)) return Double.NaN
    if (cachedBicubic == null)
      cachedBicubic = new Bicubic(cachedXs, cachedYs, cachedZ)
    cachedBicubic(queryX(x), y)
  }

  /** Separable spline: cspline along x for each window row, then along y
    * (`math/interpolate/bivariate/spline.hpp` behavior).
    */
  private def windowedSplineLinear(x: Double, y: Double): Double = {
    if (!loadWindow(x, y)) return Double.NaN
    val xq = queryX(x)
    val tmp = new Array[Double](cachedYs.length)
    var j = 0
    while (j < cachedYs.length) {
      val colv = new Array[Double](cachedXs.length)
      var i = 0
      while (i < cachedXs.length) { colv(i) = cachedZ(i)(j); i += 1 }
      tmp(j) = Interpolate.cspline(cachedXs, colv, xq)
      j += 1
    }
    Interpolate.cspline(cachedYs, tmp, y)
  }
}

/** One assembled (2·halfWindow)² window's kernel: the SAME evaluation as
  * [[BivariateKernel]] — lazily-built [[graft.core.Bicubic]], per-row
  * separable [[graft.core.Univariate1D]] fits, or cspline
  * (spline_bilinear) — over a fixed window. The tile-local evaluation
  * stage of [[WindowedTileJoin]] builds one per window (per bracketing
  * z/u plane on the 3-D/4-D paths) from its dense cell block.
  */
private[operators] final class WindowFit(method: String, n: Int,
    xs: Array[Double], ys: Array[Double], z: Array[Array[Double]]) {
  private var bicubic: Bicubic = null
  private var rowFits: Array[graft.core.Univariate1D] = null
  private var rowOk: Array[Boolean] = null
  private var sepFitsValid = false
  private lazy val uniY = graft.core.Univariate1D(method)
  private val sepTmp = new Array[Double](n)

  def eval(x: Double, y: Double): Double = method match {
    case "bicubic" =>
      if (bicubic == null) bicubic = new Bicubic(xs, ys, z)
      bicubic(x, y)
    case "spline_bilinear" => splineLinear(x, y)
    case _ => sepEval(x, y)
  }

  /** Mirror of [[BivariateKernel]].windowedSeparable: fit along x per
    * window row (cached for the window's lifetime), evaluate, fit along y.
    */
  private def sepEval(x: Double, y: Double): Double = {
    if (!sepFitsValid) {
      rowFits = Array.fill(n)(graft.core.Univariate1D(method))
      rowOk = new Array[Boolean](n)
      var j = 0
      while (j < n) {
        val colv = new Array[Double](n)
        var i = 0
        while (i < n) { colv(i) = z(i)(j); i += 1 }
        rowOk(j) = rowFits(j).fit(xs, colv)
        j += 1
      }
      sepFitsValid = true
    }
    var j = 0
    while (j < n) {
      if (!rowOk(j)) return Double.NaN
      sepTmp(j) = rowFits(j).value(x)
      j += 1
    }
    if (!uniY.fit(ys, sepTmp)) return Double.NaN
    uniY.value(y)
  }

  /** Mirror of [[BivariateKernel]].windowedSplineLinear. */
  private def splineLinear(x: Double, y: Double): Double = {
    val tmp = new Array[Double](n)
    var j = 0
    while (j < n) {
      val colv = new Array[Double](n)
      var i = 0
      while (i < n) { colv(i) = z(i)(j); i += 1 }
      tmp(j) = Interpolate.cspline(xs, colv, x)
      j += 1
    }
    Interpolate.cspline(ys, tmp, y)
  }
}
