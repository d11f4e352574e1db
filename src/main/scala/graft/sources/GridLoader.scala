package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Axis
import graft.operators.{Grid2D, Grid3D, Grid4D}

/** CF-convention grid ingestion from long-format columnar tables — the
  * engine's analog of the reference's xarray backend
  * (`/root/reference/pyinterp/backends/xarray.py:582-660` axis
  * identification, `pyinterp/cf.py:28-77` unit sets): each row is one
  * grid cell (coord columns + a value column); axis roles are inferred
  * from column metadata `units` (CF unit names) first, then from
  * conventional column names. Axes must form a regular-or-irregular
  * lattice; missing cells, and cells with a null value, become NaN.
  *
  * The lattice VALUES are collected to the driver — a grid is broadcast
  * metadata for the interpolation map stage (same memory contract as the
  * reference's in-memory xarray grids). The contract is ENFORCED: a
  * Catalyst size estimate gates the collect (`maxCollectBytes`, default
  * [[DefaultMaxCollectBytes]]) and oversized lattices fail fast with a
  * pointer to the grid-as-table join path
  * (`GridInterpolator.bivariateTable`), which never leaves the cluster.
  */
object GridLoader {

  private val LonUnits = Set("degrees_east", "degree_east", "degree_e",
    "degrees_e", "degreee", "degreese")
  private val LatUnits = Set("degrees_north", "degree_north", "degree_n",
    "degrees_n", "degreen", "degreesn")
  private val LonNames = Set("lon", "longitude", "x")
  private val LatNames = Set("lat", "latitude", "y")
  private val TimeNames = Set("time", "date", "t", "z")

  final case class AxisRoles(lon: Option[String], lat: Option[String],
                             time: Option[String])

  /** Identify axis roles from `units` metadata, then name heuristics. */
  def identifyAxes(df: DataFrame): AxisRoles = {
    var lon: Option[String] = None
    var lat: Option[String] = None
    var time: Option[String] = None
    df.schema.fields.foreach { f =>
      val units =
        if (f.metadata.contains("units"))
          f.metadata.getString("units").toLowerCase
        else ""
      val name = f.name.toLowerCase
      if (lon.isEmpty && (LonUnits.contains(units) ||
        LonNames.contains(name))) lon = Some(f.name)
      else if (lat.isEmpty && (LatUnits.contains(units) ||
        LatNames.contains(name))) lat = Some(f.name)
      else if (time.isEmpty && (TimeNames.contains(name) ||
        f.dataType.typeName.startsWith("timestamp"))) time = Some(f.name)
    }
    AxisRoles(lon, lat, time)
  }

  /** Column roles of a long-format lattice of `rank` (2-4) axes, in axis
    * order: lon (x) and lat (y) from [[identifyAxes]], then z
    * (`zColName`, else the time role) and u (`uColName`, required — the
    * 4th axis has no naming convention); the value column is `valueCol`,
    * else the first remaining column. Errors name `caller`, the public
    * entry point that was called. The one place that decides which
    * column plays which role for the loaders below and the
    * grid-as-table paths of `GridInterpolator`.
    */
  private[graft] def latticeColumns(df: DataFrame, rank: Int, caller: String,
                                    zColName: String = "",
                                    uColName: String = "",
                                    valueCol: String = "")
      : (Seq[String], String) = {
    val roles = identifyAxes(df)
    val lonCol = roles.lon.getOrElse(
      throw new IllegalArgumentException("no longitude/x axis identified"))
    val latCol = roles.lat.getOrElse(
      throw new IllegalArgumentException("no latitude/y axis identified"))
    val zCol =
      if (rank < 3) Nil
      else if (zColName.nonEmpty) Seq(zColName)
      else Seq(roles.time.getOrElse(
        throw new IllegalArgumentException("no time/z axis identified")))
    if (rank == 4) require(uColName.nonEmpty,
      s"$caller: name the 4th axis column via uColName")
    val axisCols = Seq(lonCol, latCol) ++ zCol ++
      (if (rank == 4) Seq(uColName) else Nil)
    val vCol =
      if (valueCol.nonEmpty) valueCol
      else df.schema.fields.map(_.name).filterNot(axisCols.contains)
        .headOption
        .getOrElse(throw new IllegalArgumentException("no value column"))
    (axisCols, vCol)
  }

  /** Distinct sorted coordinate values of several axes in ONE scan
    * (`collect_set` aggregates) — only O(axis length) values reach the
    * driver (the d-th root of the lattice size), never the lattice, and
    * a d-dimensional load costs one pass instead of d distinct+sort
    * jobs over the full table.
    */
  private[graft] def axesOf(df: DataFrame, cols: Seq[String]): Seq[Axis] = {
    val aggs = cols.map(c => collect_set(col(c).cast("double")).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.indices.map(i => Axis(row.getSeq[Double](i).toArray.sorted))
  }

  /** Default byte budget for collecting a lattice to the driver (the
    * broadcast-grid contract). Above it [[grid2d]]/[[grid3d]] fail fast —
    * use `GridInterpolator.bivariateTable`, which interpolates via a
    * distributed corner join and never materializes the lattice.
    */
  val DefaultMaxCollectBytes: Long = 256L << 20

  /** Fail fast BEFORE collecting an oversized lattice: the gate uses
    * Catalyst's optimizer size estimate (file statistics — no scan), the
    * same no-count gate as `KnnJoin.useBroadcast`.
    */
  private def gateCollect(df: DataFrame, maxBytes: Long, what: String): Unit = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    require(est <= BigInt(maxBytes),
      s"$what: estimated table size $est B exceeds the driver-collect " +
        s"budget $maxBytes B; this grid is broadcast metadata and must fit " +
        "in driver/executor memory. For larger grids use " +
        "GridInterpolator.bivariateTable (grid-as-table corner join) or " +
        "raise maxCollectBytes explicitly.")
  }

  /** Collect a lattice of `rank` axes to the driver: its axes and the
    * x-major dense values (`((i·ny + j)·nz + k)·nu + l`). A cell whose
    * row is absent, or whose coordinate or value is null, stays NaN —
    * a masked cell.
    */
  private def collectLattice(df: DataFrame, rank: Int, caller: String,
                             maxCollectBytes: Long, zColName: String = "",
                             uColName: String = "", valueCol: String = "")
      : (Seq[Axis], Array[Double]) = {
    gateCollect(df, maxCollectBytes, s"GridLoader.$caller")
    val (axisCols, vCol) =
      latticeColumns(df, rank, caller, zColName, uColName, valueCol)
    val axes = axesOf(df, axisCols)
    val vals = Array.fill(axes.map(_.size).product)(Double.NaN)
    // one narrow pass mapping coordinates to axis indexes (regular axes
    // index by arithmetic, irregular ones by the Axis binary search)
    df.select((axisCols :+ vCol).map(c => col(c).cast("double")): _*)
      .collect().foreach { r =>
        if (!(0 to rank).exists(r.isNullAt)) {
          var idx = 0
          var d = 0
          while (d < rank && idx >= 0) {
            val i = axes(d).findIndex(r.getDouble(d), bounded = false)
            idx = if (i < 0) -1 else idx * axes(d).size + i
            d += 1
          }
          if (idx >= 0) vals(idx) = r.getDouble(rank)
        }
      }
    (axes, vals)
  }

  /** Load a 2-D grid: axis roles inferred, value column given (or the
    * single non-axis numeric column).
    */
  def grid2d(df: DataFrame, valueCol: String = "",
             maxCollectBytes: Long = DefaultMaxCollectBytes): Grid2D = {
    val (Seq(x, y), vals) = collectLattice(df, 2, "grid2d", maxCollectBytes,
      valueCol = valueCol)
    Grid2D(x, y, vals)
  }

  /** Load a 3-D grid (lon, lat, time-or-z). */
  def grid3d(df: DataFrame, zColName: String = "",
             valueCol: String = "",
             maxCollectBytes: Long = DefaultMaxCollectBytes): Grid3D = {
    val (Seq(x, y, z), vals) = collectLattice(df, 3, "grid3d",
      maxCollectBytes, zColName, valueCol = valueCol)
    Grid3D(x, y, z, vals)
  }

  /** 4-D broadcastable grid from a table — the Grid4D analog of
    * [[grid3d]]. The 4th axis has no universal naming convention, so
    * `uColName` is required; z defaults to the time role. Same collect
    * gate and NaN-for-missing-cell semantics; lattices above the gate
    * belong on `GridInterpolator.quadrivariateTable[Windowed]`.
    */
  def grid4d(df: DataFrame, uColName: String, zColName: String = "",
             valueCol: String = "",
             maxCollectBytes: Long = DefaultMaxCollectBytes): Grid4D = {
    val (Seq(x, y, z, u), vals) = collectLattice(df, 4, "grid4d",
      maxCollectBytes, zColName, uColName, valueCol)
    Grid4D(x, y, z, u, vals)
  }
}
