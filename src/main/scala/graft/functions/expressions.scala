package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import graft.core.Polygon2D

/** Catalyst expressions for the cell codec and geodesy — fully
  * codegen-compatible (each `doGenCode` emits a single static call into
  * [[Kernels]], or one call on a broadcast polygon array), so they stay
  * inside whole-stage codegen next to parquet scans and joins.
  *
  * Reference semantics: geohash-int64 codec
  * (`/root/reference/cxx/src/library/geohash/int64.cpp`), point-in-polygon
  * predicates (`pybind/geometry/algorithms/for_each_point_within.hpp`),
  * LLA->ECEF (`geometry/geographic/coordinates.hpp:90-112`).
  */
case class GeohashEncode(lon: Expression, lat: Expression, precision: Expression)
    extends TernaryExpression {
  override def first: Expression = lon
  override def second: Expression = lat
  override def third: Expression = precision
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Kernels.geohashEncode(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.Kernels.geohashEncode($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

case class GeohashLon(hash: Expression, precision: Expression)
    extends BinaryExpression {
  override def left: Expression = hash
  override def right: Expression = precision
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.geohashLon(a.asInstanceOf[Long], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.geohashLon($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(l, r)
}

case class GeohashLat(hash: Expression, precision: Expression)
    extends BinaryExpression {
  override def left: Expression = hash
  override def right: Expression = precision
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.geohashLat(a.asInstanceOf[Long], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.geohashLat($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(l, r)
}

case class GeohashArea(hash: Expression, precision: Expression)
    extends BinaryExpression {
  override def left: Expression = hash
  override def right: Expression = precision
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.geohashArea(a.asInstanceOf[Long], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.geohashArea($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(l, r)
}

/** 8-neighborhood of a cell, N..NW order (`int64.cpp:225-253`). */
case class GeohashNeighbors(hash: Expression, precision: Expression)
    extends BinaryExpression {
  override def left: Expression = hash
  override def right: Expression = precision
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayData.toArrayData(
      Kernels.geohashNeighbors(a.asInstanceOf[Long], b.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      "org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.Kernels.geohashNeighbors($a, $b))")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(l, r)
}

/** Boundary-exclusive point-in-polygon (boost `within` semantics). */
case class StWithin(x: Expression, y: Expression, poly: Expression)
    extends TernaryExpression {
  override def first: Expression = x
  override def second: Expression = y
  override def third: Expression = poly
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Kernels.stWithin(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.Kernels.stWithin($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** Boundary-inclusive containment (boost `covered_by` semantics). */
case class StCoveredBy(x: Expression, y: Expression, poly: Expression)
    extends TernaryExpression {
  override def first: Expression = x
  override def second: Expression = y
  override def third: Expression = poly
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Kernels.stCoveredBy(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.Kernels.stCoveredBy($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** Exact refine of [[graft.operators.PipJoin.cellJoin]]: the polygon is
  * `polygons(idx)` of an array parsed once on the driver and broadcast,
  * so a candidate row carries an int index instead of polygon text.
  * `inclusive` selects boost `covered_by` over `within`.
  */
private[graft] case class PolygonAtContains(x: Expression, y: Expression,
    idx: Expression, polygons: Broadcast[Array[Polygon2D]], inclusive: Boolean)
    extends TernaryExpression {
  override def first: Expression = x
  override def second: Expression = y
  override def third: Expression = idx
  override def dataType: DataType = BooleanType

  @transient private lazy val polys: Array[Polygon2D] = polygons.value

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val p = polys(c.asInstanceOf[Int])
    if (inclusive) p.coveredBy(a.asInstanceOf[Double], b.asInstanceOf[Double])
    else p.contains(a.asInstanceOf[Double], b.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("polygons", polygons)
    val polys = ctx.addMutableState("graft.core.Polygon2D[]", "polys",
      v => s"$v = (graft.core.Polygon2D[]) $bc.value();")
    val test = if (inclusive) "coveredBy" else "contains"
    defineCodeGen(ctx, ev, (a, b, c) => s"$polys[$c].$test($a, $b)")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(x = f, y = s, idx = t)
}

/** Great-circle distance (m) on the mean sphere. */
case class HaversineDistance(lon1: Expression, lat1: Expression,
                             lon2: Expression, lat2: Expression)
    extends QuaternaryExpression {
  override def first: Expression = lon1
  override def second: Expression = lat1
  override def third: Expression = lon2
  override def fourth: Expression = lat2
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Kernels.haversine(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.Kernels.haversine($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression = copy(f, s, t, q)
}

/** ECEF chord distance between two geodetic points — the metric of the
  * reference's geodetic kNN (`pybind/rtree.hpp:253-275`).
  */
case class EcefDistance(lon1: Expression, lat1: Expression,
                        lon2: Expression, lat2: Expression)
    extends QuaternaryExpression {
  override def first: Expression = lon1
  override def second: Expression = lat1
  override def third: Expression = lon2
  override def fourth: Expression = lat2
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Kernels.ecefDistance(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.Kernels.ecefDistance($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression = copy(f, s, t, q)
}

/** Column-level API, mirroring `org.apache.spark.sql.functions`. */
object gf {
  import org.apache.spark.sql.functions.lit

  private def col(e: Expression): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(e)
  private def expr(c: Column): Expression =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)

  def geohash_encode(lon: Column, lat: Column, precision: Int): Column =
    col(GeohashEncode(expr(lon), expr(lat), expr(lit(precision))))

  def geohash_lon(hash: Column, precision: Int): Column =
    col(GeohashLon(expr(hash), expr(lit(precision))))

  def geohash_lat(hash: Column, precision: Int): Column =
    col(GeohashLat(expr(hash), expr(lit(precision))))

  def geohash_area(hash: Column, precision: Int): Column =
    col(GeohashArea(expr(hash), expr(lit(precision))))

  def geohash_neighbors(hash: Column, precision: Int): Column =
    col(GeohashNeighbors(expr(hash), expr(lit(precision))))

  /** Coarsen a cell id by dropping precision bits (logical shift). */
  def geohash_coarsen(hash: Column, fromPrecision: Int, toPrecision: Int): Column =
    org.apache.spark.sql.functions.shiftrightunsigned(hash,
      fromPrecision - toPrecision)

  def st_within(x: Column, y: Column, poly: graft.core.Polygon2D): Column =
    col(StWithin(expr(x), expr(y), expr(lit(poly.serialize))))

  def st_covered_by(x: Column, y: Column, poly: graft.core.Polygon2D): Column =
    col(StCoveredBy(expr(x), expr(y), expr(lit(poly.serialize))))

  def haversine(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    col(HaversineDistance(expr(lon1), expr(lat1), expr(lon2), expr(lat2)))

  def ecef_distance(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    col(EcefDistance(expr(lon1), expr(lat1), expr(lon2), expr(lat2)))

  // ---- geometry accessor tail --------------------------------------------
  // The reference binds these as unary algorithms over opaque C++
  // geometry objects (`cxx/src/pybind/geometry/geographic/algorithm/
  // transform_geographic.cpp`, `num_geometries_geographic.cpp`,
  // `num_interior_rings_geographic.cpp`, `unique_geographic.cpp`).
  // In the table encoding (interleaved-coordinate arrays; polygons as
  // array-of-rings outer::holes; multis as array-of-geometries) they are
  // pure Catalyst column functions — whole-stage-codegen, no kernels.

  /** `transform`/convert of a box to its ring (boost::geometry::convert
    * box→ring vertex order: lower-left, upper-left, upper-right,
    * lower-right; closing point implicit in the unclosed storage).
    */
  def box_to_ring(x0: Column, y0: Column, x1: Column, y1: Column): Column =
    org.apache.spark.sql.functions.array(x0, y0, x0, y1, x1, y1, x1, y0)

  /** boost num_geometries over a multi-geometry column
    * (array-of-geometries): the member count, 0 when empty/null.
    */
  def num_geometries(multi: Column): Column = {
    import org.apache.spark.sql.functions._
    coalesce(size(multi), lit(0))
  }

  /** boost num_interior_rings over a polygon column (array-of-rings,
    * element 1 = outer, rest = holes).
    */
  def num_interior_rings(poly: Column): Column = {
    import org.apache.spark.sql.functions._
    greatest(coalesce(size(poly), lit(0)) - 1, lit(0))
  }

  /** Vertex count after boost::geometry::unique — consecutive duplicate
    * points removed; a closing point equal to the FIRST vertex is not
    * consecutive-duplicate and is preserved, matching the reference's
    * ring note. Pure higher-order column functions (filter/sequence).
    */
  def unique_vertex_count(ring: Column): Column = {
    import org.apache.spark.sql.functions._
    val n = (coalesce(size(ring), lit(0)) / 2).cast("int")
    when(n <= 1, n).otherwise(lit(1) +
      size(filter(sequence(lit(1), n - 1), i =>
        element_at(ring, i * 2 + 1) =!= element_at(ring, i * 2 - 1) ||
          element_at(ring, i * 2 + 2) =!= element_at(ring, i * 2))))
  }
}
