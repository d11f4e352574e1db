package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GeoHash, Polygon2D}
import graft.functions.{PolygonAtContains, gf}

/** Point-in-polygon join with the two-phase filter-refine structure of the
  * reference's spatial queries (cell prune -> exact predicate). [[join]]
  * picks the path by polygon count:
  *
  *   - **small polygon set** (at most `broadcastThreshold`): the polygons
  *     are broadcast and each point partition scans them in a
  *     `mapPartitions`, testing the bounding box before the exact test —
  *     no shuffle of the point side at all;
  *   - **large polygon set**: the driver builds a cover table of each
  *     polygon's cells (`geohash/int64.hpp:138-163` bounding_boxes
  *     semantics), points carry their cell, an **equi-join on cell**
  *     prunes, and the exact test refines each candidate against the
  *     polygon, looked up by index in a broadcast array. Catalyst
  *     broadcasts the cover table while it is below
  *     `spark.sql.autoBroadcastJoinThreshold` and shuffles both sides into
  *     a sort-merge join above it. Cells fully classified inside could
  *     skip the refine; we keep the uniform refine for exactness.
  *
  * Output: point columns + `poly_id`. Boundary semantics are boost
  * `within` (exclusive) like the reference's vectorized `within=True`
  * path (`for_each_point_within.hpp:36-79`); pass `coveredBy = true` for
  * the inclusive variant.
  */
object PipJoin {

  def join(spark: SparkSession, points: DataFrame, xCol: String, yCol: String,
           polygons: Seq[(Long, Polygon2D)], precision: Int = 20,
           broadcastThreshold: Int = 64, coveredBy: Boolean = false): DataFrame = {
    if (polygons.size <= broadcastThreshold)
      broadcastJoin(spark, points, xCol, yCol, polygons, coveredBy)
    else
      cellJoin(spark, points, xCol, yCol, polygons, precision, coveredBy)
  }

  /** Broadcast path: one boolean predicate column per polygon would blow
    * the plan up for many polygons; instead a single mapPartitions probe
    * over a broadcast in-memory polygon list with a per-partition bbox
    * prefilter. Kept as a DataFrame flatMap to stay typed.
    */
  def broadcastJoin(spark: SparkSession, points: DataFrame, xCol: String,
                    yCol: String, polygons: Seq[(Long, Polygon2D)],
                    coveredBy: Boolean = false): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
    val bc = spark.sparkContext.broadcast(polygons.toArray)
    val outSchema = StructType(points.schema.fields :+
      StructField("poly_id", LongType, nullable = false))
    val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val xIdx = points.schema.fieldIndex(xCol)
    val yIdx = points.schema.fieldIndex(yCol)
    val inclusive = coveredBy
    points.mapPartitions { iter =>
      val polys = bc.value
      val bboxes = polys.map(_._2.bbox)
      iter.flatMap { row =>
        val x = row.getDouble(xIdx)
        val y = row.getDouble(yIdx)
        polys.indices.iterator.filter { i =>
          val (x0, y0, x1, y1) = bboxes(i)
          x >= x0 && x <= x1 && y >= y0 && y <= y1 &&
            (if (inclusive) polys(i)._2.coveredBy(x, y)
             else polys(i)._2.contains(x, y))
        }.map(i => Row.fromSeq(row.toSeq :+ polys(i)._1))
      }
    }(enc)
  }

  /** Cell path: a cover table (cell, poly_id, poly_idx) equi-joined with
    * the cell-encoded points, then the exact test on `polygons(poly_idx)`
    * from one broadcast of the parsed polygons.
    */
  def cellJoin(spark: SparkSession, points: DataFrame, xCol: String,
               yCol: String, polygons: Seq[(Long, Polygon2D)],
               precision: Int, coveredBy: Boolean = false): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val polys = polygons.toArray
    val covers = polys.indices.flatMap { i =>
      val (id, poly) = polys(i)
      GeoHash.coverPolygon(poly, precision).map(c => (c, id, i))
    }.toDF("cell", "poly_id", "poly_idx")
    val bc = spark.sparkContext.broadcast(polys.map(_._2))
    val inside = column(PolygonAtContains(expression(col(xCol)),
      expression(col(yCol)), expression(col("poly_idx")), bc, coveredBy))
    points.withColumn("cell", gf.geohash_encode(col(xCol), col(yCol), precision))
      .join(covers, Seq("cell"), "inner")
      .filter(inside)
      .drop("cell", "poly_idx")
  }
}
