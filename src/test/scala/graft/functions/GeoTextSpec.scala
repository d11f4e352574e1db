package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SparkTestSession

class GeoTextSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("WKT polygon with a hole round-trips; text matches boost form") {
    val df = Seq((1L,
      Seq(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0),
      Seq(2.0, 2.0, 4.0, 2.0, 4.0, 4.0, 2.0, 4.0)))
      .toDF("id", "ext", "hole")
    val rings = array(col("ext"), col("hole"))
    val out = df.select(
      GeoText.asWktPolygon(rings).as("wkt"),
      transform(GeoText.fromWktPolygon(GeoText.asWktPolygon(rings)),
        r => GeoText.dropClosing(r)).as("parsed")).head()
    assert(out.getString(0) ===
      "POLYGON ((0.0 0.0, 10.0 0.0, 10.0 10.0, 0.0 10.0, 0.0 0.0), " +
        "(2.0 2.0, 4.0 2.0, 4.0 4.0, 2.0 4.0, 2.0 2.0))")
    val parsed = out.getSeq[Seq[Double]](1)
    assert(parsed(0) === Seq(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0))
    assert(parsed(1) === Seq(2.0, 2.0, 4.0, 2.0, 4.0, 4.0, 2.0, 4.0))
  }

  test("WKT point / linestring / multipolygon forms") {
    val df = Seq((0.5, -1.25, Seq(0.0, 0.0, 1.0, 2.0, 3.0, 1.0)))
      .toDF("x", "y", "line")
    val r = df.select(
      GeoText.asWktPoint(col("x"), col("y")).as("pt"),
      GeoText.fromWktPoint(GeoText.asWktPoint(col("x"), col("y")))
        .as("pt_rt"),
      GeoText.asWktLineString(col("line")).as("ls"),
      GeoText.fromWktLineString(GeoText.asWktLineString(col("line")))
        .as("ls_rt"),
      GeoText.asWktMultiPolygon(array(
        array(array(lit(0.0), lit(0.0), lit(1.0), lit(0.0), lit(1.0),
          lit(1.0))),
        array(array(lit(5.0), lit(5.0), lit(6.0), lit(5.0), lit(6.0),
          lit(6.0))))).as("mp")).head()
    assert(r.getString(0) === "POINT (0.5 -1.25)")
    assert(r.getSeq[Double](1) === Seq(0.5, -1.25))
    assert(r.getString(2) === "LINESTRING (0.0 0.0, 1.0 2.0, 3.0 1.0)")
    assert(r.getSeq[Double](3) === Seq(0.0, 0.0, 1.0, 2.0, 3.0, 1.0))
    assert(r.getString(4) ===
      "MULTIPOLYGON (((0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 0.0)), " +
        "((5.0 5.0, 6.0 5.0, 6.0 6.0, 5.0 5.0)))")
  }

  test("GeoJSON polygon with hole round-trips through from_json") {
    val df = Seq((1L,
      Seq(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0),
      Seq(2.0, 2.0, 4.0, 2.0, 4.0, 4.0, 2.0, 4.0)))
      .toDF("id", "ext", "hole")
    val rings = array(col("ext"), col("hole"))
    val out = df.select(
      GeoText.asGeoJsonPolygon(rings).as("gj"),
      transform(GeoText.fromGeoJsonPolygon(GeoText.asGeoJsonPolygon(rings)),
        r => GeoText.dropClosing(r)).as("parsed")).head()
    assert(out.getString(0).startsWith(
      "{\"type\":\"Polygon\",\"coordinates\":[[[0.0,0.0],[10.0,0.0],"))
    val parsed = out.getSeq[Seq[Double]](1)
    assert(parsed(0) === Seq(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0))
    assert(parsed(1) === Seq(2.0, 2.0, 4.0, 2.0, 4.0, 4.0, 2.0, 4.0))
  }
}

/** Geometry accessor tail (reference transform/num_geometries/
  * num_interior_rings/unique) as pure column functions.
  */
class AccessorTailSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = graft.operators.SparkTestSession.spark
  import org.apache.spark.sql.functions._
  import graft.functions.gf

  test("box_to_ring follows boost convert vertex order (ll,ul,ur,lr)") {
    import spark.implicits._
    val out = Seq((1.0, 2.0, 5.0, 7.0)).toDF("x0", "y0", "x1", "y1")
      .select(gf.box_to_ring(col("x0"), col("y0"), col("x1"), col("y1")))
      .head().getSeq[Double](0)
    assert(out === Seq(1.0, 2.0, 1.0, 7.0, 5.0, 7.0, 5.0, 2.0))
  }

  test("num_geometries / num_interior_rings count members and holes") {
    import spark.implicits._
    val ring = Seq(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0)
    val hole = Seq(1.0, 1.0, 2.0, 1.0, 2.0, 2.0, 1.0, 2.0)
    val df = Seq(
      (Seq(ring), Seq(ring)),              // single, no holes
      (Seq(ring, hole), Seq(ring, hole)),  // two members / one hole
      (Seq.empty[Seq[Double]], Seq.empty[Seq[Double]]))
      .toDF("multi", "poly")
    val rows = df.select(gf.num_geometries(col("multi")),
      gf.num_interior_rings(col("poly"))).collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq ===
      Seq((1, 0), (2, 1), (0, 0)))
  }

  test("unique_vertex_count drops consecutive duplicates, keeps closing") {
    import spark.implicits._
    val df = Seq(
      Seq(0.0, 0.0, 1.0, 0.0, 1.0, 1.0),                     // 3 distinct
      Seq(0.0, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0, 1.0),           // one dup
      Seq(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 0.0),           // closed ring
      Seq(2.0, 3.0),                                         // single point
      Seq.empty[Double])
      .toDF("ring")
    val counts = df.select(gf.unique_vertex_count(col("ring")))
      .collect().map(_.getInt(0)).toSeq
    assert(counts === Seq(3, 3, 4, 1, 0))
  }
}

class PolygonCacheSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.unsafe.types.UTF8String
  import graft.core.Polygon2D

  test("the polygon parse cache stays within its cap; answers unchanged") {
    // more distinct polygon texts than the cache holds: every answer must
    // equal the uncached polygon's, and the cache never grows past the cap
    val rng = new scala.util.Random(5)
    val n = Kernels.PolyCacheCap + 300
    for (k <- 0 until n) {
      val (cx, cy, r) = (k * 0.5, rng.nextDouble() * 10, 1.0 + (k % 7))
      val poly = Polygon2D(Array((cx - r, cy - r), (cx + r, cy - r),
        (cx + r, cy + r), (cx - r, cy + r)),
        Array(Array((cx - 0.2, cy - 0.2), (cx + 0.2, cy - 0.2),
          (cx + 0.2, cy + 0.2), (cx - 0.2, cy + 0.2))))
      val text = poly.serialize
      val parsed = Polygon2D.deserialize(text)
      val utf = UTF8String.fromString(text)
      // a probe inside, on the hole boundary, in the hole, on the outer
      // boundary and outside; the first visit parses, the rest are hits
      for ((x, y) <- Seq((cx + 0.5, cy), (cx + 0.2, cy), (cx, cy),
          (cx + r, cy), (cx + r + 1, cy))) {
        assert(Kernels.stWithin(x, y, utf) === parsed.contains(x, y), s"$k")
        assert(Kernels.stCoveredBy(x, y, utf) === parsed.coveredBy(x, y),
          s"$k")
      }
      assert(Kernels.polyCacheSize <= Kernels.PolyCacheCap, s"$k")
    }
    assert(Kernels.polyCacheSize === Kernels.PolyCacheCap)
  }
}
