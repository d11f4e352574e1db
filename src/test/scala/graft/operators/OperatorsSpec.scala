package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Axis, GeoHash, Polygon2D}
import graft.functions.{PolygonAtContains, StCoveredBy, StWithin, gf}

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
}

/** End-to-end DataFrame tests reproducing reference test values
  * (`pyinterp/tests/core/test_binning.py`, `tests/test_rtree.py`,
  * `tests/core/windowed/test_bivariate.py`).
  */
class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("geohash_encode expression matches core codec") {
    val df = Seq((2.35, 48.85), (-122.42, 37.77), (0.0, 0.0))
      .toDF("lon", "lat")
    val got = df.select(gf.geohash_encode($"lon", $"lat", 40)).as[Long]
      .collect()
    val expect = Seq(GeoHash.encode(2.35, 48.85, 40),
      GeoHash.encode(-122.42, 37.77, 40), GeoHash.encode(0.0, 0.0, 40))
    assert(got.toSeq == expect)
  }

  test("geohash decode expressions invert encode") {
    val df = Seq((5.3, 43.3)).toDF("lon", "lat")
      .withColumn("cell", gf.geohash_encode($"lon", $"lat", 40))
    val row = df.select(gf.geohash_lon($"cell", 40),
      gf.geohash_lat($"cell", 40)).head
    assert(math.abs(row.getDouble(0) - 5.3) < 1e-4)
    assert(math.abs(row.getDouble(1) - 43.3) < 1e-4)
  }

  test("st_within expression") {
    val poly = Polygon2D(Array((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)))
    val df = Seq((1.0, 1.0), (3.0, 3.0)).toDF("x", "y")
    val got = df.select(gf.st_within($"x", $"y", poly)).as[Boolean].collect()
    assert(got.toSeq == Seq(true, false))

    // Literal and column-valued polygons must agree in generated code and
    // in the interpreted path. An RDD source keeps the optimizer from
    // folding the projection into a local relation, which would bypass
    // codegen.
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    def within(p: org.apache.spark.sql.Column) =
      column(StWithin(expression($"x"), expression($"y"), expression(p)))
    def coveredBy(p: org.apache.spark.sql.Column) =
      column(StCoveredBy(expression($"x"), expression($"y"), expression(p)))
    val small = "0 0;1 0;1 1;0 1"
    val big = poly.serialize
    val rows = spark.sparkContext.parallelize(Seq[(Double, Double, String)](
      (0.5, 0.5, small), (1.5, 1.5, small), (1.5, 1.5, big),
      (2.0, 1.0, big), (1.0, 0.5, small), (0.5, 0.5, null)), 2)
      .toDF("x", "y", "poly")
    for ((wholeStage, factory) <- Seq(("true", "FALLBACK"), ("false", "NO_CODEGEN"))) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try {
        val sel = rows.select(
          within($"poly"), coveredBy($"poly"),
          gf.st_within($"x", $"y", poly), gf.st_covered_by($"x", $"y", poly))
        val codegen = sel.queryExecution.executedPlan.collectFirst {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
        }.isDefined
        assert(codegen == wholeStage.toBoolean, sel.queryExecution.executedPlan)
        val out = sel.collect().map(r => (0 until 4).map(i =>
          if (r.isNullAt(i)) None else Some(r.getBoolean(i)))).toSeq
        val T = Some(true); val F = Some(false)
        assert(out == Seq(
          Seq(T, T, T, T),          // inside both polygons
          Seq(F, F, T, T),          // outside the row's small polygon
          Seq(T, T, T, T),          // same point, the row's big polygon
          Seq(F, T, F, T),          // on the big polygon's edge
          Seq(F, T, T, T),          // on the small polygon's edge
          Seq(None, None, T, T)),   // null polygon
          s"wholeStage=$wholeStage")
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("expressions survive whole-stage codegen") {
    val df = spark.range(1000).select(
      (col("id") % 360 - 180).cast("double").as("lon"),
      (col("id") % 180 - 90).cast("double").as("lat"))
    val n = df.withColumn("cell", gf.geohash_encode($"lon", $"lat", 30))
      .filter($"cell" > 0).count()
    assert(n > 0)
  }
}

class BinningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val axes3 = Axis.regular(0.0, 2.0, 3)

  test("simple binning reproduces test_binning.py count/sum/mean") {
    val binning = new Binning2D(axes3, axes3)
    val df = Seq((0.0, 0.0, 1.0), (1.0, 1.0, 2.0), (2.0, 2.0, 3.0))
      .toDF("x", "y", "z")
    val out = binning.simple(df, $"x", $"y", $"z")
      .select("ix", "iy", "count", "sum", "mean").collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out((0, 0)) == ((1L, 1.0, 1.0)))
    assert(out((1, 1)) == ((1L, 2.0, 2.0)))
    assert(out((2, 2)) == ((1L, 3.0, 3.0)))
  }

  test("simple binning mean over repeated bin (test_binning.py:115-128)") {
    val binning = new Binning2D(axes3, axes3)
    val df = Seq((0.0, 0.0, 1.0), (0.0, 0.0, 3.0), (1.0, 1.0, 2.0))
      .toDF("x", "y", "z")
    val out = binning.simple(df, $"x", $"y", $"z")
      .select("ix", "iy", "mean").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(out((0, 0)) == 2.0)
    assert(out((1, 1)) == 2.0)
  }

  test("NaN values are skipped") {
    val binning = new Binning2D(axes3, axes3)
    val df = Seq((0.0, 0.0, Double.NaN), (1.0, 1.0, 2.0)).toDF("x", "y", "z")
    val out = binning.simple(df, $"x", $"y", $"z").collect()
    assert(out.length == 1)
  }

  test("simple binning clamps out-of-range to edge bins (bounded)") {
    val binning = new Binning2D(axes3, axes3)
    val df = Seq((-5.0, 0.0, 1.0), (9.0, 2.0, 2.0)).toDF("x", "y", "z")
    val out = binning.simple(df, $"x", $"y", $"z")
      .select("ix", "iy").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(out == Set((0, 0), (2, 2)))
  }

  test("linear binning spreads weight over 4 bins with bilinear weights") {
    val binning = new Binning2D(axes3, axes3)
    val df = Seq((0.25, 0.75, 2.0)).toDF("x", "y", "z")
    val out = binning.linear(df, $"x", $"y", $"z")
      .select("ix", "iy", "sum_of_weights").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    // t=0.25, u=0.75: w00=.1875 w01=.5625 w11=.1875 w10=.0625
    assert(math.abs(out((0, 0)) - 0.1875) < 1e-12)
    assert(math.abs(out((0, 1)) - 0.5625) < 1e-12)
    assert(math.abs(out((1, 1)) - 0.1875) < 1e-12)
    assert(math.abs(out((1, 0)) - 0.0625) < 1e-12)
  }

  test("binning is partitioning-invariant (dask parity, test_dask.py:341)") {
    val rng = new scala.util.Random(5)
    val rows = Seq.fill(2000)((rng.nextDouble() * 2, rng.nextDouble() * 2,
      rng.nextDouble() * 10))
    val df1 = rows.toDF("x", "y", "z").repartition(1)
    val df8 = rows.toDF("x", "y", "z").repartition(8)
    val binning = new Binning2D(axes3, axes3)
    def result(df: org.apache.spark.sql.DataFrame) =
      binning.simple(df, $"x", $"y", $"z")
        .select("ix", "iy", "count", "mean", "variance")
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)),
          (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val a = result(df1)
    val b = result(df8)
    assert(a.keySet == b.keySet)
    a.foreach { case (k, (c, m, v)) =>
      assert(b(k)._1 == c)
      assert(math.abs(b(k)._2 - m) < 1e-10)
      assert(math.abs(b(k)._3 - v) < 1e-8)
    }
  }

  test("1d weighted binning with range filter (test_binning.py:388-417)") {
    val axis5 = Axis.regular(0.0, 4.0, 5)
    val b1 = new Binning1D(axis5, range = Some((0.0, 2.0)))
    val df = Seq((0.0, 1.0, 1.0), (1.0, 2.0, 2.0), (3.5, 9.0, 1.0))
      .toDF("x", "z", "w")
    val out = b1.push(df, $"x", $"z", $"w")
      .select("ix", "sum_of_weights", "mean").collect()
    assert(out.length == 2) // x=3.5 filtered by range
    val m = out.map(r => (r.getInt(0), (r.getDouble(1), r.getDouble(2)))).toMap
    assert(m(0) == ((1.0, 1.0)))
    assert(m(1) == ((2.0, 2.0)))
  }
}

class KnnJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 5x5 cartesian grid fixture of test_rtree.py:36-57. */
  def buildGrid(): org.apache.spark.sql.DataFrame = {
    val rows = for {
      i <- 0 to 4; j <- 0 to 4
    } yield (i.toDouble, j.toDouble,
      math.sqrt(i.toDouble * i + j.toDouble * j), (i * 5 + j).toLong)
    rows.toDF("x", "y", "value", "id")
  }

  def queries(): org.apache.spark.sql.DataFrame =
    (for { i <- 0 to 3; j <- 0 to 3 }
      yield ((i * 4 + j).toLong, i + 0.5, j + 0.5)).toDF("qid", "x", "y")

  test("cell-center IDW k=4 equals corner average (broadcast path)") {
    val cfg = KnnJoin.Config(k = 4, geodetic = false)
    val out = KnnJoin.idw(spark, buildGrid(), queries(), cfg)
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getInt(2)))).toMap
    for { i <- 0 to 3; j <- 0 to 3 } {
      val qid = (i * 4 + j).toLong
      def v(a: Int, b: Int) = math.sqrt(a.toDouble * a + b.toDouble * b)
      val expect = (v(i, j) + v(i + 1, j) + v(i, j + 1) + v(i + 1, j + 1)) / 4
      assert(math.abs(out(qid)._1 - expect) < 1e-12, s"qid $qid")
      assert(out(qid)._2 == 4)
    }
  }

  test("shuffle path equals broadcast path") {
    val cfgB = KnnJoin.Config(k = 4, geodetic = false, precision = 16)
    val cfgS = cfgB.copy(broadcastThreshold = 0L)
    val a = KnnJoin.idw(spark, buildGrid(), queries(), cfgB)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val b = KnnJoin.idw(spark, buildGrid(), queries(), cfgS)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(math.abs(b(k) - v) < 1e-12, s"qid $k") }
  }

  test("exact hit shortcut returns stored value") {
    val cfg = KnnJoin.Config(k = 4, geodetic = false)
    val probe = Seq((0L, 2.0, 2.0)).toDF("qid", "x", "y")
    val out = KnnJoin.idw(spark, buildGrid(), probe, cfg).head
    assert(out.getDouble(1) == math.sqrt(8.0))
  }

  test("radius filter yields NaN when no neighbors") {
    val cfg = KnnJoin.Config(k = 4, geodetic = false, radius = 0.1)
    val probe = Seq((0L, 0.5, 0.5)).toDF("qid", "x", "y")
    val out = KnnJoin.idw(spark, buildGrid(), probe, cfg).head
    assert(out.getDouble(1).isNaN && out.getInt(2) == 0)
  }

  test("knnJoinFlat ranks by distance") {
    val cfg = KnnJoin.Config(k = 3, geodetic = false)
    val probe = Seq((7L, 0.1, 0.1)).toDF("qid", "x", "y")
    val out = KnnJoin.knnJoinFlat(spark, buildGrid(), probe, cfg)
      .orderBy("rank").collect()
    assert(out.length == 3)
    assert(out(0).getLong(1) == 0L) // nearest is (0,0)
    assert(out(0).getDouble(2) <= out(1).getDouble(2))
  }

  test("geodetic IDW reproduces smooth field (test_rtree.py geographic)") {
    // points: lon in [-5,15], lat in [40,50], value = 10 + .5 lon + .3 lat
    val rows = for { i <- 0 to 4; j <- 0 to 4 } yield {
      val lon = -5.0 + 5.0 * i
      val lat = 40.0 + 2.5 * j
      (lon, lat, 10.0 + 0.5 * lon + 0.3 * lat, (i * 5 + j).toLong)
    }
    val build = rows.toDF("x", "y", "value", "id")
    val probe = Seq((0L, 5.0, 45.0), (1L, 2.6, 44.2)).toDF("qid", "x", "y")
    val cfg = KnnJoin.Config(k = 8, geodetic = true)
    val out = KnnJoin.idw(spark, build, probe, cfg)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // exact node hit
    assert(math.abs(out(0L) - (10.0 + 2.5 + 13.5)) < 1e-9)
    // interpolated: near linear field value
    assert(math.abs(out(1L) - (10.0 + 0.5 * 2.6 + 0.3 * 44.2)) < 0.5)
  }

  test("window function boxcar equals plain average of k neighbors") {
    val cfg = KnnJoin.Config(k = 4, geodetic = false,
      windowKernel = "boxcar")
    val probe = Seq((0L, 1.5, 1.5)).toDF("qid", "x", "y")
    val out = KnnJoin.windowFunction(spark, buildGrid(), probe, cfg).head
    def v(a: Int, b: Int) = math.sqrt(a.toDouble * a + b.toDouble * b)
    val expect = (v(1, 1) + v(2, 1) + v(1, 2) + v(2, 2)) / 4
    assert(math.abs(out.getDouble(1) - expect) < 1e-12)
  }

  test("rbf linear kernel reproduces linear field") {
    val rows = for { i <- 0 to 4; j <- 0 to 4 }
      yield (i.toDouble, j.toDouble, 2.0 * i + 3.0 * j, (i * 5 + j).toLong)
    val build = rows.toDF("x", "y", "value", "id")
    val probe = Seq((0L, 1.5, 2.5)).toDF("qid", "x", "y")
    val cfg = KnnJoin.Config(k = 9, geodetic = false)
    val out = KnnJoin.rbf(spark, build, probe, cfg, kernel = "linear").head
    // plain RBF (no polynomial drift, like the reference rbf.hpp) is only
    // approximately exact on linear fields — few-percent tolerance
    assert(math.abs(out.getDouble(1) - (2.0 * 1.5 + 3.0 * 2.5)) < 0.5)
  }
}

class PipJoinSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val square = Polygon2D(Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)))
  val triangle = Polygon2D(Array((20.0, 20.0), (30.0, 20.0), (25.0, 30.0)))

  def points() = Seq(
    (1L, 5.0, 5.0), (2L, 25.0, 22.0), (3L, 15.0, 15.0), (4L, 0.0, 5.0))
    .toDF("pid", "x", "y")

  test("broadcast PIP join assigns polygons, boundary exclusive") {
    val out = PipJoin.broadcastJoin(spark, points(), "x", "y",
      Seq((100L, square), (200L, triangle)))
      .select("pid", "poly_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 100L), (2L, 200L))) // pid 4 on boundary: excluded
  }

  /** About 50 seeded polygons over [-7, 7]^2: stars (every fourth spans
    * many cells), rectangles with triangular holes, a 4x4 tiling of
    * squares that share edges, and triangles. The points sit on every
    * vertex, on every edge midpoint, inside every hole, and at random.
    */
  def seededInput(seed: Long): (Seq[(Long, Polygon2D)], Seq[(Long, Double, Double)]) = {
    val rnd = new scala.util.Random(seed)
    def u(lo: Double, hi: Double): Double = lo + (hi - lo) * rnd.nextDouble()
    val stars = (0 until 16).map { i =>
      val (cx, cy) = (u(-5, 5), u(-5, 5))
      val r = if (i % 4 == 0) u(1.5, 3.0) else u(0.1, 0.8)
      Polygon2D((0 until 7).map { v =>
        val a = 2 * math.Pi * v / 7
        val rr = r * u(0.5, 1.0)
        (cx + rr * math.cos(a), cy + rr * math.sin(a))
      }.toArray)
    }
    val holed = (0 until 10).map { _ =>
      val (x0, y0, w, h) = (u(-6, 3), u(-6, 3), u(1, 3), u(1, 3))
      Polygon2D(Array((x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)),
        Array(Array((x0 + w / 4, y0 + h / 4), (x0 + 3 * w / 4, y0 + h / 4),
          (x0 + w / 2, y0 + 3 * h / 4))))
    }
    val tiles = for (i <- 0 until 4; j <- 0 until 4) yield {
      val (x, y) = (-1.0 + 0.5 * i, 2.0 + 0.5 * j)
      Polygon2D(Array((x, y), (x + 0.5, y), (x + 0.5, y + 0.5), (x, y + 0.5)))
    }
    val triangles = (0 until 8).map { _ =>
      Polygon2D(Array.fill(3)((u(-6, 6), u(-6, 6))))
    }
    val polys = (stars ++ holed ++ tiles ++ triangles).toSeq
    val onRings = polys.flatMap(p => (p.exterior +: p.holes).flatMap { ring =>
      ring.indices.flatMap { i =>
        val (a, b) = (ring(i), ring((i + 1) % ring.length))
        Seq(a, ((a._1 + b._1) / 2, (a._2 + b._2) / 2))
      }
    })
    val inHoles = polys.flatMap(_.holes.map(h =>
      (h.map(_._1).sum / h.length, h.map(_._2).sum / h.length)))
    val scattered = Seq.fill(2000)((u(-7, 7), u(-7, 7)))
    val pts = (onRings ++ inHoles ++ scattered).zipWithIndex.map {
      case ((x, y), i) => (i.toLong, x, y)
    }
    (polys.zipWithIndex.map { case (p, i) => (1000L + i, p) }, pts)
  }

  test("cell join equals broadcast join") {
    def pairs(df: DataFrame): Seq[(Long, Long)] =
      df.select("pid", "poly_id").as[(Long, Long)].collect().toSeq.sorted
    val (seededPolys, seededPts) = seededInput(17L)
    // a 10x10 square whose hole leaves a 0.02-wide finger of polygon at
    // x 5.10-5.12: the precision-20 cell around (5.11, 6.0) has its
    // corners and centre in the hole, only the finger crosses it
    val finger = Polygon2D(square.exterior, Array(Array((1.0, 1.0), (9.0, 1.0),
      (9.0, 9.0), (5.12, 9.0), (5.12, 2.0), (5.10, 2.0), (5.10, 9.0), (1.0, 9.0))))
    assert(finger.contains(5.11, 6.0))
    val fingerPts = Seq((1L, 5.11, 6.0), (2L, 5.11, 3.0), (3L, 5.11, 8.5),
      (4L, 5.10, 6.0), (5L, 3.0, 5.0), (6L, 0.5, 0.5)).toDF("pid", "x", "y")
    val inputs = Seq(
      (Seq((100L, square), (200L, triangle)), points()),
      (seededPolys, seededPts.toDF("pid", "x", "y")),
      (Seq((300L, finger)), fingerPts))
    val sizes = for ((polys, pts) <- inputs; coveredBy <- Seq(false, true)) yield {
      val a = pairs(PipJoin.broadcastJoin(spark, pts, "x", "y", polys, coveredBy))
      val cells = PipJoin.cellJoin(spark, pts, "x", "y", polys, 20, coveredBy)
      assert(pairs(cells) == a, s"coveredBy=$coveredBy, ${polys.size} polygons")
      assert(a.nonEmpty)

      // the refine reads polygons by index: no polygon text in any
      // operator, no text predicate, and the index refine is present
      val nodes = collect(cells.queryExecution.executedPlan) { case n => n }
      val exprs = nodes.flatMap(_.expressions).flatMap(_.collect { case e => e })
      assert(!nodes.exists(_.output.exists(_.dataType == StringType)))
      assert(!exprs.exists(e => e.isInstanceOf[StWithin] || e.isInstanceOf[StCoveredBy]))
      assert(exprs.exists(_.isInstanceOf[PolygonAtContains]))
      a.size
    }
    // both inputs reach the boundary: coveredBy adds pairs
    assert(sizes(1) > sizes(0) && sizes(3) > sizes(2), sizes)
  }

  test("coveredBy includes boundary") {
    val out = PipJoin.broadcastJoin(spark, points(), "x", "y",
      Seq((100L, square)), coveredBy = true)
      .select("pid").as[Long].collect().toSet
    assert(out == Set(1L, 4L))
  }
}

class GridInterpolatorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def field(x: Double, y: Double): Double =
    math.sin(3 * x) * math.cos(2 * y) + 0.5 * math.sin(5 * x) * math.sin(4 * y)

  def makeGrid(): Grid2D = {
    val xAxis = Axis.regular(0.0, 2.0, 41) // step .05
    val yAxis = Axis.regular(0.0, 2.0, 41)
    val values = new Array[Double](41 * 41)
    for (i <- 0 until 41; j <- 0 until 41)
      values(i * 41 + j) = field(xAxis(i), yAxis(j))
    Grid2D(xAxis, yAxis, values)
  }

  test("bilinear interpolation close to analytic field") {
    val grid = makeGrid()
    val df = Seq((1.01, 1.01), (0.52, 1.48), (1.99, 0.01)).toDF("x", "y")
    val out = GridInterpolator.bivariate(spark, df, "x", "y", grid,
      "bilinear").select("value").as[Double].collect()
    val expect = Seq(field(1.01, 1.01), field(0.52, 1.48), field(1.99, 0.01))
    out.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g - e) < 0.01, s"$g vs $e")
    }
  }

  test("bicubic windowed matches analytic within reference rtol 0.02") {
    val grid = makeGrid()
    val pts = Seq((1.01, 1.01), (0.52, 1.48), (0.77, 0.33))
    val df = pts.toDF("x", "y")
    val out = GridInterpolator.bivariate(spark, df, "x", "y", grid,
      "bicubic").select("value").as[Double].collect()
    pts.zip(out).foreach { case ((x, y), g) =>
      val e = field(x, y)
      assert(math.abs(g - e) <= 0.02 * math.max(1.0, math.abs(e)), s"($x,$y): $g vs $e")
    }
  }

  test("point outside grid yields NaN (undef boundary)") {
    val grid = makeGrid()
    val df = Seq((-1.0, 1.0), (0.01, 0.01)).toDF("x", "y")
    val out = GridInterpolator.bivariate(spark, df, "x", "y", grid,
      "bicubic").select("value").as[Double].collect()
    assert(out(0).isNaN)
    assert(out(1).isNaN) // too close to edge for 6x6 undef window
  }

  test("trivariate linear combine between planes") {
    val xA = Axis.regular(0.0, 4.0, 5)
    val yA = Axis.regular(0.0, 4.0, 5)
    val zA = Axis.regular(0.0, 1.0, 2)
    // plane k: f = x + y + 10*z
    val vals = new Array[Double](5 * 5 * 2)
    for (i <- 0 until 5; j <- 0 until 5; k <- 0 until 2)
      vals(i * 5 * 2 + j * 2 + k) = xA(i) + yA(j) + 10.0 * zA(k)
    val g3 = Grid3D(xA, yA, zA, vals)
    val df = Seq((1.5, 2.5, 0.25)).toDF("x", "y", "z")
    val out = GridInterpolator.trivariate(spark, df, "x", "y", "z", g3,
      "bilinear").select("value").as[Double].head()
    assert(math.abs(out - (1.5 + 2.5 + 2.5)) < 1e-9)
  }

  test("windowed methods under the shrink boundary equal a reference window bit for bit") {
    import graft.core.{Bicubic, Boundary, Interpolate, Univariate1D}
    // irregular x (9 nodes), regular y (11 nodes): near an edge `Shrink`
    // cuts the 6x6 window to 4 or 5 nodes on that axis only, so windows
    // are non-square
    val xA = Axis(Array.tabulate(9)(i => i + 0.05 * i * i))
    val yA = Axis.regular(-2.0, 3.0, 11)
    val grid = Grid2D(xA, yA, Array.tabulate(9 * 11)(ij =>
      math.sin(0.7 * ij) + 0.1 * (ij % 5)))
    def mid(a: Axis, i: Int, f: Double) = a(i) + f * (a(i + 1) - a(i))
    val probes = Seq(
      (mid(xA, 0, 0.3), mid(yA, 5, 0.4)),  // left edge
      (mid(xA, 7, 0.6), mid(yA, 4, 0.2)),  // right edge
      (mid(xA, 4, 0.5), mid(yA, 0, 0.7)),  // bottom edge
      (mid(xA, 3, 0.2), mid(yA, 9, 0.5)),  // top edge
      (mid(xA, 0, 0.4), mid(yA, 8, 0.3)),  // corner: 4 x 5 under Shrink
      (mid(xA, 6, 0.9), mid(yA, 1, 0.1)),  // corner: 5 x 5 under Shrink
      // edge-adjacent, but the full 6x6 window still fits
      (mid(xA, 2, 0.5), mid(yA, 7, 0.6)),
      (mid(xA, 5, 0.3), mid(yA, 2, 0.4)))
    // the edge band: 20x20 nodes, f = sin(0.3x) + cos(0.2y), 400 probes
    // within 2 cells of an edge
    val bandA = Axis.regular(0.0, 19.0, 20)
    val band = Grid2D(bandA, bandA, Array.tabulate(20 * 20)(ij =>
      math.sin(0.3 * (ij / 20)) + math.cos(0.2 * (ij % 20))))
    val rnd = new scala.util.Random(13)
    val bandProbes = Iterator.continually(
        (19 * rnd.nextDouble(), 19 * rnd.nextDouble()))
      .filter { case (x, y) => Seq(x, 19 - x, y, 19 - y).min < 2 }
      .take(400).toSeq
    // a single node on x or on y gives no window
    val single = Axis(Array(0.5))
    val singleX = Grid2D(single, yA, Array.tabulate(11)(_.toDouble))
    val singleY = Grid2D(yA, single, Array.tabulate(11)(_.toDouble))
    val singleXProbes = Seq((0.5, mid(yA, 5, 0.4)), (0.5, yA(0)), (0.7, 1.0))
    val singleYProbes = singleXProbes.map(_.swap)

    def run(g: Grid2D, x: Double, y: Double) = {
      val (wx, wy) = (g.xAxis.window(x, 3, Boundary.Shrink),
        g.yAxis.window(y, 3, Boundary.Shrink))
      if (wx < 0 || wy < 0) None
      else Some((Array.tabulate(Axis.runLength(wx))(
          g.xAxis.node(Axis.runFirst(wx), _)),
        Array.tabulate(Axis.runLength(wy))(
          g.yAxis.node(Axis.runFirst(wy), _))))
    }
    def row(z: Array[Array[Double]], j: Int) = z.map(_(j))
    def reference(g: Grid2D, x: Double, y: Double, m: String): Double =
      run(g, x, y) match {
        case Some((xi, yi)) =>
          val xs = xi.map(g.xAxis(_))
          val ys = yi.map(g.yAxis(_))
          val z = Array.tabulate(xi.length, yi.length)((i, j) =>
            g(xi(i), yi(j)))
          m match {
            case "bicubic" => new Bicubic(xs, ys, z)(x, y)
            case "spline_bilinear" => Interpolate.cspline(ys,
              ys.indices.map(j => Interpolate.cspline(xs, row(z, j), x))
                .toArray, y)
            case _ =>
              val fits = ys.indices.map(_ => Univariate1D(m))
              if (!ys.indices.forall(j => fits(j).fit(xs, row(z, j))))
                Double.NaN
              else {
                val fy = Univariate1D(m)
                if (!fy.fit(ys, fits.map(_.value(x)).toArray)) Double.NaN
                else fy.value(y)
              }
          }
        case None => Double.NaN
      }
    val shapes = probes.map { case (x, y) =>
      run(grid, x, y).map { case (xi, yi) => (xi.length, yi.length) }.get
    }
    assert(shapes.contains((4, 5)) && shapes.contains((6, 4)), s"$shapes")
    // every value equals the reference bit for bit; returns the ids of
    // the finite ones
    def check(g: Grid2D, ps: Seq[(Double, Double)], m: String): Set[Int] = {
      val df = ps.zipWithIndex.map { case ((x, y), id) => (id, x, y) }
        .toDF("id", "x", "y")
      val got = GridInterpolator.bivariate(spark, df, "x", "y", g, m,
          boundary = Boundary.Shrink).select("id", "value")
        .as[(Int, Double)].collect().toMap
      ps.indices.foreach { id =>
        val want = reference(g, ps(id)._1, ps(id)._2, m)
        assert(java.lang.Double.doubleToRawLongBits(got(id)) ===
          java.lang.Double.doubleToRawLongBits(want),
          s"$m probe $id ${ps(id)}: ${got(id)} vs $want")
      }
      ps.indices.filterNot(got(_).isNaN).toSet
    }
    // Shrink is finite on every probe, except that akima needs 5 nodes
    // per axis: 3 of the 8 probes above keep that many
    for (m <- Seq("bicubic", "akima", "c_spline", "spline_bilinear"))
      assert(check(grid, probes, m).size >=
        (if (m == "akima") 3 else probes.length), m)
    for (m <- GridInterpolator.windowedMethods) {
      val finite = check(band, bandProbes, m)
      bandProbes.indices.foreach { id =>
        val (xi, yi) = run(band, bandProbes(id)._1, bandProbes(id)._2).get
        val enough = !m.startsWith("akima") || xi.length.min(yi.length) >= 5
        assert(finite(id) == enough, s"$m band probe $id ${bandProbes(id)}")
      }
      assert(check(singleX, singleXProbes, m).isEmpty, m)
      assert(check(singleY, singleYProbes, m).isEmpty, m)
    }
  }

  test("windowed methods fail on a descending axis, geometric ones equal the ascending grid") {
    val asc = Axis.regular(0.0, 19.0, 20)
    val desc = Axis(asc.values.reverse)
    val yA = Axis.regular(0.0, 9.0, 10)
    def f(x: Double, y: Double) = math.sin(0.3 * x) + math.cos(0.2 * y)
    def grid(xA: Axis, yA: Axis) = Grid2D(xA, yA,
      Array.tabulate(xA.size * yA.size)(ij =>
        f(xA(ij / yA.size), yA(ij % yA.size))))
    val rnd = new scala.util.Random(7)
    val df = Seq.tabulate(200)(id =>
        (id, 3 + 13 * rnd.nextDouble(), 3 + 3 * rnd.nextDouble()))
      .toDF("id", "x", "y")
    // the checks run on the driver, before any job
    for (g <- Seq(grid(desc, yA), grid(yA, desc)))
      intercept[IllegalArgumentException](
        GridInterpolator.bivariate(spark, df, "x", "y", g, "bicubic"))
    intercept[IllegalArgumentException](GridInterpolator.bivariate(spark,
      df, "x", "y", grid(asc, yA), "bogus"))
    def values(g: Grid2D, m: String) = GridInterpolator.bivariate(spark,
      df, "x", "y", g, m).select("id", "value").as[(Int, Double)]
      .collect().toMap
    for (m <- Seq("bilinear", "idw", "nearest")) {
      val (a, d) = (values(grid(asc, yA), m), values(grid(desc, yA), m))
      assert(a.keySet == (0 until 200).toSet && a.values.forall(!_.isNaN))
      a.foreach { case (id, v) =>
        assert(math.abs(d(id) - v) <= 1e-12, s"$m probe $id: ${d(id)} vs $v")
      }
    }
  }

  test("a bicubic window-cache hit allocates nothing per probe") {
    val kernel = new BivariateKernel(makeGrid(), "bicubic", 3,
      graft.core.Boundary.Undef)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    var sum = 0.0
    // 100k probes in the one cell [1.0, 1.05]^2 of the step-0.05 grid
    def probe(n: Int): Unit = {
      var k = 0
      while (k < n) {
        sum += kernel(1.005 + 0.04 * (k % 97) / 97, 1.005 + 0.04 * (k % 89) / 89)
        k += 1
      }
    }
    probe(100000) // warm-up
    val before = mx.getThreadAllocatedBytes(tid)
    probe(100000)
    val perProbe = (mx.getThreadAllocatedBytes(tid) - before) / 100000.0
    assert(!sum.isNaN)
    assert(perProbe < 16, s"$perProbe B per probe")
  }
}

class QuadrivariateSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.core.Axis

  test("quadrivariate linear combine along z and u") {
    val ax = Axis.regular(0.0, 4.0, 5)
    val zA = Axis.regular(0.0, 1.0, 2)
    val uA = Axis.regular(0.0, 2.0, 3)
    // f = x + y + 10 z + 100 u (multilinear -> exact under bilinear+linear)
    val vals = new Array[Double](5 * 5 * 2 * 3)
    for (i <- 0 until 5; j <- 0 until 5; k <- 0 until 2; l <- 0 until 3)
      vals(((i * 5 + j) * 2 + k) * 3 + l) =
        ax(i) + ax(j) + 10.0 * zA(k) + 100.0 * uA(l)
    val g4 = Grid4D(ax, ax, zA, uA, vals)
    val df = Seq((1.5, 2.5, 0.25, 0.5)).toDF("x", "y", "z", "u")
    val out = QuadrivariateInterpolator.quadrivariate(spark, df,
      "x", "y", "z", "u", g4, "bilinear").select("value").as[Double].head()
    assert(math.abs(out - (1.5 + 2.5 + 2.5 + 50.0)) < 1e-9)
  }

  test("nearest combine along u picks closest level") {
    val ax = Axis.regular(0.0, 4.0, 5)
    val zA = Axis.regular(0.0, 1.0, 2)
    val uA = Axis.regular(0.0, 2.0, 3)
    val vals = Array.tabulate(5 * 5 * 2 * 3)(idx => (idx % 3).toDouble * 7)
    val g4 = Grid4D(ax, ax, zA, uA, vals)
    val df = Seq((2.0, 2.0, 0.0, 1.9)).toDF("x", "y", "z", "u")
    val out = QuadrivariateInterpolator.quadrivariate(spark, df,
      "x", "y", "z", "u", g4, "nearest", uMethod = "nearest")
      .select("value").as[Double].head()
    assert(out == 14.0) // level u=2 -> value 2*7
  }
}

class SaltingSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("salted shuffle kNN equals unsalted and broadcast results") {
    val rng = new scala.util.Random(21)
    // hot cell: 60% of build points in one tiny box (skew)
    val build = (0 until 800).map { i =>
      if (i % 5 < 3) (10.0 + rng.nextDouble() * 0.2,
        10.0 + rng.nextDouble() * 0.2, i.toDouble, i.toLong)
      else (rng.nextDouble() * 40, rng.nextDouble() * 40, i.toDouble, i.toLong)
    }.toDF("x", "y", "value", "id")
    val probe = (0 until 60).map { q =>
      (q.toLong, rng.nextDouble() * 40, rng.nextDouble() * 40)
    }.toDF("qid", "x", "y")
    // precision 10 -> cells ~11 deg >> kth-neighbor distance (~1.6), the
    // stated correctness envelope of the 3x3-block shuffle path
    val base = KnnJoin.Config(k = 4, geodetic = false, precision = 10)
    def run(cfg: KnnJoin.Config) =
      KnnJoin.knnJoinFlat(spark, build, probe, cfg)
        .collect().map(r => (r.getLong(0), r.getInt(4)) -> r.getLong(1)).toMap
    val broadcast = run(base)
    val shuffled = run(base.copy(broadcastThreshold = 0L))
    val salted = run(base.copy(broadcastThreshold = 0L, saltFactor = 4))
    assert(shuffled == broadcast)
    assert(salted == broadcast)
  }
}

class KnnExactFlagSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("exact flag is honest: flagged-true rows match global answer") {
    val rng = new scala.util.Random(33)
    val build = (0 until 600).map { i =>
      (rng.nextDouble() * 40, rng.nextDouble() * 40, i.toDouble, i.toLong)
    }.toDF("x", "y", "value", "id")
    val probe = (0 until 80).map { q =>
      (q.toLong, rng.nextDouble() * 40, rng.nextDouble() * 40)
    }.toDF("qid", "x", "y")
    // deliberately fine cells so some probes exceed the 3x3 guarantee
    val cfg = KnnJoin.Config(k = 6, geodetic = false, precision = 14,
      broadcastThreshold = 0L)
    val shuffled = KnnJoin.neighbors(spark, build, probe, cfg).collect()
      .map(r => r.qid -> r).toMap
    val global = KnnJoin.neighbors(spark, build, probe,
      cfg.copy(broadcastThreshold = Long.MaxValue)).collect()
      .map(r => r.qid -> r).toMap
    var exactCount = 0
    shuffled.foreach { case (qid, r) =>
      if (r.exact) {
        exactCount += 1
        assert(r.ids.toSeq == global(qid).ids.toSeq, s"qid $qid flagged exact")
      }
    }
    assert(exactCount > 0, "no row was provably exact")
  }
}

class PeriodicSeamSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.core.Axis

  // smooth periodic field in longitude
  def f(lon: Double, lat: Double): Double =
    math.sin(math.toRadians(lon)) + 0.5 * math.cos(math.toRadians(lat))

  def makeGrid(): Grid2D = {
    val lonAxis = Axis.regular(-180.0, 175.0, 72, period = 360.0)
    val latAxis = Axis.regular(-85.0, 85.0, 35)
    val vals = new Array[Double](72 * 35)
    for (i <- 0 until 72; j <- 0 until 35)
      vals(i * 35 + j) = f(lonAxis(i), latAxis(j))
    Grid2D(lonAxis, latAxis, vals)
  }

  test("bilinear interpolation crosses the antimeridian seam") {
    val grid = makeGrid()
    val pts = Seq((177.5, 10.0), (-177.5, 10.0), (179.9, -20.0), (183.0, 0.0))
    val df = pts.toDF("x", "y")
    val out = GridInterpolator.bivariate(spark, df, "x", "y", grid,
      "bilinear").select("x", "y", "value").collect()
    out.foreach { r =>
      val lon = r.getDouble(0)
      val lat = r.getDouble(1)
      val got = r.getDouble(2)
      assert(!got.isNaN, s"NaN at lon=$lon")
      assert(math.abs(got - f(lon, lat)) < 0.01, s"lon=$lon got=$got")
    }
  }

  test("bicubic windowed wraps across the seam") {
    val grid = makeGrid()
    val df = Seq((179.0, 0.0), (-179.0, 30.0)).toDF("x", "y")
    val out = GridInterpolator.bivariate(spark, df, "x", "y", grid,
      "bicubic").select("x", "value").collect()
    out.foreach { r =>
      val lon = r.getDouble(0)
      val got = r.getDouble(1)
      val expect = f(lon, if (lon == 179.0) 0.0 else 30.0)
      assert(!got.isNaN, s"NaN at $lon")
      assert(math.abs(got - expect) < 0.01, s"lon=$lon got=$got want=$expect")
    }
  }

  /** The same 72x35 global grid as a long-format table (lon, lat, v). */
  def makeGridTable() = {
    val grid = makeGrid()
    val rows = for (i <- 0 until 72; j <- 0 until 35)
      yield (grid.xAxis(i), grid.yAxis(j), grid.values(i * 35 + j))
    rows.toDF("lon", "lat", "v")
  }

  test("grid-as-table bilinear ≡ broadcast across the seam (xPeriod)") {
    val grid = makeGrid()
    val tbl = makeGridTable()
    // probes straddling ±180 plus normalization cases (183, -358.5 wrap)
    // and interior controls
    val pts = Seq((177.5, 10.0), (-177.5, 10.0), (179.9, -20.0),
      (183.0, 0.0), (-358.5, 5.0), (12.5, 42.5), (-180.0, 0.0),
      (175.0, 10.0))
    val df = pts.toDF("x", "y")
    val bc = GridInterpolator.bivariate(spark, df, "x", "y", grid,
      "bilinear").select("x", "y", "value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val tb = GridInterpolator.bivariateTable(spark, df, "x", "y", tbl,
      xPeriod = 360.0).select("x", "y", "value").collect()
    assert(tb.length === pts.length)
    tb.foreach { r =>
      val k = (r.getDouble(0), r.getDouble(1))
      assert(math.abs(r.getDouble(2) - bc(k)) < 1e-9,
        s"$k: table ${r.getDouble(2)} vs broadcast ${bc(k)}")
    }
  }

  test("grid-as-table windowed bicubic ≡ broadcast across the seam") {
    val grid = makeGrid()
    val tbl = makeGridTable()
    // windows crossing the seam from both sides, the exact seam node,
    // a normalization case, and interior controls; last-lat rows stay
    // inside the y frame (undef boundary)
    val pts = Seq((179.0, 0.0), (-179.0, 30.0), (177.5, 10.0),
      (-180.0, 0.0), (184.2, -30.0), (-171.3, 55.0), (0.4, 12.0),
      (175.0, -42.5))
    val df = pts.toDF("x", "y")
    val bc = GridInterpolator.bivariate(spark, df, "x", "y", grid,
      "bicubic").select("x", "y", "value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val tb = GridInterpolator.bivariateTableWindowed(spark, df, "x", "y",
      tbl, "bicubic", xPeriod = 360.0).select("x", "y", "value").collect()
    assert(tb.length === pts.length)
    tb.foreach { r =>
      val k = (r.getDouble(0), r.getDouble(1))
      assert(!r.getDouble(2).isNaN, s"$k NaN on the table path")
      assert(math.abs(r.getDouble(2) - bc(k)) < 1e-9,
        s"$k: table ${r.getDouble(2)} vs broadcast ${bc(k)}")
    }
  }

  test("grid-as-table windowed spline ≡ broadcast across the seam") {
    val grid = makeGrid()
    val tbl = makeGridTable()
    val pts = Seq((178.6, 0.0), (-178.2, 30.0), (181.0, -10.0),
      (44.0, 21.3))
    val df = pts.toDF("x", "y")
    val bc = GridInterpolator.bivariate(spark, df, "x", "y", grid,
      "c_spline").select("x", "y", "value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val tb = GridInterpolator.bivariateTableWindowed(spark, df, "x", "y",
      tbl, "c_spline", xPeriod = 360.0).select("x", "y", "value").collect()
    tb.foreach { r =>
      val k = (r.getDouble(0), r.getDouble(1))
      assert(math.abs(r.getDouble(2) - bc(k)) < 1e-9,
        s"$k: table ${r.getDouble(2)} vs broadcast ${bc(k)}")
    }
  }

  test("3-D grid-as-table windowed ≡ broadcast across the seam") {
    // lon-periodic 3-D lattice: bicubic in-plane + linear z combine must
    // wrap the seam on the table path exactly like the broadcast kernel
    val lonAxis = Axis.regular(-180.0, 175.0, 72, period = 360.0)
    val latAxis = Axis.regular(-85.0, 85.0, 35)
    val zAxis = Axis.regular(0.0, 2.0, 3)
    def f3(lon: Double, lat: Double, z: Double): Double =
      f(lon, lat) * (1.0 + 0.3 * z)
    val vals = new Array[Double](72 * 35 * 3)
    for (i <- 0 until 72; j <- 0 until 35; k <- 0 until 3)
      vals((i * 35 + j) * 3 + k) = f3(lonAxis(i), latAxis(j), zAxis(k))
    val g3 = Grid3D(lonAxis, latAxis, zAxis, vals)
    val rows = for (i <- 0 until 72; j <- 0 until 35; k <- 0 until 3)
      yield (lonAxis(i), latAxis(j), zAxis(k), vals((i * 35 + j) * 3 + k))
    val tbl = rows.toDF("lon", "lat", "z", "v")
    val pts = Seq((179.0, 0.0, 0.75), (-179.0, 30.0, 1.5),
      (183.0, -10.0, 0.0), (12.5, 42.5, 2.0))
    val df = pts.toDF("x", "y", "zq")
    val bc = GridInterpolator.trivariate(spark, df, "x", "y", "zq", g3,
      "bicubic").select("x", "zq", "value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val tb = GridInterpolator.trivariateTableWindowed(spark, df, "x", "y",
      "zq", tbl, "bicubic", xPeriod = 360.0)
      .select("x", "zq", "value").collect()
    assert(tb.length === pts.length)
    tb.foreach { r =>
      val k = (r.getDouble(0), r.getDouble(1))
      assert(!r.getDouble(2).isNaN, s"$k NaN on the table path")
      assert(math.abs(r.getDouble(2) - bc(k)) < 1e-9,
        s"$k: table ${r.getDouble(2)} vs broadcast ${bc(k)}")
    }
  }

  test("4-D grid-as-table windowed ≡ broadcast across the seam") {
    // lon-periodic 4-D lattice: bicubic in-plane + bilinear (z, u)
    // combine, seam-wrapped on the table path
    val lonAxis = Axis.regular(-180.0, 170.0, 36, period = 360.0)
    val latAxis = Axis.regular(-80.0, 80.0, 17)
    val zAxis = Axis.regular(0.0, 2.0, 3)
    val uAxis = Axis.regular(0.0, 1.0, 2)
    def f4(lon: Double, lat: Double, z: Double, u: Double): Double =
      f(lon, lat) * (1.0 + 0.3 * z) + 0.2 * u
    val vals = new Array[Double](36 * 17 * 3 * 2)
    for (i <- 0 until 36; j <- 0 until 17; k <- 0 until 3; l <- 0 until 2)
      vals(((i * 17 + j) * 3 + k) * 2 + l) =
        f4(lonAxis(i), latAxis(j), zAxis(k), uAxis(l))
    val g4 = Grid4D(lonAxis, latAxis, zAxis, uAxis, vals)
    val rows = for (i <- 0 until 36; j <- 0 until 17; k <- 0 until 3;
        l <- 0 until 2)
      yield (lonAxis(i), latAxis(j), zAxis(k), uAxis(l).toDouble,
        vals(((i * 17 + j) * 3 + k) * 2 + l))
    val tbl = rows.toDF("lon", "lat", "z", "lvl", "v")
    val pts = Seq((177.0, 0.0, 0.75, 0.5), (-176.0, 30.0, 1.5, 0.25),
      (184.0, -10.0, 1.0, 1.0), (22.5, 42.5, 2.0, 0.0))
    val df = pts.toDF("x", "y", "zq", "uq")
    val bc = QuadrivariateInterpolator.quadrivariate(spark, df, "x", "y",
      "zq", "uq", g4, "bicubic").select("x", "zq", "uq", "value")
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)) ->
        r.getDouble(3)).toMap
    val tb = GridInterpolator.quadrivariateTableWindowed(spark, df, "x",
      "y", "zq", "uq", tbl, "bicubic", uColName = "lvl", xPeriod = 360.0)
      .select("x", "zq", "uq", "value").collect()
    assert(tb.length === pts.length)
    tb.foreach { r =>
      val k = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(!r.getDouble(3).isNaN, s"$k NaN on the table path")
      assert(math.abs(r.getDouble(3) - bc(k)) < 1e-9,
        s"$k: table ${r.getDouble(3)} vs broadcast ${bc(k)}")
    }
  }

  test("xPeriod rejects a lattice that does not close the circle") {
    val tbl = makeGridTable().filter(col("lon") < 100.0)
    intercept[IllegalArgumentException] {
      GridInterpolator.bivariateTable(spark,
        Seq((10.0, 10.0)).toDF("x", "y"), "x", "y", tbl, xPeriod = 360.0)
    }
  }

  test("3-D geometric grid-as-table ≡ broadcast across the seam") {
    // lon-periodic trilinear: the 8-corner join's pmod seam wrap must
    // reproduce the broadcast kernel, incl. probes past ±180 that only
    // frame after normalization and probes in the seam cell itself
    val lonAxis = Axis.regular(-180.0, 175.0, 72, period = 360.0)
    val latAxis = Axis.regular(-85.0, 85.0, 35)
    val zAxis = Axis.regular(0.0, 2.0, 3)
    def f3(lon: Double, lat: Double, z: Double): Double =
      f(lon, lat) * (1.0 + 0.3 * z)
    val vals = new Array[Double](72 * 35 * 3)
    for (i <- 0 until 72; j <- 0 until 35; k <- 0 until 3)
      vals((i * 35 + j) * 3 + k) = f3(lonAxis(i), latAxis(j), zAxis(k))
    val g3 = Grid3D(lonAxis, latAxis, zAxis, vals)
    val rows = for (i <- 0 until 72; j <- 0 until 35; k <- 0 until 3)
      yield (lonAxis(i), latAxis(j), zAxis(k), vals((i * 35 + j) * 3 + k))
    val tbl = rows.toDF("lon", "lat", "z", "v")
    val pts = Seq((177.5, 10.0, 0.75), (-177.5, 10.0, 1.5),
      (179.9, -20.0, 0.0), (183.0, 0.0, 2.0), (-358.5, 5.0, 1.0),
      (12.5, 42.5, 0.25), (-180.0, 0.0, 1.75), (175.0, 10.0, 0.5))
    val df = pts.toDF("x", "y", "zq")
    val bc = GridInterpolator.trivariate(spark, df, "x", "y", "zq", g3,
      "bilinear").select("x", "zq", "value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val tb = GridInterpolator.trivariateTable(spark, df, "x", "y", "zq",
      tbl, xPeriod = 360.0).select("x", "zq", "value").collect()
    assert(tb.length === pts.length)
    tb.foreach { r =>
      val k = (r.getDouble(0), r.getDouble(1))
      assert(!r.getDouble(2).isNaN, s"$k NaN on the table path")
      assert(math.abs(r.getDouble(2) - bc(k)) < 1e-9,
        s"$k: table ${r.getDouble(2)} vs broadcast ${bc(k)}")
    }
  }

  test("4-D geometric grid-as-table ≡ broadcast across the seam") {
    // lon-periodic quadrilinear through the 16-corner join
    val lonAxis = Axis.regular(-180.0, 170.0, 36, period = 360.0)
    val latAxis = Axis.regular(-80.0, 80.0, 17)
    val zAxis = Axis.regular(0.0, 2.0, 3)
    val uAxis = Axis.regular(0.0, 1.0, 2)
    def f4(lon: Double, lat: Double, z: Double, u: Double): Double =
      f(lon, lat) * (1.0 + 0.3 * z) + 0.2 * u
    val vals = new Array[Double](36 * 17 * 3 * 2)
    for (i <- 0 until 36; j <- 0 until 17; k <- 0 until 3; l <- 0 until 2)
      vals(((i * 17 + j) * 3 + k) * 2 + l) =
        f4(lonAxis(i), latAxis(j), zAxis(k), uAxis(l))
    val g4 = Grid4D(lonAxis, latAxis, zAxis, uAxis, vals)
    val rows = for (i <- 0 until 36; j <- 0 until 17; k <- 0 until 3;
        l <- 0 until 2)
      yield (lonAxis(i), latAxis(j), zAxis(k), uAxis(l),
        vals(((i * 17 + j) * 3 + k) * 2 + l))
    val tbl = rows.toDF("lon", "lat", "z", "lvl", "v")
    val pts = Seq((177.0, 0.0, 0.75, 0.5), (-176.0, 30.0, 1.5, 0.25),
      (184.0, -10.0, 1.0, 1.0), (-541.0, 5.0, 0.5, 0.75),
      (22.5, 42.5, 2.0, 0.0), (-180.0, 0.0, 0.25, 0.5))
    val df = pts.toDF("x", "y", "zq", "uq")
    val bc = QuadrivariateInterpolator.quadrivariate(spark, df, "x", "y",
      "zq", "uq", g4, "bilinear").select("x", "zq", "uq", "value")
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)) ->
        r.getDouble(3)).toMap
    val tb = GridInterpolator.quadrivariateTable(spark, df, "x", "y",
      "zq", "uq", tbl, uColName = "lvl", xPeriod = 360.0)
      .select("x", "zq", "uq", "value").collect()
    assert(tb.length === pts.length)
    tb.foreach { r =>
      val k = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(!r.getDouble(3).isNaN, s"$k NaN on the table path")
      assert(math.abs(r.getDouble(3) - bc(k)) < 1e-9,
        s"$k: table ${r.getDouble(3)} vs broadcast ${bc(k)}")
    }
  }

  test("windowed tile evaluation streams probes in bounded chunks") {
    // probe-skew guard: every probe lands in ONE window tile (the grid
    // is far smaller than a tile), and ProbeChunk is forced far below
    // the probe count, so evaluation must run many chunks through the
    // persistent fit cache — results must match the broadcast kernel
    // like the unchunked plan does (fits are deterministic per window,
    // order-free; 1e-9 covers the periodic eval-coordinate rounding)
    val grid = makeGrid()
    val tbl = makeGridTable()
    val pts = (0 until 500).map { k =>
      ((k * 37 % 3600) / 10.0 - 180.0, (k * 53 % 1400) / 10.0 - 70.0)
    }
    val df = pts.toDF("x", "y")
    val bc = GridInterpolator.bivariate(spark, df, "x", "y", grid,
      "bicubic").select("x", "y", "value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val saved = WindowedTileJoin.ProbeChunk
    try {
      WindowedTileJoin.ProbeChunk = 7
      val tb = GridInterpolator.bivariateTableWindowed(spark, df, "x",
        "y", tbl, "bicubic", xPeriod = 360.0)
        .select("x", "y", "value").collect()
      assert(tb.length === pts.size)
      tb.foreach { r =>
        val k = (r.getDouble(0), r.getDouble(1))
        val b = bc(k)
        if (r.getDouble(2).isNaN || b.isNaN)
          assert(r.getDouble(2).isNaN === b.isNaN, s"$k")
        else assert(math.abs(r.getDouble(2) - b) < 1e-9,
          s"$k chunked vs broadcast")
      }
      assert(tb.count(r => !r.getDouble(2).isNaN) > 400)
    } finally WindowedTileJoin.ProbeChunk = saved
  }

  test("linear binning wraps weights across the seam") {
    val lonAxis = Axis.regular(-180.0, 175.0, 72, period = 360.0)
    val latAxis = Axis.regular(-85.0, 85.0, 35)
    val binning = new Binning2D(lonAxis, latAxis)
    // point just east of the last lon bin (177.5 between bin 71 at 175
    // and wrapped bin 0 at -180=180)
    val df = Seq((177.5, 0.0, 8.0)).toDF("x", "y", "z")
    val out = binning.linear(df, col("x"), col("y"), col("z"))
      .select("ix", "sum_of_weights").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val wSum = out.values.sum
    assert(math.abs(wSum - 1.0) < 1e-9)
    assert(out.keySet.subsetOf(Set(0, 71)), out.keySet.toString)
  }
}
