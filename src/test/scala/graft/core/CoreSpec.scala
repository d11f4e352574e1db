package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests mirroring the reference's C++ kernel tests
  * (`cxx/tests/math/statistics/descriptive_statistics.cpp`,
  * `cxx/tests/geohash/int64.cpp`, `tests/core/test_axis.py`).
  */
class AxisSpec extends AnyFunSuite {
  test("regular axis find_index") {
    val ax = Axis.regular(0.0, 9.0, 10)
    assert(ax.isRegular)
    assert(ax.findIndex(3.2, bounded = false) == 3)
    assert(ax.findIndex(3.6, bounded = false) == 4)
    assert(ax.findIndex(-1.0, bounded = false) == -1)
    assert(ax.findIndex(-1.0, bounded = true) == 0)
    assert(ax.findIndex(100.0, bounded = true) == 9)
  }

  test("irregular axis find_index nearest") {
    val ax = Axis(Array(0.0, 1.0, 4.0, 9.0, 16.0))
    assert(!ax.isRegular)
    assert(ax.findIndex(2.4, bounded = false) == 1)
    assert(ax.findIndex(2.6, bounded = false) == 2)
    assert(ax.findIndex(16.0, bounded = false) == 4)
    assert(ax.findIndex(17.0, bounded = false) == -1)
  }

  test("find_indexes frames coordinates") {
    val ax = Axis.regular(0.0, 9.0, 10)
    assert(ax.findIndexes(3.5).contains((3, 4)))
    assert(ax.findIndexes(3.0).contains((3, 4)))
    assert(ax.findIndexes(9.0).contains((8, 9)))
    assert(ax.findIndexes(0.0).contains((0, 1)))
    assert(ax.findIndexes(-0.5).isEmpty)
    assert(ax.findIndexes(Double.NaN).isEmpty)
  }

  test("periodic longitude axis wraps") {
    val ax = Axis.regular(-180.0, 175.0, 72, period = 360.0) // 5 deg step
    assert(ax.findIndexes(179.0).contains((71, 0)))
    assert(ax.findIndex(185.0, bounded = false) == ax.findIndex(-175.0, bounded = false))
  }

  test("window construction undef vs shrink") {
    val ax = Axis.regular(0.0, 9.0, 10)
    def nodes(run: Long) =
      Seq.tabulate(Axis.runLength(run))(ax.node(Axis.runFirst(run), _))
    val w = ax.window(4.5, 3, Boundary.Undef)
    assert(w >= 0)
    assert(nodes(w) == Seq(2, 3, 4, 5, 6, 7))
    // near boundary, undef fails, shrink truncates
    assert(ax.window(0.5, 3, Boundary.Undef) == -1L)
    val ws = ax.window(0.5, 3, Boundary.Shrink)
    assert(ws >= 0 && nodes(ws).min == 0)
  }
}

class GeoHashSpec extends AnyFunSuite {
  test("spread/squash round trip") {
    val xs = Seq(0L, 1L, 0xFFFFFFFFL, 0x12345678L, 0xDEADBEEFL)
    xs.foreach { x =>
      assert(GeoHash.squash(GeoHash.spread(x)) == x)
    }
  }

  test("encode/decode round trip at precision 40") {
    val pts = Seq((0.0, 0.0), (-180.0, -90.0), (179.9, 89.9), (2.35, 48.85),
      (-122.42, 37.77), (151.2, -33.87))
    pts.foreach { case (lon, lat) =>
      val h = GeoHash.encode(lon, lat, 40)
      val (clon, clat) = GeoHash.centroid(h, 40)
      val (lonErr, latErr) = GeoHash.errorWithPrecision(40)
      assert(math.abs(clon - lon) <= lonErr, s"lon $lon -> $clon")
      assert(math.abs(clat - lat) <= latErr, s"lat $lat -> $clat")
    }
  }

  test("bbox contains encoded point") {
    val (lon, lat) = (5.3, 43.3)
    val h = GeoHash.encode(lon, lat, 30)
    val (x0, y0, x1, y1) = GeoHash.boundingBox(h, 30)
    assert(lon >= x0 && lon < x1 && lat >= y0 && lat < y1)
  }

  test("neighbors are 8 distinct adjacent cells") {
    val h = GeoHash.encode(5.3, 43.3, 30)
    val nbrs = GeoHash.neighbors(h, 30)
    assert(nbrs.length == 8)
    assert(nbrs.distinct.length == 8)
    assert(!nbrs.contains(h))
    // symmetry: h must be a neighbor of each neighbor
    nbrs.foreach { nb =>
      assert(GeoHash.neighbors(nb, 30).contains(h))
    }
  }

  test("coarsen drops low bits and nests") {
    val h40 = GeoHash.encode(5.3, 43.3, 40)
    val h20 = GeoHash.coarsen(h40, 40, 20)
    assert(h20 == GeoHash.encode(5.3, 43.3, 20))
    val (x0, y0, x1, y1) = GeoHash.boundingBox(h20, 20)
    val (cx, cy) = GeoHash.centroid(h40, 40)
    assert(cx >= x0 && cx < x1 && cy >= y0 && cy < y1)
  }

  test("cover box enumerates the covering grid") {
    val cells = GeoHash.coverBox(-1.0, -1.0, 1.0, 1.0, 20)
    assert(cells.nonEmpty)
    assert(cells.distinct.length == cells.length)
    // every cell's bbox must intersect the box
    cells.foreach { h =>
      val (x0, y0, x1, y1) = GeoHash.boundingBox(h, 20)
      assert(x1 >= -1.0 && x0 <= 1.0 && y1 >= -1.0 && y0 <= 1.0)
    }
    // the encoded center cell is part of the cover
    assert(cells.contains(GeoHash.encode(0.0, 0.0, 20)))
    // COMPLETENESS (r3 bug: round(diff) dropped the NE row/column and
    // boundary-straddling boxes got an empty cover): every corner's cell
    // must be in the cover, for boxes both smaller and larger than cells
    for (box <- Seq((-1.0, -1.0, 1.0, 1.0), (10.1, 5.2, 10.3, 5.3),
        (33.7, 21.4, 34.2, 21.9), (170.0, 80.0, 179.99, 89.99));
        prec <- Seq(12, 20)) {
      val (x0, y0, x1, y1) = box
      val cover = GeoHash.coverBox(x0, y0, x1, y1, prec).toSet
      for ((cx, cy) <- Seq((x0, y0), (x1, y0), (x0, y1), (x1, y1)))
        assert(cover.contains(GeoHash.encode(cx, cy, prec)),
          s"corner ($cx,$cy) cell missing from cover of $box at $prec")
    }
  }
}

class MomentsSpec extends AnyFunSuite {
  private val rng = new scala.util.Random(42)
  private val values = Array.fill(1000)(rng.nextDouble() * 100 - 50)

  test("sequential moments match numpy-style formulas") {
    val m = new Moments()
    values.foreach(m.add)
    val mean = values.sum / values.length
    val variance = values.map(v => (v - mean) * (v - mean)).sum / values.length
    assert(math.abs(m.meanOrNaN - mean) < 1e-10)
    assert(math.abs(m.variance() - variance) < 1e-9)
    assert(m.count == values.length)
    assert(m.minOrNaN == values.min && m.maxOrNaN == values.max)
  }

  test("merge of split accumulators equals sequential push") {
    // mirrors cxx/tests/.../descriptive_statistics.cpp:180
    val whole = new Moments()
    values.foreach(whole.add)
    for (splitAt <- Seq(1, 10, 500, 999)) {
      val a = new Moments()
      val b = new Moments()
      values.take(splitAt).foreach(a.add)
      values.drop(splitAt).foreach(b.add)
      a.merge(b)
      assert(math.abs(a.meanOrNaN - whole.meanOrNaN) < 1e-10)
      assert(math.abs(a.variance() - whole.variance()) < 1e-8)
      assert(math.abs(a.skewness - whole.skewness) < 1e-6)
      assert(math.abs(a.kurtosis - whole.kurtosis) < 1e-6)
      assert(a.count == whole.count)
    }
  }

  test("weighted push equals repeated push for integer weights") {
    val a = new Moments()
    val b = new Moments()
    Seq(1.0, 2.0, 3.0).foreach { v => a.add(v, 2.0) }
    Seq(1.0, 1.0, 2.0, 2.0, 3.0, 3.0).foreach(b.add)
    assert(math.abs(a.meanOrNaN - b.meanOrNaN) < 1e-12)
    assert(math.abs(a.m2 - b.m2) < 1e-10)
  }

  test("large offset numerical stability") {
    // mirrors descriptive_statistics.cpp:261
    val offset = 1e9
    val m = new Moments()
    values.map(_ + offset).foreach(m.add)
    val mean = values.sum / values.length
    val variance = values.map(v => (v - mean) * (v - mean)).sum / values.length
    assert(math.abs(m.variance() - variance) / variance < 1e-6)
  }

  test("empty accumulator yields NaN stats") {
    val m = new Moments()
    assert(m.meanOrNaN.isNaN && m.variance().isNaN)
  }
}

class TDigestSpec extends AnyFunSuite {
  test("quantiles of uniform sample within tolerance") {
    val rng = new scala.util.Random(7)
    val xs = Array.fill(20000)(rng.nextDouble())
    val td = new TDigest(100)
    xs.foreach(td.add(_))
    for (q <- Seq(0.25, 0.5, 0.75)) {
      assert(math.abs(td.quantile(q) - q) < 0.02, s"q=$q got ${td.quantile(q)}")
    }
    assert(td.quantile(0.0) == xs.min)
    assert(td.quantile(1.0) == xs.max)
  }

  test("merged digests approximate the whole") {
    val rng = new scala.util.Random(11)
    val xs = Array.fill(10000)(rng.nextGaussian())
    val whole = new TDigest(100)
    xs.foreach(whole.add(_))
    val a = new TDigest(100)
    val b = new TDigest(100)
    xs.take(5000).foreach(a.add(_))
    xs.drop(5000).foreach(b.add(_))
    a.merge(b)
    assert(a.count == whole.count)
    for (q <- Seq(0.1, 0.5, 0.9)) {
      assert(math.abs(a.quantile(q) - whole.quantile(q)) < 0.05)
    }
  }

  test("serialization round trip") {
    val td = new TDigest(100)
    (1 to 1000).foreach(i => td.add(i.toDouble))
    val rt = TDigest.fromBytes(td.toBytes)
    assert(rt.count == td.count)
    assert(rt.quantile(0.5) == td.quantile(0.5))
  }
}

class InterpolateSpec extends AnyFunSuite {
  test("bilinear exact on bilinear function") {
    // f(x,y) = 2x + 3y + xy is reproduced exactly by bilinear interpolation
    def f(x: Double, y: Double) = 2 * x + 3 * y + x * y
    val v = Interpolate.bilinear(0.3, 0.7, 0, 0, 1, 1,
      f(0, 0), f(0, 1), f(1, 0), f(1, 1))
    assert(math.abs(v - f(0.3, 0.7)) < 1e-12)
  }

  test("idw4 returns corner value at coincident point") {
    val v = Interpolate.idw4(0.0, 0.0, 0, 0, 1, 1, 5.0, 6.0, 7.0, 8.0)
    assert(v == 5.0)
  }

  test("nearest4 picks closest corner") {
    assert(Interpolate.nearest4(0.1, 0.9, 0, 0, 1, 1, 1, 2, 3, 4) == 2.0)
    assert(Interpolate.nearest4(0.9, 0.1, 0, 0, 1, 1, 1, 2, 3, 4) == 3.0)
  }

  test("cspline interpolates cubic polynomial near-exactly inside") {
    val xs = (0 to 20).map(_ * 0.5).toArray
    def f(x: Double) = x * x // natural spline reproduces smooth fns approx
    val ys = xs.map(f)
    // inner points: spline of x^2 is close (natural BC causes edge error)
    val v = Interpolate.cspline(xs, ys, 5.25)
    assert(math.abs(v - f(5.25)) < 1e-2)
  }

  test("cspline derivative approximates analytic derivative") {
    val xs = (0 to 40).map(_ * 0.25).toArray
    val ys = xs.map(x => math.sin(x))
    val ds = Interpolate.csplineDerivative(xs, ys, Array(3.0, 5.0, 7.0))
    Seq(3.0, 5.0, 7.0).zipWithIndex.foreach { case (x, i) =>
      assert(math.abs(ds(i) - math.cos(x)) < 1e-3, s"x=$x")
    }
  }

  test("bicubic window reproduces analytic field within reference rtol") {
    // mirrors tests/core/windowed/test_bivariate.py tolerance class (0.02)
    def f(x: Double, y: Double) =
      math.sin(3 * x) * math.cos(2 * y) + 0.5 * math.sin(5 * x) * math.sin(4 * y)
    val xs = (0 to 5).map(i => 1.0 + i * 0.1).toArray
    val ys = (0 to 5).map(j => 0.5 + j * 0.1).toArray
    val z = xs.map(x => ys.map(y => f(x, y)))
    val bc = new Bicubic(xs, ys, z)
    val got = bc(1.25, 0.75)
    val expect = f(1.25, 0.75)
    assert(math.abs(got - expect) <= 0.02 * math.max(1.0, math.abs(expect)),
      s"got $got expect $expect")
    assert(bc(0.0, 0.0).isNaN) // outside window
  }

  test("bicubic exact on bilinear field") {
    def f(x: Double, y: Double) = 1 + 2 * x + 3 * y
    val xs = (0 to 5).map(_.toDouble).toArray
    val ys = (0 to 5).map(_.toDouble).toArray
    val z = xs.map(x => ys.map(y => f(x, y)))
    val bc = new Bicubic(xs, ys, z)
    assert(math.abs(bc(2.5, 2.5) - f(2.5, 2.5)) < 1e-9)
  }
}

class GeometrySpec extends AnyFunSuite {
  val pentagon = Polygon2D(Array((0.0, 0.0), (4.0, 0.0), (5.0, 3.0),
    (2.0, 5.0), (-1.0, 3.0)))

  test("within is boundary exclusive, coveredBy inclusive") {
    assert(pentagon.contains(2.0, 2.0))
    assert(!pentagon.contains(2.0, 0.0)) // on edge
    assert(pentagon.coveredBy(2.0, 0.0))
    assert(!pentagon.contains(10.0, 10.0))
  }

  test("polygon with hole") {
    val withHole = Polygon2D(
      Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)),
      Array(Array((4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0))))
    assert(withHole.contains(1.0, 1.0))
    assert(!withHole.contains(5.0, 5.0))
    assert(withHole.coveredBy(4.0, 5.0)) // hole boundary
  }

  test("serialize round trip") {
    val rt = Polygon2D.deserialize(pentagon.serialize)
    assert(rt.exterior.toSeq == pentagon.exterior.toSeq)
  }

  test("intersectsBox") {
    assert(pentagon.intersectsBox(-2.0, -2.0, 0.5, 0.5))
    assert(!pentagon.intersectsBox(6.0, 6.0, 8.0, 8.0))
    assert(pentagon.intersectsBox(1.0, 1.0, 2.0, 2.0)) // box inside polygon
  }

  test("polygon cell cover includes interior cells only near polygon") {
    val cells = GeoHash.coverPolygon(pentagon, 20)
    assert(cells.nonEmpty)
    val inside = GeoHash.encode(2.0, 2.0, 20)
    assert(cells.contains(inside))
  }
}

class GeodesySpec extends AnyFunSuite {
  test("lla->ecef->lla round trip") {
    val pts = Seq((2.35, 48.85, 100.0), (-122.4, 37.8, 0.0), (0.0, 0.0, 0.0),
      (151.2, -33.9, 50.0))
    pts.foreach { case (lon, lat, alt) =>
      val (x, y, z) = Geodesy.llaToEcef(lon, lat, alt)
      val (lon2, lat2, alt2) = Geodesy.ecefToLla(x, y, z)
      assert(math.abs(lon - lon2) < 1e-9)
      assert(math.abs(lat - lat2) < 1e-9)
      assert(math.abs(alt - alt2) < 1e-6)
    }
  }

  test("equator ecef") {
    val (x, y, z) = Geodesy.llaToEcef(0.0, 0.0, 0.0)
    assert(math.abs(x - Geodesy.A) < 1e-6 && math.abs(y) < 1e-6 &&
      math.abs(z) < 1e-6)
  }

  test("haversine paris-london ~343km") {
    val d = Geodesy.haversine(2.3522, 48.8566, -0.1276, 51.5072)
    assert(d > 330000 && d < 350000)
  }
}

class KdTreeSpec extends AnyFunSuite {
  test("knn matches brute force") {
    val rng = new scala.util.Random(3)
    val pts = Array.fill(500)((Array(rng.nextDouble() * 10,
      rng.nextDouble() * 10), rng.nextDouble(), rng.nextLong().abs))
    val tree = KdTree.build(pts.iterator, 2)
    val queries = Array.fill(50)(Array(rng.nextDouble() * 10,
      rng.nextDouble() * 10))
    queries.foreach { q =>
      val got = tree.query(q, 8)
      val brute = pts.map { case (c, v, id) =>
        val dx = c(0) - q(0); val dy = c(1) - q(1)
        (math.sqrt(dx * dx + dy * dy), v, id)
      }.sortBy(t => (t._1, t._3)).take(8)
      assert(got.length == 8)
      got.zip(brute).foreach { case (g, b) =>
        assert(math.abs(g._1 - b._1) < 1e-12)
      }
    }
  }

  test("radius filter applies after knn") {
    val pts = Array.tabulate(10)(i => (Array(i.toDouble, 0.0), i.toDouble,
      i.toLong))
    val tree = KdTree.build(pts.iterator, 2)
    val res = tree.query(Array(0.0, 0.0), 5, radius = 2.5)
    assert(res.map(_._3).toSeq == Seq(0L, 1L, 2L))
  }

  test("queryBall returns all in radius") {
    val pts = Array.tabulate(100)(i => (Array((i % 10).toDouble,
      (i / 10).toDouble), 1.0, i.toLong))
    val tree = KdTree.build(pts.iterator, 2)
    val res = tree.queryBall(Array(5.0, 5.0), 1.5)
    assert(res.length == 9) // center + 4-cross + 4 diagonals (sqrt2 < 1.5)
  }
}
