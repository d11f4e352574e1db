package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{DenseBicubicWorkspace, GeoHash}

/** The tile resample kernel against a per-pixel reference: the whole-grid
  * bicubic as it was before the coefficient table (natural-spline Thomas
  * solve per line, the 16-term Hermite polynomial recomputed at every
  * pixel, every tile pixel bracketed on its own). `partialTiles` must
  * reproduce it bit for bit: same cells, image counts, counts and raw
  * float bits of the sums. No Spark job runs here.
  */
class TileKernelParitySpec extends AnyFunSuite {
  import TileKernelParitySpec._

  private def rowOf(idx: Int, w: Int, h: Int, fmt: String): ImageRow = {
    val rng = new scala.util.Random(idx)
    val lon = ImageTableGen.LonMin + rng.nextDouble() * 80.0
    val lat = ImageTableGen.LatMin + rng.nextDouble() * 60.0
    val f = ImageTableGen.FootprintDeg
    val pixels = Array.tabulate(w * h) { k =>
      ImageTableGen.fieldToPixel(ImageTableGen.field(
        lon + (k % w) * f / (w - 1), lat + (k / w) * f / (h - 1)))
    }
    ImageRow(s"grid$idx", ImageCodec.encode(pixels, w, h, fmt), w, h, fmt,
      "", 0L, lon, lat)
  }

  private val images: Seq[ImageRow] = {
    val rng = new scala.util.Random(4242)
    val seeded = Seq.fill(300)(
      ImageTableGen.makeRow(rng.nextInt(1 << 30).toLong, 32, 0.5))
    val small = for {
      (w, h) <- Seq((2, 2), (3, 3), (5, 7))
      fmt <- Seq("png", "jpeg")
      k <- 0 until 4
    } yield rowOf(w * 100 + h * 10 + k + (if (fmt == "png") 0 else 5000),
      w, h, fmt)
    seeded ++ small
  }

  test("inputs span both codecs and the small-grid shapes") {
    assert(images.count(_.fmt == "png") > 100)
    assert(images.count(_.fmt == "jpeg") > 100)
    assert(Set((2, 2), (3, 3), (5, 7)).subsetOf(
      images.map(r => (r.w, r.h)).toSet))
  }

  for (method <- Seq("bicubic", "bilinear")) {
    test(s"partialTiles is bit-identical to the per-pixel $method reference") {
      var partials = 0
      var pixels = 0L
      for (precision <- Seq(12, 20); tileSize <- Seq(8, 32)) {
        val kernel = new TilePipeline.TileResampler(precision, tileSize,
          method)
        images.foreach { r =>
          val got = kernel.process(r).toVector
          val want = referenceTiles(r, precision, tileSize, method)
          val tag = s"${r.image_id} ${r.w}x${r.h} p$precision ts$tileSize"
          assert(got.map(_.cell) === want.map(_.cell), tag)
          got.zip(want).foreach { case (g, e) =>
            assert(g.n_images === e.n_images, tag)
            assert(g.counts.toSeq === e.counts.toSeq, s"$tag cell ${g.cell}")
            assert(g.sums.map(java.lang.Float.floatToRawIntBits).toSeq ===
              e.sums.map(java.lang.Float.floatToRawIntBits).toSeq,
              s"$tag cell ${g.cell}")
            pixels += g.counts.sum
          }
          partials += got.length
        }
      }
      // every shape emits tiles, so no comparison above is vacuous
      assert(partials > 3000 && pixels > 1000000L, s"$partials $pixels")
    }
  }

  test("bicubic(x, y) equals the reference at any point") {
    val rng = new scala.util.Random(77)
    for ((nx, ny) <- Seq((2, 2), (3, 3), (5, 7), (32, 32))) {
      val xs = Array.tabulate(nx)(i => 100.0 + i * 0.5 / (nx - 1))
      val ys = Array.tabulate(ny)(j => -20.0 + j * 0.5 / (ny - 1))
      val z = Array.fill(nx * ny)(rng.nextFloat().toDouble)
      val ws = new DenseBicubicWorkspace(nx, ny)
      ws.load(xs, ys, z)
      val ref = new ReferenceGrid(xs, ys, z)
      for (_ <- 0 until 2000) {
        val x = 99.9 + rng.nextDouble() * 0.7
        val y = -20.1 + rng.nextDouble() * 0.7
        assert(java.lang.Double.doubleToRawLongBits(ws.bicubic(x, y)) ===
          java.lang.Double.doubleToRawLongBits(ref.bicubic(x, y)),
          s"${nx}x$ny ($x, $y)")
      }
    }
  }
}

object TileKernelParitySpec {

  /** Natural-spline derivative at every node, with the Thomas solve of
    * the whole system done per value vector.
    */
  def splineDerivativeAtNodes(xa: Array[Double],
                              ya: Array[Double]): Array[Double] = {
    val n = xa.length
    if (n < 4) return Array.tabulate(n) { k =>
      val i = math.min(k, n - 2)
      (ya(i + 1) - ya(i)) / (xa(i + 1) - xa(i))
    }
    val m = n - 2
    val diag = new Array[Double](m)
    val sup = new Array[Double](m)
    val sub = new Array[Double](m)
    val rhs = new Array[Double](m)
    for (i <- 0 until m) {
      val h0 = xa(i + 1) - xa(i)
      val h1 = xa(i + 2) - xa(i + 1)
      val y0 = ya(i + 1) - ya(i)
      val y1 = ya(i + 2) - ya(i + 1)
      val g0 = if (h0 != 0.0) 1.0 / h0 else 0.0
      val g1 = if (h1 != 0.0) 1.0 / h1 else 0.0
      sub(i) = h0
      diag(i) = 2.0 * (h0 + h1)
      sup(i) = h1
      rhs(i) = 3.0 * Math.fma(y1, g1, -y0 * g0)
    }
    val cp = new Array[Double](m)
    val dp = new Array[Double](m)
    val inv = 1.0 / diag(0)
    cp(0) = sup(0) * inv
    dp(0) = rhs(0) * inv
    for (i <- 1 until m) {
      val mlt = sub(i)
      val invM = 1.0 / (diag(i) - mlt * cp(i - 1))
      cp(i) = sup(i) * invM
      dp(i) = Math.fma(-mlt, dp(i - 1), rhs(i)) * invM
    }
    val cc = new Array[Double](n)
    cc(m) = dp(m - 1)
    for (i <- m - 1 to 1 by -1)
      cc(i) = Math.fma(-cp(i - 1), cc(i + 1), dp(i - 1))
    Array.tabulate(n) { k =>
      val i = if (k == n - 1) n - 2 else k
      val dx = xa(i + 1) - xa(i)
      val dy = ya(i + 1) - ya(i)
      val h = xa(k) - xa(i)
      val b = dy / dx - dx * (cc(i + 1) + 2.0 * cc(i)) / 3.0
      val d = (cc(i + 1) - cc(i)) / (3.0 * dx)
      b + h * Math.fma(3.0 * h, d, 2.0 * cc(i))
    }
  }

  /** Whole-grid bicubic evaluated from the derivative matrices at every
    * point (x-major values z(i * ny + j)).
    */
  final class ReferenceGrid(xs: Array[Double], ys: Array[Double],
                            z: Array[Double]) {
    private val nx = xs.length
    private val ny = ys.length
    private val zx = new Array[Double](nx * ny)
    private val zy = new Array[Double](nx * ny)
    private val zxy = new Array[Double](nx * ny)
    for (j <- 0 until ny) {
      val d = splineDerivativeAtNodes(xs,
        Array.tabulate(nx)(i => z(i * ny + j)))
      for (i <- 0 until nx) zx(i * ny + j) = d(i)
    }
    for (i <- 0 until nx) {
      val d = splineDerivativeAtNodes(ys, z.slice(i * ny, (i + 1) * ny))
      System.arraycopy(d, 0, zy, i * ny, ny)
    }
    for (j <- 0 until ny) {
      val d = splineDerivativeAtNodes(xs,
        Array.tabulate(nx)(i => zy(i * ny + j)))
      for (i <- 0 until nx) zxy(i * ny + j) = d(i)
    }
    private val invDx = (nx - 1) / (xs(nx - 1) - xs(0))
    private val invDy = (ny - 1) / (ys(ny - 1) - ys(0))

    def bicubic(x: Double, y: Double): Double = {
      if (x < xs(0) || x > xs(nx - 1) || y < ys(0) || y > ys(ny - 1))
        return Double.NaN
      var i0 = ((x - xs(0)) * invDx).toInt
      if (i0 > nx - 2) i0 = nx - 2
      var j0 = ((y - ys(0)) * invDy).toInt
      if (j0 > ny - 2) j0 = ny - 2
      val i1 = i0 + 1
      val j1 = j0 + 1
      val xa = xs(i0); val xb = xs(i1)
      val ya = ys(j0); val yb = ys(j1)
      val dx = xb - xa; val dy = yb - ya; val dxdy = dx * dy
      val t = (x - xa) / dx
      val u = (y - ya) / dy
      val o00 = i0 * ny + j0; val o01 = i0 * ny + j1
      val o10 = i1 * ny + j0; val o11 = i1 * ny + j1
      val z00 = z(o00); val z01 = z(o01); val z10 = z(o10); val z11 = z(o11)
      val zx00 = zx(o00) * dx; val zx01 = zx(o01) * dx
      val zx10 = zx(o10) * dx; val zx11 = zx(o11) * dx
      val zy00 = zy(o00) * dy; val zy01 = zy(o01) * dy
      val zy10 = zy(o10) * dy; val zy11 = zy(o11) * dy
      val zxy00 = zxy(o00) * dxdy; val zxy01 = zxy(o01) * dxdy
      val zxy10 = zxy(o10) * dxdy; val zxy11 = zxy(o11) * dxdy
      val t2 = t * t; val t3 = t2 * t
      val u2 = u * u; val u3 = u2 * u
      val term0 = z00 + u * zy00 +
        u2 * (3.0 * (z01 - z00) - 2.0 * zy00 - zy01) +
        u3 * (2.0 * (z00 - z01) + zy00 + zy01)
      val term1 = zx00 + u * zxy00 +
        u2 * (3.0 * (zx01 - zx00) - 2.0 * zxy00 - zxy01) +
        u3 * (2.0 * (zx00 - zx01) + zxy00 + zxy01)
      val t2u0 = 3.0 * (z10 - z00) - 2.0 * zx00 - zx10
      val t2u1 = 3.0 * (zy10 - zy00) - 2.0 * zxy00 - zxy10
      val t2u2 = 9.0 * (z00 - z01 - z10 + z11) +
        6.0 * (zx00 - zx01 + zy00 - zy10) +
        3.0 * (zx10 - zx11 + zy01 - zy11) + 4.0 * zxy00 +
        2.0 * (zxy01 + zxy10) + zxy11
      val t2u3 = 6.0 * (z01 - z00 + z10 - z11) + 4.0 * (zx01 - zx00) +
        3.0 * (zy10 - zy00 - zy01 + zy11) +
        2.0 * (zx11 - zx10 - zxy00 - zxy01) - zxy10 - zxy11
      val term2 = t2u0 + u * t2u1 + u2 * t2u2 + u3 * t2u3
      val t3u0 = 2.0 * (z00 - z10) + zx00 + zx10
      val t3u1 = zxy00 + zxy10 + 2.0 * (zy00 - zy10)
      val t3u2 = 6.0 * (z01 - z00 + z10 - z11) + 4.0 * (zy10 - zy00) +
        3.0 * (zx01 - zx00 - zx10 + zx11) +
        2.0 * (zy11 - zy01 - zxy00 - zxy10) - zxy01 - zxy11
      val t3u3 = 4.0 * (z00 - z01 - z10 + z11) +
        2.0 * (zx00 - zx01 + zx10 - zx11 + zy00 + zy01 - zy10 - zy11) +
        zxy00 + zxy01 + zxy10 + zxy11
      val term3 = t3u0 + u * t3u1 + u2 * t3u2 + u3 * t3u3
      term0 + t * term1 + t2 * term2 + t3 * term3
    }

    def bilinear(x: Double, y: Double): Double = {
      if (x < xs(0) || x > xs(nx - 1) || y < ys(0) || y > ys(ny - 1))
        return Double.NaN
      var i0 = ((x - xs(0)) * invDx).toInt
      if (i0 > nx - 2) i0 = nx - 2
      var j0 = ((y - ys(0)) * invDy).toInt
      if (j0 > ny - 2) j0 = ny - 2
      val t = (x - xs(i0)) / (xs(i0 + 1) - xs(i0))
      val u = (y - ys(j0)) / (ys(j0 + 1) - ys(j0))
      val o = i0 * ny + j0
      (1 - t) * ((1 - u) * z(o) + u * z(o + 1)) +
        t * ((1 - u) * z(o + ny) + u * z(o + ny + 1))
    }
  }

  /** Partial tiles of one image, every tile pixel evaluated on its own. */
  def referenceTiles(row: ImageRow, precision: Int, tileSize: Int,
                     method: String): Vector[TilePipeline.Tile] = {
    val (pixels, w, h) = ImageCodec.decode(row.bytes)
    val stepX = ImageTableGen.FootprintDeg / (w - 1)
    val stepY = ImageTableGen.FootprintDeg / (h - 1)
    val xs = Array.tabulate(w)(i => row.lon + stepX * i)
    val ys = Array.tabulate(h)(j => row.lat + stepY * j)
    val values = Array.tabulate(w * h)(k => pixels((k % h) * w + k / h).toDouble)
    val grid = new ReferenceGrid(xs, ys, values)
    GeoHash.coverBox(row.lon, row.lat, row.lon + ImageTableGen.FootprintDeg,
      row.lat + ImageTableGen.FootprintDeg, precision).toVector.flatMap {
      cell =>
        val (cx0, cy0, cx1, cy1) = GeoHash.boundingBox(cell, precision)
        val dx = (cx1 - cx0) / tileSize
        val dy = (cy1 - cy0) / tileSize
        val sums = new Array[Float](tileSize * tileSize)
        val counts = new Array[Int](tileSize * tileSize)
        for (jj <- 0 until tileSize; ii <- 0 until tileSize) {
          val lat = cy0 + (jj + 0.5) * dy
          val lon = cx0 + (ii + 0.5) * dx
          if (lat >= ys(0) && lat <= ys(h - 1) &&
              lon >= xs(0) && lon <= xs(w - 1)) {
            val v = if (method == "bicubic") grid.bicubic(lon, lat)
              else grid.bilinear(lon, lat)
            if (!v.isNaN) {
              sums(jj * tileSize + ii) += v.toFloat
              counts(jj * tileSize + ii) += 1
            }
          }
        }
        if (counts.exists(_ > 0)) Some(TilePipeline.Tile(cell, 1, sums, counts))
        else None
    }
  }
}
