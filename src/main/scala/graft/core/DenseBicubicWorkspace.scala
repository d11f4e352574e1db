package graft.core

/** Whole-grid bicubic interpolator for fixed grid dimensions: the
  * derivative matrices zx, zy, zxy (reference bicubic derivative
  * matrices, `bicubic.hpp:56-87`) are computed once per `load()` over
  * the full grid, then each evaluation is a 16-term Hermite polynomial
  * (`:89-186`) with zero allocation — the reference's bicubic with the
  * window spanning the whole grid; per-query windowed (6x6) semantics
  * live in [[graft.operators.BivariateKernel]]. All matrices and solver
  * scratch are allocated once and reused across `load()` calls — the
  * per-partition kernel state of the tile pipeline (one instance per
  * task, thousands of images through it), so steady-state allocation per
  * image drops to the emitted tiles only.
  */
final class DenseBicubicWorkspace(nx: Int, ny: Int) {
  private val zx = new Array[Double](nx * ny)
  private val zy = new Array[Double](nx * ny)
  private val zxy = new Array[Double](nx * ny)
  private val wsX = new Interpolate.SplineWorkspace(nx)
  private val wsY = new Interpolate.SplineWorkspace(ny)
  private val colBuf = new Array[Double](nx)
  private val rowBuf = new Array[Double](ny)

  private var xs: Array[Double] = _
  private var ys: Array[Double] = _
  private var z: Array[Double] = _
  private var x0 = 0.0
  private var y0 = 0.0
  private var invDx = 0.0
  private var invDy = 0.0

  /** Load a new grid (same dims); recomputes derivative matrices. */
  def load(xsIn: Array[Double], ysIn: Array[Double],
           zIn: Array[Double]): Unit = {
    require(xsIn.length == nx && ysIn.length == ny)
    xs = xsIn
    ys = ysIn
    z = zIn
    x0 = xs(0)
    y0 = ys(0)
    invDx = if (nx > 1) (nx - 1) / (xs(nx - 1) - xs(0)) else 0.0
    invDy = if (ny > 1) (ny - 1) / (ys(ny - 1) - ys(0)) else 0.0
    var j = 0
    while (j < ny) {
      var i = 0
      while (i < nx) { colBuf(i) = z(i * ny + j); i += 1 }
      Interpolate.csplineDerivativeAtNodesInto(xs, colBuf, wsX, zx, ny, j)
      j += 1
    }
    var i = 0
    while (i < nx) {
      System.arraycopy(z, i * ny, rowBuf, 0, ny)
      Interpolate.csplineDerivativeAtNodesInto(ys, rowBuf, wsY, zy, 1, i * ny)
      i += 1
    }
    j = 0
    while (j < ny) {
      var ii = 0
      while (ii < nx) { colBuf(ii) = zy(ii * ny + j); ii += 1 }
      Interpolate.csplineDerivativeAtNodesInto(xs, colBuf, wsX, zxy, ny, j)
      j += 1
    }
  }

  def bicubic(x: Double, y: Double): Double = {
    if (x < xs(0) || x > xs(nx - 1) || y < ys(0) || y > ys(ny - 1))
      return Double.NaN
    var i0 = ((x - x0) * invDx).toInt
    if (i0 > nx - 2) i0 = nx - 2
    var j0 = ((y - y0) * invDy).toInt
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
    var i0 = ((x - x0) * invDx).toInt
    if (i0 > nx - 2) i0 = nx - 2
    var j0 = ((y - y0) * invDy).toInt
    if (j0 > ny - 2) j0 = ny - 2
    val t = (x - xs(i0)) / (xs(i0 + 1) - xs(i0))
    val u = (y - ys(j0)) / (ys(j0 + 1) - ys(j0))
    val o = i0 * ny + j0
    (1 - t) * ((1 - u) * z(o) + u * z(o + 1)) +
      t * ((1 - u) * z(o + ny) + u * z(o + ny + 1))
  }
}
