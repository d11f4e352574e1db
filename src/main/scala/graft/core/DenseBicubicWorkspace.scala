package graft.core

/** Whole-grid natural-spline bicubic interpolator for fixed grid
  * dimensions — the reference's bicubic (`bicubic.hpp:56-186`) with the
  * window spanning the whole grid; per-query windowed (6x6) semantics
  * live in [[graft.operators.WindowFit]].
  *
  * `load()` does all value-dependent arithmetic once per grid:
  *   - the natural-spline system of each axis is factored once
  *     ([[Interpolate.csplineFactor]]) and the 2·nx + ny derivative
  *     systems behind zx, zy, zxy (`bicubic.hpp:56-87`) are solved
  *     against those two factorizations;
  *   - a per-cell table then holds the 16 coefficients of the Hermite
  *     polynomial (`:89-186`): for each of term0..term3, the
  *     coefficients of 1, u, u², u³.
  * An evaluation is a bracket of x and y plus [[bicubicAt]], a table
  * lookup; callers that sample many points on shared rows and columns
  * (the tile resampler) bracket each row and column once.
  *
  * All matrices, the table and the solver scratch are allocated once and
  * reused across `load()` calls — the per-partition kernel state of the
  * tile pipeline (one instance per task, thousands of images through
  * it), so steady-state allocation per image drops to the emitted tiles
  * only.
  */
final class DenseBicubicWorkspace(nx: Int, ny: Int) {
  private val zx = new Array[Double](nx * ny)
  private val zy = new Array[Double](nx * ny)
  private val zxy = new Array[Double](nx * ny)
  private val wsX = new Interpolate.SplineWorkspace(nx)
  private val wsY = new Interpolate.SplineWorkspace(ny)
  private val colBuf = new Array[Double](nx)
  private val rowBuf = new Array[Double](ny)
  // cell (i0, j0) at (j0 * (nx - 1) + i0) * 16, terms in order
  private val coef =
    new Array[Double](math.max(0, nx - 1) * math.max(0, ny - 1) * 16)

  private var xs: Array[Double] = _
  private var ys: Array[Double] = _
  private var z: Array[Double] = _
  private var x0 = 0.0
  private var y0 = 0.0
  private var invDx = 0.0
  private var invDy = 0.0

  /** Load a new grid (same dims) for [[bilinearAt]] and the cell
    * brackets only: no derivative or coefficient work.
    */
  def loadValues(xsIn: Array[Double], ysIn: Array[Double],
                 zIn: Array[Double]): Unit = {
    require(xsIn.length == nx && ysIn.length == ny)
    xs = xsIn
    ys = ysIn
    z = zIn
    x0 = xs(0)
    y0 = ys(0)
    invDx = if (nx > 1) (nx - 1) / (xs(nx - 1) - xs(0)) else 0.0
    invDy = if (ny > 1) (ny - 1) / (ys(ny - 1) - ys(0)) else 0.0
  }

  /** Load a new grid (same dims): derivative matrices and the
    * coefficient table, for [[bicubicAt]] as well.
    */
  def load(xsIn: Array[Double], ysIn: Array[Double],
           zIn: Array[Double]): Unit = {
    loadValues(xsIn, ysIn, zIn)
    Interpolate.csplineFactor(xs, wsX)
    Interpolate.csplineFactor(ys, wsY)
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
    fillCoefficients()
  }

  private def fillCoefficients(): Unit = {
    var j0 = 0
    while (j0 < ny - 1) {
      val j1 = j0 + 1
      val dy = ys(j1) - ys(j0)
      var i0 = 0
      while (i0 < nx - 1) {
        val i1 = i0 + 1
        val dx = xs(i1) - xs(i0); val dxdy = dx * dy
        val o00 = i0 * ny + j0; val o01 = i0 * ny + j1
        val o10 = i1 * ny + j0; val o11 = i1 * ny + j1
        val z00 = z(o00); val z01 = z(o01); val z10 = z(o10); val z11 = z(o11)
        val zx00 = zx(o00) * dx; val zx01 = zx(o01) * dx
        val zx10 = zx(o10) * dx; val zx11 = zx(o11) * dx
        val zy00 = zy(o00) * dy; val zy01 = zy(o01) * dy
        val zy10 = zy(o10) * dy; val zy11 = zy(o11) * dy
        val zxy00 = zxy(o00) * dxdy; val zxy01 = zxy(o01) * dxdy
        val zxy10 = zxy(o10) * dxdy; val zxy11 = zxy(o11) * dxdy
        val c = coef
        val b = (j0 * (nx - 1) + i0) * 16
        c(b) = z00
        c(b + 1) = zy00
        c(b + 2) = 3.0 * (z01 - z00) - 2.0 * zy00 - zy01
        c(b + 3) = 2.0 * (z00 - z01) + zy00 + zy01
        c(b + 4) = zx00
        c(b + 5) = zxy00
        c(b + 6) = 3.0 * (zx01 - zx00) - 2.0 * zxy00 - zxy01
        c(b + 7) = 2.0 * (zx00 - zx01) + zxy00 + zxy01
        c(b + 8) = 3.0 * (z10 - z00) - 2.0 * zx00 - zx10
        c(b + 9) = 3.0 * (zy10 - zy00) - 2.0 * zxy00 - zxy10
        c(b + 10) = 9.0 * (z00 - z01 - z10 + z11) +
          6.0 * (zx00 - zx01 + zy00 - zy10) +
          3.0 * (zx10 - zx11 + zy01 - zy11) + 4.0 * zxy00 +
          2.0 * (zxy01 + zxy10) + zxy11
        c(b + 11) = 6.0 * (z01 - z00 + z10 - z11) + 4.0 * (zx01 - zx00) +
          3.0 * (zy10 - zy00 - zy01 + zy11) +
          2.0 * (zx11 - zx10 - zxy00 - zxy01) - zxy10 - zxy11
        c(b + 12) = 2.0 * (z00 - z10) + zx00 + zx10
        c(b + 13) = zxy00 + zxy10 + 2.0 * (zy00 - zy10)
        c(b + 14) = 6.0 * (z01 - z00 + z10 - z11) + 4.0 * (zy10 - zy00) +
          3.0 * (zx01 - zx00 - zx10 + zx11) +
          2.0 * (zy11 - zy01 - zxy00 - zxy10) - zxy01 - zxy11
        c(b + 15) = 4.0 * (z00 - z01 - z10 + z11) +
          2.0 * (zx00 - zx01 + zx10 - zx11 + zy00 + zy01 - zy10 - zy11) +
          zxy00 + zxy01 + zxy10 + zxy11
        i0 += 1
      }
      j0 += 1
    }
  }

  /** Grid column i0 of the cell holding an in-grid x. */
  def cellX(x: Double): Int = {
    val i0 = ((x - x0) * invDx).toInt
    if (i0 > nx - 2) nx - 2 else i0
  }

  /** Grid row j0 of the cell holding an in-grid y. */
  def cellY(y: Double): Int = {
    val j0 = ((y - y0) * invDy).toInt
    if (j0 > ny - 2) ny - 2 else j0
  }

  /** Local coordinate t in [0, 1] of x within column i0. */
  def fracX(i0: Int, x: Double): Double = (x - xs(i0)) / (xs(i0 + 1) - xs(i0))

  /** Local coordinate u in [0, 1] of y within row j0. */
  def fracY(j0: Int, y: Double): Double = (y - ys(j0)) / (ys(j0 + 1) - ys(j0))

  /** Bicubic value in cell (i0, j0) at local (t, u), given their squares
    * and cubes.
    */
  def bicubicAt(i0: Int, j0: Int, t: Double, t2: Double, t3: Double,
                u: Double, u2: Double, u3: Double): Double = {
    val c = coef
    val b = (j0 * (nx - 1) + i0) * 16
    val term0 = c(b) + u * c(b + 1) + u2 * c(b + 2) + u3 * c(b + 3)
    val term1 = c(b + 4) + u * c(b + 5) + u2 * c(b + 6) + u3 * c(b + 7)
    val term2 = c(b + 8) + u * c(b + 9) + u2 * c(b + 10) + u3 * c(b + 11)
    val term3 = c(b + 12) + u * c(b + 13) + u2 * c(b + 14) + u3 * c(b + 15)
    term0 + t * term1 + t2 * term2 + t3 * term3
  }

  /** Bilinear value in cell (i0, j0) at local (t, u). */
  def bilinearAt(i0: Int, j0: Int, t: Double, u: Double): Double = {
    val o = i0 * ny + j0
    (1 - t) * ((1 - u) * z(o) + u * z(o + 1)) +
      t * ((1 - u) * z(o + ny) + u * z(o + ny + 1))
  }

  def bicubic(x: Double, y: Double): Double = {
    if (x < xs(0) || x > xs(nx - 1) || y < ys(0) || y > ys(ny - 1))
      return Double.NaN
    val i0 = cellX(x)
    val j0 = cellY(y)
    val t = fracX(i0, x)
    val u = fracY(j0, y)
    val t2 = t * t
    val u2 = u * u
    bicubicAt(i0, j0, t, t2, t2 * t, u, u2, u2 * u)
  }
}
