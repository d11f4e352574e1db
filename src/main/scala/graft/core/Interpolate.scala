package graft.core

/** Interpolation kernels: univariate splines, geometric bivariate
  * (bilinear / IDW / nearest) and windowed bicubic — re-expressing the
  * behavior of the reference kernels:
  *   - natural cubic spline system + Thomas solve:
  *     `/root/reference/cxx/include/pyinterp/math/interpolate/univariate/
  *     cspline.hpp:55-146`, coefficients `cspline_base.hpp:26-46`
  *   - bicubic partial-derivative matrices + 16-term polynomial:
  *     `math/interpolate/bivariate/bicubic.hpp:56-186`
  *   - geometric bilinear / IDW / nearest:
  *     `math/interpolate/geometric/bivariate.hpp:77-303`
  *
  * All kernels return NaN when the query cannot be framed, matching the
  * reference's Fill<T>::value() behavior.
  */
object Interpolate {
  import Univariate1D.bracket

  /** Piecewise-linear interpolation, NaN outside the domain. */
  def linear(xa: Array[Double], ya: Array[Double], x: Double): Double = {
    val n = xa.length
    if (n < 2 || x < xa(0) || x > xa(n - 1)) return Double.NaN
    val i = bracket(xa, x)
    val t = (x - xa(i)) / (xa(i + 1) - xa(i))
    ya(i) + t * (ya(i + 1) - ya(i))
  }

  /** Natural cubic spline second-coefficient vector c (c(0)=c(n-1)=0):
    * builds the symmetric tridiagonal system of `cspline.hpp:86-146` and
    * solves it with the Thomas algorithm.
    */
  def csplineCoefficients(xa: Array[Double], ya: Array[Double]): Array[Double] = {
    val ws = new SplineWorkspace(xa.length)
    csplineFactor(xa, ws)
    csplineSolve(ya, ws)
    ws.c
  }

  /** Evaluate the natural cubic spline fitted on (xa, ya) at x. */
  def cspline(xa: Array[Double], ya: Array[Double], x: Double): Double = {
    val n = xa.length
    if (n < 4) return linear(xa, ya, x) // reference min_size 4; fall back
    if (x < xa(0) || x > xa(n - 1)) return Double.NaN
    val cc = csplineCoefficients(xa, ya)
    val i = bracket(xa, x)
    evalCubic(xa, ya, cc, i, x)
  }

  private def evalCubic(xa: Array[Double], ya: Array[Double],
                        cc: Array[Double], i: Int, x: Double): Double = {
    val dx = xa(i + 1) - xa(i)
    val dy = ya(i + 1) - ya(i)
    val h = x - xa(i)
    val b = dy / dx - dx * (cc(i + 1) + 2.0 * cc(i)) / 3.0
    val d = (cc(i + 1) - cc(i)) / (3.0 * dx)
    ya(i) + h * Math.fma(h, Math.fma(h, d, cc(i)), b)
  }

  /** Reusable scratch buffers for repeated spline solves on same-length
    * axes. The natural-spline system depends on the node spacing only, so
    * [[csplineFactor]] stores its Thomas forward sweep once per axis
    * (`g` = 1/h per interval, `sub` = the sub-diagonal, `cp` and the pivot
    * reciprocals `invM`) and [[csplineSolve]] reuses it for every value
    * vector on that axis (the dense bicubic precompute solves 2·nx + ny
    * systems per image against two factorizations).
    */
  final class SplineWorkspace(n: Int) {
    val c = new Array[Double](n)
    val m = math.max(1, n - 2)
    val g = new Array[Double](m + 1)
    val sub = new Array[Double](m)
    val cp = new Array[Double](m)
    val invM = new Array[Double](m)
    val dp = new Array[Double](m)
  }

  /** Factor the natural-spline system of the nodes `xa` into `ws`: the
    * value-independent half of the Thomas algorithm.
    */
  def csplineFactor(xa: Array[Double], ws: SplineWorkspace): Unit = {
    val n = xa.length
    if (n < 3) return
    val m = n - 2
    var i = 0
    while (i <= m) {
      val h = xa(i + 1) - xa(i)
      ws.g(i) = if (h != 0.0) 1.0 / h else 0.0
      i += 1
    }
    i = 0
    while (i < m) {
      val h0 = xa(i + 1) - xa(i)
      val h1 = xa(i + 2) - xa(i + 1)
      val diag = 2.0 * (h0 + h1)
      ws.sub(i) = h0
      ws.invM(i) = 1.0 / (if (i == 0) diag else diag - h0 * ws.cp(i - 1))
      ws.cp(i) = h1 * ws.invM(i)
      i += 1
    }
  }

  /** Solve the system factored by [[csplineFactor]] for the values `ya`
    * (forward substitution + back substitution) into ws.c.
    */
  def csplineSolve(ya: Array[Double], ws: SplineWorkspace): Unit = {
    val n = ya.length
    java.util.Arrays.fill(ws.c, 0.0)
    if (n < 3) return
    val m = n - 2
    var i = 0
    while (i < m) {
      val y0 = ya(i + 1) - ya(i)
      val y1 = ya(i + 2) - ya(i + 1)
      val rhs = 3.0 * Math.fma(y1, ws.g(i + 1), -y0 * ws.g(i))
      ws.dp(i) = (if (i == 0) rhs
        else Math.fma(-ws.sub(i), ws.dp(i - 1), rhs)) * ws.invM(i)
      i += 1
    }
    ws.c(m) = ws.dp(m - 1)
    i = m - 1
    while (i >= 1) {
      ws.c(i) = Math.fma(-ws.cp(i - 1), ws.c(i + 1), ws.dp(i - 1))
      i -= 1
    }
  }

  /** Derivative at every node of the fitted spline, written into `out`,
    * using a caller-provided workspace that already holds
    * [[csplineFactor]] of `xa` (allocation-free hot path for the dense
    * bicubic precompute).
    */
  def csplineDerivativeAtNodesInto(xa: Array[Double], ya: Array[Double],
                                   ws: SplineWorkspace,
                                   out: Array[Double], stride: Int,
                                   offset: Int): Unit = {
    val n = xa.length
    if (n < 4) {
      var k = 0
      while (k < n) {
        val i = math.min(math.max(k, 0), n - 2)
        out(offset + k * stride) = (ya(i + 1) - ya(i)) / (xa(i + 1) - xa(i))
        k += 1
      }
      return
    }
    csplineSolve(ya, ws)
    val cc = ws.c
    var k = 0
    while (k < n) {
      val i = if (k == n - 1) n - 2 else k
      val dx = xa(i + 1) - xa(i)
      val dy = ya(i + 1) - ya(i)
      val h = xa(k) - xa(i)
      val b = dy / dx - dx * (cc(i + 1) + 2.0 * cc(i)) / 3.0
      val d = (cc(i + 1) - cc(i)) / (3.0 * dx)
      out(offset + k * stride) = b + h * Math.fma(3.0 * h, d, 2.0 * cc(i))
      k += 1
    }
  }

  /** Derivative of the natural cubic spline at each of `xs`
    * (`cspline_base.hpp:117-147`) — the building block of the bicubic
    * partial-derivative matrices.
    */
  def csplineDerivative(xa: Array[Double], ya: Array[Double],
                        xs: Array[Double]): Array[Double] = {
    val n = xa.length
    val out = new Array[Double](xs.length)
    if (n < 4) {
      // not enough points: finite-difference fallback keeps windows usable
      var k = 0
      while (k < xs.length) {
        val i = math.min(math.max(bracket(xa, xs(k)), 0), n - 2)
        out(k) = (ya(i + 1) - ya(i)) / (xa(i + 1) - xa(i))
        k += 1
      }
      return out
    }
    val cc = csplineCoefficients(xa, ya)
    var k = 0
    while (k < xs.length) {
      val x = xs(k)
      if (x < xa(0) || x > xa(n - 1)) out(k) = Double.NaN
      else {
        val i = bracket(xa, x)
        val dx = xa(i + 1) - xa(i)
        val dy = ya(i + 1) - ya(i)
        val h = x - xa(i)
        val b = dy / dx - dx * (cc(i + 1) + 2.0 * cc(i)) / 3.0
        val d = (cc(i + 1) - cc(i)) / (3.0 * dx)
        out(k) = b + h * Math.fma(3.0 * h, d, 2.0 * cc(i))
      }
      k += 1
    }
    out
  }

  /** Standard bilinear on a cell [(x0,y0),(x1,y1)]
    * (`geometric/bivariate.hpp:110-133`).
    */
  def bilinear(x: Double, y: Double, x0: Double, y0: Double, x1: Double,
               y1: Double, q00: Double, q01: Double, q10: Double,
               q11: Double): Double = {
    val t = (x - x0) / (x1 - x0)
    val u = (y - y0) / (y1 - y0)
    val omT = 1.0 - t
    val omU = 1.0 - u
    omT * (omU * q00 + u * q01) + t * (omU * q10 + u * q11)
  }

  /** 4-corner inverse-distance weighting with coincidence shortcut
    * (`geometric/bivariate.hpp:186-236`).
    */
  def idw4(x: Double, y: Double, x0: Double, y0: Double, x1: Double,
           y1: Double, q00: Double, q01: Double, q10: Double, q11: Double,
           exp: Int = 2): Double = {
    val cx = Array(x0, x0, x1, x1)
    val cy = Array(y0, y1, y0, y1)
    val cv = Array(q00, q01, q10, q11)
    val eps2 = {
      val e = java.lang.Math.ulp(1.0)
      e * e
    }
    var wSum = 0.0
    var wvSum = 0.0
    var i = 0
    while (i < 4) {
      val dx = x - cx(i)
      val dy = y - cy(i)
      val d2 = dx * dx + dy * dy
      if (d2 <= eps2) return cv(i)
      val w = 1.0 / math.pow(d2, exp * 0.5)
      wSum += w
      wvSum += cv(i) * w
      i += 1
    }
    wvSum / wSum
  }

  /** Nearest-corner value (`geometric/bivariate.hpp:244-303`). */
  def nearest4(x: Double, y: Double, x0: Double, y0: Double, x1: Double,
               y1: Double, q00: Double, q01: Double, q10: Double,
               q11: Double): Double = {
    val cx = Array(x0, x0, x1, x1)
    val cy = Array(y0, y1, y0, y1)
    val cv = Array(q00, q01, q10, q11)
    var best = 0
    var bestD = Double.MaxValue
    var i = 0
    while (i < 4) {
      val dx = x - cx(i)
      val dy = y - cy(i)
      val d2 = dx * dx + dy * dy
      if (d2 < bestD) { bestD = d2; best = i }
      i += 1
    }
    cv(best)
  }

  /** Cartesian bilinear weights by opposite sub-cell areas, normalized to
    * sum 1 — used by linear binning (`math/interpolate/bilinear_weights
    * .hpp:87-146`; cartesian areas reduce to the (1-t)(1-u) form).
    * Returns (w00, w01, w11, w10) matching the reference's corner order.
    */
  def bilinearWeights(x: Double, y: Double, x0: Double, y0: Double,
                      x1: Double, y1: Double): (Double, Double, Double, Double) = {
    val t = (x - x0) / (x1 - x0)
    val u = (y - y0) / (y1 - y0)
    ((1 - t) * (1 - u), (1 - t) * u, t * u, t * (1 - u))
  }
}

/** Windowed bicubic over a rectangular window of grid values.
  *
  * `xs`/`ys` are the window axis coordinates (typically 6 each for the
  * default half-window of 3, `config/windowed.hpp:243-247`), `z(i)(j)` the
  * window values (row i = x index). Mirrors
  * `math/interpolate/bivariate/bicubic.hpp`: cubic-spline derivative
  * matrices zx, zy, zxy then 16-term bicubic polynomial evaluation.
  */
final class Bicubic(xs: Array[Double], ys: Array[Double],
                    z: Array[Array[Double]]) {
  private val nx = xs.length
  private val ny = ys.length
  private val zx = Array.ofDim[Double](nx, ny)
  private val zy = Array.ofDim[Double](nx, ny)
  private val zxy = Array.ofDim[Double](nx, ny)

  { // derivative matrices (bicubic.hpp:57-87)
    val col = new Array[Double](nx)
    var j = 0
    while (j < ny) {
      var i = 0
      while (i < nx) { col(i) = z(i)(j); i += 1 }
      val d = Interpolate.csplineDerivative(xs, col, xs)
      i = 0
      while (i < nx) { zx(i)(j) = d(i); i += 1 }
      j += 1
    }
    var i = 0
    while (i < nx) {
      val d = Interpolate.csplineDerivative(ys, z(i), ys)
      var jj = 0
      while (jj < ny) { zy(i)(jj) = d(jj); jj += 1 }
      i += 1
    }
    j = 0
    while (j < ny) {
      var ii = 0
      while (ii < nx) { col(ii) = zy(ii)(j); ii += 1 }
      val d = Interpolate.csplineDerivative(xs, col, xs)
      ii = 0
      while (ii < nx) { zxy(ii)(j) = d(ii); ii += 1 }
      j += 1
    }
  }

  /** Evaluate at (x, y); NaN if out of the window. */
  def apply(x: Double, y: Double): Double = {
    if (x < xs(0) || x > xs(nx - 1) || y < ys(0) || y > ys(ny - 1))
      return Double.NaN
    var i0 = 0
    while (i0 < nx - 2 && xs(i0 + 1) <= x) i0 += 1
    var j0 = 0
    while (j0 < ny - 2 && ys(j0 + 1) <= y) j0 += 1
    val i1 = i0 + 1
    val j1 = j0 + 1
    val x0 = xs(i0); val x1 = xs(i1)
    val y0 = ys(j0); val y1 = ys(j1)
    val dx = x1 - x0; val dy = y1 - y0; val dxdy = dx * dy
    val t = (x - x0) / dx
    val u = (y - y0) / dy
    val z00 = z(i0)(j0); val z01 = z(i0)(j1)
    val z10 = z(i1)(j0); val z11 = z(i1)(j1)
    val zx00 = zx(i0)(j0) * dx; val zx01 = zx(i0)(j1) * dx
    val zx10 = zx(i1)(j0) * dx; val zx11 = zx(i1)(j1) * dx
    val zy00 = zy(i0)(j0) * dy; val zy01 = zy(i0)(j1) * dy
    val zy10 = zy(i1)(j0) * dy; val zy11 = zy(i1)(j1) * dy
    val zxy00 = zxy(i0)(j0) * dxdy; val zxy01 = zxy(i0)(j1) * dxdy
    val zxy10 = zxy(i1)(j0) * dxdy; val zxy11 = zxy(i1)(j1) * dxdy
    val t2 = t * t; val t3 = t2 * t
    val u2 = u * u; val u3 = u2 * u
    val term0 = z00 + u * zy00 +
      u2 * Math.fma(3.0, z01 - z00, -2.0 * zy00 - zy01) +
      u3 * (2.0 * (z00 - z01) + zy00 + zy01)
    val term1 = zx00 + u * zxy00 +
      u2 * Math.fma(3.0, zx01 - zx00, -2.0 * zxy00 - zxy01) +
      u3 * (2.0 * (zx00 - zx01) + zxy00 + zxy01)
    val t2u0 = Math.fma(3.0, z10 - z00, -2.0 * zx00 - zx10)
    val t2u1 = Math.fma(3.0, zy10 - zy00, -2.0 * zxy00 - zxy10)
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
}
