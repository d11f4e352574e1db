package graft.core

/** Univariate interpolator family — the reference's
  * `math/interpolate/univariate/{linear,cspline,akima,steffen,polynomial}.hpp` kernels (linear 70 LoC, cspline
  * variants, akima(+periodic), steffen, polynomial), dispatched by name
  * exactly like `pyinterp/regular_grid_interpolator.py:45-63`.
  *
  * All interpolators: NaN outside [xa.head, xa.last]; `derivative` of the
  * fitted curve; ascending xa required.
  *
  * Note on Akima boundaries: we use the published Akima virtual-slope
  * extrapolation (m-1 = 2m0 - m1, m-2 = 3m0 - 2m1 and symmetric on the
  * right), i.e. the GSL formulation the reference mirrors
  * (`univariate/akima.hpp:45-54`).
  */
sealed trait Univariate1D extends Serializable {
  def minSize: Int
  /** Fit on (xa, ya); returns false when size < minSize. */
  def fit(xa: Array[Double], ya: Array[Double]): Boolean
  def value(x: Double): Double
  def derivative(x: Double): Double
}

object Univariate1D {
  /** Factory by reference method name. */
  def apply(method: String): Univariate1D = method match {
    case "linear" => new LinearInterp
    case "c_spline" | "cspline" => new CSplineInterp(NaturalBC)
    case "c_spline_not_a_knot" => new CSplineInterp(NotAKnotBC)
    case "c_spline_periodic" => new CSplineInterp(PeriodicBC)
    case "akima" => new AkimaInterp(periodic = false)
    case "akima_periodic" => new AkimaInterp(periodic = true)
    case "steffen" => new SteffenInterp
    case "polynomial" => new PolynomialInterp
    case other => throw new IllegalArgumentException(s"method $other")
  }

  /** Index i with xa(i) <= x <= xa(i+1) (ascending xa, binary search). */
  private[core] def bracket(xa: Array[Double], x: Double): Int = {
    var lo = 0
    var hi = xa.length - 1
    while (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      if (xa(mid) <= x) lo = mid else hi = mid
    }
    lo
  }

  sealed trait BoundaryCondition
  case object NaturalBC extends BoundaryCondition
  case object NotAKnotBC extends BoundaryCondition
  case object PeriodicBC extends BoundaryCondition
}
import Univariate1D._

final class LinearInterp extends Univariate1D {
  private var xa: Array[Double] = _
  private var ya: Array[Double] = _
  def minSize = 2
  def fit(x: Array[Double], y: Array[Double]): Boolean = {
    xa = x; ya = y; x.length >= minSize
  }
  def value(x: Double): Double = Interpolate.linear(xa, ya, x)
  def derivative(x: Double): Double = {
    val n = xa.length
    if (x < xa(0) || x > xa(n - 1)) return Double.NaN
    val i = bracket(xa, x)
    (ya(i + 1) - ya(i)) / (xa(i + 1) - xa(i))
  }
}

/** Cubic spline with natural / not-a-knot / periodic boundary conditions.
  * Solves for the quadratic coefficients c_i (y = y_i + b h + c h^2 +
  * d h^3 on segment i), the same representation as the reference
  * (`cspline_base.hpp:26-46`).
  */
final class CSplineInterp(bc: BoundaryCondition) extends Univariate1D {
  private var xa: Array[Double] = _
  private var ya: Array[Double] = _
  private var c: Array[Double] = _
  def minSize: Int = bc match {
    case NotAKnotBC => 4
    case _ => 3
  }

  def fit(x: Array[Double], y: Array[Double]): Boolean = {
    xa = x; ya = y
    val n = x.length
    if (n < minSize) return false
    bc match {
      case NaturalBC => c = Interpolate.csplineCoefficients(x, y)
      case NotAKnotBC => c = solveGeneral(notAKnot = true)
      case PeriodicBC => c = solvePeriodic()
    }
    true
  }

  /** Dense solve for c with natural or not-a-knot end rows (small n —
    * windows — so O(n^2) Gaussian elimination is fine and robust).
    */
  private def solveGeneral(notAKnot: Boolean): Array[Double] = {
    val n = xa.length
    val a = Array.ofDim[Double](n, n + 1)
    val h = Array.tabulate(n - 1)(i => xa(i + 1) - xa(i))
    var i = 1
    while (i < n - 1) {
      a(i)(i - 1) = h(i - 1)
      a(i)(i) = 2.0 * (h(i - 1) + h(i))
      a(i)(i + 1) = h(i)
      a(i)(n) = 3.0 * ((ya(i + 1) - ya(i)) / h(i) -
        (ya(i) - ya(i - 1)) / h(i - 1))
      i += 1
    }
    if (notAKnot) {
      // third derivative continuous across the 2nd and (n-1)th knots:
      // h1*c0 - (h0+h1)*c1 + h0*c2 = 0 (and symmetric at the end)
      a(0)(0) = h(1); a(0)(1) = -(h(0) + h(1)); a(0)(2) = h(0); a(0)(n) = 0.0
      a(n - 1)(n - 3) = h(n - 2)
      a(n - 1)(n - 2) = -(h(n - 3) + h(n - 2))
      a(n - 1)(n - 1) = h(n - 3)
      a(n - 1)(n) = 0.0
    } else {
      a(0)(0) = 1.0
      a(n - 1)(n - 1) = 1.0
    }
    gauss(a, n)
  }

  /** Cyclic system for periodic boundary (c0 = c_{n-1}, matching slopes
    * across the seam).
    */
  private def solvePeriodic(): Array[Double] = {
    val n = xa.length
    val m = n - 1 // unknown c_0..c_{n-2}; c_{n-1} = c_0
    val h = Array.tabulate(n - 1)(i => xa(i + 1) - xa(i))
    def slope(i: Int) = (ya(i + 1) - ya(i)) / h(i)
    val a = Array.ofDim[Double](m, m + 1)
    var i = 0
    while (i < m) {
      val hm = h((i - 1 + m) % m)
      val hp = h(i)
      a(i)((i - 1 + m) % m) += hm
      a(i)(i) += 2.0 * (hm + hp)
      a(i)((i + 1) % m) += hp
      a(i)(m) = 3.0 * (slope(i) - slope((i - 1 + m) % m))
      i += 1
    }
    val sol = gauss(a, m)
    val out = new Array[Double](n)
    System.arraycopy(sol, 0, out, 0, m)
    out(n - 1) = sol(0)
    out
  }

  private def gauss(a: Array[Array[Double]], n: Int): Array[Double] = {
    var i = 0
    while (i < n) {
      var piv = i
      var j = i + 1
      while (j < n) {
        if (math.abs(a(j)(i)) > math.abs(a(piv)(i))) piv = j
        j += 1
      }
      val tmp = a(i); a(i) = a(piv); a(piv) = tmp
      j = i + 1
      while (j < n) {
        val f = a(j)(i) / a(i)(i)
        var k = i
        while (k <= n) { a(j)(k) -= f * a(i)(k); k += 1 }
        j += 1
      }
      i += 1
    }
    val x = new Array[Double](n)
    i = n - 1
    while (i >= 0) {
      var s = a(i)(n)
      var j = i + 1
      while (j < n) { s -= a(i)(j) * x(j); j += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  def value(x: Double): Double = {
    val n = xa.length
    if (x < xa(0) || x > xa(n - 1)) return Double.NaN
    val i = bracket(xa, x)
    val dx = xa(i + 1) - xa(i)
    val dy = ya(i + 1) - ya(i)
    val hh = x - xa(i)
    val b = dy / dx - dx * (c(i + 1) + 2.0 * c(i)) / 3.0
    val d = (c(i + 1) - c(i)) / (3.0 * dx)
    ya(i) + hh * Math.fma(hh, Math.fma(hh, d, c(i)), b)
  }

  def derivative(x: Double): Double = {
    val n = xa.length
    if (x < xa(0) || x > xa(n - 1)) return Double.NaN
    val i = bracket(xa, x)
    val dx = xa(i + 1) - xa(i)
    val dy = ya(i + 1) - ya(i)
    val hh = x - xa(i)
    val b = dy / dx - dx * (c(i + 1) + 2.0 * c(i)) / 3.0
    val d = (c(i + 1) - c(i)) / (3.0 * dx)
    b + hh * Math.fma(3.0 * hh, d, 2.0 * c(i))
  }
}

/** Akima spline (+ periodic variant): slope-limited cubic Hermite with
  * the curvature-weighted average of the four neighboring segment slopes
  * (`univariate/akima.hpp:88-186`).
  */
final class AkimaInterp(periodic: Boolean) extends Univariate1D {
  private var xa: Array[Double] = _
  private var ya: Array[Double] = _
  private var s: Array[Double] = _
  def minSize = 5

  def fit(x: Array[Double], y: Array[Double]): Boolean = {
    xa = x; ya = y
    val n = x.length
    if (n < minSize) return false
    val nSeg = n - 1
    // extended slopes: m(2..n) real; 2 virtual each side
    val m = new Array[Double](nSeg + 4)
    var i = 0
    while (i < nSeg) {
      m(i + 2) = (y(i + 1) - y(i)) / (x(i + 1) - x(i))
      i += 1
    }
    if (periodic) {
      // wrap: virtual left slopes = last real slopes, right = first
      m(1) = m(nSeg + 1)
      m(0) = m(nSeg)
      m(nSeg + 2) = m(2)
      m(nSeg + 3) = m(3)
    } else {
      m(1) = 2.0 * m(2) - m(3)
      m(0) = 3.0 * m(2) - 2.0 * m(3)
      m(nSeg + 2) = 2.0 * m(nSeg + 1) - m(nSeg)
      m(nSeg + 3) = 3.0 * m(nSeg + 1) - 2.0 * m(nSeg)
    }
    s = new Array[Double](n)
    i = 0
    while (i < n) {
      // neighboring slopes of point i: m(i), m(i+1) | m(i+2), m(i+3)
      val w1 = math.abs(m(i + 3) - m(i + 2))
      val w2 = math.abs(m(i + 1) - m(i))
      val den = w1 + w2
      s(i) =
        if (den != 0.0) Math.fma(w1, m(i + 1), w2 * m(i + 2)) / den
        else (m(i + 1) + m(i + 2)) * 0.5
      i += 1
    }
    true
  }

  def value(x: Double): Double = {
    val n = xa.length
    if (x < xa(0) || x > xa(n - 1)) return Double.NaN
    val i = bracket(xa, x)
    val dx = xa(i + 1) - xa(i)
    val h = x - xa(i)
    val mi = (ya(i + 1) - ya(i)) / dx
    val ci = (3.0 * mi - 2.0 * s(i) - s(i + 1)) / dx
    val di = (s(i) + s(i + 1) - 2.0 * mi) / (dx * dx)
    ya(i) + h * Math.fma(h, Math.fma(h, di, ci), s(i))
  }

  def derivative(x: Double): Double = {
    val n = xa.length
    if (x < xa(0) || x > xa(n - 1)) return Double.NaN
    val i = bracket(xa, x)
    val dx = xa(i + 1) - xa(i)
    val h = x - xa(i)
    val mi = (ya(i + 1) - ya(i)) / dx
    val ci = (3.0 * mi - 2.0 * s(i) - s(i + 1)) / dx
    val di = (s(i) + s(i + 1) - 2.0 * mi) / (dx * dx)
    s(i) + h * Math.fma(3.0 * h, di, 2.0 * ci)
  }
}

/** Steffen's monotonicity-preserving cubic
  * (`univariate/steffen.hpp:78-180`).
  */
final class SteffenInterp extends Univariate1D {
  private var xa: Array[Double] = _
  private var ya: Array[Double] = _
  private var yp: Array[Double] = _
  def minSize = 3

  private def copySignRef(x: Double, y: Double): Double =
    if ((x < 0 && y > 0) || (x > 0 && y < 0)) -x else x

  def fit(x: Array[Double], y: Array[Double]): Boolean = {
    xa = x; ya = y
    val n = x.length
    if (n < minSize) return false
    yp = new Array[Double](n)
    yp(0) = (y(1) - y(0)) / (x(1) - x(0))
    var i = 1
    while (i < n - 1) {
      val hi = x(i + 1) - x(i)
      val him1 = x(i) - x(i - 1)
      val si = (y(i + 1) - y(i)) / hi
      val sim1 = (y(i) - y(i - 1)) / him1
      val pi = (sim1 * hi + si * him1) / (him1 + hi)
      val signSum = copySignRef(1.0, sim1) + copySignRef(1.0, si)
      val minSlope = math.min(math.min(math.abs(sim1), math.abs(si)),
        0.5 * math.abs(pi))
      yp(i) = signSum * minSlope
      i += 1
    }
    yp(n - 1) = (y(n - 1) - y(n - 2)) / (x(n - 1) - x(n - 2))
    true
  }

  def value(x: Double): Double = {
    val n = xa.length
    if (x < xa(0) || x > xa(n - 1)) return Double.NaN
    val i = bracket(xa, x)
    val h = x - xa(i)
    val hi = xa(i + 1) - xa(i)
    val si = (ya(i + 1) - ya(i)) / hi
    val a = (yp(i) + yp(i + 1) - 2.0 * si) / (hi * hi)
    val b = (3.0 * si - 2.0 * yp(i) - yp(i + 1)) / hi
    ya(i) + h * Math.fma(h, Math.fma(h, a, b), yp(i))
  }

  def derivative(x: Double): Double = {
    val n = xa.length
    if (x < xa(0) || x > xa(n - 1)) return Double.NaN
    val i = bracket(xa, x)
    val h = x - xa(i)
    val hi = xa(i + 1) - xa(i)
    val si = (ya(i + 1) - ya(i)) / hi
    val a = (yp(i) + yp(i + 1) - 2.0 * si) / (hi * hi)
    val b = (3.0 * si - 2.0 * yp(i) - yp(i + 1)) / hi
    yp(i) + h * Math.fma(3.0 * h, a, 2.0 * b)
  }
}

/** Global polynomial through all points (Neville's algorithm, matching
  * the reference's `univariate/polynomial.hpp` semantics).
  */
final class PolynomialInterp extends Univariate1D {
  private var xa: Array[Double] = _
  private var ya: Array[Double] = _
  def minSize = 2
  def fit(x: Array[Double], y: Array[Double]): Boolean = {
    xa = x; ya = y; x.length >= minSize
  }

  def value(x: Double): Double = {
    val n = xa.length
    if (x < xa(0) || x > xa(n - 1)) return Double.NaN
    val p = ya.clone()
    var k = 1
    while (k < n) {
      var i = 0
      while (i < n - k) {
        p(i) = ((x - xa(i + k)) * p(i) + (xa(i) - x) * p(i + 1)) /
          (xa(i) - xa(i + k))
        i += 1
      }
      k += 1
    }
    p(0)
  }

  def derivative(x: Double): Double = {
    // derivative of the Neville recurrence, propagated alongside values
    val n = xa.length
    if (x < xa(0) || x > xa(n - 1)) return Double.NaN
    val p = ya.clone()
    val d = new Array[Double](n)
    var k = 1
    while (k < n) {
      var i = 0
      while (i < n - k) {
        val den = xa(i) - xa(i + k)
        d(i) = ((x - xa(i + k)) * d(i) + p(i) +
          (xa(i) - x) * d(i + 1) - p(i + 1)) / den
        p(i) = ((x - xa(i + k)) * p(i) + (xa(i) - x) * p(i + 1)) / den
        i += 1
      }
      k += 1
    }
    d(0)
  }
}
