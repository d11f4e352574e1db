package graft.core

/** Grid-filling operators (tile-local dense solvers), matching the
  * reference's `fill/` module:
  *   - [[Fill.loess]]: tri-cube weighted local regression
  *     (`/root/reference/cxx/include/pyinterp/fill/loess.hpp:25-146`)
  *   - [[Fill.gaussSeidel]]: red-black SOR relaxation over undefined
  *     cells (`fill/gauss_seidel.hpp:39-130`), first guess zero or zonal
  *     average, returns (iterations, max residual)
  *   - [[Fill.vector]]/[[Fill.matrixRows]]: linear interpolation across
  *     NaN runs (`fill/matrix.hpp`, `pyinterp/fill.py:375-416`)
  *
  * Values are x-major like [[graft.operators.Grid2D]]: value(i * ny + j).
  * In the Spark pipeline these run inside `mapPartitions` per tile; the
  * halo-exchange variant for windows larger than a tile is left to the
  * caller (overlap columns), per SURVEY §2.6.
  */
object Fill {

  @inline private def tricube(d: Double): Double =
    if (d > 1.0) 0.0
    else {
      val t = 1.0 - d * d * d
      t * t * t
    }

  /** One LOESS pass. valueType: "all" | "defined" | "undefined".
    * `validity` (defaults to `values`) is the matrix the process-or-skip
    * check reads — the reference's `data_validity` split
    * (`fill/loess.hpp:115-131` process_row takes values and validity
    * separately so the iterative driver can re-smooth the ORIGINAL
    * holes against an already-filled state).
    */
  def loess(values: Array[Double], nxSize: Int, nySize: Int, nx: Int,
            ny: Int, valueType: String = "undefined",
            periodicX: Boolean = false,
            validity: Array[Double] = null): Array[Double] = {
    val out = new Array[Double](values.length)
    val valid = if (validity == null) values else validity
    val nxInv = 1.0 / nx
    val nyInv = 1.0 / ny
    var i = 0
    while (i < nxSize) {
      var j = 0
      while (j < nySize) {
        val v = values(i * nySize + j)
        val gate = valid(i * nySize + j)
        val process = valueType match {
          case "all" => true
          case "defined" => !gate.isNaN
          case "undefined" => gate.isNaN
        }
        if (!process) out(i * nySize + j) = v
        else {
          // window indexes via the reference's frame_index
          // (`fill/helpers.hpp:79-110`): periodic x wraps (modulo), and
          // non-periodic edges REFLECT (-1 -> 1), with tricube distances
          // always over the MAPPED index difference — so cross-seam
          // periodic neighbors land at distance > 1 and weigh 0, and
          // edge-adjacent windows revisit interior cells symmetrically
          var wSum = 0.0
          var wvSum = 0.0
          var oi = -nx
          while (oi <= nx) {
            val wi =
              if (periodicX) GeoMath.floorMod(i + oi, nxSize)
              else GeoMath.reflectIndex(i + oi, nxSize)
            var oj = -ny
            while (oj <= ny) {
              val wj = GeoMath.reflectIndex(j + oj, nySize)
              val zi = values(wi * nySize + wj)
              if (!zi.isNaN) {
                val dx = (wi - i).toDouble * nxInv
                val dy = (wj - j).toDouble * nyInv
                val w = tricube(math.sqrt(dx * dx + dy * dy))
                wSum += w
                wvSum += w * zi
              }
              oj += 1
            }
            oi += 1
          }
          out(i * nySize + j) = if (wSum != 0.0) wvSum / wSum else v
        }
        j += 1
      }
      i += 1
    }
    out
  }

  /** Iterative LOESS to convergence (maxIterations, epsilon on max
    * absolute change), reference multi-iteration driver behavior.
    */
  def loessIterative(values: Array[Double], nxSize: Int, nySize: Int,
                     nx: Int, ny: Int, maxIterations: Int = 10,
                     epsilon: Double = 1e-6): (Array[Double], Int) = {
    var cur = values
    var it = 0
    var converged = false
    while (it < maxIterations && !converged) {
      val next = loess(cur, nxSize, nySize, nx, ny, "undefined")
      var maxDiff = 0.0
      var k = 0
      while (k < cur.length) {
        val d = math.abs(next(k) - cur(k))
        if (!d.isNaN && d > maxDiff) maxDiff = d
        k += 1
      }
      val stillNaN = next.exists(_.isNaN)
      converged = maxDiff < epsilon && !stillNaN
      cur = next
      it += 1
    }
    (cur, it)
  }

  /** Fails on a first guess the reference fill drivers do not know
    * ("zonal_average" and "zero" are the two they have).
    */
  def checkFirstGuess(firstGuess: String): Unit =
    if (firstGuess != "zonal_average" && firstGuess != "zero")
      throw new IllegalArgumentException(s"firstGuess $firstGuess")

  /** REFERENCE-PARITY iterative loess (`fill/loess.hpp:216-250` driver):
    * every hole is first-guessed at once — "zonal_average" here is the
    * reference loess driver's GLOBAL mean of all defined values
    * (`loess.hpp:141-152` compute_zonal_average, unlike gauss_seidel's
    * per-band zonal), "zero" is 0 — then each pass re-smooths the
    * ORIGINAL holes against the previous full (NaN-free) state, until
    * max |change| < epsilon or maxIterations. This differs from the
    * progressive [[loessIterative]] default (holes fill outward with no
    * first-guess bias). `maxIterations == 1` mirrors the reference's
    * single-pass branch (`loess.hpp:221-225`): NO first guess, raw
    * one-pass smoothing — identical to [[loess]].
    */
  def loessReference(values: Array[Double], nxSize: Int, nySize: Int,
                     nx: Int, ny: Int, firstGuess: String = "zonal_average",
                     maxIterations: Int = 10, epsilon: Double = 1e-6,
                     periodicX: Boolean = false): (Array[Double], Int) = {
    checkFirstGuess(firstGuess)
    if (maxIterations == 1)
      return (loess(values, nxSize, nySize, nx, ny, "undefined",
        periodicX), 1)
    val cur = values.clone()
    val fillValue =
      if (firstGuess == "zero") 0.0
      else {
        var s = 0.0
        var c = 0
        var k = 0
        while (k < cur.length) {
          if (!cur(k).isNaN) { s += cur(k); c += 1 }
          k += 1
        }
        if (c > 0) s / c else 0.0
      }
    var k = 0
    while (k < cur.length) {
      if (cur(k).isNaN) cur(k) = fillValue
      k += 1
    }
    var state = cur
    var it = 0
    var converged = false
    while (it < maxIterations && !converged) {
      val next = loess(state, nxSize, nySize, nx, ny, "undefined",
        periodicX, validity = values)
      var maxDiff = 0.0
      var m = 0
      while (m < state.length) {
        val d = math.abs(next(m) - state(m))
        if (!d.isNaN && d > maxDiff) maxDiff = d
        m += 1
      }
      state = next
      it += 1
      if (maxDiff < epsilon) converged = true
    }
    (state, it)
  }

  /** First-guess initialization of masked cells (`fill/helpers.hpp:29-64`
    * set_zonal_average): "zonal_average" fills each masked cell with the
    * mean of the KNOWN values of its y-band (column j — the reference's
    * longitude-band mean), 0 when the whole band is unknown; "zero" fills
    * with 0.
    */
  def applyFirstGuess(grid: Array[Double], mask: Array[Boolean], nxSize: Int,
                      nySize: Int, firstGuess: String): Unit =
    firstGuess match {
      case "zero" =>
        var k = 0
        while (k < grid.length) {
          if (mask(k)) grid(k) = 0.0
          k += 1
        }
      case "zonal_average" =>
        var j = 0
        while (j < nySize) {
          var s = 0.0
          var c = 0
          var i = 0
          while (i < nxSize) {
            if (!mask(i * nySize + j)) { s += grid(i * nySize + j); c += 1 }
            i += 1
          }
          val guess = if (c > 0) s / c else 0.0
          i = 0
          while (i < nxSize) {
            if (mask(i * nySize + j)) grid(i * nySize + j) = guess
            i += 1
          }
          j += 1
        }
      case other =>
        throw new IllegalArgumentException(s"firstGuess $other")
    }

  /** Red-black Gauss-Seidel / SOR over originally-NaN cells. Modifies a
    * copy; returns (filled, iterations, final max residual).
    */
  def gaussSeidel(values: Array[Double], nxSize: Int, nySize: Int,
                  firstGuess: String = "zonal_average",
                  periodicX: Boolean = false, relaxation: Double = 1.0,
                  maxIterations: Int = 500, epsilon: Double = 1e-4)
      : (Array[Double], Int, Double) = {
    val grid = values.clone()
    val mask = values.map(_.isNaN)
    Fill.applyFirstGuess(grid, mask, nxSize, nySize, firstGuess)
    var it = 0
    var maxResidual = Double.MaxValue
    while (it < maxIterations && maxResidual > epsilon) {
      maxResidual = 0.0
      var redBlack = 0
      while (redBlack < 2) {
        var i = 0
        while (i < nxSize) {
          val ix0 = if (i == 0) {
            if (periodicX) nxSize - 1 else 1
          } else i - 1
          val ix1 = if (i == nxSize - 1) {
            if (periodicX) 0 else nxSize - 2
          } else i + 1
          var j = 0
          while (j < nySize) {
            if (mask(i * nySize + j) && ((i + j) % 2) == redBlack) {
              val iy0 = if (j == 0) 1 else j - 1
              val iy1 = if (j == nySize - 1) nySize - 2 else j + 1
              val cell = grid(i * nySize + j)
              val residual = (0.25 * (grid(ix0 * nySize + j) +
                grid(ix1 * nySize + j) + grid(i * nySize + iy0) +
                grid(i * nySize + iy1)) - cell) * relaxation
              grid(i * nySize + j) = cell + residual
              val r = math.abs(residual)
              if (r > maxResidual) maxResidual = r
            }
            j += 1
          }
          i += 1
        }
        redBlack += 1
      }
      it += 1
    }
    (grid, it, maxResidual)
  }

  /** Linear interpolation across interior NaN runs of a 1-D series
    * (`pyinterp/fill.py:375-416` fill.vector). Leading/trailing NaNs are
    * left as-is (no extrapolation), matching the reference.
    */
  def vector(ys: Array[Double]): Array[Double] = {
    val out = ys.clone()
    val n = out.length
    var i = 0
    while (i < n) {
      if (out(i).isNaN) {
        // find previous and next defined
        var prev = i - 1
        while (prev >= 0 && out(prev).isNaN) prev -= 1
        var next = i
        while (next < n && out(next).isNaN) next += 1
        if (prev >= 0 && next < n) {
          val t = (i - prev).toDouble / (next - prev)
          out(i) = out(prev) + t * (ys(next) - out(prev))
        }
      }
      i += 1
    }
    out
  }

  /** fill.matrix: apply [[vector]] along each x-row of an x-major grid. */
  def matrixRows(values: Array[Double], nxSize: Int, nySize: Int)
      : Array[Double] = {
    val out = new Array[Double](values.length)
    val row = new Array[Double](nySize)
    var i = 0
    while (i < nxSize) {
      System.arraycopy(values, i * nySize, row, 0, nySize)
      val filled = vector(row)
      System.arraycopy(filled, 0, out, i * nySize, nySize)
      i += 1
    }
    out
  }
}
