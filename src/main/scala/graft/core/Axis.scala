package graft.core

/** 1-D sorted coordinate axis with O(1) lookup on regular spacing and
  * binary search on irregular spacing, optionally periodic (longitude).
  *
  * Semantics follow the reference axis container behavior
  * (`/root/reference/cxx/include/pyinterp/math/axis.hpp:70`,
  * `cxx/include/pyinterp/math/axis/container.hpp:383-389,549-563`):
  *   - `findIndex(x, bounded)` returns the index of the *nearest* axis
  *     value; unbounded out-of-range queries return -1.
  *   - `findIndexes(x)` returns the pair of indexes framing `x`
  *     (`axis.hpp:722-778`), wrapping on periodic axes.
  *   - `window(x, half, boundary)` gives the run of up to 2*half nodes
  *     that windowed interpolators read (`axis.hpp:816-881`).
  */
object Boundary extends Enumeration {
  /** The window boundary modes of the reference's regular-grid Python
    * surface (`regular_grid_interpolator.py:66,76-79`): near a
    * non-periodic edge `Undef` gives no window and `Shrink` cuts it at
    * the edge. A periodic axis wraps under either.
    */
  val Undef, Shrink = Value
}

final case class Axis(
    values: Array[Double],
    period: Double = 0.0 // 0 = not periodic; 360 for longitude
) extends Serializable {

  require(values.length >= 1, "axis needs at least one value")

  val size: Int = values.length
  val isAscending: Boolean = size < 2 || values(1) > values(0)
  val isPeriodic: Boolean = period != 0.0

  /** Regular-spacing detection (reference uses an epsilon on construction;
    * we require near-exact uniform step within 1e-6 relative).
    */
  val (isRegular, step): (Boolean, Double) = {
    if (size < 2) (true, 0.0)
    else {
      val s = (values(size - 1) - values(0)) / (size - 1)
      var regular = s != 0.0
      var i = 1
      while (regular && i < size) {
        val expect = values(0) + s * i
        if (math.abs(values(i) - expect) > 1e-6 * math.max(1.0, math.abs(s)))
          regular = false
        i += 1
      }
      (regular, s)
    }
  }
  private val invStep = if (step != 0.0) 1.0 / step else 0.0

  def apply(i: Int): Double = values(i)
  def front: Double = values(0)
  def back: Double = values(size - 1)
  def minValue: Double = if (isAscending) front else back
  def maxValue: Double = if (isAscending) back else front

  /** Normalize a coordinate into the axis period window
    * (`math/axis.hpp:294-333` behavior: shift by multiples of the period
    * until within [min, min+period)).
    */
  def normalize(x: Double): Double =
    if (!isPeriodic) x
    else GeoMath.normalizePeriod(x, minValue, period)

  /** Index of the nearest axis value; -1 when unbounded and out of range.
    * Mirrors `container.hpp:549-563` (regular: round((x-x0)*inv_step)) and
    * `container.hpp:383-404` (irregular: lower_bound + nearest pick).
    */
  def findIndex(coordinate: Double, bounded: Boolean): Int = {
    val x = normalize(coordinate)
    if (isRegular) {
      val idx = math.round((x - values(0)) * invStep)
      if (idx < 0) { if (bounded) 0 else -1 }
      else if (idx >= size) { if (bounded) size - 1 else -1 }
      else idx.toInt
    } else if (isAscending) {
      findIndexIrregular(x, bounded, lessThan = _ < _)
    } else {
      findIndexIrregular(x, bounded, lessThan = _ > _)
    }
  }

  private def findIndexIrregular(
      x: Double, bounded: Boolean,
      lessThan: (Double, Double) => Boolean): Int = {
    // lower_bound with custom comparator
    var lo = 0
    var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (lessThan(values(mid), x)) lo = mid + 1 else hi = mid
    }
    if (lo == 0) {
      if (lessThan(x, values(0))) { if (bounded) 0 else -1 } else 0
    } else if (lo == size) {
      if (lessThan(values(size - 1), x)) { if (bounded) size - 1 else -1 }
      else size - 1
    } else {
      val prev = lo - 1
      if (lessThan(x - values(prev), values(lo) - x)) prev else lo
    }
  }

  /** Frame `x` between two adjacent axis indexes (i0 < i1 for ascending).
    * Returns None when the coordinate cannot be framed (matches
    * `axis.hpp:722-778` returning nullopt).
    */
  def findIndexes(coordinate: Double): Option[(Int, Int)] = {
    val f = frame(coordinate)
    if (f < 0) None else Some(((f >>> 32).toInt, f.toInt))
  }

  /** [[findIndexes]] without a heap object: i0 in the high and i1 in the
    * low 32 bits, or -1.
    */
  private def frame(coordinate: Double): Long = {
    if (coordinate.isNaN) return -1L
    val x = normalize(coordinate)
    val i0raw = findIndex(x, bounded = false)
    if (i0raw == -1) return if (isPeriodic) Axis.pack(size - 1, 0) else -1L
    val delta = x - values(i0raw)
    if (delta == 0) {
      if (size == 1) return -1L
      val i1 = if (i0raw == size - 1) i0raw - 1 else i0raw + 1
      return Axis.pack(math.min(i0raw, i1), math.max(i0raw, i1))
    }
    var i0 = i0raw
    var i1 = i0raw
    if (delta < 0) i0 = if (isAscending) i0 - 1 else i0 + 1
    else i1 = if (isAscending) i0raw + 1 else i0raw - 1
    if (isPeriodic)
      Axis.pack(GeoMath.floorMod(i0, size), GeoMath.floorMod(i1, size))
    else if (i0 >= 0 && i1 >= 0 && i0 < size && i1 < size) Axis.pack(i0, i1)
    else -1L
  }

  /** The window around `x` on an ascending axis (reference
    * `axis.hpp:816-881`) as a run of nodes: node k of the run is
    * [[node]]`(first, k)`, read with [[Axis.runFirst]] and
    * [[Axis.runLength]]. Let (i0, i1) frame `x`. A periodic axis gives the
    * 2*half nodes from i0 - (half - 1), wrapping. A non-periodic one
    * clips [i0 - half + 1, i1 + half - 1] to the axis: `Shrink` keeps the
    * clipped run, `Undef` gives none if anything was clipped. A run needs
    * 2 nodes; none is -1.
    */
  def window(coordinate: Double, half: Int, boundary: Boundary.Value)
      : Long = {
    val f = frame(coordinate)
    if (f < 0 || half < 1) return -1L
    val lo = (f >>> 32).toInt - (half - 1)
    if (isPeriodic) return Axis.pack(2 * half, lo)
    val hi = f.toInt + half - 1
    val first = math.max(0, lo)
    val last = math.min(size - 1, hi)
    if (last - first < 1 ||
        (boundary == Boundary.Undef && (lo < 0 || hi >= size))) -1L
    else Axis.pack(last - first + 1, first)
  }

  /** Node `k` of the run that starts at `first`. */
  def node(first: Int, k: Int): Int = GeoMath.floorMod(first + k, size)

  /** Axis.contains (`math/axis.hpp:401-416`): periodic axes contain
    * everything; otherwise min<=x<=max.
    */
  def contains(x: Double): Boolean =
    isPeriodic || (x >= minValue && x <= maxValue)
}

object Axis {
  /** `hi` and `lo` in one Long, `hi` in the high 32 bits. A window run
    * is `pack(length, first)`: positive, so -1 stays free for none.
    */
  def pack(hi: Int, lo: Int): Long = (hi.toLong << 32) | (lo & 0xffffffffL)
  def runFirst(run: Long): Int = run.toInt
  def runLength(run: Long): Int = (run >>> 32).toInt

  /** Evenly spaced axis over [start, stop] with `num` samples. */
  def regular(start: Double, stop: Double, num: Int,
              period: Double = 0.0): Axis = {
    val step = if (num > 1) (stop - start) / (num - 1) else 0.0
    Axis(Array.tabulate(num)(i => start + step * i), period)
  }
}

/** Shared small math helpers (period normalization, remainder). */
object GeoMath {
  /** Normalize x into [min, min+period): reference
    * `math.hpp normalize_period` behavior.
    */
  def normalizePeriod(x: Double, min: Double, period: Double): Double = {
    var v = x
    while (v < min) v += period
    while (v >= min + period) v -= period
    v
  }

  /** Python-style remainder (always in [0, n)). */
  def floorMod(i: Int, n: Int): Int = {
    val r = i % n
    if (r < 0) r + n else r
  }

  /** Symmetric-reflection edge mapping of the reference's fill-window
    * `frame_index` (`fill/helpers.hpp:79-110`, non-angle branch):
    * out-of-domain indexes reflect about the edge NODES (-1 -> 1,
    * size -> size-2), so edge-adjacent windows revisit interior cells
    * instead of clamping onto the edge cell.
    */
  def reflectIndex(idx: Int, size: Int): Int = {
    if (idx >= 0 && idx < size) idx
    else if (size == 1) 0
    else {
      val where = floorMod(idx, (size - 1) * 2)
      if (where >= size) size - 2 - floorMod(where, size) else where
    }
  }
}
