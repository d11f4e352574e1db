package graft.core

/** Minimal planar polygon with ring containment tests.
  *
  * Matches the behavior the reference gets from Boost.Geometry `within` /
  * `covered_by` on cartesian rings
  * (`/root/reference/cxx/include/pyinterp/pybind/geometry/algorithms/
  * for_each_point_within.hpp:36-79`): `within` is boundary-exclusive,
  * `coveredBy` boundary-inclusive. Rings are closed implicitly (last->first
  * edge added if needed); orientation does not matter for the even-odd test.
  */
final case class Polygon2D(
    exterior: Array[(Double, Double)],
    holes: Array[Array[(Double, Double)]] = Array.empty
) extends Serializable {

  lazy val bbox: (Double, Double, Double, Double) = {
    var x0 = Double.MaxValue; var y0 = Double.MaxValue
    var x1 = Double.MinValue; var y1 = Double.MinValue
    exterior.foreach { case (x, y) =>
      if (x < x0) x0 = x; if (x > x1) x1 = x
      if (y < y0) y0 = y; if (y > y1) y1 = y
    }
    (x0, y0, x1, y1)
  }

  /** Even-odd ray casting; returns 0 outside, 1 inside, 2 on boundary. */
  private def classifyRing(ring: Array[(Double, Double)], px: Double,
                           py: Double): Int = {
    var inside = false
    val n = ring.length
    var i = 0
    var j = n - 1
    while (i < n) {
      val (xi, yi) = ring(i)
      val (xj, yj) = ring(j)
      // boundary check: point on segment [j -> i]
      val cross = (xj - xi) * (py - yi) - (px - xi) * (yj - yi)
      if (cross == 0.0 &&
          px >= math.min(xi, xj) && px <= math.max(xi, xj) &&
          py >= math.min(yi, yj) && py <= math.max(yi, yj)) return 2
      if ((yi > py) != (yj > py)) {
        val xCross = (xj - xi) * (py - yi) / (yj - yi) + xi
        if (px < xCross) inside = !inside
      }
      j = i
      i += 1
    }
    if (inside) 1 else 0
  }

  private def classify(px: Double, py: Double): Int = {
    val c = classifyRing(exterior, px, py)
    if (c != 1) return c
    var h = 0
    while (h < holes.length) {
      val hc = classifyRing(holes(h), px, py)
      if (hc == 1) return 0 // strictly inside a hole => outside
      if (hc == 2) return 2 // on hole boundary => boundary
      h += 1
    }
    1
  }

  /** Boundary-exclusive containment (boost `within`). */
  def contains(px: Double, py: Double): Boolean = classify(px, py) == 1

  /** Point location: 0 = exterior, 1 = interior, 2 = boundary (the
    * DE-9IM row selector).
    */
  def locate(px: Double, py: Double): Int = classify(px, py)

  /** Boundary-inclusive containment (boost `covered_by`). */
  def coveredBy(px: Double, py: Double): Boolean = classify(px, py) >= 1

  /** Conservative polygon/box intersection test used for cell covers:
    * true when any box corner (or the centre) is covered, any vertex of
    * any ring lies in the box, or any ring edge crosses a box edge. Hole
    * rings count: a thin part of the polygon between two hole edges can
    * cross a box whose corners and centre all lie in the hole.
    */
  def intersectsBox(x0: Double, y0: Double, x1: Double, y1: Double): Boolean = {
    val (bx0, by0, bx1, by1) = bbox
    if (bx1 < x0 || bx0 > x1 || by1 < y0 || by0 > y1) return false
    if (coveredBy(x0, y0) || coveredBy(x1, y0) || coveredBy(x0, y1) ||
        coveredBy(x1, y1)) return true
    if (coveredBy((x0 + x1) / 2, (y0 + y1) / 2)) return true
    val rings = exterior +: holes
    if (rings.exists(_.exists { case (x, y) =>
          x >= x0 && x <= x1 && y >= y0 && y <= y1 })) return true
    // edge/box-edge intersection
    val boxEdges = Array(
      ((x0, y0), (x1, y0)), ((x1, y0), (x1, y1)),
      ((x1, y1), (x0, y1)), ((x0, y1), (x0, y0)))
    rings.exists { ring =>
      val n = ring.length
      var i = 0
      var j = n - 1
      var hit = false
      while (i < n && !hit) {
        val a = ring(j); val b = ring(i)
        var e = 0
        while (e < 4 && !hit) {
          hit = Polygon2D.segmentsIntersect(a, b, boxEdges(e)._1,
            boxEdges(e)._2)
          e += 1
        }
        j = i
        i += 1
      }
      hit
    }
  }

  /** WKT-ish serialization for shipping through DataFrame literals. */
  def serialize: String =
    (exterior +: holes).map(_.map { case (x, y) => s"$x $y" }
      .mkString(";")).mkString("|")
}

object Polygon2D {
  def deserialize(s: String): Polygon2D = {
    val rings = s.split('|').map(_.split(';').map { p =>
      val Array(x, y) = p.split(' ')
      (x.toDouble, y.toDouble)
    })
    Polygon2D(rings.head, rings.tail)
  }

  private[core] def orient(p: (Double, Double), q: (Double, Double),
                     r: (Double, Double)): Double =
    (q._1 - p._1) * (r._2 - p._2) - (q._2 - p._2) * (r._1 - p._1)

  def segmentsIntersect(a: (Double, Double), b: (Double, Double),
                        c: (Double, Double), d: (Double, Double)): Boolean = {
    val d1 = orient(c, d, a)
    val d2 = orient(c, d, b)
    val d3 = orient(a, b, c)
    val d4 = orient(a, b, d)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) return true
    def onSeg(p: (Double, Double), q: (Double, Double),
              r: (Double, Double)): Boolean =
      orient(p, q, r) == 0 &&
        r._1 >= math.min(p._1, q._1) && r._1 <= math.max(p._1, q._1) &&
        r._2 >= math.min(p._2, q._2) && r._2 <= math.max(p._2, q._2)
    onSeg(c, d, a) || onSeg(c, d, b) || onSeg(a, b, c) || onSeg(a, b, d)
  }
}
