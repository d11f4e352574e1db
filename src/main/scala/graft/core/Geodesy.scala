package graft.core

/** Geodetic transforms and distances (WGS84).
  *
  * Semantics match the reference's coordinate transforms
  * (`/root/reference/cxx/include/pyinterp/geometry/geographic/
  * coordinates.hpp:90-112` forward LLA->ECEF; `:57-87` Vermeille inverse),
  * which back every geodetic R-tree query (`pybind/rtree.hpp:253-275`).
  */
object Geodesy {
  final val A = 6378137.0 // WGS84 semi-major axis (m)
  final val F = 1.0 / 298.257223563 // flattening
  final val E2 = F * (2.0 - F) // first eccentricity squared
  final val MeanRadius = 6371008.8

  @inline def toRad(d: Double): Double = d * (math.Pi / 180.0)
  @inline def toDeg(r: Double): Double = r * (180.0 / math.Pi)

  /** Geodetic (deg, deg, m) -> ECEF (m). */
  def llaToEcef(lon: Double, lat: Double, alt: Double): (Double, Double, Double) = {
    val sinLon = math.sin(toRad(lon)); val cosLon = math.cos(toRad(lon))
    val sinLat = math.sin(toRad(lat)); val cosLat = math.cos(toRad(lat))
    val n = A / math.sqrt(1.0 - E2 * sinLat * sinLat)
    ((n + alt) * cosLat * cosLon,
     (n + alt) * cosLat * sinLon,
     (n * (1.0 - E2) + alt) * sinLat)
  }

  /** ECEF -> geodetic via Vermeille (2002); 1e-8 m class accuracy. */
  def ecefToLla(x: Double, y: Double, z: Double): (Double, Double, Double) = {
    val invA2 = 1.0 / (A * A)
    val e4 = E2 * E2
    val p = (x * x + y * y) * invA2
    val q = ((1.0 - E2) * (z * z)) * invA2
    val r = (p + q - e4) / 6.0
    val s = (e4 * p * q) / (4.0 * r * r * r)
    val t = math.cbrt(1.0 + s + math.sqrt(s * (2.0 + s)))
    val u = r * (1.0 + t + 1.0 / t)
    val v = math.sqrt(u * u + e4 * q)
    val w = E2 * (u + v - q) / (2.0 * v)
    val k = math.sqrt(u + v + w * w) - w
    val d = k * math.sqrt(x * x + y * y) / (k + E2)
    (toDeg(math.atan2(y, x)), toDeg(math.atan2(z, d)),
      (k + E2 - 1.0) / k * math.sqrt(d * d + z * z))
  }

  /** Straight-line (chord) distance in ECEF space — the distance the
    * reference's geodetic R-tree ranks neighbors by
    * (`geometry/rtree.hpp:306-336` with cartesian strategy over ECEF).
    */
  def ecefDistance(lon1: Double, lat1: Double, lon2: Double, lat2: Double,
                   alt1: Double = 0.0, alt2: Double = 0.0): Double = {
    val (x1, y1, z1) = llaToEcef(lon1, lat1, alt1)
    val (x2, y2, z2) = llaToEcef(lon2, lat2, alt2)
    val dx = x1 - x2; val dy = y1 - y2; val dz = z1 - z2
    math.sqrt(dx * dx + dy * dy + dz * dz)
  }

  /** Haversine great-circle distance on the mean sphere (m). */
  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = toRad(lat2 - lat1)
    val dLon = toRad(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(toRad(lat1)) * math.cos(toRad(lat2)) *
        math.pow(math.sin(dLon / 2), 2)
    2 * MeanRadius * math.asin(math.min(1.0, math.sqrt(a)))
  }
}
