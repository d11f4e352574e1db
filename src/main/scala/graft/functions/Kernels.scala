package graft.functions

import graft.core.{GeoHash, Geodesy, Polygon2D}

/** Static, codegen-callable scalar kernels. Every method here is referenced
  * from generated Java inside Catalyst `doGenCode` bodies, so signatures
  * stay JVM-primitive friendly (Scala objects emit static forwarders).
  */
object Kernels {

  def geohashEncode(lon: Double, lat: Double, precision: Int): Long =
    GeoHash.encode(lon, lat, precision)

  def geohashLon(hash: Long, precision: Int): Double =
    GeoHash.centroid(hash, precision)._1

  def geohashLat(hash: Long, precision: Int): Double =
    GeoHash.centroid(hash, precision)._2

  /** Cell area, EXACT ellipsoidal lon/lat-rectangle closed form (the
    * reference's spheroid-aware `geohash/int64.hpp:124-136` area; was
    * spherical excess in r1).
    */
  def geohashArea(hash: Long, precision: Int): Double = {
    val (x0, y0, x1, y1) = GeoHash.boundingBox(hash, precision)
    graft.core.Geodesics.rectangleArea(x0, y0, x1, y1)
  }

  def geohashNeighbors(hash: Long, precision: Int): Array[Long] =
    GeoHash.neighbors(hash, precision)

  /** Polygon containment with a process-wide parse cache (polygon literals
    * are tiny and few; parse once per executor, evaluate per row). A
    * polygon column can carry any number of distinct texts, so the cache
    * holds at most [[PolyCacheCap]] polygons: an insert into a full cache
    * first evicts one arbitrary entry. Hits stay lock-free; inserts
    * serialize on the cache.
    */
  private[functions] final val PolyCacheCap = 1024

  private val polyCache =
    new java.util.concurrent.ConcurrentHashMap[String, Polygon2D]()

  private[functions] def polyCacheSize: Int = polyCache.size

  private def cachedPoly(s: String): Polygon2D = {
    val hit = polyCache.get(s)
    if (hit != null) return hit
    val p = Polygon2D.deserialize(s)
    polyCache.synchronized {
      if (!polyCache.containsKey(s)) {
        if (polyCache.size >= PolyCacheCap) {
          val it = polyCache.keySet.iterator
          it.next()
          it.remove()
        }
        polyCache.put(s, p)
      }
    }
    p
  }

  def stWithin(x: Double, y: Double, poly: org.apache.spark.unsafe.types.UTF8String): Boolean =
    cachedPoly(poly.toString).contains(x, y)

  def stCoveredBy(x: Double, y: Double, poly: org.apache.spark.unsafe.types.UTF8String): Boolean =
    cachedPoly(poly.toString).coveredBy(x, y)

  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    Geodesy.haversine(lon1, lat1, lon2, lat2)

  def ecefDistance(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    Geodesy.ecefDistance(lon1, lat1, lon2, lat2)

  /** Window/tapering kernels of the reference
    * (`math/interpolate/window_function.hpp:39-286`): weight for a
    * neighbor at distance d given window radius r.
    */
  def windowWeight(kernel: String, d: Double, r: Double, arg: Double): Double = {
    val pi = math.Pi
    kernel match {
      case "boxcar" => if (d <= r) 1.0 else 0.0
      case "hamming" =>
        if (d <= r) 0.53836 - 0.46164 * math.cos(pi * (d + r) / r) else 0.0
      case "blackman" =>
        if (d <= r) {
          val ratio = (d + r) / r
          7938.0 / 18608.0 - (9240.0 / 18608.0) * math.cos(pi * ratio) +
            (1430.0 / 18608.0) * math.cos(2 * pi * ratio)
        } else 0.0
      case "blackman_harris" =>
        if (d <= r) {
          val ratio = (d + r) / r
          0.35875 - 0.48829 * math.cos(pi * ratio) +
            0.14128 * math.cos(2 * pi * ratio) -
            0.01168 * math.cos(3 * pi * ratio)
        } else 0.0
      case "nuttall" =>
        if (d <= r) {
          val ratio = (d + r) / r
          0.3635819 - 0.4891775 * math.cos(pi * ratio) +
            0.1365995 * math.cos(2 * pi * ratio)
        } else 0.0
      case "flat_top" =>
        if (d <= r) {
          val ratio = (d + r) / r
          0.21557895 - 0.41663158 * math.cos(pi * ratio) +
            0.277263158 * math.cos(2 * pi * ratio) -
            0.083578947 * math.cos(3 * pi * ratio) +
            0.006947368 * math.cos(4 * pi * ratio)
        } else 0.0
      case "gaussian" =>
        if (d <= r) math.exp(-0.5 * (d / arg) * (d / arg)) else 0.0
      case "lanczos" =>
        val nlobes = if (arg > 0) arg else 1.0
        if (d <= nlobes * r) sinc(d / r) * sinc(d / (r * nlobes)) else 0.0
      case "parzen" =>
        val sampling = arg
        val ratio = d / r
        val l = 2 * r + sampling
        if (d <= l / 4) 1.0 - 6.0 * ratio * ratio * (1.0 - ratio)
        else if (d <= l / 2) { val o = 1.0 - ratio; 2.0 * o * o * o }
        else 0.0
      case "parzen_swot" =>
        val l = 2 * r
        val ratio = 2 * d / l
        if (d <= l / 4) { val r2 = ratio * ratio; 1.0 - 6 * r2 + 6 * r2 * ratio }
        else if (d <= l / 2) { val o = 1.0 - ratio; 2.0 * o * o * o }
        else 0.0
      case other => throw new IllegalArgumentException(
        s"unknown window kernel: $other")
    }
  }

  private def sinc(x: Double): Double =
    if (x == 0.0) 1.0 else math.sin(math.Pi * x) / (math.Pi * x)
}
