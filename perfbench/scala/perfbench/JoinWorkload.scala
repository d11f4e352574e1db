package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.core.{GeoHash, Geodesy, Polygon2D}
import graft.operators.{KnnJoin, PipJoin}
import graft.pipeline.ImageTableGen

/** Seeded point and polygon streams over the image table's bounding box,
  * with the same 20% hot cluster.
  */
object JoinData {
  private def mix(a: Long): Long = {
    var z = a + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def unit(z: Long): Double = (z >>> 11) * 1.1102230246251565e-16

  /** Point `i` of stream `stream` for `seed`. */
  def point(seed: Long, stream: Long, i: Long): (Double, Double) = {
    val z0 = mix(mix(seed * 1000003L + stream) ^ i)
    val z1 = mix(z0)
    val z2 = mix(z1)
    import ImageTableGen._
    if (unit(z0) < HotFrac) (HotLon + unit(z1) * 2.0, HotLat + unit(z2) * 2.0)
    else (LonMin + unit(z1) * (LonMax - LonMin), LatMin + unit(z2) * (LatMax - LatMin))
  }

  /** Star-shaped polygons of 0.2-1 degree radius around seeded centres. */
  def polygons(seed: Long, n: Int): Seq[(Long, Polygon2D)] =
    (0 until n).map { i =>
      val (cx, cy) = point(seed, 99, i)
      val r = 0.2 + 0.8 * unit(mix(seed ^ (i * 31L + 7)))
      val verts = 6
      val ring = (0 until verts).map { v =>
        val a = 2 * math.Pi * v / verts
        val rr = r * (0.6 + 0.4 * unit(mix(seed + i * 131L + v)))
        (cx + rr * math.cos(a), cy + rr * math.sin(a))
      }.toArray
      (i.toLong, Polygon2D(ring))
    }
}

/** `join`: kNN IDW on the shuffle path and on the default (broadcast) path,
  * and point-in-polygon above the broadcast threshold (cell join).
  */
final class JoinWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._
  private val tiny = ctx.opts.tiny
  private val seed = ctx.opts.seed
  // tiny: dense enough that the gate's probe sample holds exact rows
  private val nBuild = if (tiny) 30000 else 100000
  private val nProbe = if (tiny) 3000 else 100000
  private val nSmallBuild = if (tiny) 500 else 10000
  private val nPoints = if (tiny) 5000 else 400000
  private val nPolygons = if (tiny) 100 else 750
  private var polygons: Seq[(Long, Polygon2D)] = Nil
  private val shuffleCfg = KnnJoin.Config(broadcastThreshold = 0L)
  private val defaultCfg = KnnJoin.Config()

  private def table(name: String): DataFrame = spark.read.parquet(ctx.dir(name))

  private def writePoints(name: String, stream: Long, n: Int,
                          cols: Seq[String]): Unit = {
    val s = seed
    val parts = spark.sparkContext.defaultParallelism * 2
    spark.range(0, n, 1, parts).as[Long].map { i =>
      val (x, y) = JoinData.point(s, stream, i)
      (i, x, y, ImageTableGen.field(x, y))
    }.toDF("id", "x", "y", "value").selectExpr(cols: _*)
      .write.mode(SaveMode.Overwrite).parquet(ctx.dir(name))
  }

  def setup(): Unit = {
    writePoints("build", 1, nBuild, Seq("x", "y", "value", "id"))
    writePoints("small_build", 2, nSmallBuild, Seq("x", "y", "value", "id"))
    writePoints("probe", 3, nProbe, Seq("id as qid", "x", "y"))
    writePoints("points", 4, nPoints, Seq("id as pid", "x", "y"))
    polygons = JoinData.polygons(seed, nPolygons)
  }

  private def ecef(x: Double, y: Double): Array[Double] = {
    val (a, b, c) = Geodesy.llaToEcef(x, y, 0.0)
    Array(a, b, c)
  }

  /** Build points of a table, ECEF by id. */
  private def buildPoints(name: String): Map[Long, Array[Double]] =
    table(name).select("x", "y", "id").as[(Double, Double, Long)].collect()
      .map { case (x, y, id) => id -> ecef(x, y) }.toMap

  private def dist(p: Array[Double], q: Array[Double]): Double = {
    val dx = p(0) - q(0); val dy = p(1) - q(1); val dz = p(2) - q(2)
    math.sqrt(dx * dx + dy * dy + dz * dz)
  }

  /** Brute-force k nearest (distance, id) of each sampled probe. */
  private def bruteForce(pts: Map[Long, Array[Double]],
                         probes: Array[(Long, Double, Double)],
                         k: Int): Map[Long, Array[(Double, Long)]] = {
    val order = Ordering.Tuple2[Double, Long]
    val all = pts.toArray
    probes.map { case (qid, x, y) =>
      val q = ecef(x, y)
      // bounded max-heap of the k best (distance, id) pairs
      val best = mutable.PriorityQueue.empty[(Double, Long)](order)
      all.foreach { case (id, p) =>
        val c = (dist(p, q), id)
        if (best.size < k) best += c
        else if (order.lt(c, best.head)) { best.dequeue(); best += c }
      }
      qid -> best.toArray.sorted(order)
    }.toMap
  }

  private val Tol = 1e-6
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Tol * math.max(1.0, b)

  /** Same distances, and the same ids wherever the distance is below the
    * k-th one (ties at the k-th distance may pick either point).
    */
  private def sameNeighbors(got: KnnJoin.KnnNeighbors,
                            want: Array[(Double, Long)]): Boolean = {
    if (got.n != want.length) false
    else {
      val distOk = got.dists.zip(want).forall { case (a, (b, _)) => close(a, b) }
      val kth = want.last._1
      val below = kth - Tol * math.max(1.0, kth)
      val strict = want.filter(_._1 < below).map(_._2).toSet
      val gotStrict = got.ids.zip(got.dists).filter(_._2 < below).map(_._1).toSet
      distOk && strict == gotStrict
    }
  }

  /** What every answer drawn from a subset of the build side satisfies, as
    * the shuffle path's rows not flagged `exact` are: at most k neighbours,
    * in ascending order, each a build point at the returned distance, and
    * the i-th distance no smaller than the true i-th distance.
    */
  private def plausible(got: KnnJoin.KnnNeighbors, q: Array[Double],
                        want: Array[(Double, Long)],
                        pts: Map[Long, Array[Double]]): Boolean =
    got.n <= want.length && got.ids.length == got.n &&
      got.dists.length == got.n &&
      (1 until got.n).forall(i => got.dists(i - 1) <= got.dists(i)) &&
      (0 until got.n).forall { i =>
        pts.get(got.ids(i)).exists(p => close(got.dists(i), dist(p, q))) &&
          got.dists(i) >= want(i)._1 - Tol * math.max(1.0, want(i)._1)
      }

  def gate(): Unit = {
    val k = defaultCfg.k
    val modulus = if (tiny) 50 else 1000
    val sample = table("probe").filter(col("qid") % modulus === 7)
      .as[(Long, Double, Double)].collect()
    val ids = sample.map(_._1).toSeq

    val bcast = KnnJoin.neighbors(spark, table("small_build"), table("probe"),
      defaultCfg).filter(col("qid").isin(ids: _*)).collect()
    val bcastWant = bruteForce(buildPoints("small_build"), sample, k)
    ctx.check("join.knn_bcast", bcast.length == sample.length &&
      bcast.forall(r => r.exact && sameNeighbors(r, bcastWant(r.qid))),
      s"${bcast.count(r => !sameNeighbors(r, bcastWant(r.qid)))} of " +
        s"${sample.length} sampled probes differ from brute force")

    // Rows flagged exact must equal brute force; the others must be a
    // plausible block-local answer. The sample must hold exact rows, so a
    // change that clears the flag cannot skip the exact comparison.
    val shuffleRows = KnnJoin.neighbors(spark, table("build"), table("probe"),
      shuffleCfg).filter(col("qid").isin(ids: _*)).collect()
    val pts = buildPoints("build")
    val want = bruteForce(pts, sample, k)
    val probe = sample.map { case (qid, x, y) => qid -> ecef(x, y) }.toMap
    val (exactRows, otherRows) = shuffleRows.partition(_.exact)
    val wrongExact = exactRows.count(r => !sameNeighbors(r, want(r.qid)))
    val wrongOther = otherRows.count(r =>
      !plausible(r, probe(r.qid), want(r.qid), pts))
    ctx.check("join.knn_shuffle", shuffleRows.length == sample.length &&
      exactRows.nonEmpty && wrongExact == 0 && wrongOther == 0,
      s"${shuffleRows.length} rows for ${sample.length} sampled probes; " +
        s"$wrongExact of ${exactRows.length} exact rows differ from brute " +
        s"force; $wrongOther of ${otherRows.length} other rows are not a " +
        "block-local answer")

    val samplePts = table("points").filter(col("pid") % 50 === 3)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("pid", "poly_id").as[(Long, Long)].collect().toSet
    val viaCells = pairs(PipJoin.join(spark, samplePts, "x", "y", polygons))
    val viaBroadcast = pairs(PipJoin.broadcastJoin(spark, samplePts, "x", "y",
      polygons))
    ctx.check("join.pip", viaCells == viaBroadcast,
      s"${viaCells.size} cell-join pairs vs ${viaBroadcast.size} broadcast pairs")
  }

  private def knnShuffle(s: OpScope): Long = {
    val df = s.construct(KnnJoin.idw(spark, table("build"), table("probe"),
      shuffleCfg))
    s.action(df.count())
  }

  private def knnBcast(s: OpScope): Long = {
    val df = s.construct(KnnJoin.idw(spark, table("small_build"), table("probe"),
      defaultCfg))
    s.action(df.count())
  }

  private def pip(s: OpScope): Long = {
    val df = s.construct(PipJoin.join(spark, table("points"), "x", "y", polygons))
    s.action(df.count())
    nPoints
  }

  def pass(iter: Int): Unit = {
    ctx.op("knn_shuffle", iter)(knnShuffle)
    ctx.op("knn_bcast", iter)(knnBcast)
    ctx.op("pip", iter)(pip)
  }

  def traceLayers(): Unit = {
    Layers.kdtreeKernels(ctx, seed, if (tiny) 2000 else 50000,
      if (tiny) 1000 else 20000)
    def rate(kind: String): Double = {
      val ops = ctx.ops.filter(_.kind == kind)
      ops.map(_.items).sum / ops.map(_.seconds).sum
    }
    ctx.layer("join.knn_shuffle_probes_per_s", rate("knn_shuffle"))
    ctx.layer("join.knn_bcast_probes_per_s", rate("knn_bcast"))
    ctx.layer("join.pip_points_per_s", rate("pip"))
    ctx.layer("operators.knn_exact_ratio", KnnJoin.neighbors(spark, table("build"),
      table("probe"), shuffleCfg).agg(avg(col("exact").cast("double")))
      .head().getDouble(0))
    val shuffleOps = ctx.traced.filter(_.op.kind == "knn_shuffle")
    ctx.layer("operators.knn_replication",
      Layers.median(shuffleOps.map(o => (o.stats.shuffleRecords - nProbe).toDouble / nBuild).toSeq))
    val bcastOps = ctx.traced.filter(_.op.kind == "knn_bcast")
    ctx.layer("operators.knn_construct_s", Layers.median(bcastOps.map(_.op.constructS).toSeq))
    ctx.layer("operators.knn_construct_jobs",
      Layers.median(bcastOps.map(o => o.stats.jobStartMs.count(_ <= o.constructEndMs).toDouble).toSeq))
    val pts = table("points")
    val pairs = PipJoin.join(spark, pts, "x", "y", polygons).count()
    val covers = polygons.flatMap { case (id, p) =>
      GeoHash.coverPolygon(p, 20).map(c => (id, c))
    }.toDF("poly_id", "cell")
    val candidates = pts
      .withColumn("cell", graft.functions.gf.geohash_encode(col("x"), col("y"), 20))
      .join(covers, "cell").count()
    ctx.layer("operators.pip_refine_ratio",
      if (candidates == 0) 0.0 else pairs.toDouble / candidates)
  }
}
