package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.KdTree

/** 4-D cartesian kNN join + optimal interpolation — the engine's analog
  * of the reference RTree4D (`pybind/rtree4d.hpp:31-117`): pure-cartesian
  * (x1, x2, x3, x4) points carrying (value, sigma2) observations,
  * k-nearest queries and BLUE optimal interpolation with per-observation
  * error variance.
  *
  * Distribution mirrors [[KnnJoin]]: broadcast k-d tree (dims = 4) below
  * the size threshold; otherwise the build side is bucketed on the first
  * two dimensions (`cellSize` grid, 3x3 replication) and cogrouped —
  * correct whenever the k-th neighbor ball fits the block, the usual
  * cell-join contract. Dimensions 3/4 ride unbucketed inside the cell
  * trees (they are time/level axes with small extent in the reference's
  * use).
  */
object KnnJoin4D {

  /** `broadcastThreshold` is a row count applied to Catalyst's byte
    * estimate at ~48 B/row (no counting scan); `maxBroadcastRows` is the
    * HARD collect-time cap — when the estimate undershoots, the limited
    * collect detects it and the call falls over to the shuffle path
    * (the gate and cap of [[KnnJoin.blockSearch]], shared by every face).
    */
  final case class Config4(
      k: Int = 8,
      radius: Double = Double.PositiveInfinity,
      cellSize: Double = 1.0,
      broadcastThreshold: Long = 500000L,
      saltFactor: Int = 1,
      maxBroadcastRows: Long = 4000000L)

  case class B4(c: Array[Double], value: Double, sigma2: Double, id: Long)
  case class P4(qid: Long, c: Array[Double])

  /** Unsalted key of the (x1, x2) grid cell `(dx, dy)` cells away. */
  private def cellKey(x1: Double, x2: Double, cs: Double, dx: Int,
                      dy: Int): Long = {
    val ix = math.floor(x1 / cs).toLong + dx
    val iy = math.floor(x2 / cs).toLong + dy
    (ix * 2097169L + iy) * 2097169L
  }

  /** [[KnnJoin.blockSearch]] for the 4-D faces: a k-d tree over all four
    * axes plus each observation's sigma2 by id, blocks of 3x3 (x1, x2)
    * cells at `cellSize`.
    */
  private def search[O: Encoder](spark: SparkSession, build: DataFrame,
      probe: DataFrame, cfg: Config4)(
      answer: (KdTree, Map[Long, Double], P4) => Iterator[O]): Dataset[O] = {
    import spark.implicits._
    val cs = cfg.cellSize
    val b4 = build.select(col("x1").cast("double"),
        col("x2").cast("double"), col("x3").cast("double"),
        col("x4").cast("double"), col("value").cast("double"),
        col("sigma2").cast("double"), col("id").cast("long"))
      .as[(Double, Double, Double, Double, Double, Double, Long)]
      .map { case (a, b, c, d, v, s, id) => B4(Array(a, b, c, d), v, s, id) }
    val p4 = probe.select(col("qid").cast("long"),
        col("x1").cast("double"), col("x2").cast("double"),
        col("x3").cast("double"), col("x4").cast("double"))
      .as[(Long, Double, Double, Double, Double)]
      .map { case (qid, a, b, c, d) => P4(qid, Array(a, b, c, d)) }
    KnnJoin.blockSearch[B4, P4, O, (KdTree, Map[Long, Double])](spark, build,
      cfg.broadcastThreshold, 48, cfg.maxBroadcastRows, cfg.saltFactor)(
      (b4, p4),
      KnnJoin.Blocks[B4, P4](b4, p4,
        b => for (dx <- Iterator.range(-1, 2); dy <- Iterator.range(-1, 2))
          yield cellKey(b.c(0), b.c(1), cs, dx, dy),
        p => cellKey(p.c(0), p.c(1), cs, 0, 0), _.qid),
      it => {
        val rows = it.toArray
        (KdTree.build(rows.iterator.map(r => (r.c, r.value, r.id)), 4),
          rows.map(r => r.id -> r.sigma2).toMap)
      },
      { case ((tree, sigma), p, _) => answer(tree, sigma, p) })
  }

  /** Flat kNN rows (qid, nid, dist, value, sigma2, rank). */
  def knnJoinFlat(spark: SparkSession, build: DataFrame, probe: DataFrame,
                  cfg: Config4): DataFrame = {
    import spark.implicits._
    val (k, radius) = (cfg.k, cfg.radius)
    search(spark, build, probe, cfg) { (tree, sigma, p) =>
      tree.query(p.c, k, radius).iterator.zipWithIndex.map {
        case ((dist, v, id), i) => (p.qid, id, dist, v, sigma(id), i + 1)
      }
    }.toDF("qid", "nid", "dist", "value", "sigma2", "rank")
  }

  case class Nbr4(qid: Long, q: Array[Double],
                  coords: Array[Array[Double]], values: Array[Double],
                  sigmas: Array[Double])

  /** Coordinate-carrying neighbors, on the same search as [[knnJoinFlat]]. */
  private def neighborsWithCoords(spark: SparkSession, build: DataFrame,
      probe: DataFrame, cfg: Config4): Dataset[Nbr4] = {
    import spark.implicits._
    val (k, radius) = (cfg.k, cfg.radius)
    search(spark, build, probe, cfg) { (tree, sigma, p) =>
      val res = tree.queryWithCoords(p.c, k, radius)
      Iterator.single(Nbr4(p.qid, p.c, res.map(_._4), res.map(_._2),
        res.map(r => sigma(r._3))))
    }
  }

  /** Optimal interpolation (BLUE) over the 4-D neighbors with
    * per-observation error variance (`rtree4d.hpp:105-117`).
    */
  def optimalInterpolation(spark: SparkSession, build: DataFrame,
      probe: DataFrame, cfg: Config4, sigma2Field: Double,
      lengthScales: Array[Double],
      kernel: String = "gaussian"): DataFrame = {
    import spark.implicits._
    val model = new graft.core.OptimalInterpolation(sigma2Field,
      lengthScales, kernel)
    neighborsWithCoords(spark, build, probe, cfg).map { r =>
      val (v, err, n) = model.solve(r.coords, r.values, r.sigmas, r.q)
      (r.qid, v, err, n)
    }.toDF("qid", "value", "error_variance", "neighbors")
  }
}
