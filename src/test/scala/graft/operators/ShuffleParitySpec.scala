package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Broadcast-path vs shuffle-path equivalence for every KnnJoin face, and
  * distributed-vs-local equivalence for the crossover join — the
  * correctness contract that lets the engine pick paths by build-side
  * size without changing answers.
  */
class ShuffleParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def buildDf = {
    val rows = for (i <- 0 until 500)
      yield ((i % 25).toDouble, (i * 13 % 25).toDouble,
        (i % 97).toDouble, i.toLong)
    rows.toDF("x", "y", "value", "id")
  }

  private def probeDf = {
    val rows = for (i <- 0 until 60)
      yield (i.toLong, (i % 22).toDouble + 0.3, (i * 3 % 22).toDouble + 0.7)
    rows.toDF("qid", "x", "y")
  }

  // coarse cells (22.5 x 11.25 deg) so every 3x3 block holds all points:
  // the shuffle path must then answer EXACTLY like the broadcast tree
  private val bcCfg = KnnJoin.Config(k = 8, geodetic = false,
    broadcastThreshold = Long.MaxValue, precision = 8)
  private val shCfg = bcCfg.copy(broadcastThreshold = 0L)

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("broadcast hard cap: undershooting estimate falls over to shuffle") {
    // force the broadcast DECISION (threshold = MaxValue) but cap the
    // collect below the build size: the capped limit-collect must detect
    // the overflow and the shuffle path must answer identically
    val capped = bcCfg.copy(maxBroadcastRows = 100L) // build has 500 rows
    val viaCap = KnnJoin.knnJoinFlat(spark, buildDf, probeDf, capped)
    val viaBc = KnnJoin.knnJoinFlat(spark, buildDf, probeDf, bcCfg)
    assert(sortedRows(viaCap) == sortedRows(viaBc))
    val idwCap = KnnJoin.idw(spark, buildDf, probeDf, capped)
    val idwBc = KnnJoin.idw(spark, buildDf, probeDf, bcCfg)
    assert(sortedRows(idwCap) == sortedRows(idwBc))
    val dCap = KnnJoin.distanceJoin(spark, buildDf, probeDf, 2.0, capped)
    val dBc = KnnJoin.distanceJoin(spark, buildDf, probeDf, 2.0, bcCfg)
    assert(sortedRows(dCap) == sortedRows(dBc))
    // every other face runs the same gate and cap
    val faces = Seq[KnnJoin.Config => org.apache.spark.sql.DataFrame](
      KnnJoin.windowFunction(spark, buildDf, probeDf, _),
      KnnJoin.rbf(spark, buildDf, probeDf, _, kernel = "thin_plate"),
      KnnJoin.kriging(spark, buildDf, probeDf, _, 1.0, 4.0, 0.0, "matern_32",
        Some("linear")),
      KnnJoin.optimalInterpolation(spark, buildDf, probeDf, _, sigma2 = 1.0,
        lengthScales = Array(3.0, 3.0), obsSigma2 = 0.01))
    faces.foreach(f => assert(sortedRows(f(capped)) == sortedRows(f(bcCfg))))
    // 4-D variant honors the same cap contract
    val b4 = (0 until 300).map(i => ((i % 12).toDouble,
      (i * 5 % 12).toDouble, (i * 7 % 6).toDouble, (i % 4).toDouble,
      (i % 31).toDouble, 0.25, i.toLong))
      .toDF("x1", "x2", "x3", "x4", "value", "sigma2", "id")
    val p4 = (0 until 30).map(i => (i.toLong, (i % 12) + 0.4,
      (i * 5 % 12) + 0.4, (i % 6) + 0.3, (i % 4) + 0.2))
      .toDF("qid", "x1", "x2", "x3", "x4")
    val cfg4 = KnnJoin4D.Config4(k = 6, cellSize = 6.0,
      broadcastThreshold = Long.MaxValue)
    val rows4Bc = KnnJoin4D.knnJoinFlat(spark, b4, p4, cfg4)
    val rows4Cap = KnnJoin4D.knnJoinFlat(spark, b4, p4,
      cfg4.copy(maxBroadcastRows = 50L))
    assert(sortedRows(rows4Cap) == sortedRows(rows4Bc))
    def oi4(cfg: KnnJoin4D.Config4) = sortedRows(KnnJoin4D.optimalInterpolation(
      spark, b4, p4, cfg, sigma2Field = 1.0, lengthScales = Array(3.0, 3.0, 2.0, 1.0)))
    assert(oi4(cfg4.copy(maxBroadcastRows = 50L)) == oi4(cfg4))
  }

  test("distanceJoin: shuffle path ≡ broadcast path row sets") {
    val b = KnnJoin.distanceJoin(spark, buildDf, probeDf, radius = 2.0, bcCfg)
    val s = KnnJoin.distanceJoin(spark, buildDf, probeDf, radius = 2.0, shCfg)
    assert(sortedRows(b) == sortedRows(s))
    assert(b.count() > 0)
  }

  test("distanceJoin shuffle path auto-coarsens precision for the radius") {
    // default precision 24 has ~0.04 deg cells << radius 2: without the
    // auto-coarsening the cell join would drop cross-cell pairs
    val fine = shCfg.copy(precision = 24)
    val b = KnnJoin.distanceJoin(spark, buildDf, probeDf, radius = 2.0, bcCfg)
    val s = KnnJoin.distanceJoin(spark, buildDf, probeDf, radius = 2.0, fine)
    assert(sortedRows(b) == sortedRows(s))
  }

  test("kriging: shuffle path ≡ broadcast path values") {
    val args = (KnnJoin.kriging(spark, buildDf, probeDf, _: KnnJoin.Config,
      1.0, 4.0, 0.0, "matern_32", Some("linear")))
    assert(sortedRows(args(bcCfg)) == sortedRows(args(shCfg)))
  }

  test("rbf: shuffle path ≡ broadcast path values") {
    def run(cfg: KnnJoin.Config) =
      KnnJoin.rbf(spark, buildDf, probeDf, cfg, kernel = "thin_plate")
    assert(sortedRows(run(bcCfg)) == sortedRows(run(shCfg)))
  }

  test("optimal interpolation: shuffle path ≡ broadcast path values") {
    def run(cfg: KnnJoin.Config) =
      KnnJoin.optimalInterpolation(spark, buildDf, probeDf, cfg,
        sigma2 = 1.0, lengthScales = Array(3.0, 3.0), obsSigma2 = 0.01)
    assert(sortedRows(run(bcCfg)) == sortedRows(run(shCfg)))
  }

  test("crossover: distributed cell join ≡ exact local search") {
    val n = 2000
    val a = (0 until n).map(i =>
      (i, i.toDouble, (i * 7 % 100).toDouble / 10.0)).toDF("idx", "x", "y")
    val b = (0 until n).map(i =>
      (i, i.toDouble, 10.0 - (i * 3 % 100).toDouble / 10.0))
      .toDF("idx", "x", "y")
    val dist = Crossover.join(spark, a, b).collect()
      .map(r => (math.round(r.getDouble(0) * 1e9), math.round(r.getDouble(1) * 1e9),
        r.getInt(2), r.getInt(3))).sorted.toSeq
    val la = (0 until n).map(i => (i.toDouble, (i * 7 % 100).toDouble / 10.0))
      .toArray
    val lb = (0 until n).map(i => (i.toDouble, 10.0 - (i * 3 % 100).toDouble / 10.0))
      .toArray
    val loc = Crossover.findLocal(la, lb)
      .map(r => (math.round(r._1 * 1e9), math.round(r._2 * 1e9), r._3, r._4))
      .sorted.toSeq
    assert(dist.nonEmpty && dist == loc)
  }

  test("4-D kNN: shuffle path ≡ broadcast path; OI uses per-obs sigma2") {
    val build = (0 until 300).map { i =>
      ((i % 12).toDouble, (i * 5 % 12).toDouble, (i * 7 % 6).toDouble,
        (i % 4).toDouble, (i % 31).toDouble, 0.1 + (i % 3) * 0.2, i.toLong)
    }.toDF("x1", "x2", "x3", "x4", "value", "sigma2", "id")
    val probe = (0 until 40).map { i =>
      (i.toLong, (i % 12) + 0.4, (i * 5 % 12) + 0.4, (i % 6) + 0.3,
        (i % 4) + 0.2)
    }.toDF("qid", "x1", "x2", "x3", "x4")
    val bcCfg = KnnJoin4D.Config4(k = 6, cellSize = 6.0,
      broadcastThreshold = Long.MaxValue)
    val shCfg = bcCfg.copy(broadcastThreshold = 0L)
    def rows(cfg: KnnJoin4D.Config4) =
      KnnJoin4D.knnJoinFlat(spark, build, probe, cfg)
        .collect().map(_.mkString("|")).toSeq.sorted
    assert(rows(bcCfg) == rows(shCfg) && rows(bcCfg).nonEmpty)
    def oi(cfg: KnnJoin4D.Config4) =
      KnnJoin4D.optimalInterpolation(spark, build, probe, cfg,
        sigma2Field = 1.0, lengthScales = Array(3.0, 3.0, 2.0, 1.0))
        .collect().map(_.mkString("|")).toSeq.sorted
    assert(oi(bcCfg) == oi(shCfg))
    val vals = KnnJoin4D.optimalInterpolation(spark, build, probe, bcCfg,
      1.0, Array(3.0, 3.0, 2.0, 1.0)).select("value").collect()
      .map(_.getDouble(0))
    assert(vals.forall(v => !v.isNaN && v >= -1.0 && v <= 31.0))
  }

  test("keyed pass decomposition == per-track decomposition") {
    // 3-satellite constellation: partitioned windows must reproduce the
    // single-track (global-window) result per satellite
    def track(sat: Int) = (0 until 200).map { i =>
      (sat, i.toDouble, math.abs((i * 7 + sat * 3) % 100 - 50).toDouble)
    }
    val all = (0 until 3).flatMap(track).toDF("sat", "time", "lat")
    val keyed = Orbit.passDecomposition(all, keyCols = Seq("sat"))
      .select("sat", "time", "pass_number")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    val perTrack = (0 until 3).flatMap { s =>
      Orbit.passDecomposition(track(s).toDF("sat", "time", "lat"))
        .select("sat", "time", "pass_number")
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    }.toSet
    assert(keyed === perTrack)
  }

  test("crossover predicate filter drops far-from-vertex crossings") {
    // A along y=0 with coarse vertices (step 10); B zigzag with fine
    // vertices: crossings at x=k+0.5 are always within 0.6 of a B vertex
    // but up to 5 away from an A vertex
    val a = (0 to 10).map(i => (i, i * 10.0, 0.0)).toDF("idx", "x", "y")
    val b = (0 until 101).map(i =>
      (i, i.toDouble, if (i % 2 == 0) 0.5 else -0.5)).toDF("idx", "x", "y")
    val all = Crossover.join(spark, a, b).count()
    assert(all === 100)
    val near = Crossover.join(spark, a, b,
      maxDistanceToVertex = 1.0).count()
    // only crossings within 1.0 of an A vertex survive (2 per A vertex)
    assert(near < all && near > 0, near)
    // infinite predicate is the identity
    assert(Crossover.join(spark, a, b,
      maxDistanceToVertex = Double.PositiveInfinity).count() === all)
  }

  test("crossover scales: 1e5-vertex tracks, analytic crossing count") {
    // A runs along y=0; B zigzags between +0.5 and -0.5: each B segment
    // crosses A exactly once -> n-1 crossings
    val n = 100000
    val a = spark.range(n).select(col("id").cast("int").as("idx"),
      col("id").cast("double").as("x"), lit(0.0).as("y"))
    val b = spark.range(n).select(col("id").cast("int").as("idx"),
      col("id").cast("double").as("x"),
      when(col("id") % 2 === 0, 0.5).otherwise(-0.5).as("y"))
    assert(Crossover.join(spark, a, b).count() === (n - 1).toLong)
  }
}
