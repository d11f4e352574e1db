package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed (grid-as-table) Gauss-Seidel fill: harmonic-plane closed
  * form, preservation of known cells, and parity with the in-core
  * solver — including the periodic-x seam, where the halo wraps.
  */
class FillTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val n = 32

  /** Boundary ring = i + 2j (harmonic), interior NaN. */
  private def planeGrid() = spark.range(n.toLong * n).select(
    floor(col("id") / n).cast("double").as("x"),
    (col("id") % n).cast("double").as("y"),
    when(floor(col("id") / n) === 0 || col("id") % n === 0 ||
      floor(col("id") / n) === n - 1 || col("id") % n === n - 1,
      floor(col("id") / n) + (col("id") % n) * 2.0)
      .otherwise(lit(Double.NaN)).as("v"))

  test("harmonic plane is recovered exactly (to solver tolerance)") {
    val out = FillTable.gaussSeidelTable(spark, planeGrid(), "x", "y", "v",
      blockSize = 8, haloWidth = 4, innerSweeps = 40,
      maxSuperIterations = 80, epsilon = 1e-8)
    val rows = out.collect()
    assert(rows.length === n * n)
    rows.foreach { r =>
      val x = r.getDouble(0); val y = r.getDouble(1)
      val v = r.getDouble(2); val filled = r.getBoolean(3)
      assert(math.abs(v - (x + 2 * y)) < 1e-4, s"($x,$y): $v")
      // knowns (boundary ring) preserved EXACTLY, not relaxed
      if (!filled) assert(v === x + 2 * y, s"known ($x,$y) changed")
      assert(filled === (x != 0 && y != 0 && x != n - 1 && y != n - 1))
    }
  }

  test("two-level correction: iterations do not grow with block count") {
    // one-level Schwarz outer-iteration count grows with blocks-per-side
    // (the global error component crosses one block per super-iteration);
    // the coarse-grid correction carries it across the whole domain in
    // one step. Pin BOTH halves: (a) with the correction, going from
    // 4×4 to 8×8 blocks does not increase iterations (measured: they
    // DECREASE — the coarse level does more of the work); (b) at 8×8
    // blocks the correction beats the one-level solver (coarseDamping=0)
    // by ≥1.5×. A slower 192² sweep (4×4/8×8/16×16 at full inner
    // convergence) measured 65/41/29 outers — same shape.
    val m = 96
    val iC = floor(col("id") / m)
    val jC = col("id") % m
    def grid() = spark.range(m.toLong * m).select(
      iC.cast("double").as("x"), jC.cast("double").as("y"),
      when(iC === 0 || jC === 0 || iC === m - 1 || jC === m - 1,
        iC.cast("double") + jC.cast("double") * 2.0)
        .otherwise(lit(Double.NaN)).as("v"))
    def run(bs: Int, damping: Double): Int = {
      val (out, trace) = FillTable.gaussSeidelTraced(spark, grid(), "x",
        "y", "v", blockSize = bs, haloWidth = 8, relaxation = 1.0,
        innerSweeps = 100, maxSuperIterations = 120, epsilon = 1e-6,
        periodicX = false, coarseDamping = damping)
      // converged to the harmonic plane (spot-check a center cell)
      val center = out.filter(col("x") === 48.0 && col("y") === 48.0)
        .select("value").head().getDouble(0)
      assert(math.abs(center - (48.0 + 2 * 48.0)) < 1e-3,
        s"bs=$bs damping=$damping center=$center")
      trace.length
    }
    val two4x4 = run(24, 1.0)
    val two8x8 = run(12, 1.0)
    val one8x8 = run(12, 0.0)
    // (a) more blocks must not mean more outer iterations (+4 absorbs
    // the every-4th-iteration residual-check quantization)
    assert(two8x8 <= two4x4 + 4,
      s"iterations grew with block count: 4x4=$two4x4 8x8=$two8x8")
    assert(two4x4 < 120 && two8x8 < 120,
      s"hit the iteration cap: $two4x4, $two8x8")
    // (b) the coarse level is a real accelerator at high block counts
    assert(one8x8.toDouble / two8x8 >= 1.5,
      s"two-level not faster: one-level=$one8x8 two-level=$two8x8")
  }

  test("coarse restriction super-blocks past the driver gate") {
    // at extreme block counts the per-iteration coarse collect must not
    // scale with nbx*nby: force the gate far below the block count so
    // the restriction aggregates to super-blocks distributedly before
    // collecting (a second coarse level) — the solve must still
    // converge to the harmonic plane, the correction staying a global
    // accelerator (iterations comparable to the ungated run)
    val m = 96
    val iC = floor(col("id") / m)
    val jC = col("id") % m
    def grid() = spark.range(m.toLong * m).select(
      iC.cast("double").as("x"), jC.cast("double").as("y"),
      when(iC === 0 || jC === 0 || iC === m - 1 || jC === m - 1,
        iC.cast("double") + jC.cast("double") * 2.0)
        .otherwise(lit(Double.NaN)).as("v"))
    def run(): (Int, Double) = {
      val (out, trace) = FillTable.gaussSeidelTraced(spark, grid(), "x",
        "y", "v", blockSize = 12, haloWidth = 8, relaxation = 1.0,
        innerSweeps = 100, maxSuperIterations = 120, epsilon = 1e-6,
        periodicX = false, coarseDamping = 1.0)
      val center = out.filter(col("x") === 48.0 && col("y") === 48.0)
        .select("value").head().getDouble(0)
      (trace.length, center)
    }
    val saved = FillTable.CoarseDriverGate
    try {
      val (ungated, c0) = run()                 // 8x8 blocks, gate off
      FillTable.CoarseDriverGate = 16L          // forces sb=2 (4x4 super)
      val (gated, c1) = run()
      assert(math.abs(c0 - 144.0) < 1e-3 && math.abs(c1 - 144.0) < 1e-3,
        s"convergence broke: $c0 / $c1")
      assert(gated < 120, s"gated run hit the iteration cap: $gated")
      // super-block corrections are coarser, so a few extra outers are
      // fine — but the global acceleration must survive
      assert(gated <= ungated * 2 + 4,
        s"super-blocked coarse level lost its effect: " +
          s"ungated=$ungated gated=$gated")
    } finally FillTable.CoarseDriverGate = saved
  }

  test("superseded super-iteration states are released promptly") {
    // every super-iteration localCheckpoints the next lattice state; the
    // prior state's blocks must be freed explicitly (not left to driver
    // GC + ContextCleaner) or a long run accumulates one full lattice
    // copy per iteration in block storage. After the call returns only
    // the FINAL state may remain pinned.
    val before = spark.sparkContext.getPersistentRDDs.size
    FillTable.gaussSeidelTable(spark, planeGrid(), "x", "y", "v",
      blockSize = 8, haloWidth = 4, innerSweeps = 10,
      maxSuperIterations = 25, epsilon = 1e-13).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"checkpoint states leaked: $before -> $after persistent RDDs")
  }

  test("loessTable ≡ in-core loessIterative (multi-pass hole blob)") {
    // hole blob wider than the window forces multiple passes; the
    // distributed pass mirrors the core's loop (same clamping, same
    // summation order) against the same previous-state values, so the
    // agreement is essentially exact
    def known(i: Int, j: Int): Boolean =
      !(i >= 8 && i <= 23 && j >= 8 && j <= 23) // 16x16 hole, window 3
    def zval(i: Int, j: Int): Double = (i * 7 + j * 13) % 19 + 0.25
    val vals = Array.tabulate(n * n) { k =>
      val i = k / n; val j = k % n
      if (known(i, j)) zval(i, j) else Double.NaN
    }
    val iC = floor(col("id") / n)
    val jC = col("id") % n
    val gridDf = spark.range(n.toLong * n).select(
      iC.cast("double").as("x"), jC.cast("double").as("y"),
      when(!(iC >= 8 && iC <= 23 && jC >= 8 && jC <= 23),
        ((iC * 7 + jC * 13) % 19).cast("double") + 0.25)
        .otherwise(lit(Double.NaN)).as("v"))
    for (per <- Seq(false, true)) {
      val (core, _) = graft.core.Fill.loessIterative(vals.clone(), n, n,
        3, 3, maxIterations = 10)
      // loessIterative has no periodic arm in its signature: mirror the
      // per-pass loop for the periodic comparison
      val coreVals =
        if (!per) core
        else {
          var cur = vals.clone()
          var pass = 0
          while (pass < 10 && cur.exists(_.isNaN)) {
            cur = graft.core.Fill.loess(cur, n, n, 3, 3, "undefined",
              periodicX = true)
            pass += 1
          }
          cur
        }
      val dist = FillTable.loessTable(spark, gridDf, "x", "y", "v",
          nxWin = 3, nyWin = 3, blockSize = 8, maxIterations = 10,
          periodicX = per)
        .collect().map(r => (r.getDouble(0).toInt, r.getDouble(1).toInt) ->
          r.getDouble(2)).toMap
      var maxDiff = 0.0
      for (i <- 0 until n; j <- 0 until n) {
        val c = coreVals(i * n + j)
        val d = dist((i, j))
        assert(c.isNaN === d.isNaN, s"per=$per ($i,$j): $d vs $c")
        if (!c.isNaN) {
          val diff = math.abs(d - c)
          if (diff > maxDiff) maxDiff = diff
        }
      }
      assert(maxDiff <= 1e-12, s"periodicX=$per maxDiff $maxDiff")
    }
  }

  test("loessReferenceTable ≡ in-core loessReference (first-guess driver)") {
    // the reference's multi-iteration driver: global-mean first guess of
    // every hole, then re-smoothing the ORIGINAL holes against the
    // previous full state — the distributed pass mirrors the in-core
    // kernel loop exactly; the only fp divergence is the distributed
    // global-mean reduction order, so agreement is ~1e-12
    def known(i: Int, j: Int): Boolean =
      !(i >= 8 && i <= 23 && j >= 8 && j <= 23)
    val vals = Array.tabulate(n * n) { k =>
      val i = k / n; val j = k % n
      if (known(i, j)) (i * 7 + j * 13) % 19 + 0.25 else Double.NaN
    }
    val iC = floor(col("id") / n)
    val jC = col("id") % n
    val gridDf = spark.range(n.toLong * n).select(
      iC.cast("double").as("x"), jC.cast("double").as("y"),
      when(!(iC >= 8 && iC <= 23 && jC >= 8 && jC <= 23),
        ((iC * 7 + jC * 13) % 19).cast("double") + 0.25)
        .otherwise(lit(Double.NaN)).as("v"))
    for (per <- Seq(false, true); fg <- Seq("zonal_average", "zero")) {
      val (core, coreIts) = graft.core.Fill.loessReference(vals.clone(),
        n, n, 3, 3, firstGuess = fg, maxIterations = 8, epsilon = 1e-9,
        periodicX = per)
      val (distDf, trace) = FillTable.loessTraced(spark, gridDf, "x", "y",
        "v", nxWin = 3, nyWin = 3, blockSize = 8, firstGuess = Some(fg),
        maxIterations = 8, epsilon = 1e-9, periodicX = per)
      val dist = distDf.collect()
        .map(r => (r.getDouble(0).toInt, r.getDouble(1).toInt) ->
          r.getDouble(2)).toMap
      var maxDiff = 0.0
      for (i <- 0 until n; j <- 0 until n) {
        val d = math.abs(dist((i, j)) - core(i * n + j))
        if (d > maxDiff) maxDiff = d
      }
      assert(maxDiff < 1e-9, s"periodicX=$per fg=$fg maxDiff $maxDiff")
      assert(math.abs(trace.length - coreIts) <= 1,
        s"periodicX=$per fg=$fg its ${trace.length} vs $coreIts")
    }
    // maxIterations == 1 mirrors the reference's raw single-pass branch
    val one = FillTable.loessReferenceTable(spark, gridDf, "x", "y", "v",
        nxWin = 3, nyWin = 3, blockSize = 8, maxIterations = 1)
      .collect().map(r => (r.getDouble(0).toInt, r.getDouble(1).toInt) ->
        r.getDouble(2)).toMap
    val corePass = graft.core.Fill.loess(vals.clone(), n, n, 3, 3,
      "undefined")
    for (i <- 0 until n; j <- 0 until n) {
      val c = corePass(i * n + j)
      val d = one((i, j))
      assert(c.isNaN === d.isNaN, s"1-pass ($i,$j)")
      if (!c.isNaN) assert(math.abs(c - d) < 1e-12, s"1-pass ($i,$j)")
    }
  }

  test("irregular axes: fills are index-space, coordinates round-trip") {
    // the fills never read axis spacing (reference fill/* stencils are
    // index-space), so quadratic axes must (a) reproduce the regular-
    // axis answers BIT-EXACTLY — same kernel, same loop order, axis
    // values never enter the arithmetic — and (b) re-emit the exact
    // input coordinates through the value->index broadcast round-trip
    import spark.implicits._
    val m = 24
    def xs(i: Int): Double = 0.1 * i * i + i
    def ys(j: Int): Double = 0.25 * j * j + j
    val xIdx = (0 until m).map(i => xs(i) -> i).toMap
    val yIdx = (0 until m).map(j => ys(j) -> j).toMap

    // gauss-seidel on the harmonic plane: closed form survives
    val plane = (for (i <- 0 until m; j <- 0 until m) yield {
      val v = if (i == 0 || j == 0 || i == m - 1 || j == m - 1)
        i + 2.0 * j else Double.NaN
      (xs(i), ys(j), v)
    }).toDF("x", "y", "v")
    val gs = FillTable.gaussSeidelTable(spark, plane, "x", "y", "v",
      blockSize = 8, haloWidth = 4, innerSweeps = 40,
      maxSuperIterations = 80, epsilon = 1e-8).collect()
    assert(gs.length === m * m)
    gs.foreach { r =>
      val i = xIdx.getOrElse(r.getDouble(0), -1)
      val j = yIdx.getOrElse(r.getDouble(1), -1)
      assert(i >= 0 && j >= 0,
        s"coords not exact: ${r.getDouble(0)} ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - (i + 2.0 * j)) < 1e-4, s"($i,$j)")
    }

    // loess (progressive + reference driver) on a hole blob: the
    // irregular run must equal the regular run bit for bit
    def known(i: Int, j: Int): Boolean =
      !(i >= 8 && i <= 15 && j >= 8 && j <= 15)
    def zv(i: Int, j: Int): Double = (i * 7 + j * 13) % 19 + 0.25
    def gridOf(fx: Int => Double, fy: Int => Double) =
      (for (i <- 0 until m; j <- 0 until m)
        yield (fx(i), fy(j), if (known(i, j)) zv(i, j) else Double.NaN))
        .toDF("x", "y", "v")
    def runBoth(ref: Boolean): (Map[(Int, Int), Double],
                                Map[(Int, Int), Double]) = {
      def run(fx: Int => Double, fy: Int => Double,
              ix: Double => Int, iy: Double => Int) = {
        val df =
          if (ref) FillTable.loessReferenceTable(spark,
            gridOf(fx, fy), "x", "y", "v", nxWin = 3, nyWin = 3,
            blockSize = 8, maxIterations = 3, epsilon = 1e-12)
          else FillTable.loessTable(spark, gridOf(fx, fy), "x", "y", "v",
            nxWin = 3, nyWin = 3, blockSize = 8, maxIterations = 6)
        df.collect().map(r => (ix(r.getDouble(0)), iy(r.getDouble(1))) ->
          r.getDouble(2)).toMap
      }
      (run(_.toDouble, _.toDouble, _.toInt, _.toInt),
        run(xs, ys, xIdx(_), yIdx(_)))
    }
    for (ref <- Seq(false, true)) {
      val (reg, irr) = runBoth(ref)
      assert(reg.keySet === irr.keySet)
      for ((k, v) <- reg)
        assert(java.lang.Double.compare(v, irr(k)) === 0,
          s"ref=$ref $k: ${irr(k)} vs $v")
    }
  }

  test("parity with the in-core solver, non-periodic and periodic-x") {
    // non-separable boundary data -> no closed form; both solvers must
    // converge to the same discrete Laplace solution
    def bnd(i: Int, j: Int): Double =
      math.sin(2 * math.Pi * i / n) * 3 + j * 0.5 + (i % 5)
    val vals = Array.tabulate(n * n) { k =>
      val i = k / n; val j = k % n
      if (i == 0 || j == 0 || i == n - 1 || j == n - 1) bnd(i, j)
      else Double.NaN
    }
    val iC = floor(col("id") / n)
    val jC = col("id") % n
    val gridDf = spark.range(n.toLong * n).select(
      iC.cast("double").as("x"), jC.cast("double").as("y"),
      when(iC === 0 || jC === 0 || iC === n - 1 || jC === n - 1,
        sin(iC.cast("double") * (2 * math.Pi / n)) * 3 +
          jC.cast("double") * 0.5 + (iC % 5).cast("double"))
        .otherwise(lit(Double.NaN)).as("v"))
    for (per <- Seq(false, true)) {
      val (core, _, _) = graft.core.Fill.gaussSeidel(vals.clone(), n, n,
        periodicX = per, maxIterations = 5000, epsilon = 1e-9)
      val dist = FillTable.gaussSeidelTable(spark, gridDf, "x", "y", "v",
          blockSize = 8, haloWidth = 4, innerSweeps = 40,
          maxSuperIterations = 120, epsilon = 1e-8, periodicX = per)
        .collect().map(r => (r.getDouble(0).toInt, r.getDouble(1).toInt) ->
          r.getDouble(2)).toMap
      var maxDiff = 0.0
      for (i <- 0 until n; j <- 0 until n) {
        val d = math.abs(dist((i, j)) - core(i * n + j))
        if (d > maxDiff) maxDiff = d
      }
      assert(maxDiff < 1e-4, s"periodicX=$per maxDiff $maxDiff")
    }
  }

  /** Runs `body` and counts the Spark jobs it starts; the listener bus is
    * drained before and after, so the count holds every job of `body`
    * and no earlier one.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      ListenerBus.drain(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** 16x16 hole in a 32x32 lattice: more passes than a 3-cell window
    * fills, so every pass of a capped run has holes left.
    */
  private def holeBlob() = {
    val iC = floor(col("id") / n)
    val jC = col("id") % n
    spark.range(n.toLong * n).select(
      iC.cast("double").as("x"), jC.cast("double").as("y"),
      when(!(iC >= 8 && iC <= 23 && jC >= 8 && jC <= 23),
        ((iC * 7 + jC * 13) % 19).cast("double") + 0.25)
        .otherwise(lit(Double.NaN)).as("v"))
  }

  test("each fill iteration costs two jobs: its statistic rides the " +
      "checkpoint") {
    // per iteration the halo shuffle's map stage runs as one job (adaptive
    // execution) and the localCheckpoint as the other; the stop statistic
    // and the coarse restriction ride that checkpoint job through
    // accumulators. A separate per-pass agg or count (`agg(max(res))
    // .head()`) would make it three. Two runs capped at k1 and k2
    // iterations (neither converges) differ by exactly the iterations'
    // jobs: the axes, the seed and the first guess cancel.
    type Run = Int => (DataFrame, Vector[FillTable.Step])
    def perIteration(run: Run, k1: Int, k2: Int): Double = {
      val ((_, t1), j1) = jobsOf(run(k1))
      val ((_, t2), j2) = jobsOf(run(k2))
      assert(t1.map(_.iteration) === (0 until k1))
      assert(t2.map(_.iteration) === (0 until k2))
      (j2 - j1).toDouble / (k2 - k1)
    }
    // 16 blocks: the coarse correction is active and restricts through
    // its accumulator, which must not add a job either
    val gs: Run = k => FillTable.gaussSeidelTraced(spark, planeGrid(), "x",
      "y", "v", blockSize = 8, haloWidth = 4, relaxation = 1.0,
      innerSweeps = 2, maxSuperIterations = k, epsilon = 1e-13,
      periodicX = false, coarseDamping = 1.0)
    def loess(firstGuess: Option[String]): Run = k =>
      FillTable.loessTraced(spark, holeBlob(), "x", "y", "v", nxWin = 3,
        nyWin = 3, blockSize = 8, firstGuess = firstGuess,
        maxIterations = k, epsilon = 0.0, periodicX = false)
    assert(gs(2)._2.head.coarseActive)
    assert(perIteration(gs, 2, 4) === 2.0)
    assert(perIteration(loess(None), 1, 2) === 2.0)
    assert(perIteration(loess(Some("zonal_average")), 2, 4) === 2.0)
  }

  test("an unknown firstGuess fails before any Spark job runs") {
    // maxIterations == 1 is the single raw pass, which needs no first
    // guess; the name must still be checked, and before the axes job
    for (its <- Seq(1, 3)) {
      val (_, jobs) = jobsOf(intercept[IllegalArgumentException] {
        FillTable.loessReferenceTable(spark, holeBlob(), "x", "y", "v",
          blockSize = 8, firstGuess = "bogus", maxIterations = its)
      })
      assert(jobs === 0, s"maxIterations=$its")
      intercept[IllegalArgumentException] {
        graft.core.Fill.loessReference(Array.fill(16)(1.0), 4, 4, 1, 1,
          firstGuess = "bogus", maxIterations = its)
      }
    }
  }
}
