package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import graft.core.{Geodesy, KdTree, TemporalAxis}
import graft.sources.GridLoader

class IngestionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("grid2d: CF units metadata beats name heuristics; values land") {
    val df0 = (for { i <- 0 until 5; j <- 0 until 4 }
      yield (i.toDouble, j.toDouble, (i * 10 + j).toDouble))
      .toDF("a", "b", "v")
    val lonMeta = new MetadataBuilder().putString("units", "degrees_east")
      .build()
    val latMeta = new MetadataBuilder().putString("units", "degrees_north")
      .build()
    val df = df0.select(col("a").as("a", lonMeta),
      col("b").as("b", latMeta), col("v"))
    val g = GridLoader.grid2d(df)
    assert(g.xAxis.size === 5 && g.yAxis.size === 4)
    assert(g(3, 2) === 32.0)
    assert(g.xAxis.isRegular && g.xAxis.step === 1.0)
  }

  test("grid2d: name heuristics + missing cells become NaN") {
    val df = Seq((0.0, 0.0, 1.0), (1.0, 0.0, 2.0), (0.0, 1.0, 3.0))
      .toDF("lon", "lat", "sst")
    val g = GridLoader.grid2d(df)
    assert(g(0, 0) === 1.0 && g(1, 0) === 2.0 && g(0, 1) === 3.0)
    assert(g(1, 1).isNaN)
  }

  test("grid3d: time axis role inferred; layout round-trips") {
    val df = (for { i <- 0 until 3; j <- 0 until 3; k <- 0 until 2 }
      yield (i.toDouble, j.toDouble, k * 3600.0,
        (i * 100 + j * 10 + k).toDouble))
      .toDF("longitude", "latitude", "time", "v")
    val g = GridLoader.grid3d(df)
    assert(g.zAxis.size === 2)
    assert(g(2, 1, 1) === 211.0)
  }

  test("grid4d: explicit u axis; layout round-trips; missing -> NaN") {
    val df = (for { i <- 0 until 3; j <- 0 until 3; k <- 0 until 2;
        l <- 0 until 2 if !(i == 2 && j == 2 && k == 1 && l == 1) }
      yield (i.toDouble, j.toDouble, k * 3600.0, l * 10.0,
        (i * 1000 + j * 100 + k * 10 + l).toDouble))
      .toDF("longitude", "latitude", "time", "level", "v")
    val g = GridLoader.grid4d(df, uColName = "level")
    assert(g.uAxis.size === 2 && g.uAxis(1) === 10.0)
    assert(g(2, 1, 1, 1) === 2111.0)
    assert(g(2, 2, 1, 1).isNaN) // the withheld cell
  }

  test("temporal axis unit casts are exact, floor on downcast") {
    val ax = TemporalAxis(Array(-1500L, 0L, 999L, 2000L), "ms")
    val s = ax.cast("s")
    assert(s.ticks.toSeq === Seq(-2L, 0L, 0L, 2L)) // floor, incl. pre-epoch
    val us = ax.cast("us")
    assert(us.ticks.toSeq === Seq(-1500000L, 0L, 999000L, 2000000L))
    assert(TemporalAxis.convert(1L, "s", "ns") === 1000000000L)
    assert(TemporalAxis.convert(-1L, "ns", "s") === -1L)
    assert(ax.cast("us").cast("ms").ticks.toSeq === ax.ticks.toSeq)
    // bracketing lookups accept any query resolution
    val bracketing = ax.findIndexes(1L, "s") // 1 s = 1000 ms in [999, 2000]
    assert(bracketing === Some((2, 3)))
    assert(ax.meanStep === (2000.0 + 1500.0) / 3)
  }

  test("boundary check gates IDW: envelope and convex hull") {
    // ring of build points; probe A inside, probe B far outside
    val build = (0 until 12).map { i =>
      val a = 2 * math.Pi * i / 12
      (10 * math.cos(a), 10 * math.sin(a), 1.0, i.toLong)
    }.toDF("x", "y", "value", "id")
    val probes = Seq((0L, 0.0, 0.0), (1L, 50.0, 50.0)).toDF("qid", "x", "y")
    for (check <- Seq("envelope", "convex_hull")) {
      val out = KnnJoin.idw(spark, build, probes,
          KnnJoin.Config(k = 12, geodetic = false, boundaryCheck = check))
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(out(0L) === 12, check)  // inside: all neighbors used
      assert(out(1L) === 0, check)   // outside hull/envelope: gated
    }
    // none: no gate
    val out = KnnJoin.idw(spark, build, probes,
        KnnJoin.Config(k = 12, geodetic = false, boundaryCheck = "none"))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out(1L) === 12)
  }

  test("grid2d size gate fails fast on oversized lattices (no collect)") {
    // in-memory range: optimizer stats know the size without any scan
    val big = spark.range(200000L).select(
      (col("id") % 1000).cast("double").as("lon"),
      floor(col("id") / 1000).cast("double").as("lat"),
      col("id").cast("double").as("sst"))
    val err = intercept[IllegalArgumentException] {
      GridLoader.grid2d(big, maxCollectBytes = 1024L)
    }
    assert(err.getMessage.contains("bivariateTable"))
    // generous budget still loads fine
    val small = spark.range(16L).select(
      (col("id") % 4).cast("double").as("lon"),
      floor(col("id") / 4).cast("double").as("lat"),
      col("id").cast("double").as("sst"))
    assert(GridLoader.grid2d(small).xAxis.size === 4)
  }

  test("bivariateTable (grid-as-table join) ≡ broadcast bilinear") {
    val n = 21
    val gridTable = spark.range(n.toLong * n).select(
      floor(col("id") / n).cast("double").as("lon"),
      (col("id") % n).cast("double").as("lat"),
      ((floor(col("id") / n) * 13 + (col("id") % n) * 7) % 31)
        .cast("double").as("sst"))
      // mask one interior cell: probes touching it must NaN on BOTH paths
      .filter(!(col("lon") === 5.0 && col("lat") === 5.0))
    val probes = (0 until 300).map { k =>
      // deterministic scattered probes incl. out-of-range and masked-cell
      val x = (k * 37 % 230) / 10.0 - 1.0   // -1.0 .. 21.9
      val y = (k * 53 % 230) / 10.0 - 1.0
      (k.toLong, x, y)
    }.toDF("qid", "x", "y")
    val viaTable = GridInterpolator
      .bivariateTable(spark, probes, "x", "y", gridTable)
      .select(col("qid"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val g = GridLoader.grid2d(gridTable)
    val viaBroadcast = GridInterpolator
      .bivariate(spark, probes, "x", "y", g, "bilinear")
      .select(col("qid"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaTable.keySet === viaBroadcast.keySet)
    var nans = 0
    viaTable.foreach { case (qid, v) =>
      val b = viaBroadcast(qid)
      if (v.isNaN || b.isNaN) { assert(v.isNaN === b.isNaN, s"qid $qid"); nans += 1 }
      else assert(math.abs(v - b) <= 1e-12, s"qid $qid: $v vs $b")
    }
    assert(nans > 0, "fixture must exercise NaN (out-of-range/masked) rows")
    assert(viaTable.values.exists(v => !v.isNaN))
  }

  test("bivariateTable on IRREGULAR axes ≡ broadcast bilinear") {
    // quadratically spaced axes (v_i = i(i+1)/2): the table path's
    // broadcast-axis binary search must reproduce the broadcast kernel,
    // including NaN faces (out-of-range probes, masked cell)
    val n = 15
    def v(i: org.apache.spark.sql.Column) = (i * (i + 1) / 2).cast("double")
    val gridTable = spark.range(n.toLong * n).select(
      v(floor(col("id") / n)).as("lon"),
      v(col("id") % n).as("lat"),
      ((floor(col("id") / n) * 13 + (col("id") % n) * 7) % 31)
        .cast("double").as("sst"))
      .filter(!(col("lon") === 15.0 && col("lat") === 15.0)) // mask (5,5)
    val maxV = n * (n - 1) / 2.0 // 105
    val probes = (0 until 300).map { k =>
      val x = (k * 37 % 1150) / 10.0 - 5.0 // -5 .. 110 (incl. o-o-r)
      val y = (k * 53 % 1150) / 10.0 - 5.0
      (k.toLong, x, y)
    }.toDF("qid", "x", "y")
    val viaTable = GridInterpolator
      .bivariateTable(spark, probes, "x", "y", gridTable)
      .select(col("qid"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val g = GridLoader.grid2d(gridTable)
    assert(!g.xAxis.isRegular && !g.yAxis.isRegular)
    val viaBroadcast = GridInterpolator
      .bivariate(spark, probes, "x", "y", g, "bilinear")
      .select(col("qid"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaTable.keySet === viaBroadcast.keySet)
    var nans = 0
    viaTable.foreach { case (qid, v) =>
      val b = viaBroadcast(qid)
      if (v.isNaN || b.isNaN) {
        assert(v.isNaN === b.isNaN, s"qid $qid: $v vs $b"); nans += 1
      } else assert(math.abs(v - b) <= 1e-12, s"qid $qid: $v vs $b")
    }
    assert(nans > 0 && viaTable.values.exists(v => !v.isNaN))
    assert(maxV === 105.0)
  }

  test("trivariateTable on IRREGULAR axes ≡ broadcast trilinear") {
    // triangular-number spacing on ALL THREE axes: the 8-corner table
    // path brackets via the broadcast kernel's binary search; the same
    // span on a REGULAR non-seam lattice (x/y step 4.5, z step 2) takes
    // the column-arithmetic corner fan-out
    val nn = 9; val nz = 4
    for (regular <- Seq(false, true)) {
      def node(i: Int, step: Double): Double =
        if (regular) i * step else i * (i + 1) / 2.0
      def v(i: org.apache.spark.sql.Column, step: Double) =
        if (regular) i * step else (i * (i + 1) / 2).cast("double")
      val gridTable = spark.range(nn.toLong * nn * nz).select(
        v(floor(col("id") / (nn * nz)), 4.5).as("lon"),
        v(floor(col("id") / nz) % nn, 4.5).as("lat"),
        v(col("id") % nz, 2.0).as("z"),
        ((floor(col("id") / (nn * nz)) * 13 + (floor(col("id") / nz) % nn) * 7
          + (col("id") % nz) * 5) % 31).cast("double").as("sst"))
      val probes = (0 until 200).map { k =>
        val x = (k * 37 % 420) / 10.0 - 2.0
        val y = (k * 53 % 420) / 10.0 - 2.0
        val z = (k * 29 % 90) / 10.0 - 1.0 // -1 .. 8 (axis tops at 6)
        (k.toLong, x, y, z)
      }.toDF("qid", "x", "y", "zq")
      val viaTable = GridInterpolator
        .trivariateTable(spark, probes, "x", "y", "zq", gridTable)
        .select(col("qid"), col("value")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val g3 = {
        val vals = new Array[Double](nn * nn * nz)
        for (i <- 0 until nn; j <- 0 until nn; k <- 0 until nz)
          vals((i * nn + j) * nz + k) =
            ((i * 13 + j * 7 + k * 5) % 31).toDouble
        Grid3D(
          graft.core.Axis(Array.tabulate(nn)(node(_, 4.5))),
          graft.core.Axis(Array.tabulate(nn)(node(_, 4.5))),
          graft.core.Axis(Array.tabulate(nz)(node(_, 2.0))), vals)
      }
      assert(g3.xAxis.isRegular === regular &&
        g3.zAxis.isRegular === regular)
      val viaBroadcast = GridInterpolator
        .trivariate(spark, probes, "x", "y", "zq", g3, "bilinear")
        .select(col("qid"), col("value")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(viaTable.keySet === viaBroadcast.keySet)
      var nans = 0
      viaTable.foreach { case (qid, v) =>
        val b = viaBroadcast(qid)
        if (v.isNaN || b.isNaN) {
          assert(v.isNaN === b.isNaN, s"regular=$regular qid $qid: $v vs $b")
          nans += 1
        } else assert(math.abs(v - b) <= 1e-12,
          s"regular=$regular qid $qid: $v vs $b")
      }
      assert(nans > 0 && viaTable.values.exists(v => !v.isNaN))
    }
  }

  test("bivariateTableWindowed ≡ broadcast for bicubic and akima") {
    // the table path evaluates the SAME core kernels on the SAME window,
    // so agreement is exact (bit-for-bit), including every NaN face:
    // out-of-range, unframeable near-edge windows, masked stencil cells
    val n = 21
    val gridTable = spark.range(n.toLong * n).select(
      floor(col("id") / n).cast("double").as("lon"),
      (col("id") % n).cast("double").as("lat"),
      ((floor(col("id") / n) * 13 + (col("id") % n) * 7) % 31)
        .cast("double").as("sst"))
      // mask one interior cell: 6x6 windows touching it must NaN on BOTH
      .filter(!(col("lon") === 9.0 && col("lat") === 9.0))
    val probes = ((0 until 300).map { k =>
      val x = (k * 37 % 230) / 10.0 - 1.0 // -1.0 .. 21.9
      val y = (k * 53 % 230) / 10.0 - 1.0
      (k.toLong, x, y)
    } ++ Seq(
      (1000L, 15.0, 15.0),  // exact interior node (window clear of mask)
      (1001L, 20.0, 20.0),  // exact grid max (undef: NaN on both paths)
      (1002L, 0.0, 0.0),    // exact grid min (unframeable: NaN)
      (1003L, 2.5, 17.5)    // frame boundary cells
    )).toDF("qid", "x", "y")
    // IRREGULAR input: quadratically spaced 15x15 axes (v_i = i(i+1)/2),
    // cell (5,5) masked — the broadcast-axis bracket with window nodes
    // read from the value arrays must be bit-exact too
    val ni = 15
    def tri(i: org.apache.spark.sql.Column) = (i * (i + 1) / 2).cast("double")
    val irregularTable = spark.range(ni.toLong * ni).select(
      tri(floor(col("id") / ni)).as("lon"),
      tri(col("id") % ni).as("lat"),
      ((floor(col("id") / ni) * 13 + (col("id") % ni) * 7) % 31)
        .cast("double").as("sst"))
      .filter(!(col("lon") === 15.0 && col("lat") === 15.0))
    val irregularProbes = (0 until 300).map { k =>
      val x = (k * 37 % 1150) / 10.0 - 5.0 // -5 .. 110 (incl. o-o-r)
      val y = (k * 53 % 1150) / 10.0 - 5.0
      (k.toLong, x, y)
    }.toDF("qid", "x", "y")
    for ((table, probe, regular) <- Seq((gridTable, probes, true),
        (irregularTable, irregularProbes, false))) {
      val g = GridLoader.grid2d(table)
      assert(g.xAxis.isRegular === regular && g.yAxis.isRegular === regular)
      for (method <- Seq("bicubic", "akima")) {
        val tag = s"$method regular=$regular"
        val viaTable = GridInterpolator
          .bivariateTableWindowed(spark, probe, "x", "y", table, method)
          .select(col("qid"), col("value")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val viaBroadcast = GridInterpolator
          .bivariate(spark, probe, "x", "y", g, method)
          .select(col("qid"), col("value")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(viaTable.keySet === viaBroadcast.keySet)
        var nans = 0
        viaTable.foreach { case (qid, v) =>
          val b = viaBroadcast(qid)
          if (v.isNaN || b.isNaN) {
            assert(v.isNaN === b.isNaN, s"$tag qid $qid: $v vs $b")
            nans += 1
          } else assert(v === b, s"$tag qid $qid: $v vs $b")
        }
        assert(nans > 0, s"$tag fixture must exercise NaN rows")
        assert(viaTable.values.exists(v => !v.isNaN), tag)
        if (regular) {
          assert(!viaTable(1000L).isNaN, s"$method interior node must " +
            "interpolate")
          assert(viaTable(1001L).isNaN && viaTable(1002L).isNaN,
            s"$method undef boundary: windows past the edge must NaN")
        }
      }
    }
  }

  test("trivariateTableWindowed ≡ broadcast; nearest combine; NaN faces") {
    // 3-D table path: windowed bicubic in-plane on the two z-bracketing
    // planes + linear/nearest z combine. Probes at exact half-z steps
    // make the combine weight identical on both paths, so agreement is
    // exact; a random-z sweep is checked to 1e-12 (the combine weight is
    // computed as (z-z0)/(z1-z0) broadcast-side vs fz-k0 table-side).
    val nn = 15
    val nz = 4
    // masked cells pin the broadcast combine's NaN propagation through
    // nominally zero-weight planes: (3,3) in plane 1 (hit by tz = 0
    // probes bracketing planes 0-1), (12,12) in plane 2 (hit by tz = 1
    // probes on the LAST z node bracketing planes 2-3); both sit clear
    // of the (7,7) control probes' 6x6 window (columns/rows 5-10)
    val gridTable = spark.range(nn.toLong * nn * nz).select(
      floor(col("id") / (nn * nz)).cast("double").as("lon"),
      (floor(col("id") / nz) % nn).cast("double").as("lat"),
      (col("id") % nz).cast("double").as("z"),
      ((floor(col("id") / (nn * nz)) * 13 + (floor(col("id") / nz) % nn) * 7
        + (col("id") % nz) * 5) % 31).cast("double").as("sst"))
      .filter(!(col("lon") === 3.0 && col("lat") === 3.0 &&
        col("z") === 1.0))
      .filter(!(col("lon") === 12.0 && col("lat") === 12.0 &&
        col("z") === 2.0))
    val halfZ = ((0 until 200).map { k =>
      val x = (k * 37 % 170) / 10.0 - 1.0
      val y = (k * 53 % 170) / 10.0 - 1.0
      val z = (k % 6) + 0.5 // incl. out-of-range z
      (k.toLong, x, y, z)
    } ++ Seq(
      (1000L, 7.0, 7.0, 2.0),   // exact z node, both planes clean
      (1001L, 7.0, 7.0, 1.25),  // random combine weight
      // tz = 0: linear must still see the masked plane-1 window -> NaN
      // on BOTH paths; nearest snaps to clean plane 0 -> value
      (1002L, 3.4, 3.5, 0.0),
      // tz = 1 (last z node): linear sees the masked plane-2 window ->
      // NaN on BOTH paths; nearest snaps to clean plane 3 -> value
      (1003L, 11.4, 11.3, 3.0)))
      .toDF("qid", "x", "y", "zq")
    val g3 = {
      val v = new Array[Double](nn * nn * nz)
      for (i <- 0 until nn; j <- 0 until nn; k <- 0 until nz)
        v(i * nn * nz + j * nz + k) = ((i * 13 + j * 7 + k * 5) % 31).toDouble
      v(3 * nn * nz + 3 * nz + 1) = Double.NaN
      v(12 * nn * nz + 12 * nz + 2) = Double.NaN
      Grid3D(graft.core.Axis.regular(0.0, nn - 1.0, nn), graft.core.Axis.regular(0.0, nn - 1.0, nn),
        graft.core.Axis.regular(0.0, nz - 1.0, nz), v)
    }
    for (zm <- Seq("linear", "nearest")) {
      val viaTable = GridInterpolator
        .trivariateTableWindowed(spark, halfZ, "x", "y", "zq", gridTable,
          "bicubic", zMethod = zm)
        .select(col("qid"), col("value")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val viaBroadcast = GridInterpolator
        .trivariate(spark, halfZ, "x", "y", "zq", g3, "bicubic",
          zMethod = zm)
        .select(col("qid"), col("value")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(viaTable.keySet === viaBroadcast.keySet)
      var nans = 0
      viaTable.foreach { case (qid, v) =>
        val b = viaBroadcast(qid)
        if (v.isNaN || b.isNaN) {
          assert(v.isNaN === b.isNaN, s"$zm qid $qid: $v vs $b"); nans += 1
        } else assert(math.abs(v - b) <= 1e-12, s"$zm qid $qid: $v vs $b")
      }
      assert(nans > 0, s"$zm fixture must exercise NaN (z out of range)")
      assert(!viaTable(1000L).isNaN && !viaTable(1001L).isNaN)
      // the masked-plane probes: linear propagates the zero-weight
      // plane's NaN exactly like the broadcast v0 + t*(v1-v0); nearest
      // snaps to the clean plane
      if (zm == "linear")
        assert(viaTable(1002L).isNaN && viaTable(1003L).isNaN,
          "linear must evaluate BOTH bracketing planes at t = 0 and 1")
      else
        assert(!viaTable(1002L).isNaN && !viaTable(1003L).isNaN,
          "nearest must snap past the masked plane")
      assert(viaTable.values.exists(v => !v.isNaN))
    }
  }

  test("trivariateTableWindowed on IRREGULAR axes ≡ broadcast") {
    // triangular-number spacing on x/y and an irregular pressure-like z:
    // the tile-halo plan brackets via the broadcast-axis binary search
    // and reads window nodes from the value arrays — bit-exact parity
    // (identical xs/ys arrays, eval coordinates, and z combine weight)
    val nn = 12
    val nz = 4
    def tri(i: Int): Double = i * (i + 1) / 2.0
    val zVals = Array(0.0, 1.0, 3.0, 6.0)
    def v(i: org.apache.spark.sql.Column) = (i * (i + 1) / 2).cast("double")
    def zOf(k: org.apache.spark.sql.Column) =
      (k * (k + 1) / 2).cast("double")
    val gridTable = spark.range(nn.toLong * nn * nz).select(
      v(floor(col("id") / (nn * nz))).as("lon"),
      v(floor(col("id") / nz) % nn).as("lat"),
      zOf(col("id") % nz).as("z"),
      ((floor(col("id") / (nn * nz)) * 13 + (floor(col("id") / nz) % nn) * 7
        + (col("id") % nz) * 5) % 31).cast("double").as("sst"))
    val probes = ((0 until 250).map { k =>
      val x = (k * 37 % 700) / 10.0 - 2.0   // -2 .. 68 (axis tops at 66)
      val y = (k * 53 % 700) / 10.0 - 2.0
      val z = (k * 29 % 80) / 10.0 - 0.5    // -0.5 .. 7.5 (axis tops 6)
      (k.toLong, x, y, z)
    } ++ Seq(
      (1000L, tri(6), tri(7), 3.0),  // exact node probe, exact z node
      (1001L, 22.4, 17.3, 6.0),      // last z node: tz = 1 both planes
      (1002L, 22.4, 17.3, 0.0)))     // first z node: tz = 0 both planes
      .toDF("qid", "x", "y", "zq")
    val g3 = {
      val vals = new Array[Double](nn * nn * nz)
      for (i <- 0 until nn; j <- 0 until nn; k <- 0 until nz)
        vals((i * nn + j) * nz + k) = ((i * 13 + j * 7 + k * 5) % 31).toDouble
      Grid3D(graft.core.Axis(Array.tabulate(nn)(tri)),
        graft.core.Axis(Array.tabulate(nn)(tri)),
        graft.core.Axis(zVals), vals)
    }
    assert(!g3.xAxis.isRegular && !g3.zAxis.isRegular)
    for (zm <- Seq("linear", "nearest")) {
      val viaTable = GridInterpolator
        .trivariateTableWindowed(spark, probes, "x", "y", "zq", gridTable,
          "bicubic", zMethod = zm)
        .select(col("qid"), col("value")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val viaBroadcast = GridInterpolator
        .trivariate(spark, probes, "x", "y", "zq", g3, "bicubic",
          zMethod = zm)
        .select(col("qid"), col("value")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(viaTable.keySet === viaBroadcast.keySet)
      var nans = 0
      viaTable.foreach { case (qid, v) =>
        val b = viaBroadcast(qid)
        if (v.isNaN || b.isNaN) {
          assert(v.isNaN === b.isNaN, s"$zm qid $qid: $v vs $b"); nans += 1
        } else assert(v === b, s"$zm qid $qid: $v vs $b")
      }
      assert(nans > 0, s"$zm fixture must exercise NaN faces")
      assert(!viaTable(1000L).isNaN && !viaTable(1001L).isNaN &&
        !viaTable(1002L).isNaN)
      assert(viaTable.values.exists(v => !v.isNaN))
    }
  }

  test("4-D table paths on IRREGULAR axes ≡ broadcast") {
    // triangular spacing on all four axes: the 16-corner geometric join
    // (1e-12 — summation order differs from the nested broadcast lerp)
    // and the windowed tile-halo plan (bit-exact — same fits, same
    // nested combine) both bracket via the broadcast binary search
    val nn = 9; val nz = 3; val nu = 3
    def tri(i: Int): Double = i * (i + 1) / 2.0
    def v(i: org.apache.spark.sql.Column) = (i * (i + 1) / 2).cast("double")
    val gridTable = spark.range(nn.toLong * nn * nz * nu).select(
      v(floor(col("id") / (nn * nz * nu))).as("lon"),
      v(floor(col("id") / (nz * nu)) % nn).as("lat"),
      v(floor(col("id") / nu) % nz).as("z"),
      v(col("id") % nu).as("u"),
      ((floor(col("id") / (nn * nz * nu)) * 13 +
        (floor(col("id") / (nz * nu)) % nn) * 7 +
        (floor(col("id") / nu) % nz) * 5 + (col("id") % nu) * 3) % 31)
        .cast("double").as("sst"))
    val probes = ((0 until 200).map { k =>
      val x = (k * 37 % 420) / 10.0 - 2.0
      val y = (k * 53 % 420) / 10.0 - 2.0
      val z = (k * 29 % 45) / 10.0 - 0.5   // -0.5 .. 4.0 (axis tops 3)
      val u = (k * 17 % 45) / 10.0 - 0.5
      (k.toLong, x, y, z, u)
    } ++ Seq(
      (1000L, tri(4), tri(5), 1.0, 3.0),   // node x/y, z node, LAST u
      (1001L, 12.3, 17.6, 0.0, 0.0)))      // first z and u nodes
      .toDF("qid", "x", "y", "zq", "uq")
    val g4 = {
      val vals = new Array[Double](nn * nn * nz * nu)
      for (i <- 0 until nn; j <- 0 until nn; k <- 0 until nz;
           l <- 0 until nu)
        vals(((i * nn + j) * nz + k) * nu + l) =
          ((i * 13 + j * 7 + k * 5 + l * 3) % 31).toDouble
      Grid4D(graft.core.Axis(Array.tabulate(nn)(tri)),
        graft.core.Axis(Array.tabulate(nn)(tri)),
        graft.core.Axis(Array.tabulate(nz)(tri)),
        graft.core.Axis(Array.tabulate(nu)(tri)), vals)
    }
    assert(!g4.xAxis.isRegular && !g4.uAxis.isRegular)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("value")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def check(viaTable: Map[Long, Double], viaBroadcast: Map[Long, Double],
              tag: String, exact: Boolean): Unit = {
      assert(viaTable.keySet === viaBroadcast.keySet)
      var nans = 0
      viaTable.foreach { case (qid, v) =>
        val b = viaBroadcast(qid)
        if (v.isNaN || b.isNaN) {
          assert(v.isNaN === b.isNaN, s"$tag qid $qid: $v vs $b"); nans += 1
        } else if (exact) assert(v === b, s"$tag qid $qid: $v vs $b")
        else assert(math.abs(v - b) <= 1e-12, s"$tag qid $qid: $v vs $b")
      }
      assert(nans > 0, s"$tag fixture must exercise NaN rows")
      assert(!viaTable(1000L).isNaN && !viaTable(1001L).isNaN, tag)
      assert(viaTable.values.exists(v => !v.isNaN))
    }
    check(
      toMap(GridInterpolator.quadrivariateTable(spark, probes, "x", "y",
        "zq", "uq", gridTable, uColName = "u")),
      toMap(QuadrivariateInterpolator.quadrivariate(spark, probes, "x",
        "y", "zq", "uq", g4, "bilinear")),
      "quadrilinear-irregular", exact = false)
    check(
      toMap(GridInterpolator.quadrivariateTableWindowed(spark, probes,
        "x", "y", "zq", "uq", gridTable, "bicubic", uColName = "u")),
      toMap(QuadrivariateInterpolator.quadrivariate(spark, probes, "x",
        "y", "zq", "uq", g4, "bicubic")),
      "windowed4d-irregular", exact = true)
  }

  test("quadrivariateTable + Windowed ≡ broadcast quadrivariate") {
    // 4-D lattice 15x15x3x3, modular field; both the 16-corner geometric
    // path and the 4-plane windowed path must agree with the broadcast
    // Grid4D interpolator, including NaN faces (out-of-range z/u)
    val nn = 15; val nz = 3; val nu = 3
    val gridTable = spark.range(nn.toLong * nn * nz * nu).select(
      floor(col("id") / (nn * nz * nu)).cast("double").as("lon"),
      (floor(col("id") / (nz * nu)) % nn).cast("double").as("lat"),
      (floor(col("id") / nu) % nz).cast("double").as("z"),
      (col("id") % nu).cast("double").as("u"),
      ((floor(col("id") / (nn * nz * nu)) * 13 +
        (floor(col("id") / (nz * nu)) % nn) * 7 +
        (floor(col("id") / nu) % nz) * 5 + (col("id") % nu) * 3) % 31)
        .cast("double").as("sst"))
    val probes = ((0 until 150).map { k =>
      val x = (k * 37 % 170) / 10.0 - 1.0
      val y = (k * 53 % 170) / 10.0 - 1.0
      val z = (k % 4) * 0.75          // 0 .. 2.25 (incl. out-of-range)
      val u = ((k * 3) % 4) * 0.75
      (k.toLong, x, y, z, u)
    } ++ Seq((1000L, 7.0, 7.0, 1.0, 1.5), // exact z node, mid u
      (1001L, 7.25, 6.5, 0.5, 0.5))).toDF("qid", "x", "y", "zq", "uq")
    val g4 = {
      val v = new Array[Double](nn * nn * nz * nu)
      for (i <- 0 until nn; j <- 0 until nn; k <- 0 until nz;
           l <- 0 until nu)
        v(((i * nn + j) * nz + k) * nu + l) =
          ((i * 13 + j * 7 + k * 5 + l * 3) % 31).toDouble
      Grid4D(graft.core.Axis.regular(0.0, nn - 1.0, nn),
        graft.core.Axis.regular(0.0, nn - 1.0, nn),
        graft.core.Axis.regular(0.0, nz - 1.0, nz),
        graft.core.Axis.regular(0.0, nu - 1.0, nu), v)
    }
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("value")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def check(viaTable: Map[Long, Double], viaBroadcast: Map[Long, Double],
              tag: String): Unit = {
      assert(viaTable.keySet === viaBroadcast.keySet)
      var nans = 0
      viaTable.foreach { case (qid, v) =>
        val b = viaBroadcast(qid)
        if (v.isNaN || b.isNaN) {
          assert(v.isNaN === b.isNaN, s"$tag qid $qid: $v vs $b"); nans += 1
        } else assert(math.abs(v - b) <= 1e-12, s"$tag qid $qid: $v vs $b")
      }
      assert(nans > 0, s"$tag fixture must exercise NaN rows")
      assert(viaTable.values.exists(v => !v.isNaN))
    }
    check(
      toMap(GridInterpolator.quadrivariateTable(spark, probes, "x", "y",
        "zq", "uq", gridTable, uColName = "u")),
      toMap(QuadrivariateInterpolator.quadrivariate(spark, probes, "x", "y", "zq",
        "uq", g4, "bilinear")),
      "quadrilinear")
    check(
      toMap(GridInterpolator.quadrivariateTableWindowed(spark, probes, "x",
        "y", "zq", "uq", gridTable, "bicubic", uColName = "u")),
      toMap(QuadrivariateInterpolator.quadrivariate(spark, probes, "x", "y", "zq",
        "uq", g4, "bicubic")),
      "windowed4d")
  }

  /** A 12x12[x3[x3]] lattice table (lon, lat[, z[, u]], sst) whose x
    * axis is regular (step 1) or irregular (x_i = i(i+1)/2); `nullAt`
    * gives the value of that cell as null, `dropAt` omits its row.
    */
  private def lattice(rank: Int, irregular: Boolean,
                      nullAt: Option[Seq[Int]] = None,
                      dropAt: Option[Seq[Int]] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val sizes = Seq(12, 12, 3, 3).take(rank)
    val names = Seq("lon", "lat", "z", "u").take(rank) :+ "sst"
    val cells = sizes.foldLeft(Seq(Seq.empty[Int])) { (acc, n) =>
      for (c <- acc; i <- 0 until n) yield c :+ i }
    val rows = cells.filterNot(c => dropAt.contains(c)).map { c =>
      val x = if (irregular) c(0) * (c(0) + 1) / 2.0 else c(0).toDouble
      val v: java.lang.Double =
        if (nullAt.contains(c)) null
        else (c.zip(Seq(13, 7, 5, 3)).map { case (i, m) => i * m }.sum % 31)
          .toDouble
      Row.fromSeq((x +: c.tail.map(_.toDouble)) :+ v)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(names.map(StructField(_, DoubleType))))
  }

  test("a null lattice value is a masked cell on every table path and " +
      "grid loader") {
    // cell (3, 3[, 1[, 1]]) has a null value: every path must treat it
    // exactly like an absent row — probe 0 (corners / window / planes
    // touch it) is NaN, probe 1 (clear of it) interpolates — and the
    // loaders leave its slot NaN
    val masked = Seq(3, 3, 1, 1)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("value")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (irregular <- Seq(false, true)) {
      // x midpoints of cells (3, 4) and (8, 9) on either x spacing
      val (xm, xc) = if (irregular) (8.0, 40.5) else (3.5, 8.5)
      val probes = Seq((0L, xm, 3.5, 1.5, 1.5), (1L, xc, 8.5, 0.5, 0.5))
        .toDF("qid", "x", "y", "zq", "uq")
      for (rank <- 2 to 4) {
        val cell = Some(masked.take(rank))
        val withNull = lattice(rank, irregular, nullAt = cell)
        val absent = lattice(rank, irregular, dropAt = cell)
        def paths(t: org.apache.spark.sql.DataFrame)
            : Seq[(String, org.apache.spark.sql.DataFrame)] = rank match {
          case 2 => Seq(
            "bivariateTable" ->
              GridInterpolator.bivariateTable(spark, probes, "x", "y", t),
            "bivariateTableWindowed" -> GridInterpolator
              .bivariateTableWindowed(spark, probes, "x", "y", t))
          case 3 => Seq(
            "trivariateTable" -> GridInterpolator.trivariateTable(spark,
              probes, "x", "y", "zq", t),
            "trivariateTableWindowed" -> GridInterpolator
              .trivariateTableWindowed(spark, probes, "x", "y", "zq", t))
          case _ => Seq(
            "quadrivariateTable" -> GridInterpolator.quadrivariateTable(
              spark, probes, "x", "y", "zq", "uq", t, uColName = "u"),
            "quadrivariateTableWindowed" -> GridInterpolator
              .quadrivariateTableWindowed(spark, probes, "x", "y", "zq",
                "uq", t, uColName = "u"))
        }
        for (((name, got), (_, want)) <- paths(withNull).zip(paths(absent))) {
          val tag = s"$name irregular=$irregular"
          val (g, w) = (toMap(got), toMap(want))
          assert(g(0L).isNaN && w(0L).isNaN, tag)
          assert(!g(1L).isNaN && g(1L) === w(1L), tag)
        }
        val (loaded, reference) = rank match {
          case 2 => (GridLoader.grid2d(withNull).values,
            GridLoader.grid2d(absent).values)
          case 3 => (GridLoader.grid3d(withNull).values,
            GridLoader.grid3d(absent).values)
          case _ => (GridLoader.grid4d(withNull, uColName = "u").values,
            GridLoader.grid4d(absent, uColName = "u").values)
        }
        assert(loaded.count(_.isNaN) === 1, s"grid${rank}d")
        assert(java.util.Arrays.equals(loaded, reference), s"grid${rank}d")
      }
    }
  }

  test("a null probe coordinate yields NaN on both table branches") {
    // the row survives with NaN on the regular (column-arithmetic) and
    // irregular (broadcast-axis) table branches, geometric 2-D and
    // windowed 3-D, and on the four broadcast kernels; probe k > 0 has
    // its k-th coordinate null
    for (irregular <- Seq(false, true)) {
      val xc = if (irregular) 40.5 else 8.5
      val probes = Seq[(Long, Option[Double], Option[Double],
          Option[Double], Option[Double])](
        (0L, Some(xc), Some(8.5), Some(0.5), Some(0.5)),
        (1L, None, Some(8.5), Some(0.5), Some(0.5)),
        (2L, Some(xc), None, Some(0.5), Some(0.5)),
        (3L, Some(xc), Some(8.5), None, Some(0.5)),
        (4L, Some(xc), Some(8.5), Some(0.5), None))
        .toDF("qid", "x", "y", "zq", "uq")
      val xs = if (irregular) Array.tabulate(12)(i => i * (i + 1) / 2.0)
        else Array.tabulate(12)(_.toDouble)
      val line = Grid1D(graft.core.Axis(xs),
        xs.map(x => math.sin(x / 10.0)))
      // (path, output, number of leading coordinates it reads)
      for ((name, out, rank) <- Seq(
          ("bivariateTable", GridInterpolator.bivariateTable(spark, probes,
            "x", "y", lattice(2, irregular)), 2),
          ("trivariateTableWindowed", GridInterpolator
            .trivariateTableWindowed(spark, probes, "x", "y", "zq",
              lattice(3, irregular)), 3),
          ("univariate", GridInterpolator.univariate(spark, probes, "x",
            line, "cspline"), 1),
          ("bivariate", GridInterpolator.bivariate(spark, probes, "x", "y",
            GridLoader.grid2d(lattice(2, irregular)), "bilinear"), 2),
          ("trivariate", GridInterpolator.trivariate(spark, probes, "x",
            "y", "zq", GridLoader.grid3d(lattice(3, irregular)),
            "bilinear"), 3),
          ("quadrivariate", QuadrivariateInterpolator.quadrivariate(spark,
            probes, "x", "y", "zq", "uq", GridLoader.grid4d(
              lattice(4, irregular), uColName = "u"), "bilinear"), 4))) {
        val got = out.select(col("qid"), col("value")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val tag = s"$name irregular=$irregular"
        assert(got.keySet === Set(0L, 1L, 2L, 3L, 4L), tag)
        assert(!got(0L).isNaN, tag)
        for (k <- 1 to rank) assert(got(k.toLong).isNaN, s"$tag probe $k")
      }
    }
  }

  test("state serialization round-trips (KdTree, Grid2D, TemporalAxis)") {
    def rt[T <: Serializable](v: T): T = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(v); oos.close()
      val ois = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      ois.readObject().asInstanceOf[T]
    }
    val tree = KdTree.build(
      (0 until 100).iterator.map(i =>
        (Array((i % 10).toDouble, (i / 10).toDouble), i.toDouble,
          i.toLong)), 2)
    val tree2 = rt(tree)
    val q = Array(3.2, 4.7)
    assert(tree.query(q, 5).toSeq === tree2.query(q, 5).toSeq)
    val g = SparkEntry_TestAccess.grid41
    val g2 = rt(g)
    assert(g2(7, 9) === g(7, 9))
    val ta = TemporalAxis(Array(1L, 2L, 3L), "us")
    assert(rt(ta).cast("ns").ticks.toSeq === ta.cast("ns").ticks.toSeq)
  }
}

/** Test access to SparkEntry internals without widening its API. */
object SparkEntry_TestAccess {
  def grid41: Grid2D = graft.SparkEntry.syntheticGrid41
}
