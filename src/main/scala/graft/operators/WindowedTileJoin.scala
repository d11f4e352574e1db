package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.core.Axis

/** One framed probe routed to its window tile: `(tx, ty, tk, tl)` is the
  * tile of the probe's WINDOW ORIGIN `(wi, wj, k0, l0)`; `x`/`y` are the
  * (possibly unwrapped) evaluation coordinates and `tz`/`tu` the plane
  * combine fractions (unused dimensions carry 0).
  */
private[operators] final case class TileProbe(
    tx: Int, ty: Int, tk: Int, tl: Int, rid: Long,
    x: Double, y: Double, tz: Double, tu: Double,
    wi: Int, wj: Int, k0: Int, l0: Int)

/** One lattice cell replica shipped to a tile: `(ci, cj, ck, cl)` are the
  * UNWRAPPED lattice coordinates of this replica (a periodic-x seam cell
  * appears as `ci ± nx` in the tiles whose windows reach across the
  * seam); `z` is the cell value.
  */
private[operators] final case class TileCell(
    tx: Int, ty: Int, tk: Int, tl: Int,
    ci: Int, cj: Int, ck: Int, cl: Int, z: Double)

/** Tile-halo co-partitioned execution of the WINDOWED grid-as-table
  * interpolations (2-D/3-D/4-D): instead of fanning each probe out to
  * its (2·halfWindow)²·planes stencil keys (36/72/144 shuffled rows per
  * probe — shuffle volume 36-144× the probe table, each lattice cell
  * re-shipped once per referencing probe), probes and lattice cells are
  * BOTH keyed by window tile and co-grouped in ONE shuffle each:
  *
  *  - a probe belongs to the tile of its window origin
  *    (`floorDiv(wi, T)` per axis);
  *  - a cell is shipped to its home tile plus the preceding tile when it
  *    falls in that tile's halo (the first `n-1` columns/rows, or the
  *    first plane of a z/u tile) — replication factor
  *    `(1 + (n-1)/T)² · (1 + 1/Tz) · (1 + 1/Tu)` ≈ 1.2-1.5, NOT 36-144;
  *  - per tile, the cell replicas fill a dense local array (missing
  *    cells stay NaN — the masked-cell semantics), probes are sorted by
  *    window origin, and the SAME [[WindowFit]] kernels as the broadcast
  *    path evaluate with a last-window fit cache — exactly the old
  *    per-partition evaluators, now fed tile-locally.
  *
  * Shuffle volume is one pass of the probe table + ~1.2-1.5 passes of
  * the lattice, independent of the stencil size — the plan that survives
  * a 100-TB lattice. Probe skew concentrates a tile's probes in one
  * task (cogroup groups are not AQE-splittable); the tile size bounds
  * the cell state per task and probes are evaluated in bounded
  * origin-sorted CHUNKS of [[ProbeChunk]] rows (a hot tile streams
  * chunk by chunk — per-task memory stays O(tile cells + ProbeChunk)
  * no matter how many probes land in the tile, and a chunk boundary
  * costs at most the 4 cached plane fits), so the worst case really is
  * CPU-bound, not memory-bound.
  *
  * Reference semantics preserved: windows crossing the periodic seam see
  * unwrapped cell replicas (the broadcast window's monotonic unwrap,
  * `math/interpolate/cache_loader.hpp:110-133`); incomplete windows
  * evaluate through NaN cells to NaN (boundary `undef`).
  */
private[operators] object WindowedTileJoin {

  /** xy tile edge in lattice cells. 64 keeps the per-task dense cell
    * block at (64+n-1)² ≈ 4.8k doubles for the default window and the
    * halo overhead under 10%.
    */
  val DefaultTileXY = 64

  /** z/u tile depth in planes: windows span 2 adjacent planes, so the
    * halo is exactly one plane and replication is 1 + 1/tile.
    */
  val DefaultTilePlane = 4

  /** Probes buffered (and sorted) per evaluation chunk: bounds a hot
    * tile's per-task heap at ~ProbeChunk · sizeof(TileProbe) ≈ 6 MB
    * regardless of probe skew. Var only so specs can force multi-chunk
    * evaluation on small fixtures.
    */
  @volatile private[operators] var ProbeChunk: Int = 1 << 16

  @inline private def fd(a: Int, b: Int): Int = Math.floorDiv(a, b)
  @inline private def fm(a: Int, b: Int): Int = Math.floorMod(a, b)

  /** Tiles needing cell column/row `v` (unwrapped): its home tile, plus
    * the previous tile when `v` lies in its halo band (the first `n-1`
    * positions of the home tile). Clipped to the tile range probes can
    * occupy.
    */
  private def xyTargets(v: Int, t: Int, n: Int, tMin: Int, tMax: Int)
      : List[Int] = {
    val home = fd(v, t)
    val both =
      if (fm(v, t) < n - 1) List(home, home - 1) else List(home)
    both.filter(x => x >= tMin && x <= tMax)
  }

  /** Plane-axis tiles needing plane `k`: home, plus the previous tile
    * when `k` is its first plane (windows span [k0, k0+1], so tile tk
    * needs planes [tk·Tz, tk·Tz + Tz]).
    */
  private def planeTargets(k: Int, t: Int, tMax: Int): List[Int] = {
    val home = fd(k, t)
    val both = if (fm(k, t) == 0) List(home, home - 1) else List(home)
    both.filter(x => x >= 0 && x <= tMax)
  }

  /** A framed probe routed to the tile of its window origin; the absent
    * z/u axes of a 2-D/3-D probe carry 0 in `k0`/`l0`/`tz`/`tu`.
    */
  def probe(rid: Long, x: Double, y: Double, tz: Double, tu: Double,
            wi: Int, wj: Int, k0: Int, l0: Int): TileProbe =
    TileProbe(fd(wi, DefaultTileXY), fd(wj, DefaultTileXY),
      fd(k0, DefaultTilePlane), fd(l0, DefaultTilePlane),
      rid, x, y, tz, tu, wi, wj, k0, l0)

  /** Fan lattice cells out to their (few) window tiles. `cells` carries
    * (_ci, _cj[, _ck[, _cl]], _z), one key per entry of `sizes` (the
    * lattice's axis lengths); an absent z/u axis is key 0, whose only
    * plane tile is 0. Unwrapped ±nx variants are emitted for periodic x
    * so seam-crossing windows assemble from contiguous coordinates.
    */
  def fanOutCells(spark: SparkSession, cells: DataFrame, halfWindow: Int,
                  sizes: Seq[Int], periodicX: Boolean): Dataset[TileCell] = {
    import spark.implicits._
    val n = 2 * halfWindow
    val t = DefaultTileXY
    val tp = DefaultTilePlane
    val nx = sizes(0)
    // tile ranges of reachable window origins (driver constants)
    val txMin = if (periodicX) fd(-(halfWindow - 1), t) else 0
    val txMax =
      if (periodicX) fd(nx - halfWindow, t) else fd(nx - n, t)
    val tyMax = fd(sizes(1) - n, t)
    val tkMax = if (sizes.size > 2) fd(sizes(2) - 2, tp) else 0
    val tlMax = if (sizes.size > 3) fd(sizes(3) - 2, tp) else 0
    def key(d: Int, name: String) = if (d < sizes.size) col(name) else lit(0)
    cells.select(col("_ci"), col("_cj"), key(2, "_ck"), key(3, "_cl"),
        col("_z"))
      .as[(Int, Int, Int, Int, Double)].flatMap { case (ci, cj, ck, cl, z) =>
        val vxs = if (periodicX) List(ci - nx, ci, ci + nx) else List(ci)
        for {
          vx <- vxs
          tx <- xyTargets(vx, t, n, txMin, txMax)
          ty <- xyTargets(cj, t, n, 0, tyMax)
          tk <- planeTargets(ck, tp, tkMax)
          tl <- planeTargets(cl, tp, tlMax)
        } yield TileCell(tx, ty, tk, tl, vx, cj, ck, cl, z)
      }
  }

  /** Co-group probes and cell replicas by tile and evaluate tile-locally.
    * Returns (_rid, _v) — NaN for incomplete windows; probes the caller
    * filtered out (unframeable) simply never appear and surface as NaN
    * through the final left join.
    */
  def evaluate(spark: SparkSession, probes: Dataset[TileProbe],
               cells: Dataset[TileCell], rank: Int, method: String,
               zMethod: String, uMethod: String, halfWindow: Int,
               xAxis: Axis, yAxis: Axis, regular: Boolean): DataFrame = {
    import spark.implicits._
    val m = method
    val zm = zMethod
    val um = uMethod
    val nn = 2 * halfWindow
    val t = DefaultTileXY
    val tp = DefaultTilePlane
    val ar = rank
    val xf = xAxis.front; val xs0 = xAxis.step
    val yf = yAxis.front; val ys0 = yAxis.step
    // irregular lattice: window node coordinates come from the broadcast
    // axis value arrays (O(nx + ny)) instead of the affine front + i·step
    // — indexes are always in-range here (irregular excludes periodic
    // unwrapping)
    val bxv = if (regular) null
      else spark.sparkContext.broadcast(xAxis.values)
    val byv = if (regular) null
      else spark.sparkContext.broadcast(yAxis.values)
    val chunkSize = ProbeChunk
    val probeK = probes.groupByKey(p => (p.tx, p.ty, p.tk, p.tl))
    val cellK = cells.groupByKey(c => (c.tx, c.ty, c.tk, c.tl))
    probeK.cogroup(cellK) { case ((tx, ty, tk, tl), ps, cs) =>
      // dense local block: tile + halo, NaN = missing/masked
      val ex = t + nn - 1
      val ek = if (ar >= 3) tp + 1 else 1
      val el = if (ar >= 4) tp + 1 else 1
      val arr = Array.fill(ex * ex * ek * el)(Double.NaN)
      val x0 = tx * t; val y0 = ty * t
      val zb = tk * tp; val ub = tl * tp
      cs.foreach { c =>
        val lx = c.ci - x0; val ly = c.cj - y0
        val lk = c.ck - zb; val ll = c.cl - ub
        if (lx >= 0 && lx < ex && ly >= 0 && ly < ex &&
            lk >= 0 && lk < ek && ll >= 0 && ll < el)
          arr(((lx * ex + ly) * ek + lk) * el + ll) = c.z
      }
      if (!ps.hasNext) Iterator.empty
      else {
        // probes evaluated in bounded sorted chunks: within a chunk the
        // origin sort makes consecutive probes reuse the fits (the old
        // evaluators' last-window cache); across chunks the cache state
        // persists, so a boundary costs at most 4 plane refits. Memory
        // per task = dense tile block + one chunk, independent of skew.
        var lastWi = Int.MinValue; var lastWj = 0
        var lastK0 = 0; var lastL0 = 0
        val fits = new Array[WindowFit](4)
        val built = new Array[Boolean](4)
        def buildFit(wi: Int, wj: Int, kk: Int, ll: Int): WindowFit = {
          val xsArr =
            if (bxv == null) Array.tabulate(nn)(i => xf + (wi + i) * xs0)
            else Array.tabulate(nn)(i => bxv.value(wi + i))
          val ysArr =
            if (byv == null) Array.tabulate(nn)(j => yf + (wj + j) * ys0)
            else Array.tabulate(nn)(j => byv.value(wj + j))
          val zz = Array.tabulate(nn, nn)((i, j) =>
            arr((((wi - x0 + i) * ex + (wj - y0 + j)) * ek + kk) * el + ll))
          new WindowFit(m, nn, xsArr, ysArr, zz)
        }
        // plane p = dk*2 + dl relative to (k0, l0); built lazily so
        // nearest-combine probes only assemble the plane they snap to
        def fit(p: TileProbe, dk: Int, dl: Int): WindowFit = {
          val idx = dk * 2 + dl
          if (!built(idx)) {
            fits(idx) = buildFit(p.wi, p.wj, p.k0 - zb + dk, p.l0 - ub + dl)
            built(idx) = true
          }
          fits(idx)
        }
        ps.grouped(chunkSize).flatMap { chunkSeq =>
          val pArr = chunkSeq.toArray
          java.util.Arrays.sort(pArr, Ordering.by((p: TileProbe) =>
            (p.wi, p.wj, p.k0, p.l0)))
          pArr.iterator.map { p =>
            if (p.wi != lastWi || p.wj != lastWj || p.k0 != lastK0 ||
                p.l0 != lastL0) {
              lastWi = p.wi; lastWj = p.wj; lastK0 = p.k0; lastL0 = p.l0
              java.util.Arrays.fill(built, false)
            }
            // the combines of the broadcast path
            // (GridInterpolator.trivariate, QuadrivariateInterpolator):
            // u outer, z inner; nearest snaps per axis; linear evaluates
            // BOTH bracketing planes and combines v0 + t*(v1-v0) even at
            // t = 0 or 1, so a NaN-masked window in the nominally
            // zero-weight plane propagates exactly like the broadcast
            // kernel — bit-identical op order
            def zCombine(dl: Int): Double =
              if (zm == "nearest") {
                if (p.tz <= 0.5) fit(p, 0, dl).eval(p.x, p.y)
                else fit(p, 1, dl).eval(p.x, p.y)
              } else {
                val v0 = fit(p, 0, dl).eval(p.x, p.y)
                val v1 = fit(p, 1, dl).eval(p.x, p.y)
                v0 + p.tz * (v1 - v0)
              }
            val v =
              if (ar == 2) fit(p, 0, 0).eval(p.x, p.y)
              else if (ar == 3) zCombine(0)
              else if (um == "nearest") {
                if (p.tu <= 0.5) zCombine(0) else zCombine(1)
              } else {
                val v0 = zCombine(0)
                val v1 = zCombine(1)
                v0 + p.tu * (v1 - v0)
              }
            (p.rid, v)
          }
        }
      }
    }.toDF("_rid", "_v")
  }
}
