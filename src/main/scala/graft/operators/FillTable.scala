package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed gap filling over a lattice held AS A TABLE — the
  * `fill.gauss_seidel` semantics (reference `fill/gauss_seidel.hpp`,
  * red-black SOR on the 5-point Laplace stencil) for grids above the
  * broadcast gate, completing the big-grid story of the fill module the
  * same way the grid-as-table joins completed interpolation.
  *
  * Plan (block-synchronous multisplitting — block-Jacobi across tiles,
  * red-black Gauss-Seidel inside each tile):
  *  - every cell gets a (bi, bj) = (ci/B, cj/B) tile id;
  *  - per super-iteration, cells bordering a tile edge are replicated to
  *    the adjacent tile as HALO rows (≤ 4·B + O(1) rows per B² tile —
  *    perimeter, not area; the periodic-x seam wraps), one shuffle
  *    groups each tile with its halo, and `innerSweeps` red-black SOR
  *    passes run in-core per tile with halo values held fixed (Dirichlet
  *    from the neighbors' previous state);
  *  - the emitted home cells are the next iteration's state, pinned with
  *    `localCheckpoint` so the iterative lineage stays flat; the
  *    iteration stops when the global max residual of the outer
  *    iteration drops under `epsilon` (read from an accumulator that the
  *    checkpoint job fills, so the stop test costs no job of its own).
  * All three fills run this one loop ([[iterate]]) over one lattice
  * frame ([[lattice]]) and one tile + halo window ([[Window]]); the
  * trace-returning forms hand the per-iteration statistics back as a
  * value.
  * The fixed point satisfies the same discrete Laplace equation as the
  * in-core solver (holding converged neighbors fixed is a no-op at the
  * fixed point), so converged answers agree — the harmonic-plane oracle
  * checks that per cell.
  *
  * TWO-LEVEL: one-level Schwarz needs O(blocks-per-side) outer
  * iterations for boundary information to cross the domain — the
  * operator's real limit at lattice scale. Each super-iteration
  * therefore starts by adding a coarse correction: the in-core solution
  * of the block-mean companion problem ([[coarseValueSolve]]) minus the
  * current block means, pushed onto every fully-masked block. The
  * correction is value-based (self-limiting, bounded by the data range)
  * rather than defect-based, and retires itself once its geometric
  * progress flattens, leaving the endgame — and the converged answer —
  * to pure RAS. Measured on a 192² harmonic fixture at full inner
  * convergence: 65/41/29 outers at 4×4/8×8/16×16 blocks (DECREASING
  * with block count, where one-level grows).
  *
  * Boundary semantics mirror the core solver: non-periodic edges use the
  * inward mirror neighbor (which lives in the SAME tile whenever
  * B ≥ 2), periodic x wraps through the seam halo. Masked (NaN) cells
  * relax; known cells are Dirichlet anchors; the first guess is the
  * reference's zonal average (per-j-band mean of known values, 0 for
  * empty bands).
  */
object FillTable {

  final case class FillCell(ci: Int, cj: Int, z: Double, mask: Boolean,
                            res: Double)

  /** Max accumulator: folds the per-super residual (`max(res)`) into the
    * state-materialization job itself, replacing the separate agg job per
    * super-iteration (guide §1/§2: fewer driver round-trips per serial
    * step). Retry-safe by idempotence: res values are deterministic and
    * max is unaffected by double-merged task updates.
    */
  private final class MaxAccumulator
      extends org.apache.spark.util.AccumulatorV2[Double, Double] {
    private var m = 0.0
    override def isZero: Boolean = m == 0.0
    override def copy(): MaxAccumulator = {
      val c = new MaxAccumulator; c.m = m; c
    }
    override def reset(): Unit = m = 0.0
    override def add(v: Double): Unit = if (v > m) m = v
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[Double, Double]): Unit =
      if (o.value > m) m = o.value
    override def value: Double = m
  }

  /** Per-block (sum z, cell count, hasKnown) gathered DURING the
    * relaxation job — replaces the separate groupBy+collect restriction
    * job per super-iteration whenever the coarse level runs at fine-block
    * resolution (sb == 1), where each block is exactly one flatMapGroups
    * group. PUT semantics keyed by block id: a block's stats are written
    * whole by its one owning task with deterministic values, so stage
    * retries overwrite with identical entries (idempotent), never
    * double-add. Bounded by [[CoarseDriverGate]] entries — the same
    * driver budget as the collect it replaces.
    */
  private final class BlockStatsAccumulator
      extends org.apache.spark.util.AccumulatorV2[
        (Long, Double, Long, Int),
        scala.collection.mutable.HashMap[Long, (Double, Long, Int)]] {
    private val m =
      scala.collection.mutable.HashMap.empty[Long, (Double, Long, Int)]
    override def isZero: Boolean = m.isEmpty
    override def copy(): BlockStatsAccumulator = {
      val c = new BlockStatsAccumulator; c.m ++= m; c
    }
    override def reset(): Unit = m.clear()
    override def add(v: (Long, Double, Long, Int)): Unit =
      m.put(v._1, (v._2, v._3, v._4))
    override def merge(o: org.apache.spark.util.AccumulatorV2[
        (Long, Double, Long, Int),
        scala.collection.mutable.HashMap[Long, (Double, Long, Int)]])
        : Unit = m ++= o.value
    override def value
        : scala.collection.mutable.HashMap[Long, (Double, Long, Int)] = m
  }

  /** Max coarse-restriction rows collected to the driver per
    * super-iteration of [[gaussSeidelTable]]: beyond it the restriction
    * aggregates to super-blocks distributedly first (a second coarse
    * level). 256k rows ≈ 10 MB — generous for any driver, reached only
    * past ~256k blocks (e.g. a 131k² lattice at blockSize 256). Var so
    * specs can force the super-block path on small fixtures.
    */
  @volatile private[operators] var CoarseDriverGate: Long = 1L << 18

  /** In-core coarse companion problem of the two-level acceleration: one
    * value per block. Blocks containing any KNOWN cell are Dirichlet
    * anchors at their known-cell mean; fully-masked blocks solve the
    * 5-point Laplace on the block lattice (mirror edges, periodic-x
    * wrap — the fine solver's boundary semantics at block scale). The
    * returned correction for a fully-masked block is
    * (coarse solution − current mean of its masked cells): pushing block
    * means onto the coarse harmonic surface transports the global error
    * component across the whole domain in one step, where one-level
    * Schwarz moves it one block per super-iteration. Self-limiting
    * (zero once the means match) and bounded by the data range (discrete
    * maximum principle), unlike defect-integration schemes. Blocks with
    * no cells at all (sparse tables) contribute 0 to their neighbors.
    * Block-count-sized — runs on the driver between super-iterations.
    */
  private def coarseValueSolve(stats: Array[(Int, Int, Double, Int)],
                               nbx: Int, nby: Int, perX: Boolean)
      : scala.collection.Map[Long, Double] = {
    val free = Array.ofDim[Boolean](nbx, nby)
    val u = Array.ofDim[Double](nbx, nby)
    val m = Array.ofDim[Double](nbx, nby)
    def in(bi: Int, bj: Int) = bi >= 0 && bi < nbx && bj >= 0 && bj < nby
    // rows: (bi, bj, block mean over ALL cells, hasKnown). Blocks with
    // knowns anchor the coarse problem at their CURRENT full mean —
    // those blocks converge fast locally (they hold Dirichlet cells), so
    // their means track the true solution's block means; anchoring at
    // the known-cell mean instead would pin edge values where center
    // values belong and bias the whole coarse surface by O(blockSize).
    stats.foreach { case (bi, bj, v, hasKnown) =>
      if (in(bi, bj)) {
        u(bi)(bj) = v
        m(bi)(bj) = v
        free(bi)(bj) = hasKnown == 0
      }
    }
    def look(i0: Int, j0: Int): Double = {
      var i = i0
      if (i < 0) i = if (perX) nbx - 1 else math.min(1, nbx - 1)
      else if (i > nbx - 1) i = if (perX) 0 else math.max(nbx - 2, 0)
      val j =
        if (j0 < 0) math.min(1, nby - 1)
        else if (j0 > nby - 1) math.max(nby - 2, 0)
        else j0
      u(i)(j)
    }
    var pass = 0
    var delta = Double.MaxValue
    while (pass < 2000 && delta > 1e-12) {
      delta = 0.0
      var bi = 0
      while (bi < nbx) {
        var bj = 0
        while (bj < nby) {
          if (free(bi)(bj)) {
            val v = 0.25 * (look(bi - 1, bj) + look(bi + 1, bj) +
              look(bi, bj - 1) + look(bi, bj + 1))
            val d = math.abs(v - u(bi)(bj))
            if (d > delta) delta = d
            u(bi)(bj) = v
          }
          bj += 1
        }
        bi += 1
      }
      pass += 1
    }
    val out = scala.collection.mutable.HashMap.empty[Long, Double]
    var bi = 0
    while (bi < nbx) {
      var bj = 0
      while (bj < nby) {
        if (free(bi)(bj)) {
          val e = u(bi)(bj) - m(bi)(bj)
          if (e != 0.0)
            out.put((bi.toLong << 32) | (bj & 0xFFFFFFFFL), e)
        }
        bj += 1
      }
      bi += 1
    }
    out
  }

  /** Free the executor blocks of a SUPERSEDED localCheckpoint state.
    * The checkpointed Dataset's plan root is a LogicalRDD over the
    * materialized RDD; unpersist that RDD directly (Dataset.unpersist
    * only covers CacheManager entries, not checkpoint blocks). Without
    * this, every super-iteration's full lattice copy lingers in block
    * storage until driver GC + ContextCleaner get around to it — at the
    * above-broadcast-gate scale this operator targets, that is a real
    * memory/disk leak. Best-effort by construction: if the plan shape
    * ever changes, the ContextCleaner path still reclaims on GC.
    */
  private def releaseCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Lattice coordinates -> integer cell indexes for ANY strictly
    * ascending axes. The fills are pure index-space operators (the
    * reference fill-module stencils never read axis spacing), so irregular
    * axes need only the value->index mapping: regular axes keep the
    * closed-form arithmetic (stays inside whole-stage codegen);
    * irregular axes broadcast-join the O(axis-length) value->index map
    * (exact double equality — the axis values were extracted from this
    * very column by `axesOf`). Returns (ci, cj, z).
    */
  private def indexedCells(gridTable: DataFrame, xCol: String, yCol: String,
                           valueCol: String, xAxis: graft.core.Axis,
                           yAxis: graft.core.Axis): DataFrame = {
    val spark = gridTable.sparkSession
    def mapped(df: DataFrame, axis: graft.core.Axis, c: String,
               idx: String): DataFrame =
      if (axis.isRegular)
        df.withColumn(idx,
          round((col(c).cast("double") - lit(axis.front)) / lit(axis.step))
            .cast("int"))
      else {
        // LEFT join + fail-loud null check: a coordinate that misses the
        // exact-equality axis map (NaN coordinate, or axes supplied by a
        // future caller rather than axesOf) must surface as an error,
        // not silently drop the row from the fill output
        val m = spark.createDataFrame(
            axis.values.zipWithIndex.toSeq).toDF(c + "__v", idx)
        df.join(broadcast(m), col(c).cast("double") === col(c + "__v"),
            "left")
          .withColumn(idx, when(col(idx).isNull,
            raise_error(concat(lit(s"indexedCells: coordinate $c="),
              col(c).cast("string"),
              lit(" not found on the extracted axis"))))
            .otherwise(col(idx)))
          .drop(c + "__v")
      }
    mapped(mapped(gridTable.select(col(xCol), col(yCol),
        col(valueCol).cast("double").as("z")), xAxis, xCol, "ci"),
        yAxis, yCol, "cj")
      .select(col("ci"), col("cj"), col("z"))
  }

  /** Inverse of [[indexedCells]] for the result: cell indexes back to
    * the EXACT axis values (regular: closed form; irregular: broadcast
    * index->value join). Emits (xCol, yCol, value, filled).
    */
  private def withCoords(state: DataFrame, xAxis: graft.core.Axis,
                         yAxis: graft.core.Axis, xCol: String,
                         yCol: String): DataFrame = {
    val spark = state.sparkSession
    def back(df: DataFrame, axis: graft.core.Axis, idx: String,
             out: String): DataFrame =
      if (axis.isRegular)
        df.withColumn(out,
          col(idx).cast("double") * axis.step + axis.front)
      else {
        val m = spark.createDataFrame(
            axis.values.zipWithIndex.map(_.swap).toSeq)
          .toDF(idx + "__i", out)
        df.join(broadcast(m), col(idx) === col(idx + "__i"))
          .drop(idx + "__i")
      }
    back(back(state, xAxis, "ci", xCol), yAxis, "cj", yCol)
      .select(col(xCol), col(yCol), col("z").as("value"),
        col("mask").as("filled"))
  }

  /** Replicate each cell to every block whose (wx, wy)-wide overlap
    * region contains it (restricted additive Schwarz halo — corners
    * included so overlap cells can relax), plus the home copy.
    * Minimal-overlap block-Jacobi converges like 1 − O(w/b); a few-cell
    * overlap buys an order of magnitude fewer outer iterations. The
    * periodic-x seam wraps block targets.
    */
  private def haloed(state: Dataset[FillCell], b: Int, wx: Int, wy: Int,
                     nx: Int, ny: Int, perX: Boolean)
      : Dataset[(Int, Int, FillCell, Boolean)] = {
    import state.sparkSession.implicits._
    state.mapPartitions { cells =>
      // the block offsets (home 0 first) and the dedupe keys live in
      // task-shared scratch arrays refilled per cell; safe because
      // flatMap fully drains each cell's targets before the next cell
      // starts. Each cell still allocates its target iterators and the
      // emitted rows.
      val dis = new Array[Int](3)
      val djs = new Array[Int](3)
      val seen = new Array[Long](9)
      cells.flatMap { c =>
        val bi = c.ci / b
        val bj = c.cj / b
        val nbx = (nx + b - 1) / b
        val nby = (ny + b - 1) / b
        // home target FIRST: with periodic x and few blocks per row,
        // di = -1 and di = +1 can wrap to the SAME target block (nbx <= 2
        // with a wide halo), so targets are deduped per cell — and the
        // home copy must win the dedupe, or a block could lose one of its
        // own cells to a halo-flagged duplicate
        var ndi = 1
        if ((c.ci % b >= b - wx || (perX && c.ci >= nx - wx)) &&
          (bi < nbx - 1 || perX)) { dis(ndi) = 1; ndi += 1 }
        if (c.ci % b < wx && (bi > 0 || perX)) { dis(ndi) = -1; ndi += 1 }
        var ndj = 1
        if (c.cj % b >= b - wy && bj < nby - 1) { djs(ndj) = 1; ndj += 1 }
        if (c.cj % b < wy && bj > 0) { djs(ndj) = -1; ndj += 1 }
        var nSeen = 0
        for {
          a <- Iterator.range(0, ndi)
          e <- Iterator.range(0, ndj)
          tbi = if (perX) (bi + dis(a) + nbx) % nbx else bi + dis(a)
          tbj = bj + djs(e)
          key = (tbi.toLong << 32) | (tbj & 0xFFFFFFFFL)
          if {
            var dup = false
            var s = 0
            while (s < nSeen) { if (seen(s) == key) dup = true; s += 1 }
            if (!dup) { seen(nSeen) = key; nSeen += 1 }
            !dup
          }
        } yield (tbi, tbj, c, a != 0 || e != 0)
      }
    }
  }

  /** The dense tile + halo window of one block, built once for both
    * flatMapGroups kernels: a flat (b + 2·wx) × (b + 2·wy) array over the
    * block's cells widened by the halo, NaN where no row arrived, filled
    * from the block's group rows. A periodic-x cell occupies every slot
    * it maps to (wrap duplicates), so kernels read neighbors by index
    * arithmetic instead of hash lookups. `home` holds the block's own
    * cells; `overlap` the masked halo cells, kept only for
    * `keepOverlap`.
    */
  private final class Window(val gk: Long,
                             rows: Iterator[(Int, Int, FillCell, Boolean)],
                             b: Int, wx: Int, wy: Int, nx: Int,
                             perX: Boolean, keepOverlap: Boolean) {
    val xo = (gk >> 32).toInt * b - wx
    val yo = gk.toInt * b - wy
    val wxw = b + 2 * wx
    val wyw = b + 2 * wy
    val arr = Array.fill(wxw * wyw)(Double.NaN)
    val home = scala.collection.mutable.ArrayBuffer.empty[FillCell]
    val overlap = scala.collection.mutable.ArrayBuffer.empty[FillCell]

    /** All window columns of global column ci (wrap duplicates): their
      * count, the columns written to `out`.
      */
    def xSlots(ci: Int, out: Array[Int]): Int = {
      var n = 0
      val lx = ci - xo
      if (lx >= 0 && lx < wxw) { out(n) = lx; n += 1 }
      if (perX) {
        val l2 = lx - nx
        if (l2 >= 0 && l2 < wxw) { out(n) = l2; n += 1 }
        val l3 = lx + nx
        if (l3 >= 0 && l3 < wxw) { out(n) = l3; n += 1 }
      }
      n
    }

    private val xs = new Array[Int](3)
    rows.foreach { case (_, _, c, isHalo) =>
      val ly = c.cj - yo
      if (ly >= 0 && ly < wyw) {
        val n = xSlots(c.ci, xs)
        var k = 0
        while (k < n) { arr(xs(k) * wyw + ly) = c.z; k += 1 }
      }
      if (!isHalo) home += c
      else if (keepOverlap && c.mask) overlap += c
    }
  }

  /** One halo exchange: every block's cells plus its (wx, wy) halo are
    * grouped into one [[Window]], and `kernel` turns it into the block's
    * next home cells.
    */
  private def perTile(state: Dataset[FillCell], b: Int, wx: Int, wy: Int,
                      nx: Int, ny: Int, perX: Boolean,
                      keepOverlap: Boolean)(
      kernel: Window => Iterator[FillCell]): Dataset[FillCell] = {
    import state.sparkSession.implicits._
    haloed(state, b, wx, wy, nx, ny, perX)
      .groupByKey { case (bi, bj, _, _) =>
        (bi.toLong << 32) | (bj & 0xFFFFFFFFL)
      }
      .flatMapGroups { (gk, rows) =>
        kernel(new Window(gk, rows, b, wx, wy, nx, perX, keepOverlap))
      }
  }

  /** One iteration of a fill as its convergence trace records it: the
    * pass's stop statistic (the max residual, or the hole count of the
    * progressive loess) and whether the two-level coarse correction is
    * still active after it (always false for the loess fills).
    */
  private[operators] final case class Step(iteration: Int, statistic: Double,
                                           coarseActive: Boolean)

  /** One pass as [[iterate]] runs it: the next state, built lazily, and
    * `read`, called on the materialized state to take the stop statistic
    * and the coarse-active flag from the accumulators the pass filled.
    */
  private final case class Pass(next: Dataset[FillCell],
                                read: Dataset[FillCell] => (Double, Boolean))

  /** The one iteration loop of the fills (the iterate-until-converged
    * shape of reference `fill/gauss_seidel.hpp` and `fill/loess.hpp:
    * 216-250`): while fewer than `maxIterations` passes ran and
    * `continue` holds for the last statistic, build `pass(state, it)`,
    * materialize it with `localCheckpoint` (the pass's accumulators fill
    * during that one job, so reading the statistic costs no second job),
    * read it, and free the superseded state. Returns the final state and
    * one [[Step]] per pass.
    */
  private def iterate(state0: Dataset[FillCell], maxIterations: Int,
                      continue: Double => Boolean)(
      pass: (Dataset[FillCell], Int) => Pass)
      : (Dataset[FillCell], Vector[Step]) = {
    var state = state0
    val trace = Vector.newBuilder[Step]
    var statistic = Double.MaxValue // admits the first pass
    var it = 0
    while (it < maxIterations && continue(statistic)) {
      val p = pass(state, it)
      val next = p.next.localCheckpoint()
      val (s, coarseActive) = p.read(next)
      trace += Step(it, s, coarseActive)
      statistic = s
      // `next` is materialized and the statistic no longer needs the old
      // state: release its blocks now instead of waiting for driver GC
      releaseCheckpoint(state)
      state = next
      it += 1
    }
    (state, trace.result())
  }

  /** The frame every fill runs in: the lattice cells as (ci, cj, z), the
    * lattice size, and `coords`, which maps a final state back to
    * (xCol, yCol, value, filled).
    */
  private final case class Lattice(cells: DataFrame, nx: Int, ny: Int,
                                   coords: Dataset[FillCell] => DataFrame)

  /** Resolves the (at least 2x2) axes of `gridTable` and indexes its
    * cells — the prelude shared by the fills.
    */
  private def lattice(gridTable: DataFrame, xCol: String, yCol: String,
                      valueCol: String, caller: String): Lattice = {
    val Seq(xAxis, yAxis) =
      graft.sources.GridLoader.axesOf(gridTable, Seq(xCol, yCol))
    require(xAxis.size > 1 && yAxis.size > 1,
      s"$caller requires at least 2x2 axes")
    Lattice(indexedCells(gridTable, xCol, yCol, valueCol, xAxis, yAxis),
      xAxis.size, yAxis.size,
      state => withCoords(state.toDF(), xAxis, yAxis, xCol, yCol))
  }

  /** One dense loess smoothing pass over haloed tiles — the shared
    * kernel of [[loessTable]] (progressive mode: smooth cells whose
    * CURRENT value is NaN against the defined neighbors) and
    * [[loessReferenceTable]] (reference-driver mode: smooth the
    * ORIGINAL holes against the previous full state, residual =
    * |change|). The per-cell window loop over the tile's [[Window]] —
    * identical accumulation order to `core.Fill.loess`, reference
    * frame_index mapping, tricube of the MAPPED index difference — reads
    * neighbors by index arithmetic. Per-task memory stays
    * O((blockSize + 2*window)^2).
    */
  private def loessPass(state: Dataset[FillCell], b: Int, wx: Int,
                        wy: Int, nx: Int, ny: Int, perX: Boolean,
                        referenceMode: Boolean,
                        resAcc: MaxAccumulator = null,
                        holeAcc: org.apache.spark.util.LongAccumulator = null)
      : Dataset[FillCell] =
    perTile(state, b, wx, wy, nx, ny, perX, keepOverlap = false) { win =>
      val xo = win.xo
      val yo = win.yo
      val wxw = win.wxw
      val wyw = win.wyw
      val arr = win.arr
      val home = win.home
      @inline def tricube(d: Double): Double =
        if (d > 1.0) 0.0
        else { val t = 1.0 - d * d * d; t * t * t }
      val nxInv = 1.0 / wx
      val nyInv = 1.0 / wy
      // tricube-weighted window mean at a cell, NaN when the window
      // holds no defined neighbor (the caller keeps the cell as-is)
      def windowAt(ci: Int, cj: Int): Double = {
        var wSum = 0.0
        var wvSum = 0.0
        var oi = -wx
        while (oi <= wx) {
          val wi =
            if (perX) graft.core.GeoMath.floorMod(ci + oi, nx)
            else graft.core.GeoMath.reflectIndex(ci + oi, nx)
          var lx = wi - xo
          if (lx < 0) lx += nx
          else if (lx >= wxw) lx -= nx
          if (lx >= 0 && lx < wxw) {
            val dx = (wi - ci).toDouble * nxInv
            var oj = -wy
            while (oj <= wy) {
              val wj = graft.core.GeoMath.reflectIndex(cj + oj, ny)
              val ly = wj - yo
              if (ly >= 0 && ly < wyw) {
                val zi = arr(lx * wyw + ly)
                if (!zi.isNaN) {
                  val dy = (wj - cj).toDouble * nyInv
                  val w = tricube(math.sqrt(dx * dx + dy * dy))
                  wSum += w
                  wvSum += w * zi
                }
              }
              oj += 1
            }
          }
          oi += 1
        }
        if (wSum != 0.0) wvSum / wSum else Double.NaN
      }
      // emit EAGERLY so the per-pass statistics (max residual / hole
      // count) ride the materialization job through accumulators
      val out = new Array[FillCell](home.length)
      var maxRes = 0.0
      var nHoles = 0L
      var hi = 0
      while (hi < home.length) {
        val c = home(hi)
        val o =
          if (referenceMode) {
            // reference validity split: only ORIGINAL holes
            // re-smooth; every neighbor (holes included) is defined
            // after the first guess, so the whole window contributes
            if (!c.mask) c
            else {
              val v = windowAt(c.ci, c.cj)
              if (!v.isNaN) FillCell(c.ci, c.cj, v, c.mask,
                math.abs(v - c.z))
              else c
            }
          } else {
            if (!c.z.isNaN) c
            else {
              val v = windowAt(c.ci, c.cj)
              if (!v.isNaN) FillCell(c.ci, c.cj, v, c.mask, 0.0) else c
            }
          }
        if (o.res > maxRes) maxRes = o.res
        if (o.z.isNaN) nHoles += 1
        out(hi) = o
        hi += 1
      }
      if (resAcc != null) resAcc.add(maxRes)
      if (holeAcc != null) holeAcc.add(nHoles)
      out.iterator
    }

  /** gridTable: (xCol, yCol, valueCol) rows of a REGULAR complete
    * lattice, NaN (or absent — absent rows are holes too only if the
    * lattice is dense in the table; absent rows are simply not filled)
    * marking holes. Returns (xCol, yCol, value, filled) — `filled` true
    * for relaxed cells.
    */
  def gaussSeidelTable(spark: SparkSession, gridTable: DataFrame,
                       xCol: String, yCol: String, valueCol: String,
                       blockSize: Int = 256, haloWidth: Int = 8,
                       relaxation: Double = 1.0,
                       innerSweeps: Int = 30, maxSuperIterations: Int = 200,
                       epsilon: Double = 1e-6,
                       periodicX: Boolean = false,
                       coarseDamping: Double = 1.0): DataFrame =
    gaussSeidelTraced(spark, gridTable, xCol, yCol, valueCol, blockSize,
      haloWidth, relaxation, innerSweeps, maxSuperIterations, epsilon,
      periodicX, coarseDamping)._1

  /** [[gaussSeidelTable]] with its convergence trace: one [[Step]] per
    * super-iteration (max residual, coarse correction still active).
    */
  private[operators] def gaussSeidelTraced(spark: SparkSession,
      gridTable: DataFrame, xCol: String, yCol: String, valueCol: String,
      blockSize: Int, haloWidth: Int, relaxation: Double, innerSweeps: Int,
      maxSuperIterations: Int, epsilon: Double, periodicX: Boolean,
      coarseDamping: Double): (DataFrame, Vector[Step]) = {
    import spark.implicits._
    require(blockSize >= 2, "blockSize must be >= 2 (mirror neighbors)")
    require(haloWidth >= 1 && haloWidth < blockSize,
      "haloWidth must be in [1, blockSize)")
    val Lattice(cells0, nx, ny, coords) =
      lattice(gridTable, xCol, yCol, valueCol, "gaussSeidelTable")
    val b = blockSize
    val omega = relaxation
    val sweeps = innerSweeps
    val perX = periodicX

    // zonal-average first guess (reference fill/helpers.hpp:29-64): the
    // per-j-band mean of known values, 0 for empty bands
    val bandMean = cells0.groupBy("cj")
      .agg(avg(when(!isnan(col("z")), col("z"))).as("bm"))
    val state0 = cells0.join(bandMean, Seq("cj"))
      .select(col("ci"), col("cj"),
        when(isnan(col("z")), coalesce(col("bm"), lit(0.0)))
          .otherwise(col("z")).as("z"),
        isnan(col("z")).as("mask"), lit(0.0).as("res"))
      .as[FillCell]
      .localCheckpoint()

    val nBlocks = ((nx + b - 1) / b).toLong * ((ny + b - 1) / b)
    var corr: scala.collection.Map[Long, Double] = null
    // below 3 blocks per side the coarse lattice cannot move
    // information faster than one-level RAS (a single halo exchange
    // already crosses the domain in <= 2 supers), so the per-super
    // restriction job + driver collect is pure overhead — skip it
    var coarseActive = coarseDamping > 0.0 && nBlocks >= 9
    var prevResidual = Double.MaxValue
    // coarse restriction resolution (constant across supers): past the
    // driver gate, restrict DISTRIBUTEDLY to super-blocks of sb fine
    // blocks per side first (the second coarse level)
    val sb =
      if (nBlocks <= CoarseDriverGate) 1
      else math.ceil(math.sqrt(nBlocks.toDouble / CoarseDriverGate)).toInt
    val cb = b * sb // cell edge of the coarse blocks `corr` is keyed by
    val (last, trace) = iterate(state0, maxSuperIterations,
        _ > epsilon) { (state, it) =>
      // TWO-LEVEL acceleration: add the coarse correction computed from
      // the previous iteration's block means before relaxing (see
      // [[coarseValueSolve]]); gated away near the fixed point so the
      // endgame — and the converged answer — is pure RAS
      val corrBc =
        if (corr == null || corr.isEmpty) null
        else spark.sparkContext.broadcast(corr)
      val base =
        if (corrBc == null) state
        else state.map { c =>
          if (!c.mask) c
          else {
            val bk = ((c.ci / cb).toLong << 32) | ((c.cj / cb) & 0xFFFFFFFFL)
            val e = corrBc.value.getOrElse(bk, 0.0)
            if (e == 0.0) c else c.copy(z = c.z + e)
          }
        }
      // per-super statistics ride the materialization job itself:
      // the max residual always; the per-block restriction stats
      // whenever the coarse level runs at fine-block resolution
      // (sb == 1 — each block is exactly one group, so put-semantics
      // accumulation is retry-idempotent)
      val resAcc = new MaxAccumulator
      spark.sparkContext.register(resAcc, s"gsRes$it")
      val blockAcc =
        if (coarseActive && sb == 1) {
          val a = new BlockStatsAccumulator
          spark.sparkContext.register(a, s"gsBlocks$it")
          a
        } else null
      val next = perTile(base, b, haloWidth, haloWidth, nx, ny, perX,
          keepOverlap = true) { win =>
        // DENSE in-task sweep over the tile's window: every relaxable
        // cell precomputes its write slots (periodic wrap can place one
        // global cell at two window offsets) and 4 neighbor slots
        // (global mirror/wrap applied once) — the hot red-black loop is
        // then pure array arithmetic, ~50x cheaper per cell-sweep than
        // per-neighbor hash lookups, which is what makes
        // generous-inner-sweep/few-super configurations pay off
        val yo = win.yo
        val wyw = win.wyw
        val arr = win.arr
        val home = win.home
        val xsBuf = new Array[Int](3)
        // one representative slot of a MIRRORED/WRAPPED global coord
        def slotOf(i0: Int, j0: Int): Int = {
          var i = i0
          if (i < 0) i = if (perX) nx - 1 else 1
          else if (i > nx - 1) i = if (perX) 0 else nx - 2
          val j = if (j0 < 0) 1 else if (j0 > ny - 1) ny - 2 else j0
          val ly = j - yo
          if (ly < 0 || ly >= wyw) return -1
          if (win.xSlots(i, xsBuf) == 0) -1 else xsBuf(0) * wyw + ly
        }
        // relax masked HOME cells and masked OVERLAP cells (RAS: the
        // overlap relaxes for convergence, only home is emitted); the
        // outermost overlap ring self-skips via its missing neighbors
        val relaxable = (home.filter(_.mask) ++ win.overlap).toArray
        val rn = relaxable.length
        val wr1 = new Array[Int](rn); val wr2 = new Array[Int](rn)
        val wr3 = new Array[Int](rn)
        val nb = new Array[Int](rn * 4)
        val color = new Array[Int](rn)
        var m = 0
        while (m < rn) {
          val c = relaxable(m)
          val n = win.xSlots(c.ci, xsBuf)
          val ly = c.cj - yo
          wr1(m) = if (n > 0) xsBuf(0) * wyw + ly else -1
          wr2(m) = if (n > 1) xsBuf(1) * wyw + ly else -1
          wr3(m) = if (n > 2) xsBuf(2) * wyw + ly else -1
          nb(m * 4) = slotOf(c.ci - 1, c.cj)
          nb(m * 4 + 1) = slotOf(c.ci + 1, c.cj)
          nb(m * 4 + 2) = slotOf(c.ci, c.cj - 1)
          nb(m * 4 + 3) = slotOf(c.ci, c.cj + 1)
          color(m) = (c.ci + c.cj) % 2
          m += 1
        }
        var s = 0
        while (s < sweeps) {
          var rb = 0
          while (rb < 2) {
            var m2 = 0
            while (m2 < rn) {
              if (color(m2) == rb && wr1(m2) >= 0) {
                val s1 = nb(m2 * 4); val s2 = nb(m2 * 4 + 1)
                val s3 = nb(m2 * 4 + 2); val s4 = nb(m2 * 4 + 3)
                if (s1 >= 0 && s2 >= 0 && s3 >= 0 && s4 >= 0) {
                  val n1 = arr(s1); val n2 = arr(s2)
                  val n3 = arr(s3); val n4 = arr(s4)
                  // a missing neighbor (sparse table) leaves the cell
                  // as-is — NaN slots stay NaN forever, so the check
                  // is one comparison on the summed stencil
                  val sum = n1 + n2 + n3 + n4
                  if (!sum.isNaN) {
                    val cur = arr(wr1(m2))
                    val nv = cur + (0.25 * sum - cur) * omega
                    arr(wr1(m2)) = nv
                    if (wr2(m2) >= 0) arr(wr2(m2)) = nv
                    if (wr3(m2) >= 0) arr(wr3(m2)) = nv
                  }
                }
              }
              m2 += 1
            }
            rb += 1
          }
          s += 1
        }
        // residual = change over the WHOLE outer iteration (c.z is the
        // incoming state): the last inner-sweep delta only measures
        // LOCAL halo-fixed convergence and stalls long before the
        // global fixed point. Emit EAGERLY so the residual and the
        // block restriction stats ride this job through the
        // accumulators.
        val out = new Array[FillCell](home.length)
        var maxRes = 0.0
        var zSum = 0.0
        var known = 0
        var hi = 0
        while (hi < home.length) {
          val c = home(hi)
          val ly = c.cj - yo
          val n = win.xSlots(c.ci, xsBuf)
          val z = if (n > 0 && ly >= 0 && ly < wyw)
            arr(xsBuf(0) * wyw + ly) else c.z
          val res = if (c.mask) math.abs(z - c.z) else 0.0
          if (res > maxRes) maxRes = res
          zSum += z
          if (!c.mask) known = 1
          out(hi) = FillCell(c.ci, c.cj, z, c.mask, res)
          hi += 1
        }
        resAcc.add(maxRes)
        // halo-only groups (a cell-less block receiving neighbors'
        // halo rows on a sparse table) must NOT contribute a
        // restriction row: 0/0 would poison the coarse solve with a
        // NaN "free" block where the documented contract is
        // "blocks with no cells contribute 0 to their neighbors"
        if (blockAcc != null && home.nonEmpty)
          blockAcc.add((win.gk, zSum, home.length.toLong, known))
        out.iterator
      }
      Pass(next, { materialized =>
        // the residual is free every super (it rode the checkpoint job);
        // the coarse retirement cadence stays FOUR supers — the 2x
        // criterion is calibrated on 4-super windows, and judging it per
        // super retires the accelerator mid-climb: while it carries the
        // global error the residual drops geometrically (measured ≥ 2×
        // per 4-super window); once progress flattens, what is left is
        // the coarse/fine discretization gap, which corrections would
        // re-inject forever and stall the residual ABOVE epsilon (the
        // endgame belongs to pure RAS, whose remaining error is local).
        // Also retire near the fixed point outright.
        val residual = resAcc.value
        if (it % 4 == 0 || it == maxSuperIterations - 1) {
          if (coarseActive &&
              (residual <= 100.0 * epsilon || residual > 0.5 * prevResidual))
            coarseActive = false
          prevResidual = residual
        }
        // restrict the current block means and solve the coarse
        // companion problem for the next iteration's correction. At
        // sb == 1 the restriction stats were already gathered by the
        // accumulator (no extra job); past [[CoarseDriverGate]] the
        // restriction coarsens DISTRIBUTEDLY to super-blocks of
        // sb·blockSize cells first (the second coarse level), so the
        // driver never holds more than the gate — the correction is
        // then applied at super-block resolution, which still carries
        // the global (smooth) error the fine sweeps can't, and the
        // self-retiring gate keeps the endgame pure RAS either way
        corr =
          if (!coarseActive) null
          else {
            val stats =
              if (sb == 1) blockAcc.value.iterator.map {
                case (k, (sum, cnt, kn)) =>
                  ((k >> 32).toInt, k.toInt, sum / cnt, kn)
              }.toArray
              else materialized.toDF()
                .groupBy((col("ci") / cb).cast("int").as("bi"),
                  (col("cj") / cb).cast("int").as("bj"))
                .agg(avg(col("z")).as("v"),
                  max(when(col("mask"), 0).otherwise(1)).as("hasKnown"))
                .collect()
                .map(r =>
                  (r.getInt(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
            coarseValueSolve(stats, (nx + cb - 1) / cb, (ny + cb - 1) / cb,
              perX).map { case (k, v) => k -> v * coarseDamping }
          }
        if (corrBc != null) corrBc.destroy()
        (residual, coarseActive)
      })
    }
    (coords(last), trace)
  }

  /** Distributed `fill.loess` (reference `fill/loess.hpp` semantics —
    * tricube-weighted window mean over defined cells, iterated until no
    * hole remains) for lattices held as tables. Window halos of exactly
    * (nx, ny) cells are exchanged per pass, and the in-core weight loop
    * is mirrored verbatim per cell — including the reference
    * `frame_index` boundary convention (`fill/helpers.hpp:79-110`):
    * non-periodic edges REFLECT (-1 -> 1, so edge windows revisit
    * interior cells, possibly twice), periodic x wraps modulo, and
    * tricube distances use the MAPPED index difference (cross-seam
    * periodic neighbors land at distance > 1 and weigh 0). Cells filled
    * in pass k are defined sources in pass k+1, so passes ≈ hole
    * radius / window.
    */
  def loessTable(spark: SparkSession, gridTable: DataFrame,
                 xCol: String, yCol: String, valueCol: String,
                 nxWin: Int = 3, nyWin: Int = 3, blockSize: Int = 256,
                 maxIterations: Int = 10,
                 periodicX: Boolean = false): DataFrame =
    loessTraced(spark, gridTable, xCol, yCol, valueCol, nxWin, nyWin,
      blockSize, None, maxIterations, 0.0, periodicX)._1

  /** Distributed REFERENCE-PARITY iterative loess (`fill/loess.hpp:
    * 216-250` driver semantics, the table-scale twin of
    * `core.Fill.loessReference`): every hole is first-guessed at once —
    * "zonal_average" is the loess driver's GLOBAL mean of all defined
    * values (`loess.hpp:141-152`), "zero" is 0 — then each pass
    * re-smooths the ORIGINAL holes against the previous full (NaN-free)
    * state, until max |change| < epsilon or maxIterations. Differs from
    * the progressive [[loessTable]] (holes fill outward, no first-guess
    * bias); single-pass (`maxIterations == 1`) mirrors the reference's
    * raw-smoothing branch, which is one [[loessTable]] pass. An unknown
    * `firstGuess` fails before any Spark job runs.
    *
    * Same distributed shape as [[loessTable]]: per pass, one halo
    * shuffle of window-wide tile borders + an in-core tricube loop per
    * tile (accumulation order identical to the in-core kernel); the max
    * |change| for the epsilon stop rides that pass's checkpoint job
    * through an accumulator — per-pass cost is O(perimeter) shuffle,
    * not area, and superseded checkpoints are freed eagerly. For
    * isolated holes the fixed point is the self-excluded tricube mean
    * S/W of the window's defined cells (update v' = (S + v)/(W + 1)),
    * which the driver oracle checks in closed form.
    */
  def loessReferenceTable(spark: SparkSession, gridTable: DataFrame,
                          xCol: String, yCol: String, valueCol: String,
                          nxWin: Int = 3, nyWin: Int = 3,
                          blockSize: Int = 256,
                          firstGuess: String = "zonal_average",
                          maxIterations: Int = 10, epsilon: Double = 1e-6,
                          periodicX: Boolean = false): DataFrame =
    loessTraced(spark, gridTable, xCol, yCol, valueCol, nxWin, nyWin,
      blockSize, Some(firstGuess), maxIterations, epsilon, periodicX)._1

  /** The one loess body of [[loessTable]] (`firstGuess` None) and
    * [[loessReferenceTable]], with its convergence trace: one [[Step]]
    * per pass (hole count left, or max |change| in reference mode).
    */
  private[operators] def loessTraced(spark: SparkSession,
      gridTable: DataFrame, xCol: String, yCol: String, valueCol: String,
      nxWin: Int, nyWin: Int, blockSize: Int, firstGuess: Option[String],
      maxIterations: Int, epsilon: Double, periodicX: Boolean)
      : (DataFrame, Vector[Step]) = {
    import spark.implicits._
    firstGuess.foreach(graft.core.Fill.checkFirstGuess)
    // a single reference pass is the raw progressive pass
    // (`loess.hpp:221-225`): no first guess
    val guess = firstGuess.filter(_ => maxIterations != 1)
    require(blockSize > math.max(nxWin, nyWin),
      "blockSize must exceed the window half-size")
    val Lattice(cells0, nx, ny, coords) = lattice(gridTable, xCol, yCol,
      valueCol, if (guess.isEmpty) "loessTable" else "loessReferenceTable")
    val z = guess.fold(col("z")) { fg =>
      val fillValue =
        if (fg == "zero") 0.0
        else {
          // the loess driver's zonal average is GLOBAL (one scalar), so a
          // single tiny agg job — not a per-band join like gauss_seidel's
          val r = cells0.agg(
            avg(when(!isnan(col("z")), col("z"))).as("m")).head()
          if (r.isNullAt(0)) 0.0 else r.getDouble(0)
        }
      when(isnan(col("z")), lit(fillValue)).otherwise(col("z"))
    }
    val state0 = cells0.select(col("ci"), col("cj"), z.as("z"),
        isnan(col("z")).as("mask"), lit(0.0).as("res"))
      .as[FillCell]
      .localCheckpoint()
    val reference = guess.isDefined
    // progressive: stop once no hole is left (a retry-overcounted hole
    // count only costs one identity pass); reference: stop once the max
    // |change| drops under epsilon (max is retry-idempotent)
    val (last, trace) = iterate(state0, maxIterations,
        if (reference) _ >= epsilon else _ > 0) { (state, it) =>
      if (reference) {
        val resAcc = new MaxAccumulator
        spark.sparkContext.register(resAcc, s"loessRes$it")
        Pass(loessPass(state, blockSize, nxWin, nyWin, nx, ny, periodicX,
          referenceMode = true, resAcc = resAcc), _ => (resAcc.value, false))
      } else {
        val holeAcc = spark.sparkContext.longAccumulator(s"loessHoles$it")
        Pass(loessPass(state, blockSize, nxWin, nyWin, nx, ny, periodicX,
            referenceMode = false, holeAcc = holeAcc),
          _ => (holeAcc.value.toDouble, false))
      }
    }
    (coords(last), trace)
  }
}
