package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GeoHash

/** The flagship job: H3-style spatial join + bicubic resample of decoded
  * image rasters onto regular per-cell tile grids, with Binning2D-style
  * mean/count aggregation per tile pixel — the `tiles/sec` metric of
  * `BASELINE.json`.
  *
  * Dataflow (2 stages, 1 shuffle):
  *
  *   images ── decode ── footprint->cell cover ──┐ (narrow)
  *                                               │ kernel-local combine,
  *                                               ▼ packed partial tiles
  *                               mapGroups(cell) ── merge partial tiles
  *                                               ▼ (single shuffle of
  *                                               covered-pixel records;
  *                                               the kernel-local map is
  *                                               the map-side combine ≙
  *                                               the reference's dask
  *                                               block-merge `+=`)
  *                                  tiles table ── parquet + manifest
  *
  * The per-pixel accumulation is exactly Binning2D-simple (count/sum per
  * bin, `pybind/binning.hpp:257-274`); the resample kernel is
  * [[graft.core.DenseBicubicWorkspace]], the whole-image natural-spline
  * bicubic (`math/interpolate/bivariate/bicubic.hpp`): one spline
  * factorization per axis and one Hermite coefficient table per image,
  * evaluated at tile pixels bracketed once per tile row and column;
  * pixels outside the image footprint are skipped. Hot cells (dense
  * imagery) are absorbed by map-side combine: partial tiles merge before
  * the shuffle, so reducer skew is bounded by distinct cells, not images.
  *
  * Resumability: each run writes an Iceberg-snapshot-style manifest
  * (`manifest.json`: snapshot id = hash of inputs/params, per-partition
  * row counts + latency) atomically, as a temp file renamed into place; a
  * rerun with the same snapshot id short-circuits and reloads the parquet.
  */
object TilePipeline {

  /** One merged tile: per-pixel mean and count arrays (row-major, tileSize
    * squared), plus per-tile provenance (image count).
    */
  case class Tile(cell: Long, n_images: Int, sums: Array[Float],
                  counts: Array[Int])

  case class TileOut(cell: Long, lon_min: Double, lat_min: Double,
                     lon_max: Double, lat_max: Double, n_images: Int,
                     mean: Array[Double], count: Array[Int])

  /** Per-task resampling kernel: all image-sized scratch (decode target,
    * transposed value grid, bicubic derivative matrices and coefficient
    * table, spline solver workspaces) is allocated once per (w, h) and
    * the tile-row/column bracket scratch once per task, then reused
    * across every image the task processes — the per-thread kernel state
    * of the reference's `parallel_for` workers, and the main defense
    * against allocation-bandwidth limits at 32 concurrent tasks. The only
    * steady-state allocation per image is the emitted partial tiles.
    */
  final class TileResampler(precision: Int, tileSize: Int, method: String)
      extends Serializable {
    @transient private var ws: graft.core.DenseBicubicWorkspace = _
    @transient private var values: Array[Double] = _
    @transient private var xs: Array[Double] = _
    @transient private var ys: Array[Double] = _
    @transient private var wsW = -1
    @transient private var wsH = -1
    @transient private lazy val cols = new AxisBrackets(tileSize)
    @transient private lazy val rows = new AxisBrackets(tileSize)
    private val useBicubic = method == "bicubic"

    /** Brackets the tile pixel centres `origin + (k + 0.5) * step` that
      * fall inside the image's [lo, hi] along one axis; the centres are
      * monotone in k, so the in-range pixels are the run [first, end).
      */
    private def bracket(b: AxisBrackets, origin: Double, step: Double,
                        lo: Double, hi: Double, alongX: Boolean): Unit = {
      b.first = tileSize
      b.end = 0
      var k = 0
      while (k < tileSize) {
        val p = origin + (k + 0.5) * step
        if (p >= lo && p <= hi) {
          if (k < b.first) b.first = k
          b.end = k + 1
          val c = if (alongX) ws.cellX(p) else ws.cellY(p)
          val f = if (alongX) ws.fracX(c, p) else ws.fracY(c, p)
          val f2 = f * f
          b.cell(k) = c
          b.pow(3 * k) = f
          b.pow(3 * k + 1) = f2
          b.pow(3 * k + 2) = f2 * f
        }
        k += 1
      }
    }

    def process(row: ImageRow): Iterator[Tile] = {
      val (pixels, w, h) = ImageCodec.decode(row.bytes)
      if (w != wsW || h != wsH) {
        ws = new graft.core.DenseBicubicWorkspace(w, h)
        values = new Array[Double](w * h)
        xs = new Array[Double](w)
        ys = new Array[Double](h)
        wsW = w
        wsH = h
      }
      val stepX = ImageTableGen.FootprintDeg / (w - 1)
      val stepY = ImageTableGen.FootprintDeg / (h - 1)
      var i = 0
      while (i < w) { xs(i) = row.lon + stepX * i; i += 1 }
      var j = 0
      while (j < h) { ys(j) = row.lat + stepY * j; j += 1 }
      // transpose row-major pixels into the x-major value grid
      var c = 0
      while (c < w) {
        var r = 0
        while (r < h) {
          values(c * h + r) = pixels(r * w + c).toDouble
          r += 1
        }
        c += 1
      }
      // bilinear reads only the values: skip the spline solves and the
      // coefficient table
      if (useBicubic) ws.load(xs, ys, values) else ws.loadValues(xs, ys, values)
      val xMin = xs(0); val xMax = xs(w - 1)
      val yMin = ys(0); val yMax = ys(h - 1)
      val cells = GeoHash.coverBox(row.lon, row.lat,
        row.lon + ImageTableGen.FootprintDeg,
        row.lat + ImageTableGen.FootprintDeg, precision)
      val localWs = ws
      cells.iterator.flatMap { cell =>
        val (cx0, cy0, cx1, cy1) = GeoHash.boundingBox(cell, precision)
        bracket(cols, cx0, (cx1 - cx0) / tileSize, xMin, xMax, alongX = true)
        bracket(rows, cy0, (cy1 - cy0) / tileSize, yMin, yMax, alongX = false)
        val colT = cols.pow
        val rowU = rows.pow
        // float sums halve the shuffle payload; <=thousands of [0,1]
        // contributions per pixel keep the mean within ~1e-5 (PSNR 40dB)
        val sums = new Array[Float](tileSize * tileSize)
        val counts = new Array[Int](tileSize * tileSize)
        var any = false
        var jj = rows.first
        while (jj < rows.end) {
          val j0 = rows.cell(jj)
          val u = rowU(3 * jj); val u2 = rowU(3 * jj + 1)
          val u3 = rowU(3 * jj + 2)
          var ii = cols.first
          while (ii < cols.end) {
            val i0 = cols.cell(ii)
            val t = colT(3 * ii)
            val v = if (useBicubic) localWs.bicubicAt(i0, j0, t,
                colT(3 * ii + 1), colT(3 * ii + 2), u, u2, u3)
              else localWs.bilinearAt(i0, j0, t, u)
            if (!v.isNaN) {
              val k = jj * tileSize + ii
              sums(k) += v.toFloat
              counts(k) += 1
              any = true
            }
            ii += 1
          }
          jj += 1
        }
        if (any) Iterator.single(Tile(cell, 1, sums, counts))
        else Iterator.empty
      }
    }
  }

  /** Cell index and (f, f², f³) of each tile pixel centre along one axis
    * of the image grid, for the in-image run [first, end) of pixels.
    */
  private final class AxisBrackets(n: Int) {
    val cell = new Array[Int](n)
    val pow = new Array[Double](3 * n)
    var first = 0
    var end = 0
  }

  /** One-shot form (tests / ad-hoc): see [[TileResampler]] for the
    * partition-reused kernel the pipeline runs.
    */
  def partialTiles(row: ImageRow, precision: Int, tileSize: Int,
                   method: String): Iterator[Tile] =
    new TileResampler(precision, tileSize, method).process(row)

  def mergeTiles(a: Tile, b: Tile): Tile = {
    val n = a.sums.length
    var i = 0
    while (i < n) {
      a.sums(i) += b.sums(i)
      a.counts(i) += b.counts(i)
      i += 1
    }
    Tile(a.cell, a.n_images + b.n_images, a.sums, a.counts)
  }

  /** COMPACT shuffle record of one (locally combined) partial tile:
    * only covered pixels ride the merge shuffle, as (varint index gap,
    * varint count, float32 sum) triples. An edge partial covers a
    * fraction of its tile and even a full interior partial shrinks from
    * 8 KB of dense sums+counts to 6 B per covered pixel — measured
    * ~2.5-3x fewer shuffle bytes before compression on the flagship,
    * and one byte-array write replaces two 1k-element array encodings
    * per row (guide §2.3: shuffle fewer bytes; the merge result is
    * identical — same (count, sum) pairs, reassembled densely on the
    * reduce side).
    */
  private[pipeline] final case class PackedTile(cell: Long, n_images: Int,
                                                data: Array[Byte])

  private[pipeline] def packTile(t: Tile): PackedTile = {
    val n = t.sums.length
    val buf = new Array[Byte](n * 11) // worst case: gap2 + count5 + 4
    var pos = 0
    def varint(v0: Int): Unit = {
      var v = v0
      while ((v & ~0x7F) != 0) {
        buf(pos) = ((v & 0x7F) | 0x80).toByte; pos += 1; v >>>= 7
      }
      buf(pos) = v.toByte; pos += 1
    }
    var prev = -1
    var k = 0
    while (k < n) {
      val c = t.counts(k)
      if (c > 0) {
        varint(k - prev); prev = k
        varint(c)
        val bits = java.lang.Float.floatToRawIntBits(t.sums(k))
        buf(pos) = bits.toByte
        buf(pos + 1) = (bits >> 8).toByte
        buf(pos + 2) = (bits >> 16).toByte
        buf(pos + 3) = (bits >> 24).toByte
        pos += 4
      }
      k += 1
    }
    PackedTile(t.cell, t.n_images, java.util.Arrays.copyOf(buf, pos))
  }

  /** Accumulate a packed partial into dense (sums, counts). */
  private[pipeline] def unpackInto(p: PackedTile, sums: Array[Float],
                                   counts: Array[Int]): Unit = {
    val d = p.data
    var pos = 0
    var k = -1
    while (pos < d.length) {
      var shift = 0
      var gap = 0
      var b = 0
      do {
        b = d(pos); pos += 1
        gap |= (b & 0x7F) << shift; shift += 7
      } while ((b & 0x80) != 0)
      k += gap
      shift = 0
      var c = 0
      do {
        b = d(pos); pos += 1
        c |= (b & 0x7F) << shift; shift += 7
      } while ((b & 0x80) != 0)
      val bits = (d(pos) & 0xFF) | ((d(pos + 1) & 0xFF) << 8) |
        ((d(pos + 2) & 0xFF) << 16) | ((d(pos + 3) & 0xFF) << 24)
      pos += 4
      sums(k) += java.lang.Float.intBitsToFloat(bits)
      counts(k) += c
    }
  }

  /** Full tile computation (no I/O): images -> merged tiles.
    *
    * `spatialPartition` co-locates images by the cell of their anchor
    * point BEFORE resampling, so the map-side combine collapses partial
    * tiles locally and the merge shuffle carries ~1 row per cell instead
    * of ~1 per (image x cell). That trade wins when the input is a real
    * scan (images read from storage, shuffle-bytes-bound cluster); for
    * the in-memory synthetic bench the extra exchange costs more than it
    * saves, so it defaults off and the final tile table is instead
    * range-partitioned at write time (see [[run]]).
    */
  def tiles(spark: SparkSession, images: Dataset[ImageRow], precision: Int,
            tileSize: Int, method: String = "bicubic",
            spatialPartition: Boolean = false,
            maxLocalCells: Int = 50000): Dataset[TileOut] = {
    import spark.implicits._
    val prec = precision
    val ts = tileSize
    val m = method
    // hash partitioning on a COARSENED cell id (precision - 6 ≙ 8x8-cell
    // neighborhoods; not range: RangePartitioner's sampling pass would
    // evaluate the synthesis/scan twice). An image's cover cells are its
    // 3x3-ish neighborhood, so neighborhood co-location is what lets the
    // map-side combine collapse the ~10 contributors per output cell
    // BEFORE the merge shuffle — same-fine-cell co-location collapses
    // nothing at ~1 image/cell densities. Coarse enough blocks would
    // recreate hot-cell skew (the 20% hot box), so 6 bits ≈ 64-cell
    // blocks keeps the largest block a small multiple of the mean.
    val placed =
      if (spatialPartition)
        images.repartition(
          graft.functions.gf.geohash_encode(col("lon"), col("lat"),
            math.max(2, prec - 6)))
          .as[ImageRow]
      else images
    placed
      .mapPartitions { iter =>
        // KERNEL-LOCAL COMBINE (r3): since the cover fix each image emits
        // ~9 partial tiles (~72 KB) — flatMap churned that straight into
        // the shuffle writer and allocation rate became the scaling
        // bottleneck (measured N→4N efficiency 0.65-0.77 before, ~0.84
        // after). Partials merge into a per-task map (mergeTiles mutates
        // in place; the returned tile carries the n_images sum) which is
        // DRAINED INTO THE OUTPUT STREAM whenever it exceeds the cell
        // cap — bounded memory for arbitrarily large or skewed
        // partitions, degrading gracefully to partial combine. Drained
        // tiles are PACKED to covered-pixels-only records (r7): this
        // kernel-local map is where the real map-side combining happens
        // (each task's cells merge here until the cap), so the merge
        // shuffle rows can be compact bytes instead of dense arrays.
        val kernel = new TileResampler(prec, ts, m)
        val acc = new java.util.HashMap[java.lang.Long, Tile]()
        def drain(): Iterator[PackedTile] = {
          val out = new java.util.ArrayList[Tile](acc.values)
          acc.clear()
          scala.jdk.CollectionConverters.ListHasAsScala(out).asScala
            .iterator.map(packTile)
        }
        new Iterator[PackedTile] {
          private var pending: Iterator[PackedTile] = Iterator.empty
          private def refill(): Unit = {
            while (!pending.hasNext && iter.hasNext) {
              while (iter.hasNext && acc.size <= maxLocalCells) {
                kernel.process(iter.next()).foreach { t =>
                  val prev = acc.get(t.cell)
                  if (prev == null) acc.put(t.cell, t)
                  else acc.put(t.cell, mergeTiles(prev, t))
                }
              }
              if (acc.size > maxLocalCells || !iter.hasNext) pending = drain()
            }
            if (!pending.hasNext && !acc.isEmpty) pending = drain()
          }
          def hasNext: Boolean = { refill(); pending.hasNext }
          def next(): PackedTile = { refill(); pending.next() }
        }
      }
      .groupByKey(_.cell)
      .mapGroups { (cell, parts) =>
        // dense reassembly per output cell (the reduce side of the merge
        // shuffle): same (count, sum) accumulation as mergeTiles, fused
        // with the mean/bbox projection that used to be a separate map
        val sums = new Array[Float](ts * ts)
        val counts = new Array[Int](ts * ts)
        var nImages = 0
        parts.foreach { p =>
          nImages += p.n_images
          unpackInto(p, sums, counts)
        }
        val (x0, y0, x1, y1) = GeoHash.boundingBox(cell, prec)
        val mean = new Array[Double](sums.length)
        var i = 0
        while (i < mean.length) {
          mean(i) = if (counts(i) > 0) sums(i) / counts(i) else Double.NaN
          i += 1
        }
        TileOut(cell, x0, y0, x1, y1, nImages, mean, counts)
      }
  }

  /** Fill NaN holes in merged tiles (pixels no image covered) with a
    * tile-local solver — the pipeline face of §2.6: "loess" (tri-cube
    * window, `fill/loess.hpp`), "gauss_seidel" (`fill/gauss_seidel.hpp`)
    * or "matrix" (row-wise linear, `fill/matrix.hpp`). Pure map stage —
    * tiles carry their own halo-free windows.
    */
  def fillTiles(tiles: Dataset[TileOut], tileSize: Int,
                method: String = "loess"): Dataset[TileOut] = {
    tiles.map { t =>
      val filled = method match {
        case "loess" =>
          graft.core.Fill.loessIterative(t.mean, tileSize, tileSize, 3, 3)._1
        case "gauss_seidel" =>
          graft.core.Fill.gaussSeidel(t.mean, tileSize, tileSize)._1
        case "matrix" =>
          graft.core.Fill.matrixRows(t.mean, tileSize, tileSize)
        case other => throw new IllegalArgumentException(s"fill $other")
      }
      t.copy(mean = filled)
    }(org.apache.spark.sql.Encoders.product[TileOut])
  }

  /** Snapshot id: stable hash of the run parameters. */
  def snapshotId(nImages: Long, size: Int, precision: Int, tileSize: Int,
                 method: String): String =
    java.lang.Long.toHexString(ImageTableGen.phashOf(
      s"tiles:$nImages:$size:$precision:$tileSize:$method"))

  /** Run with checkpoint/resume + manifest. Returns (tiles read or
    * computed, tilesPerSec or -1 when resumed).
    */
  def run(spark: SparkSession, nImages: Long, imageSize: Int, precision: Int,
          tileSize: Int, method: String, outDir: String,
          partitions: Int = 0): (DataFrame, Double) = {
    import spark.implicits._
    val snap = snapshotId(nImages, imageSize, precision, tileSize, method)
    val snapDir = s"$outDir/snapshot-$snap"
    val manifestPath = new org.apache.hadoop.fs.Path(s"$snapDir/manifest.json")
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(manifestPath)) {
      // resume: snapshot already materialized
      return (spark.read.parquet(s"$snapDir/tiles"), -1.0)
    }
    val t0 = System.nanoTime()
    val images = ImageTableGen.generate(spark, nImages, imageSize,
      partitions = partitions)
    val result = tiles(spark, images, precision, tileSize, method)
    // explicit range partitioning on the cell id (north-star requirement):
    // tiles land spatially clustered so a reader's cell-range predicate
    // prunes whole files (PartitioningAwareFileIndex)
    result.repartitionByRange(col("cell"))
      .write.mode(SaveMode.Overwrite).parquet(s"$snapDir/tiles")
    val elapsed = (System.nanoTime() - t0) / 1e9
    val df = spark.read.parquet(s"$snapDir/tiles")
    val nTiles = df.count()
    // per-partition lineage metrics for the manifest
    val partStats = df.groupBy(spark_partition_id().as("partition"))
      .agg(count("*").as("rows")).collect()
      .map(r => s"""{"partition":${r.getInt(0)},"rows":${r.getLong(1)}}""")
      .mkString("[", ",", "]")
    val manifest =
      s"""{"snapshot":"$snap","n_images":$nImages,"image_size":$imageSize,
         |"precision":$precision,"tile_size":$tileSize,"method":"$method",
         |"n_tiles":$nTiles,"elapsed_sec":$elapsed,
         |"tiles_per_sec":${nTiles / elapsed},
         |"partitions":$partStats}""".stripMargin.replace("\n", "")
    // write-then-rename: a run killed mid-write leaves only the temp
    // file, which the resume check above ignores
    val tmpPath = new org.apache.hadoop.fs.Path(s"$snapDir/manifest.json.tmp")
    val out = fs.create(tmpPath, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmpPath, manifestPath))
      throw new java.io.IOException(s"cannot rename $tmpPath to $manifestPath")
    (df, nTiles / elapsed)
  }
}
