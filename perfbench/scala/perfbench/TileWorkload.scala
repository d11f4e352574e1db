package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{ImageRow, ImageTableGen, TilePipeline}

object Images {
  val Precision = 20
  val TileSize = 32
  val ImageSize = 32
  val JpegFrac = 0.1

  /** Writes images `first until first + n` (the generator's own hot cluster
    * included) as parquet.
    */
  def write(spark: SparkSession, first: Long, n: Int, dir: String): Unit = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism * 2
    spark.range(first, first + n, 1, parts)
      .map(i => ImageTableGen.makeRow(i, ImageSize, JpegFrac))
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  def read(spark: SparkSession, dir: String): Dataset[ImageRow] = {
    import spark.implicits._
    spark.read.parquet(dir).as[ImageRow]
  }
}

/** Tile totals recomputed image by image with `TilePipeline.partialTiles`,
  * bypassing the pipeline's combine, pack and merge. Cells picked by a
  * seeded hash keep their summed pixels for the PSNR check.
  */
final class TileReference(rows: Array[ImageRow], seed: Long) {
  val nImages = mutable.HashMap[Long, Int]()
  val sums = mutable.HashMap[Long, Array[Double]]()
  val counts = mutable.HashMap[Long, Array[Long]]()
  var partials = 0L
  var pixels = 0L

  def sampled(cell: Long): Boolean = {
    var z = cell ^ (seed * 0x9e3779b97f4a7c15L)
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = z ^ (z >>> 33)
    (z & 63) == 0
  }

  rows.foreach { r =>
    TilePipeline.partialTiles(r, Images.Precision, Images.TileSize, "bicubic")
      .foreach { t =>
        partials += 1
        nImages(t.cell) = nImages.getOrElse(t.cell, 0) + 1
        var k = 0
        while (k < t.counts.length) { pixels += t.counts(k); k += 1 }
        if (sampled(t.cell)) {
          val s = sums.getOrElseUpdate(t.cell, new Array[Double](t.sums.length))
          val c = counts.getOrElseUpdate(t.cell, new Array[Long](t.counts.length))
          k = 0
          while (k < s.length) { s(k) += t.sums(k); c(k) += t.counts(k); k += 1 }
        }
      }
  }

  def tiles: Long = nImages.size.toLong
  def imageSum: Long = partials

  /** Compares a pipeline tile table with this reference. */
  def verify(ctx: Ctx, name: String, result: Dataset[TilePipeline.TileOut]): Unit = {
    val out = result.persist()
    val agg = out.toDF().selectExpr("count(*)", "sum(n_images)",
      "sum(aggregate(count, 0L, (a, x) -> a + x))").head()
    ctx.check(s"$name.tiles", agg.getLong(0) == tiles,
      s"${agg.getLong(0)} tiles, reference $tiles")
    ctx.check(s"$name.n_images", agg.getLong(1) == imageSum,
      s"sum n_images ${agg.getLong(1)}, reference $imageSum")
    ctx.check(s"$name.pixels", agg.getLong(2) == pixels,
      s"sum pixel counts ${agg.getLong(2)}, reference $pixels")
    val cells = sums.keys.toSeq
    val got = out.toDF().filter(col("cell").isin(cells: _*))
      .select("cell", "mean", "count").collect()
    ctx.check(s"$name.sampled_cells", got.length == cells.size,
      s"${got.length} of ${cells.size} sampled cells present")
    var se = 0.0
    var n = 0L
    var countsOk = true
    got.foreach { r =>
      val cell = r.getLong(0)
      val mean = r.getSeq[Double](1)
      val cnt = r.getSeq[Int](2)
      val s = sums(cell)
      val c = counts(cell)
      var k = 0
      while (k < s.length) {
        if (cnt(k) != c(k)) countsOk = false
        if (c(k) > 0) {
          val d = mean(k) - s(k) / c(k)
          se += d * d
          n += 1
        }
        k += 1
      }
    }
    ctx.check(s"$name.sampled_counts", countsOk, "per-pixel counts differ")
    val psnr = if (n == 0) Double.NaN
      else if (se == 0.0) Double.PositiveInfinity
      else 10 * math.log10(1.0 / (se / n))
    ctx.check(s"$name.psnr", psnr >= 40.0, s"PSNR $psnr dB over $n pixels")
    out.unpersist()
  }
}

/** `tile`: the flagship tile job over an image table stored as parquet. */
final class TileWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val n = if (ctx.opts.tiny) 300 else 5000
  private val firstId = ctx.opts.seed * 10000000L
  private val imagesDir = ctx.dir("images")
  private var reference: TileReference = _

  def setup(): Unit = Images.write(spark, firstId, n, imagesDir)

  private def tiles(s: OpScope): Long = {
    val ds = s.construct(TilePipeline.tiles(spark, Images.read(spark, imagesDir),
      Images.Precision, Images.TileSize, "bicubic"))
    s.action(ds.count())
  }

  def gate(): Unit = {
    reference = new TileReference(Images.read(spark, imagesDir).collect(),
      ctx.opts.seed)
    reference.verify(ctx, "tile", TilePipeline.tiles(spark,
      Images.read(spark, imagesDir), Images.Precision, Images.TileSize,
      "bicubic"))
  }

  def pass(iter: Int): Unit = ctx.op("tiles", iter)(tiles)

  /** Op times keep falling over the first few tile jobs; two untimed ones
    * (about 3 s) let the timed ones start level.
    */
  override def warm(): Unit = { pass(-2); pass(-1) }

  def traceLayers(): Unit = {
    Layers.pipelineKernels(ctx, firstId, if (ctx.opts.tiny) 50 else 400)
    val p = math.max(1, ctx.tracedPasses).toDouble
    val records = ctx.traced.map(_.stats.shuffleRecords).sum / p
    val bytes = ctx.traced.map(_.stats.shuffleBytes).sum / p
    ctx.layer("pipeline.combine_ratio", records / reference.partials)
    ctx.layer("pipeline.bytes_per_shuffle_record",
      if (records == 0) 0.0 else bytes / records)
    writeChecks()
    scaling()
  }

  /** The write side's correctness, traced run only: `TilePipeline.run`
    * into a fresh directory (it synthesizes images 0 until n itself) must
    * write as many tiles as `tiles()` gives on the same images, its manifest
    * must say so, and the resume call must return the same table.
    */
  private def writeChecks(): Unit = {
    val want = TilePipeline.tiles(spark, ImageTableGen.generate(spark, n,
      Images.ImageSize), Images.Precision, Images.TileSize, "bicubic").count()
    val out = ctx.dir("tiles-out")
    def run() = TilePipeline.run(spark, n, Images.ImageSize, Images.Precision,
      Images.TileSize, "bicubic", out)
    val wrote = run()._1.count()
    ctx.check("write.tiles", wrote == want, s"wrote $wrote, want $want")
    val snapshot = TilePipeline.snapshotId(n, Images.ImageSize,
      Images.Precision, Images.TileSize, "bicubic")
    val manifest = Files.readString(
      Paths.get(out, s"snapshot-$snapshot", "manifest.json"))
    val nTiles = "\"n_tiles\":(\\d+)".r.findFirstMatchIn(manifest)
      .map(_.group(1).toLong).getOrElse(-1L)
    ctx.check("write.manifest", nTiles == want, s"manifest n_tiles $nTiles, want $want")
    val (again, rate) = run()
    val resumed = again.count()
    ctx.check("write.resume", rate == -1.0 && resumed == want,
      s"resume gave $resumed tiles at rate $rate")
    ctx.deleteTree(out)
  }

  /** tiles/s at local[nproc] over nproc times tiles/s at local[1]. */
  private def scaling(): Unit = {
    val rateN = Layers.median(ctx.ops.map(o => o.items / o.seconds).toSeq)
    spark.stop()
    val one = Harness.session(1, ctx.opts.work)
    try {
      def once(): Double = {
        val t0 = System.nanoTime()
        val k = TilePipeline.tiles(one, Images.read(one, imagesDir),
          Images.Precision, Images.TileSize, "bicubic").count()
        k / ((System.nanoTime() - t0) / 1e9)
      }
      once()
      ctx.layer("pipeline.scaling_eff_1_to_n", rateN / (ctx.nproc * once()))
    } finally one.stop()
  }
}
