package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SparkTestSession
import graft.core.GeoHash

class ImageCodecSpec extends AnyFunSuite {
  val rng = new scala.util.Random(9)
  val w = 32
  val h = 32
  val pixels = Array.fill(w * h)(rng.nextFloat())

  test("png round trip is lossless at 8-bit quantization") {
    val bytes = ImageCodec.encode(pixels, w, h, "png")
    val (dec, dw, dh) = ImageCodec.decode(bytes)
    assert(dw == w && dh == h)
    // only 8-bit quantization error
    pixels.zip(dec).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 0.5f / 255f + 1e-6f)
    }
  }

  test("jpeg round trip meets the PSNR>=40dB gate on smooth fields") {
    // smooth field (natural imagery analog), per BASELINE input_hint gate
    val smooth = Array.tabulate(w * h) { k =>
      val x = (k % w) / w.toDouble
      val y = (k / w) / h.toDouble
      ImageTableGen.fieldToPixel(math.sin(3 * x) * math.cos(2 * y))
    }
    val bytes = ImageCodec.encode(smooth, w, h, "jpeg")
    val (dec, _, _) = ImageCodec.decode(bytes)
    val p = ImageCodec.psnr(smooth, dec)
    assert(p >= 40.0, s"psnr $p")
  }

  test("encoding is deterministic") {
    val a = ImageCodec.encode(pixels, w, h, "png")
    val b = ImageCodec.encode(pixels, w, h, "png")
    assert(java.util.Arrays.equals(a, b))
    val c = ImageCodec.encode(pixels, w, h, "jpeg")
    val d = ImageCodec.encode(pixels, w, h, "jpeg")
    assert(java.util.Arrays.equals(c, d))
  }
}

class ImageTableGenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("rows are deterministic functions of image_id") {
    val a = ImageTableGen.makeRow(42L, 32, 0.1)
    val b = ImageTableGen.makeRow(42L, 32, 0.1)
    assert(a.image_id == b.image_id && a.phash == b.phash)
    assert(a.lon == b.lon && a.lat == b.lat)
    assert(java.util.Arrays.equals(a.bytes, b.bytes))
    assert(a.caption == b.caption)
  }

  test("decoded pixels reproduce the analytic field (caption + pixel gate)") {
    val row = ImageTableGen.makeRow(7L, 32, 0.0)
    val (dec, w, h) = ImageCodec.decode(row.bytes)
    val dLon = ImageTableGen.FootprintDeg / (w - 1)
    val dLat = ImageTableGen.FootprintDeg / (h - 1)
    val expect = Array.tabulate(w * h) { k =>
      val c = k % w
      val r = k / w
      ImageTableGen.fieldToPixel(
        ImageTableGen.field(row.lon + c * dLon, row.lat + r * dLat))
    }
    assert(ImageCodec.psnr(expect, dec) >= 40.0)
    assert(row.caption.contains(row.image_id))
  }

  test("distributed generation matches local generation") {
    import spark.implicits._
    val ds = ImageTableGen.generate(spark, 20, 16).collect()
    assert(ds.length == 20)
    val local = ImageTableGen.makeRow(11L, 16, 0.1)
    val dist = ds.find(_.image_id == "img000000000011").get
    assert(java.util.Arrays.equals(dist.bytes, local.bytes))
  }

  test("hot cluster creates cell skew") {
    import spark.implicits._
    val rows = ImageTableGen.generate(spark, 500, 8).collect()
    val cells = rows.map(r => GeoHash.encode(r.lon, r.lat, 12))
    val top = cells.groupBy(identity).map(_._2.length).max
    assert(top > 500 / 50) // hot cell holds far more than uniform share
  }
}

class TilePipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("tiles cover every image and pixel means reproduce the field") {
    import spark.implicits._
    val images = ImageTableGen.generate(spark, 30, 32, jpegFrac = 0.0)
    val tiles = TilePipeline.tiles(spark, images, precision = 12,
      tileSize = 16, method = "bicubic").collect()
    assert(tiles.nonEmpty)
    // pick a tile pixel with data and compare against analytic field
    var checked = 0
    tiles.foreach { t =>
      val dx = (t.lon_max - t.lon_min) / 16
      val dy = (t.lat_max - t.lat_min) / 16
      for (j <- 0 until 16; i <- 0 until 16) {
        val k = j * 16 + i
        if (t.count(k) > 0 && checked < 200) {
          val lon = t.lon_min + (i + 0.5) * dx
          val lat = t.lat_min + (j + 0.5) * dy
          val expect = ImageTableGen.fieldToPixel(
            ImageTableGen.field(lon, lat)).toDouble
          assert(math.abs(t.mean(k) - expect) < 0.04,
            s"cell ${t.cell} pixel ($i,$j): ${t.mean(k)} vs $expect")
          checked += 1
        }
      }
    }
    assert(checked > 50)
  }

  test("partial tile merge is associative (partitioning invariance)") {
    import spark.implicits._
    val images = ImageTableGen.generate(spark, 40, 16, jpegFrac = 0.0)
    def result(parts: Int) = {
      val ds = ImageTableGen.generate(spark, 40, 16, jpegFrac = 0.0,
        partitions = parts)
      TilePipeline.tiles(spark, ds, 12, 8, "bilinear")
        .collect().map(t => t.cell -> (t.n_images, t.count.sum,
          t.mean.filterNot(_.isNaN).sum)).toMap
    }
    val a = result(1)
    val b = result(7)
    assert(a.keySet == b.keySet)
    a.foreach { case (cell, (n, c, s)) =>
      assert(b(cell)._1 == n && b(cell)._2 == c)
      assert(math.abs(b(cell)._3 - s) < 1e-9)
    }
  }

  test("local-combine drain cap degrades to partial combine, same answer") {
    // cap=2 forces constant mid-stream drains of the per-task merge map;
    // the merge shuffle must reassemble identical tiles
    val ds = ImageTableGen.generate(spark, 40, 16, jpegFrac = 0.0,
      partitions = 3)
    def res(cap: Int) =
      TilePipeline.tiles(spark, ds, 12, 8, "bilinear", maxLocalCells = cap)
        .collect().map(t => t.cell -> (t.n_images, t.count.sum,
          t.mean.filterNot(_.isNaN).sum)).toMap
    val tight = res(2)
    val loose = res(50000)
    assert(tight.keySet == loose.keySet && tight.nonEmpty)
    tight.foreach { case (cell, (n, c, s)) =>
      assert(loose(cell)._1 == n && loose(cell)._2 == c)
      assert(math.abs(loose(cell)._3 - s) < 1e-9)
    }
  }

  test("run() writes manifest and resumes from snapshot") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tiles").toString
    val (df1, rate1) = TilePipeline.run(spark, 20, 16, 12, 8, "bilinear", tmp)
    assert(rate1 > 0)
    val n1 = df1.count()
    val (df2, rate2) = TilePipeline.run(spark, 20, 16, 12, 8, "bilinear", tmp)
    assert(rate2 == -1.0) // resumed, not recomputed
    assert(df2.count() == n1)
  }

  test("run() ignores a leftover temp manifest and leaves none behind") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tiles")
    val snapDir = tmp.resolve("snapshot-" +
      TilePipeline.snapshotId(20, 16, 12, 8, "bilinear"))
    java.nio.file.Files.createDirectories(snapDir)
    // what a run killed while writing its manifest leaves behind
    java.nio.file.Files.write(snapDir.resolve("manifest.json.tmp"),
      "{\"snapshot\":".getBytes("UTF-8"))
    val (df, rate) = TilePipeline.run(spark, 20, 16, 12, 8, "bilinear",
      tmp.toString)
    assert(rate > 0) // recomputed, not resumed
    val names = java.nio.file.Files.list(snapDir).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
    assert(!names.exists(_.contains(".tmp")), names.mkString(", "))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      snapDir.resolve("manifest.json")), "UTF-8")
    assert(manifest.contains(s"\"n_tiles\":${df.count()},"), manifest)
  }
}

class FastPngInteropSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("FastPng output is a standard PNG readable by ImageIO") {
    val rng = new scala.util.Random(3)
    val px = Array.fill(32 * 32)((rng.nextInt(256)).toByte)
    val bytes = FastPng.encodeGray8(px, 32, 32)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth == 32 && img.getHeight == 32)
    for (i <- 0 until 1024)
      assert(img.getRaster.getSample(i % 32, i / 32, 0) == (px(i) & 0xFF))
  }

  test("FastPng decodes ImageIO-written grayscale PNGs (filters)") {
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 16)
      img.getRaster.setSample(x, y, 0, (x * 16 + y) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val dec = FastPng.decodeGray8(bos.toByteArray)
    assert(dec != null)
    val (gray, w, h) = dec
    assert(w == 16 && h == 16)
    for (y <- 0 until 16; x <- 0 until 16)
      assert((gray(y * 16 + x) & 0xFF) == (x * 16 + y) % 256)
  }
}

class FillTilesSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("fillTiles closes NaN holes with loess") {
    import spark.implicits._
    val images = ImageTableGen.generate(spark, 25, 32, jpegFrac = 0.0)
    val tiles = TilePipeline.tiles(spark, images, precision = 12,
      tileSize = 16, method = "bicubic")
    val before = tiles.collect()
    val holes = before.map(_.mean.count(_.isNaN)).sum
    val after = TilePipeline.fillTiles(tiles, 16, "loess").collect()
    val remaining = after.map(_.mean.count(_.isNaN)).sum
    assert(remaining < holes, s"$remaining vs $holes")
    // filled tiles keep the original defined pixels
    before.sortBy(_.cell).zip(after.sortBy(_.cell)).foreach { case (b, a) =>
      b.mean.zip(a.mean).foreach { case (vb, va) =>
        if (!vb.isNaN) assert(vb == va)
      }
    }
  }
}
