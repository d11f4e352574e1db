package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.types._
import graft.pipeline.ImageCodec

/** Multimodal (image) column operators over the opaque `bytes: binary`
  * column of the image+caption table: decode, resize (bilinear), and
  * feature extraction — the building blocks of a training-data pipeline
  * over image payloads. All run as vectorized `mapPartitions` kernels
  * (the Scala analog of Pandas-UDF `mapInPandas` batches): one decode per
  * row, no Python interop, codegen-compatible schema.
  */
object ImageOps {

  private def withMapped(df: DataFrame, bytesCol: String,
                         extra: Seq[StructField])(
      f: (Array[Byte], Row) => Seq[Any]): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ extra)
    val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { iter =>
      iter.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        Row.fromSeq(row.toSeq ++ f(bytes, row))
      }
    }(enc)
  }

  /** Append decoded pixels as `pixels: array<float>` (+ dims). */
  def decode(df: DataFrame, bytesCol: String = "bytes"): DataFrame =
    withMapped(df, bytesCol, Seq(
      StructField("pixels", ArrayType(FloatType, containsNull = false)),
      StructField("dec_w", IntegerType), StructField("dec_h", IntegerType))) {
      (bytes, _) =>
        val (px, w, h) = ImageCodec.decode(bytes)
        Seq(px.toSeq, w, h)
    }

  /** Bilinear resize of the decoded raster to (outW, outH), appended as
    * `resized: array<float>`.
    */
  def resize(df: DataFrame, outW: Int, outH: Int,
             bytesCol: String = "bytes"): DataFrame =
    withMapped(df, bytesCol, Seq(
      StructField("resized", ArrayType(FloatType, containsNull = false)))) {
      (bytes, _) =>
        val (px, w, h) = ImageCodec.decode(bytes)
        val out = new Array[Float](outW * outH)
        var oy = 0
        while (oy < outH) {
          val sy = if (outH == 1) 0.0 else oy.toDouble * (h - 1) / (outH - 1)
          val y0 = math.min(sy.toInt, h - 2)
          val ty = sy - y0
          var ox = 0
          while (ox < outW) {
            val sx = if (outW == 1) 0.0 else ox.toDouble * (w - 1) / (outW - 1)
            val x0 = math.min(sx.toInt, w - 2)
            val tx = sx - x0
            val p00 = px(y0 * w + x0)
            val p01 = px(y0 * w + x0 + 1)
            val p10 = px((y0 + 1) * w + x0)
            val p11 = px((y0 + 1) * w + x0 + 1)
            out(oy * outW + ox) =
              ((1 - tx) * ((1 - ty) * p00 + ty * p10) +
                tx * ((1 - ty) * p01 + ty * p11)).toFloat
            ox += 1
          }
          oy += 1
        }
        Seq(out.toSeq)
    }

  /** Cheap per-image features: mean/std/min/max luminance, edge energy
    * (mean |gradient|), and a 64-bit average-hash perceptual fingerprint
    * (8x8 downsample vs mean — comparable across near-duplicate images).
    */
  def features(df: DataFrame, bytesCol: String = "bytes"): DataFrame =
    withMapped(df, bytesCol, Seq(
      StructField("px_mean", DoubleType), StructField("px_std", DoubleType),
      StructField("px_min", DoubleType), StructField("px_max", DoubleType),
      StructField("edge_energy", DoubleType),
      StructField("ahash", LongType))) { (bytes, _) =>
      val (px, w, h) = ImageCodec.decode(bytes)
      var s = 0.0
      var s2 = 0.0
      var mn = Double.MaxValue
      var mx = Double.MinValue
      var i = 0
      while (i < px.length) {
        val v = px(i).toDouble
        s += v
        s2 += v * v
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      val n = px.length
      val mean = s / n
      val std = math.sqrt(math.max(0.0, s2 / n - mean * mean))
      var edge = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          if (x + 1 < w) edge += math.abs(px(y * w + x + 1) - px(y * w + x))
          if (y + 1 < h) edge += math.abs(px((y + 1) * w + x) - px(y * w + x))
          x += 1
        }
        y += 1
      }
      edge /= (2.0 * n)
      // 8x8 average hash
      var hash = 0L
      val cells = new Array[Double](64)
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 8) {
          var acc = 0.0
          var cnt = 0
          var yy = cy * h / 8
          val yEnd = math.max(yy + 1, (cy + 1) * h / 8)
          while (yy < yEnd) {
            var xx = cx * w / 8
            val xEnd = math.max(xx + 1, (cx + 1) * w / 8)
            while (xx < xEnd) {
              acc += px(yy * w + xx)
              cnt += 1
              xx += 1
            }
            yy += 1
          }
          cells(cy * 8 + cx) = acc / cnt
          cx += 1
        }
        cy += 1
      }
      val cellMean = cells.sum / 64
      i = 0
      while (i < 64) {
        if (cells(i) >= cellMean) hash |= (1L << i)
        i += 1
      }
      // Seq[Any] so the Long ahash is not widened to Double
      Seq[Any](mean, std, mn, mx, edge, hash)
    }
}
