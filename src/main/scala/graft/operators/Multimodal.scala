package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing (EXTENSION, SURVEY.md
  * §2.K q_multimodal). Media ride as opaque `binary` columns next to a
  * typed metadata struct; decode / feature-extraction run per-partition in
  * batches so a vectorized decoder amortizes setup per batch, not per row.
  *
  * IMAGE decode is REAL: `javax.imageio` (JDK-bundled — PNG/JPEG/BMP/GIF,
  * no external jar) decodes payloads in [[decodeImage]], and
  * [[extractFeatures]]/[[resizeMedia]] run genuine pixel work on the
  * result. Payloads no codec claims (text blobs, audio, video) fall back
  * to deterministic byte-level stand-ins ([[byteStatFeatures]], raw-byte
  * nearest-neighbor) that keep the distributed contract — schema, batch
  * iteration, partitioning, output shape — identical, so an audio/video
  * codec drops in without changing the plan.
  */
object Multimodal {

  /** media table schema: binary payload + typed metadata struct. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType))))))

  val featureDim = 16

  /** A decoded image: dimensions, band count, and an 8-bit luminance
    * plane (BT.601 integer weights — deterministic across platforms). */
  final case class DecodedImage(width: Int, height: Int, channels: Int,
      gray: Array[Byte])

  // the default ImageIO read path backs every decode with a
  // FileCacheImageInputStream TEMP FILE even for in-memory sources —
  // per-row disk churn on executors in the hot mapPartitions path
  private def readImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    // corrupt-but-claimed payloads throw RuntimeExceptions from the
    // plugin readers (CMMException on broken ICC profiles,
    // ArrayIndexOutOfBounds on truncated bodies) — any failure means
    // "no codec decodes this", which is the fallback contract, not a
    // task-killing error
    try javax.imageio.ImageIO.read(in)
    catch { case scala.util.control.NonFatal(_) => null }
    // ImageIO.read closes the stream itself on success; close again only
    // for the failure paths that left it open (double-close throws)
    finally {
      try in.close()
      catch { case _: java.io.IOException => () }
    }
  }

  /** REAL image decode via the JDK's bundled `javax.imageio` readers
    * (PNG/JPEG/BMP/GIF/WBMP). None when no installed codec claims the
    * bytes (or the claimed payload is corrupt) — the caller's fallback
    * path handles non-image payloads. */
  def decodeImage(payload: Array[Byte]): Option[DecodedImage] = {
    if (payload == null || payload.length == 0) return None
    val img = readImage(payload)
    if (img == null) None
    else {
      val w = img.getWidth; val h = img.getHeight
      val gray = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000
          gray(y * w + x) = lum.toByte
          x += 1
        }
        y += 1
      }
      Some(DecodedImage(w, h, img.getRaster.getNumBands, gray))
    }
  }

  /** Fallback features for payloads NO codec claims (text/audio/video
    * blobs): deterministic byte statistics with the same `featureDim`
    * shape, so mixed-modality tables extract in one pass. Bytes
    * accumulate as EXACT integer sums (order-free) and each feature is
    * one fixed double expression rounded once to float32 — so an
    * external engine replays every feature bit-for-bit (q_multimodal
    * family discipline). */
  private[operators] def byteStatFeatures(payload: Array[Byte]): Array[Float] = {
    val out = new Array[Float](featureDim)
    if (payload != null) {
      val sums = new Array[Long](featureDim)
      var i = 0
      while (i < payload.length) {
        sums(i % featureDim) += (payload(i) & 0xFF)
        i += 1
      }
      val n = math.max(1, payload.length / featureDim)
      var j = 0
      while (j < featureDim) {
        out(j) = (sums(j) / 255.0 / n).toFloat
        j += 1
      }
    }
    out
  }

  /** Image features: mean luminance over a 4×4 spatial grid (featureDim
    * = 16) — real pixel work on the decoded plane, scale-invariant
    * enough for near-dup blocking and wired to the same output shape as
    * the fallback. */
  private[operators] def gridFeatures(img: DecodedImage): Array[Float] = {
    val out = new Array[Float](featureDim)
    val counts = new Array[Int](featureDim)
    var y = 0
    while (y < img.height) {
      val gy = y * 4 / img.height
      var x = 0
      while (x < img.width) {
        val cell = gy * 4 + (x * 4 / img.width)
        out(cell) += (img.gray(y * img.width + x) & 0xFF) / 255.0f
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    var j = 0
    while (j < featureDim) {
      if (counts(j) > 0) out(j) /= counts(j)
      j += 1
    }
    out
  }

  /** Batched per-partition feature extraction: payloads an ImageIO codec
    * claims get REAL decoded-pixel features ([[gridFeatures]]); anything
    * else falls back to [[byteStatFeatures]]. The mapPartitions batch
    * shape is what a vectorized decoder needs (decode `batchSize`
    * payloads at a time, amortizing codec/model setup per batch). */
  def extractFeatures(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType))))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val payload = r.getAs[Array[Byte]](1)
          val feats = decodeImage(payload) match {
            case Some(img) => gridFeatures(img)
            case None => byteStatFeatures(payload)
          }
          Row(r.getLong(0), feats.toSeq)
        }
      }
    }(encoder)
  }

  /** Decoded image metadata per row: (media_id, width, height, channels,
    * decoded) — decoded=false rows carry nulls for the dims (payload not
    * claimed by any installed codec). */
  def imageInfo(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("decoded", BooleanType, nullable = false)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          decodeImage(r.getAs[Array[Byte]](1)) match {
            case Some(img) =>
              Row(r.getLong(0), img.width, img.height, img.channels, true)
            case None => Row(r.getLong(0), null, null, null, false)
          }
        }
      }
    }(encoder)
  }

  /** Frame sampling plumbing: slice every `stride`-th fixed-size chunk of
    * the payload (a real impl samples decoded video frames; the chunked
    * binary slicing and row-explosion shape are identical). */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_no", IntegerType, nullable = false),
      StructField("frame", BinaryType)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { it =>
      it.flatMap { r =>
        val payload = r.getAs[Array[Byte]](1)
        if (payload == null) Iterator.empty
        else {
          val nFrames = payload.length / frameBytes
          (0 until nFrames by stride).iterator.map { f =>
            Row(r.getLong(0), f,
              java.util.Arrays.copyOfRange(payload, f * frameBytes, (f + 1) * frameBytes))
          }
        }
      }
    }(encoder)
  }

  /** Nearest-neighbor resample of a decoded image + PNG re-encode: the
    * REAL resize path (decode → pixel resample → encode, all JDK
    * codecs). Returns the new payload bytes. */
  private[operators] def resizeImagePayload(payload: Array[Byte],
      targetW: Int, targetH: Int): Option[Array[Byte]] = {
    if (payload == null || payload.length == 0) return None
    val src = readImage(payload)
    if (src == null) None
    else {
      val out = new java.awt.image.BufferedImage(targetW, targetH,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < targetH) {
        val sy = (y.toLong * src.getHeight / targetH).toInt
        var x = 0
        while (x < targetW) {
          val sx = (x.toLong * src.getWidth / targetW).toInt
          out.setRGB(x, y, src.getRGB(sx, sy))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      Some(bos.toByteArray)
    }
  }

  /** Resize: payloads an ImageIO codec claims are REALLY resized
    * (decode → nearest-neighbor pixel resample → PNG re-encode, meta
    * rewritten to the new dims + image/png mime); unclaimed payloads
    * keep the raw-byte nearest-neighbor stand-in (1 byte/pixel grid) so
    * non-image media flow through the same batched per-partition plan —
    * schema preserved, payload bytes never shuffled. */
  def resizeMedia(media: DataFrame, targetW: Int, targetH: Int,
      batchSize: Int = 64): DataFrame = {
    require(targetW > 0 && targetH > 0, "target dimensions must be positive")
    require(targetW.toLong * targetH <= Int.MaxValue,
      s"target ${targetW}x$targetH overflows a byte array")
    val encoder = org.apache.spark.sql.Encoders.row(mediaSchema)
    media.select("media_id", "payload", "meta").mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val payload = r.getAs[Array[Byte]](1)
          // meta and its fields are nullable in mediaSchema — fall back to
          // a 1-row grid of the payload when dimensions are unknown
          val meta = if (r.isNullAt(2)) null else r.getStruct(2)
          def metaInt(i: Int, dflt: Int): Int =
            if (meta == null || meta.isNullAt(i)) dflt else meta.getInt(i)
          val nFrames: Any = if (meta == null || meta.isNullAt(3)) null else meta.getInt(3)
          resizeImagePayload(payload, targetW, targetH) match {
            case Some(png) =>
              // real codec path: resampled pixels, PNG container
              Row(r.getLong(0), png, Row("image/png", targetW, targetH, nFrames))
            case None =>
              val resized =
                if (payload == null) null
                else {
                  val srcW = math.max(1, metaInt(1, payload.length))
                  val srcH = math.max(1, metaInt(2, 1))
                  val out = new Array[Byte](targetW * targetH)
                  var y = 0
                  while (y < targetH) {
                    var x = 0
                    while (x < targetW) {
                      // nearest-neighbor index into the source "pixel" grid;
                      // Long math + Long bound check so a huge claimed source
                      // dimension cannot wrap negative past the guard
                      val sx = x.toLong * srcW / targetW
                      val sy = y.toLong * srcH / targetH
                      val src = sy * srcW + sx
                      out(y * targetW + x) =
                        if (src < payload.length) payload(src.toInt) else 0
                      x += 1
                    }
                    y += 1
                  }
                  out
                }
              val mime = if (meta == null || meta.isNullAt(0)) null else meta.getString(0)
              Row(r.getLong(0), resized, Row(mime, targetW, targetH, nFrames))
          }
        }
      }
    }(encoder)
  }

  /** Synthesize a media table from the documents fixture (payload = utf8
    * bytes) — a deterministic stand-in for real blobs, used by tests and
    * the q_multimodal pipeline. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      struct(
        lit("text/plain").as("mime"),
        length(col("text")).as("width"),
        lit(1).as("height"),
        (length(col("text")) / 16).cast("int").as("n_frames")).as("meta"))
}
