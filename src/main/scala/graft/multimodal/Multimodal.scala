package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media travels as an opaque `binary` payload column plus a typed
  * metadata struct — the same shape as the reference's FITS cutout stamps
  * (`cutoutScience.stampData`, SURVEY.md §1.3) and of any image/audio
  * corpus at 100 TB: parquet stores the bytes inline (or a URI for large
  * blobs), Spark never interprets them until a partition-local kernel
  * does.
  *
  * PNG/JPEG/GIF/BMP payloads are decoded for real through the JDK's
  * javax.imageio (no external dependency); payloads in formats the JDK
  * cannot read (audio/video/FITS) fall back to
  * [[MediaKernel.decodeFallback]], a clearly-marked deterministic
  * stand-in, so the partition-local plumbing — schema, batch shape,
  * mapPartitions execution, feature schema — always runs end-to-end.
  */
object Multimodal {

  /** One media item: payload bytes + typed metadata. */
  case class MediaItem(id: Long, payload: Array[Byte], mimetype: String,
      width: Int, height: Int)

  /** Extracted per-item features (byte-level stats are computed for real;
    * pixel-level ones come from the decode stub).
    */
  case class MediaFeatures(id: Long, n_bytes: Long, mean_byte: Double,
      byte_entropy: Double, frames: Int)

  /** Pack the documents table into a media-shaped DataFrame (payload =
    * utf-8 bytes standing in for encoded media).
    */
  def packDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("id"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("application/octet-stream").as("mimetype"),
      (col("n_chars") % 640).cast("int").as("width"),
      lit(1).cast("int").as("height"))

  /** Partition-local feature extraction: the `mapInPandas`-equivalent
    * batch kernel. Runs entirely inside executors; at scale this is one
    * pass over the payload column with no shuffle.
    */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { it =>
      it.map { m => MediaKernel.features(m) }
    }
  }

  /** Per-item 60-bit perceptual hash (m4) — image near-dup detection's
    * map-side kernel. Decodable images hash in the PIXEL domain
    * ([[MediaKernel.imageAHash]]: decode -> bilinear 6x10 -> threshold
    * vs mean — the classic average-hash, brightness-shift invariant);
    * everything else hashes byte-blocks ([[MediaKernel.byteAHash]] —
    * deterministic, codec-free, oracle-checkable). 60 bits on purpose:
    * the output column is named `simhash` and feeds the EXISTING
    * Hamming-LSH machinery — [[graft.dedup.Dedup.simhashPairs]] (d5),
    * `simhashAssign` (d8) — unchanged, so image near-dup at 100 TB
    * rides the same banded, never-all-pairs path as text.
    * Partition-local, no shuffle.
    */
  def perceptualHash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { it =>
      it.map { m =>
        val h =
          if (MediaKernel.isDecodableImage(m.payload)) MediaKernel.imageAHash(m)
          else MediaKernel.byteAHash(m.payload)
        (m.id, h)
      }
    }.toDF("id", "simhash")
  }
}

/** Partition-local media kernels. */
object MediaKernel {
  import Multimodal._

  /** Byte histogram + entropy (real computation, no codec needed). */
  def features(m: MediaItem): MediaFeatures = {
    val bytes = m.payload
    val hist = new Array[Long](256)
    var sum = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      hist(b) += 1
      sum += b
      i += 1
    }
    val n = bytes.length.toDouble
    var ent = 0.0
    var j = 0
    while (j < 256) {
      if (hist(j) > 0) {
        val p = hist(j) / n
        ent -= p * math.log(p) / math.log(2.0)
      }
      j += 1
    }
    val decoded = decode(m)
    MediaFeatures(m.id, bytes.length.toLong,
      if (bytes.length == 0) 0.0 else sum / n, ent, decoded.length)
  }

  /** True when the payload opens with a magic number javax.imageio can
    * route (PNG, JPEG, GIF, BMP).
    */
  def isDecodableImage(payload: Array[Byte]): Boolean = {
    if (payload == null || payload.length < 4) return false
    val b = payload
    (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
    (b(0) == 0xff.toByte && b(1) == 0xd8.toByte && b(2) == 0xff.toByte) ||
    (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
    (b(0) == 'B' && b(1) == 'M')
  }

  /** Decode: real pixels for image payloads via the JDK's ImageIO
    * (one luminance frame, rows flattened), deterministic fallback for
    * everything else. Partition-local, no shuffle.
    */
  def decode(m: MediaItem): Array[Array[Float]] = {
    if (isDecodableImage(m.payload)) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(m.payload))
      if (img == null) decodeFallback(m)
      else {
        val h = img.getHeight; val w = img.getWidth
        Array.tabulate(h) { y =>
          val row = new Array[Float](w)
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            // ITU-R BT.601 luma from the sRGB channels
            row(x) = (0.299f * ((rgb >> 16) & 0xff) +
              0.587f * ((rgb >> 8) & 0xff) + 0.114f * (rgb & 0xff))
            x += 1
          }
          row
        }
      }
    } else decodeFallback(m)
  }

  /** STAND-IN for codecs the JDK lacks (audio/video/FITS): a
    * deterministic fake "frame" derived from the payload, so downstream
    * plumbing is exercised even for non-image media.
    */
  def decodeFallback(m: MediaItem): Array[Array[Float]] = {
    val nFrames = 1 + (math.abs(m.id) % 3).toInt
    Array.tabulate(nFrames) { f =>
      val w = math.max(1, m.width)
      Array.tabulate(math.min(w, 8))(x =>
        ((m.payload.length + f * 31 + x) % 251).toFloat)
    }
  }

  /** Bilinear resize of one decoded frame (the standard image-pyramid
    * step a training pipeline applies after decode). Pure per-row
    * compute — partition-local, no shuffle.
    */
  def resizeBilinear(frame: Array[Array[Float]], outH: Int, outW: Int): Array[Array[Float]] = {
    val h = frame.length
    val w = if (h == 0) 0 else frame(0).length
    if (h == 0 || w == 0) return Array.fill(outH)(new Array[Float](outW))
    Array.tabulate(outH) { y =>
      // align-corners mapping: output corners hit input corners exactly
      val fy = if (outH == 1) 0.0 else y.toDouble * (h - 1) / (outH - 1)
      val y0 = math.min(fy.toInt, h - 1)
      val y1 = math.min(y0 + 1, h - 1)
      val wy = fy - y0
      val row = new Array[Float](outW)
      var x = 0
      while (x < outW) {
        val fx = if (outW == 1) 0.0 else x.toDouble * (w - 1) / (outW - 1)
        val x0 = math.min(fx.toInt, w - 1)
        val x1 = math.min(x0 + 1, w - 1)
        val wx = fx - x0
        val top = frame(y0)(x0) * (1 - wx) + frame(y0)(x1) * wx
        val bot = frame(y1)(x0) * (1 - wx) + frame(y1)(x1) * wx
        row(x) = (top * (1 - wy) + bot * wy).toFloat
        x += 1
      }
      row
    }
  }

  /** Byte-block average hash: bytes map to `bits` contiguous blocks
    * (byte j -> block j*bits/n — floor division, so blocks differ by at
    * most one byte in size and only trail empty when n < bits), bit i
    * is set when block i's mean byte exceeds the mean of the 60 block
    * means (empty blocks mean 0). Deterministic and codec-free, so the
    * DuckDB oracle mirrors it exactly (threshold accumulated in block
    * order — the m2/t13 ordered-fold float convention).
    */
  def byteAHash(payload: Array[Byte], bits: Int = 60): Long = {
    val n = if (payload == null) 0 else payload.length
    if (n == 0) return 0L
    val sums = new Array[Long](bits)
    val cnts = new Array[Int](bits)
    var j = 0
    while (j < n) {
      val b = (j.toLong * bits / n).toInt
      sums(b) += payload(j) & 0xff
      cnts(b) += 1
      j += 1
    }
    val means = new Array[Double](bits)
    var thrSum = 0.0
    var i = 0
    while (i < bits) {
      if (cnts(i) > 0) means(i) = sums(i).toDouble / cnts(i)
      thrSum += means(i)
      i += 1
    }
    val thr = thrSum / bits
    var h = 0L
    i = 0
    while (i < bits) {
      if (means(i) > thr) h |= 1L << i
      i += 1
    }
    h
  }

  /** Pixel-domain average hash of a decoded image: luma frame ->
    * bilinear 6x10 thumbnail -> bit per cell, set when the cell exceeds
    * the thumbnail mean. 60 cells so the hash drops straight into the
    * repo's 60-bit Hamming-LSH banding. Invariant to global brightness
    * shifts (threshold moves with the cells) and to lossless
    * re-encoding; near-duplicate frames land within a few bits.
    */
  def imageAHash(m: MediaItem): Long = {
    val luma = decode(m) // rows of the decoded luma plane
    if (luma.isEmpty) return 0L
    val thumb = resizeBilinear(luma, 6, 10)
    var thrSum = 0.0
    var y = 0
    while (y < 6) {
      var x = 0
      while (x < 10) { thrSum += thumb(y)(x); x += 1 }
      y += 1
    }
    val thr = thrSum / 60
    var h = 0L
    y = 0
    while (y < 6) {
      var x = 0
      while (x < 10) {
        if (thumb(y)(x) > thr) h |= 1L << (y * 10 + x)
        x += 1
      }
      y += 1
    }
    h
  }

  /** Uniform frame sampling over a payload treated as fixed-size
    * encoded frames (the video-pipeline "sample n frames" step; byte-
    * block frames keep the semantics codec-free and oracle-checkable).
    * Returns the sampled frame indices and each sampled frame's mean
    * byte. When the payload holds <= k frames all are kept; otherwise
    * indices are floor(j*(n-1)/(k-1)) for j in 0..k-1 (uniform with the
    * first and last frames always included).
    */
  def frameSample(payload: Array[Byte], frameBytes: Int, k: Int)
      : (Array[Int], Array[Double]) = {
    val n = (payload.length + frameBytes - 1) / frameBytes
    if (n == 0) return (Array.empty, Array.empty)
    val idx =
      if (n <= k) Array.range(0, n)
      else Array.tabulate(k)(j => (j.toDouble * (n - 1) / (k - 1)).floor.toInt)
    val means = idx.map { f =>
      val from = f * frameBytes
      val until = math.min(from + frameBytes, payload.length)
      var s = 0L
      var i = from
      while (i < until) { s += payload(i) & 0xff; i += 1 }
      s.toDouble / (until - from)
    }
    (idx, means)
  }
}
