package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines.
  *
  * Media payloads are opaque `binary` columns plus a typed metadata struct;
  * decode / feature-extraction runs batched per partition via
  * `mapPartitions` over a typed Dataset (the Scala analogue of arrow-batched
  * Python UDFs): one decoder instance per partition, streamed rows, no
  * per-row initialization. At 100 TB the payload column dominates I/O, so
  * everything metadata-only must prune it — schema keeps `content` in its
  * own column so Parquet column pruning skips the bytes entirely unless a
  * stage actually decodes.
  *
  * The codec layer: image payloads (PNG/BMP/GIF/JPEG, detected by magic
  * bytes) are REALLY decoded with `javax.imageio` (pure-JVM, ships with the
  * JDK) and featurized over their decoded RGB pixel stream; payloads that
  * are not a decodable image — audio/video blobs (no pure-JDK codec
  * exists) and the harness's synthetic digest payloads — are featurized
  * over their raw bytes by the same lane-sum kernel, keeping every output
  * deterministic and oracle-reproducible. Swap/extend `decodeBytes` per
  * codec to add audio/video decode.
  */
object Multimodal {

  /** Typed media row: payload + metadata. */
  case class MediaRecord(
      media_id: Long,
      media_type: String, // image | audio | video
      content: Array[Byte],
      width: Int,
      height: Int,
      duration_ms: Long,
      codec: String)

  case class MediaFeatures(
      media_id: Long,
      media_type: String,
      n_bytes: Long,
      feature: Array[Float],
      feature_q: Array[Long])

  /** Deterministic synthetic media table derived from `documents` — stands
    * in for a real ingest while keeping every byte reproducible. */
  def syntheticMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(
        col("doc_id").as("media_id"),
        element_at(typedLit(Seq("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        to_binary(md5(col("text")), lit("hex")).as("content"),
        (col("doc_id") % 1920 + 1).cast("int").as("width"),
        (col("doc_id") % 1080 + 1).cast("int").as("height"),
        (col("doc_id") * 40 % 600000).as("duration_ms"),
        element_at(typedLit(Seq("png", "opus", "h264")),
          (col("doc_id") % 3 + 1).cast("int")).as("codec"))
      .as[MediaRecord]
  }

  // ImageIO's default disk-backed stream cache costs a temp file per
  // decode — executors decode thousands of payloads per task, so keep
  // the stream cache in memory.
  javax.imageio.ImageIO.setUseCache(false)

  /** Cheap magic-byte gate so non-image payloads (audio blobs, digest
    * fixtures) never pay an ImageIO reader probe. */
  private[operators] def looksLikeImage(content: Array[Byte]): Boolean =
    content != null && content.length >= 8 && {
      val b0 = content(0) & 0xFF; val b1 = content(1) & 0xFF
      (b0 == 0x89 && b1 == 'P' && content(2) == 'N' && content(3) == 'G') ||
      (b0 == 'B' && b1 == 'M') ||
      (b0 == 'G' && b1 == 'I' && content(2) == 'F') ||
      (b0 == 0xFF && b1 == 0xD8)
    }

  /** Pixel-count ceiling (16.7M px ⇒ ≤ ~50 MB RGB buffer per task). The
    * header dimensions are read BEFORE any pixel allocation, so a
    * decompression bomb (tiny payload declaring a huge canvas) is
    * rejected for free instead of OOMing the executor. */
  private[operators] val MaxDecodePixels: Long = 1L << 24

  /** REAL image decode (`javax.imageio`: PNG/BMP/GIF/JPEG) → the decoded
    * RGB pixel stream in row-major [R0,G0,B0,R1,…] order. None when the
    * payload is not a decodable image or declares more than
    * [[MaxDecodePixels]] — callers fall back to the raw bytes, so the
    * featurizer stays a total function. Decoded output is deterministic
    * for the LOSSLESS formats (PNG/BMP/GIF, bit-exact per spec); JPEG
    * IDCT output is not guaranteed bit-identical across JVM versions, so
    * oracle-checked fixtures stick to the lossless three. */
  private[operators] def decodeBytes(content: Array[Byte]): Option[Array[Byte]] =
    if (!looksLikeImage(content)) None
    else try {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(in)
            // header-only reads: no pixel buffer exists yet
            val w = reader.getWidth(0); val h = reader.getHeight(0)
            if (w <= 0 || h <= 0 || w.toLong * h > MaxDecodePixels) None
            else Option(reader.read(0)).map { img =>
              val out = new Array[Byte](w * h * 3)
              var p = 0; var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y) // ARGB, color-model-normalized
                  out(p) = ((rgb >> 16) & 0xFF).toByte
                  out(p + 1) = ((rgb >> 8) & 0xFF).toByte
                  out(p + 2) = (rgb & 0xFF).toByte
                  p += 3; x += 1
                }
                y += 1
              }
              out
            }
          } finally reader.dispose()
        }
      } finally if (in != null) in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** 8-lane round-robin byte sums — the exact-integer feature primitive
    * (engine-reproducible; the oracle hash-checks it). */
  private def laneSums(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](8)
    var i = 0
    while (i < bytes.length) {
      out(i % 8) += (bytes(i) & 0xFF)
      i += 1
    }
    out
  }

  /** Featurize one payload: decode real images to pixels, lane-sum the
    * decoded stream; lane-sum raw bytes for everything else. The integer
    * lane sums are the primitive; the float view divides once at the end,
    * so the two are consistent by construction. */
  private[operators] def decodeQuant(content: Array[Byte]): Array[Long] =
    laneSums(decodeBytes(content).getOrElse(
      if (content == null) Array.emptyByteArray else content))

  /** Batched feature extraction: one decoder per partition, streamed rows.
    * Partition count should target ~128 MB of payload per task at scale —
    * callers repartition upstream on a size estimate, not here. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init (real codecs allocate decode contexts here)
      rows.map { m =>
        val q = decodeQuant(m.content)
        MediaFeatures(m.media_id, m.media_type,
          if (m.content == null) 0L else m.content.length.toLong,
          q.map(_ / 255.0f), q)
      }
    }
  }

  /** Stub "resize": metadata-only transform — never touches the payload
    * column, so Parquet scans prune `content` entirely. */
  def resizeMeta(media: DataFrame, maxDim: Int): DataFrame = {
    val scale = least(
      lit(maxDim) / greatest(col("width"), lit(1)),
      lit(maxDim) / greatest(col("height"), lit(1)),
      lit(1.0))
    media.select(col("media_id"), col("media_type"),
      col("width"), col("height"),
      floor(col("width") * scale).cast("int").as("resized_width"),
      floor(col("height") * scale).cast("int").as("resized_height"))
  }

  /** Frame-sample plan for video rows: one output row per sampled frame
    * timestamp (every `everyMs`), payload untouched. posexplode keeps it
    * columnar; at scale this is the pre-decode shard list handed to workers.
    */
  def frameSamplePlan(media: DataFrame, everyMs: Long): DataFrame =
    media.filter(col("media_type") === "video")
      .select(col("media_id"), col("duration_ms"),
        posexplode(sequence(lit(0L), greatest(col("duration_ms") - 1, lit(0L)),
          lit(everyMs))).as(Seq("frame_idx", "frame_ts_ms")))
}
