package graft.llm

import graft.{QueryModule, Tables}
import graft.functions.Hashing
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star EXT tier): treat image/audio/video
  * payloads as opaque `binary` columns with typed metadata, and run
  * decode/feature-extraction as batched per-partition passes.
  *
  * Two payload tiers coexist here:
  *  - REAL CODECS (`mm_png_decode` / `mm_png_resize` / `mm_wav_decode`):
  *    payloads are genuine PNG and WAV bytes — rasters/PCM generated
  *    deterministically from public columns, encoded with `javax.imageio` /
  *    `javax.sound.sampled`, then DECODED BACK through the same codecs
  *    inside the partition-batched pass. Because both formats are lossless,
  *    every decoded pixel/sample equals the generating arithmetic, so the
  *    DuckDB oracle verifies the REAL decode output exactly (it mirrors
  *    the generator, not the codec).
  *  - REAL LOSSY CODEC (`mm_jpeg_meta` / `mm_jpeg_dedup`): genuine
  *    baseline JPEG bytes at a fixed quality. A lossy codec can't be
  *    pixel-oracled, so the split is explicit: the queries oracle the
  *    container-derived facts (SOF dims/components/precision, parsed by
  *    hand AND by ImageIO) and the fixed-quality determinism that makes
  *    re-uploaded-byte-identical dedup exact; `JpegSpec` pins the
  *    decoded-pixel error envelope, aHash stability across the lossy
  *    hop, cross-quality pairing, and cross-id separation with measured
  *    margins.
  *  - REAL CONTAINER (`mm_avi_decode`): video payloads as genuine
  *    RIFF/AVI bytes with uncompressed DIB frames (AviContainer — a
  *    hand-written pure-JVM writer/parser; a stock JRE has no video
  *    codec, but the uncompressed container needs none), so frame count,
  *    fps, duration, and every pixel come from actually parsing the
  *    container.
  *  - The text-payload tier (`mediaTable` + the original mm_* queries):
  *    payload = UTF-8 document text; `decodePartition` derives
  *    deterministic width/height/duration from the payload's md5. This
  *    remains because its queries pin the metadata/planning arithmetic
  *    (resize fits, frame sampling) at full dimension ranges the tiny
  *    real rasters/frames can't exercise.
  *
  * Everything around the codecs is the real production shape:
  *  - schema: (id, modality, payload binary, byte_len, content_md5)
  *  - partition-level batching via `mapPartitions` on a typed Dataset —
  *    the Scala analog of `mapInPandas`: the decoder amortizes codec
  *    init once per partition, not per row;
  *  - frame sampling emits (id, frame_no) pairs via `explode(sequence(...))`
  *    — a generator, not a driver loop.
  *
  * At 100 TB: payloads dominate storage, so the scan must prune to metadata
  * columns unless the payload is needed (parquet column pruning does this
  * for free), and decode stages should repartition by size, not count.
  */
object Multimodal extends QueryModule {

  case class MediaRow(id: Long, modality: String, payload: Array[Byte])
  case class DecodedMedia(
      id: Long, modality: String, byte_len: Int,
      width: Int, height: Int, duration_ms: Long)

  /** Media table derived from documents: payload = UTF-8 bytes of `text`,
    * modality assigned round-robin — deterministic, so oracle-checkable.
    */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame =
    // widened when the scan is row-group-narrow (guide §2.5; Tables
    // scaladoc): every downstream codec/aHash decode is per-row-expensive
    // map work that a 1-row-group table otherwise serializes onto one task
    Tables.repartitionIfNarrow(Tables.documents(spark, sfDir)
        .select(
          col("doc_id").as("id"),
          element_at(
            array(lit("image"), lit("audio"), lit("video")),
            (col("doc_id") % 3).cast("int") + 1).as("modality"),
          col("text").cast("binary").as("payload")))

  /** STUB decoder — real deployments swap the body for an image/audio codec
    * call; the deterministic fake keeps the plumbing testable without media
    * libraries. One instance of "the codec" (`digest`) is initialized per
    * partition, which is the entire point of the mapPartitions shape.
    */
  def decodePartition(rows: Iterator[MediaRow]): Iterator[DecodedMedia] = {
    val digest = java.security.MessageDigest.getInstance("MD5") // per-partition init
    rows.map { r =>
      digest.reset()
      val d = digest.digest(r.payload)
      def u(i: Int): Int = d(i) & 0xff
      DecodedMedia(
        id = r.id,
        modality = r.modality,
        byte_len = r.payload.length,
        width = 16 * (u(0) % 120 + 1),        // fake: 16..1920
        height = 16 * (u(1) % 68 + 1),        // fake: 16..1088
        duration_ms = (u(2).toLong * 256 + u(3)) * 40)
    }
  }

  /** Typed decode pass over the media table. */
  def decodeAll(spark: SparkSession, sfDir: String): Dataset[DecodedMedia] = {
    import spark.implicits._
    mediaTable(spark, sfDir).as[MediaRow].mapPartitions(decodePartition _)
  }

  case class ResizedMedia(
      id: Long, modality: String, width: Int, height: Int,
      out_width: Int, out_height: Int, scale: Double)

  /** Resize plan for image/video rows: fit within `maxW`×`maxH` preserving
    * aspect ratio, never upscale. The arithmetic is the real part (the pixel
    * work would live in the partition-batched decoder); it stays a pure
    * column computation so Catalyst can pipeline it after decode.
    */
  def resizePlan(decoded: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val scale = least(
      lit(maxW.toDouble) / col("width"),
      lit(maxH.toDouble) / col("height"),
      lit(1.0))
    decoded.filter(col("modality").isin("image", "video"))
      .withColumn("scale", scale)
      .withColumn("out_width", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_height", floor(col("height") * col("scale")).cast("int"))
      .select("id", "modality", "width", "height", "out_width", "out_height", "scale")
  }

  /** Frame sampling for video rows: one output row per sampled frame index,
    * as a generator (`explode`), never a driver-side loop.
    */
  def frameSample(decoded: DataFrame, everyMs: Long): DataFrame =
    decoded.filter(col("modality") === "video")
      .withColumn("frame_no",
        explode(sequence(lit(0L), greatest((col("duration_ms") / everyMs).cast("long") - 1, lit(0L)))))
      .select(col("id"), col("frame_no"), (col("frame_no") * everyMs).as("frame_ts_ms"))

  // --------------------------------------------- real-codec decode tier

  case class PngPayload(id: Long, payload: Array[Byte])
  case class PngDecoded(
      id: Long, width: Int, height: Int, n_px: Int, sum_gray: Long, ahash: Long)
  case class WavPayload(id: Long, payload: Array[Byte])
  case class WavDecoded(
      id: Long, sample_rate: Int, n_samples: Int, sum_abs: Long, peak: Int)

  /** Deterministic gray raster for image row `id`: 8..16 px per side,
    * pixel (x, y) = (id·31 + x·7 + y·13) mod 256. Small enough that a
    * whole corpus of them encodes in seconds; rich enough that every
    * pixel, sum, and hash bit differs per id. The SAME arithmetic lives
    * in the DuckDB oracles — PNG is lossless, so decode must return it.
    */
  private[llm] def rasterDims(id: Long): (Int, Int) =
    ((8 + id % 9).toInt, (8 + (id / 7) % 9).toInt)
  private[llm] def rasterPixel(id: Long, x: Int, y: Int): Int =
    ((id * 31 + x * 7 + y * 13) % 256).toInt

  /** ENCODE pass: genuine PNG bytes via javax.imageio, batched per
    * partition (one ImageIO plugin lookup amortized across the batch —
    * the mapInPandas shape). In a real zone these bytes ARE the stored
    * payload column; here they're derived so the corpus stays
    * self-contained.
    */
  private def encodePngPartition(ids: Iterator[Long]): Iterator[PngPayload] = {
    // writer resolved ONCE per partition: ImageIO.write scans the plugin
    // registry per call, which is the lookup this batching exists to
    // amortize (review-caught: the static call repaid nothing)
    val writers = javax.imageio.ImageIO.getImageWritersByFormatName("png")
    require(writers.hasNext, "JRE ships no PNG writer")
    val writer = writers.next()
    ids.map { id =>
      val (w, h) = rasterDims(id)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, rasterPixel(id, x, y)); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(img)
      } finally ios.close()
      PngPayload(id, bos.toByteArray)
    }
  }

  /** REAL DECODE pass: `javax.imageio.ImageIO.read` on the payload bytes,
    * then feature extraction straight off the decoded raster — dimensions,
    * gray sum, and the house 60-bit average-hash over the row-major pixel
    * sequence (same stride-sample + exact integer threshold as `ahashOf`,
    * now fed by actual pixels). A corrupt payload is a loud per-object
    * error, not a silent skip — at 100 TB silent decode drops are how
    * corpora rot.
    */
  private def decodePngPartition(rows: Iterator[PngPayload]): Iterator[PngDecoded] = {
    rows.map { r =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      require(img != null, s"payload of id=${r.id} is not a decodable image")
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      val n = w * h
      var sum = 0L
      var i = 0
      while (i < n) { sum += raster.getSample(i % w, i / w, 0); i += 1 }
      val samples = Array.tabulate(60)(k => raster.getSample(
        (k * n / 60) % w, (k * n / 60) / w, 0))
      val tot = samples.map(_.toLong).sum
      var hash = 0L
      var k = 0
      while (k < 60) {
        if (samples(k) * 60L > tot) hash |= (1L << k)
        k += 1
      }
      PngDecoded(r.id, w, h, n, sum, hash)
    }
  }

  /** Deterministic 16-bit mono PCM for audio row `id`: 200..299 samples,
    * sample t = (id·131 + t·17) mod 2048 − 1024. Mirrored in the WAV
    * oracle — PCM-in-WAV is lossless. */
  private[llm] def wavSamples(id: Long): Array[Short] =
    Array.tabulate((200 + id % 100).toInt)(t =>
      ((id * 131 + t * 17) % 2048 - 1024).toShort)

  private val WavFormat = new javax.sound.sampled.AudioFormat(
    8000f, 16, 1, true, false) // 8 kHz, 16-bit, mono, signed, little-endian

  /** ENCODE pass: genuine RIFF/WAVE bytes via javax.sound.sampled. */
  private def encodeWavPartition(ids: Iterator[Long]): Iterator[WavPayload] = {
    ids.map { id =>
      val samples = wavSamples(id)
      val pcm = java.nio.ByteBuffer.allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(pcm.putShort)
      val in = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm.array()), WavFormat, samples.length)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        in, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      WavPayload(id, bos.toByteArray)
    }
  }

  /** REAL DECODE pass: parse the WAV container back through
    * javax.sound.sampled, rebuild the signed samples from the little-endian
    * frames the FORMAT declares (not from assumptions about the writer),
    * and extract energy features. */
  private def decodeWavPartition(rows: Iterator[WavPayload]): Iterator[WavDecoded] = {
    rows.map { r =>
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      val fmt = in.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"id=${r.id}: unexpected WAV shape $fmt")
      val bytes = in.readAllBytes()
      val buf = java.nio.ByteBuffer.wrap(bytes).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = bytes.length / 2
      var sumAbs = 0L
      var peak = 0
      var i = 0
      while (i < n) {
        val v = math.abs(buf.getShort(i * 2).toInt)
        sumAbs += v
        if (v > peak) peak = v
        i += 1
      }
      WavDecoded(r.id, fmt.getSampleRate.toInt, n, sumAbs, peak)
    }
  }

  // ------------------------------------------- real JPEG (lossy) tier

  case class JpegPayload(id: Long, src_id: Long, payload: Array[Byte])
  case class JpegMeta(
      id: Long, width: Int, height: Int, n_components: Int,
      bit_depth: Int, progressive: Boolean, dec_width: Int, dec_height: Int)
  case class JpegDecoded(
      id: Long, width: Int, height: Int, n_px: Int, sum_gray: Long, ahash: Long)

  /** Fixed encode quality — a real corpus pins its re-encode quality the
    * same way; determinism at one quality is what makes the byte-identical
    * re-upload dedup class ([[mmJpegDedup]]) exactly checkable. */
  private[llm] val JpegQuality = 0.85f

  /** Variant ids live 10⁹ above the doc-id space — the "same image
    * uploaded twice under a new object key" rows of the dedup tier. */
  private[llm] val JpegVariantOffset = 1000000000L

  /** ENCODE pass at an EXPLICIT quality: genuine baseline JPEG bytes via
    * javax.imageio, writer + param resolved once per partition (the
    * [[encodePngPartition]] batching discipline). `rows` carry
    * (row id, source-raster id) so a duplicate upload is simply a row
    * whose raster id is another row's — the bytes come out identical
    * because the encoder is deterministic at a fixed quality. */
  private[llm] def encodeJpegPartition(
      rows: Iterator[(Long, Long)], quality: Float,
      progressive: Long => Boolean = _ => false): Iterator[JpegPayload] = {
    val writers = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg")
    require(writers.hasNext, "JRE ships no JPEG writer")
    val writer = writers.next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    rows.map { case (id, srcId) =>
      // per-row scan mode: a real corpus mixes baseline and progressive
      // streams; the deterministic split keeps the SOF0/SOF2 fact oracled
      param.setProgressiveMode(
        if (progressive(srcId)) javax.imageio.ImageWriteParam.MODE_DEFAULT
        else javax.imageio.ImageWriteParam.MODE_DISABLED)
      val (w, h) = rasterDims(srcId)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, rasterPixel(srcId, x, y)); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      } finally ios.close()
      JpegPayload(id, srcId, bos.toByteArray)
    }
  }

  /** Hand-parse the JPEG container for its SOF frame header — the
    * CONTAINER-DERIVED facts (dimensions, component count, sample
    * precision, baseline-vs-progressive) that survive a lossy codec
    * exactly, so they oracle in SQL while pixel content cannot. Walks
    * the marker stream: standalone markers (SOI/RSTn/TEM) carry no
    * length; every other segment is 0xFF marker + 2-byte big-endian
    * length. SOFn is any 0xC0-0xCF except DHT(C4)/JPG(C8)/DAC(CC).
    * Returns (width, height, nComponents, precision, progressive). */
  private[llm] def parseJpegSof(b: Array[Byte]): (Int, Int, Int, Int, Boolean) =
    parseJpegSofEither(b) match {
      case Right(t) => t
      case Left((_, msg)) => sys.error(msg)
    }

  /** PERMISSIVE marker walk — the quarantine tier's core: same walk as
    * [[parseJpegSof]] but a malformed stream returns a Left with a
    * STABLE REASON CODE (and a human detail) instead of throwing. Real
    * web corpora carry truncated/invalid bytes; at 1000-executor scale
    * one `require` throw kills the whole task (and with it every healthy
    * object sharing the partition), so the ingest path classifies and
    * quarantines — the S2 `_corrupt_record` discipline applied to media
    * ([[mmJpegQuarantine]]). Reason codes: `missing_soi` (stream does
    * not start FF D8), `bad_marker` (expected a 0xFF marker byte),
    * `no_sof` (stream ends — e.g. truncation — before any SOF frame
    * header). */
  private[llm] def parseJpegSofEither(
      b: Array[Byte]): Either[(String, String), (Int, Int, Int, Int, Boolean)] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return Left(("missing_soi", "not a JPEG: missing SOI marker"))
    var i = 2
    while (i + 4 <= b.length) {
      if ((b(i) & 0xff) != 0xff)
        return Left(("bad_marker", s"expected a marker at offset $i"))
      val m = b(i + 1) & 0xff
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) i += 2 // standalone
      else {
        val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          val precision = b(i + 4) & 0xff
          val h = ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff)
          val w = ((b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff)
          return Right((w, h, b(i + 9) & 0xff, precision, m == 0xc2))
        }
        i += 2 + len
      }
    }
    Left(("no_sof", "no SOF marker before end of stream"))
  }

  /** Deterministic corruption planting for the quarantine tier — the
    * classes a real corpus actually ships, keyed on the raster id so the
    * oracle replays the classification from arithmetic alone:
    * id % 7 == 1 → SOI bytes zeroed (served HTML error page / wrong
    * content-type), == 2 → stream truncated inside the first segment
    * (interrupted upload), == 3 → a marker byte corrupted in flight;
    * everything else passes through untouched. */
  private[llm] def corruptFor(id: Long, payload: Array[Byte]): Array[Byte] =
    (id % 7) match {
      case 1 => val c = payload.clone(); c(0) = 0; c(1) = 0; c
      case 2 => payload.take(4)
      case 3 => val c = payload.clone(); c(2) = 0; c
      case _ => payload
    }

  /** Dimensions + gray sum + the house 60-bit average-hash off a decoded
    * gray raster — the feature block [[decodePngPartition]] computes,
    * factored so the lossy tier extracts the IDENTICAL features from its
    * decoded pixels (hash comparability across codecs is the whole point
    * of a perceptual hash). */
  private def grayFeaturesOf(
      img: java.awt.image.BufferedImage): (Int, Int, Int, Long, Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    val raster = img.getRaster
    val n = w * h
    var sum = 0L
    var i = 0
    while (i < n) { sum += raster.getSample(i % w, i / w, 0); i += 1 }
    val samples = Array.tabulate(60)(k => raster.getSample(
      (k * n / 60) % w, (k * n / 60) / w, 0))
    val tot = samples.map(_.toLong).sum
    var hash = 0L
    var k = 0
    while (k < 60) {
      if (samples(k) * 60L > tot) hash |= (1L << k)
      k += 1
    }
    (w, h, n, sum, hash)
  }

  /** REAL LOSSY DECODE pass: ImageIO JPEG decode, features straight off
    * the decoded raster. The pixel values are NOT the source raster's
    * (that is what lossy means) — `JpegSpec` pins the error envelope and
    * the aHash stability; the oracled queries consume only what survives
    * the codec exactly (container facts, and determinism at one quality).
    */
  private[llm] def decodeJpegPartition(rows: Iterator[JpegPayload]): Iterator[JpegDecoded] =
    rows.map { r =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      require(img != null, s"payload of id=${r.id} is not a decodable image")
      val (w, h, n, sum, hash) = grayFeaturesOf(img)
      JpegDecoded(r.id, w, h, n, sum, hash)
    }

  /** Genuine-PNG decode: encode each image row's deterministic raster to
    * real PNG bytes, decode them back with javax.imageio, and extract
    * dimensions + gray sum + the 60-bit perceptual hash FROM THE DECODED
    * PIXELS. The oracle recomputes the raster arithmetic in SQL — a hash
    * match proves the whole codec round-trip bit-exact.
    */
  def mmPngDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0) // the 'image' rows of mediaTable
      .select(col("doc_id")).as[Long]
      .mapPartitions(encodePngPartition _)
      .mapPartitions(decodePngPartition _)
      .toDF()
      .orderBy("id")
  }

  /** Resize planning over REAL decoded dimensions: the decode pass feeds
    * `resizePlan` (fit in 12×12, never upscale) — the pixel-real version
    * of mm_resize's arithmetic tier. */
  def mmPngResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val decoded = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(encodePngPartition _)
      .mapPartitions(decodePngPartition _)
      .toDF()
      .withColumn("modality", lit("image"))
    resizePlan(decoded, maxW = 12, maxH = 12)
      .withColumn("scale", round(col("scale"), 6))
      .orderBy("id")
  }

  /** Genuine-WAV decode: PCM features (sample count, total/peak absolute
    * amplitude — the energy pass silence trimming runs on) from bytes that
    * really went through the WAVE container. */
  def mmWavDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 1) // the 'audio' rows of mediaTable
      .select(col("doc_id")).as[Long]
      .mapPartitions(encodeWavPartition _)
      .mapPartitions(decodeWavPartition _)
      .toDF()
      .orderBy("id")
  }

  /** Genuine-JPEG container scan: encode each image row's raster to REAL
    * baseline JPEG bytes at the fixed quality, then extract the
    * container-derived facts two independent ways — a hand-written SOF
    * marker parse ([[parseJpegSof]]) and the full ImageIO decode — and
    * oracle both against the raster arithmetic. This is the metadata
    * pass a 100 TB multimodal ingest runs BEFORE any pixel work (dims /
    * component / precision gates read a few hundred header bytes per
    * object, never the payload); the pixel-level error envelope of the
    * lossy decode is `JpegSpec`'s business, not SQL's. */
  def mmJpegMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0) // the 'image' rows of mediaTable
      .select(col("doc_id")).as[Long]
      .map(id => (id, id))
      // every fifth image ships PROGRESSIVE (SOF2), the rest baseline
      // (SOF0) — both marker paths of the hand parse exercised and
      // oracled, as in a real mixed web corpus
      .mapPartitions(rows =>
        encodeJpegPartition(rows, JpegQuality, progressive = _ % 5 == 0))
      .mapPartitions { rows =>
        rows.map { r =>
          val (w, h, nc, prec, prog) = parseJpegSof(r.payload)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.payload))
          require(img != null, s"payload of id=${r.id} is not a decodable image")
          JpegMeta(r.id, w, h, nc, prec, prog, img.getWidth, img.getHeight)
        }
      }
      .toDF()
      .orderBy("id")
  }

  /** The lossy format flowing through the near-dup family: re-uploaded
    * JPEG dedup. Every ninth image also ships as a VARIANT row (new id =
    * base + [[JpegVariantOffset]], same raster — the "same image, new
    * object key" dup class that dominates web corpora); all payloads are
    * REAL JPEG bytes, all features come from the DECODED pixels, and the
    * pair search is the production banded shape ([[mmAhashPairs]]'s
    * 11-chunk pigeonhole over the decoded aHash — never all-pairs) with
    * the Hamming ≤ 10 + equal-dims + equal-gray-sum verify INSIDE the
    * join condition, then connected components canonicalize, exactly the
    * `mm_ahash_clusters` chain. Oracled exactly because the encoder is
    * deterministic at one quality (byte-identical payloads → identical
    * decoded features); the TOLERANT tier — cross-quality re-encodes
    * pairing at small nonzero Hamming — is pinned with measured margins
    * in `JpegSpec`, where lossy bounds belong. */
  def mmJpegDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id")).as[Long]
      .map(id => (id, id))
    val variants = base.filter(r => r._1 % 9 == 0)
      .map { case (id, src) => (id + JpegVariantOffset, src) }
    val decoded = base.union(variants)
      .mapPartitions(rows => encodeJpegPartition(rows, JpegQuality))
      .mapPartitions(decodeJpegPartition _)
      .toDF()
    val widths = Seq(6, 6, 6, 6, 6, 5, 5, 5, 5, 5, 5)
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunkStructs = widths.zip(offsets).zipWithIndex.map { case ((w, off), cid) =>
      struct(lit(cid).as("cid"),
        shiftright(col("ahash"), off).bitwiseAND(lit((1L << w) - 1)).as("cval"))
    }
    val probes = decoded
      .select(col("id"), col("ahash"), col("n_px"), col("sum_gray"),
        explode(array(chunkStructs: _*)).as("c"))
      .select(col("id"), col("ahash"), col("n_px"), col("sum_gray"),
        col("c.cid").as("cid"), col("c.cval").as("cval"))
      .repartition(col("id"))
    val ham = bit_count(col("x.ahash").bitwiseXOR(col("y.ahash")))
    val pairs = probes.as("x").join(probes.as("y"),
        col("x.cid") === col("y.cid") && col("x.cval") === col("y.cval") &&
        col("x.id") < col("y.id") && ham <= 10 &&
        col("x.n_px") === col("y.n_px") &&
        col("x.sum_gray") === col("y.sum_gray"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    graft.operators.ConnectedComponents.components(pairs)
      .select(
        col("component").as("cluster"),
        col("node").as("id"),
        (col("node") === col("component")).as("canonical"))
      .orderBy("cluster", "id")
  }

  /** CORRUPT-MEDIA QUARANTINE — the PERMISSIVE decode tier of the JPEG
    * family: real corpora carry truncated/invalid bytes, and the strict
    * parse ([[parseJpegSof]]) would kill the task (taking every healthy
    * object in the partition with it). This pass classifies every object
    * through [[parseJpegSofEither]] instead: healthy streams decode
    * (container facts kept), malformed streams land in a `_corrupt_media`
    * bucket with a stable reason code — the S2 `_corrupt_record`
    * discipline applied to media. Corruption is PLANTED deterministically
    * ([[corruptFor]]: zeroed SOI / truncation / marker corruption by
    * id class), so the oracle independently derives both the expected
    * bucket of every object AND the healthy rows' container dims from
    * arithmetic — a parser that crashes, mis-classifies, or drops a
    * healthy row breaks the hash. Scale shape: one encode+parse scan,
    * one reason-sized groupBy; no corrupt object costs more than its
    * header walk. */
  def mmJpegQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0) // the 'image' rows of mediaTable
      .select(col("doc_id")).as[Long]
      .map(id => (id, id))
      .mapPartitions(rows => encodeJpegPartition(rows, JpegQuality))
      .map { r =>
        parseJpegSofEither(corruptFor(r.src_id, r.payload)) match {
          case Right((w, h, _, _, _)) => (r.id, "decoded", "ok", w.toLong, h.toLong)
          case Left((code, _)) => (r.id, "quarantined", code, 0L, 0L)
        }
      }
      .toDF("id", "status", "reason", "w", "h")
      .groupBy("status", "reason")
      .agg(count(lit(1)).as("n_objects"),
        sum(col("w")).as("sum_width"), sum(col("h")).as("sum_height"))
      .orderBy("status", "reason")
  }

  // ------------------------------------------------ real AVI video tier

  case class AviPayload(id: Long, payload: Array[Byte])
  case class AviDecoded(
      id: Long, n_frames: Long, width: Int, height: Int, fps: Int,
      duration_ms: Long, px_sum: Long, px_check: Long)

  /** Frozen AVI tier shape: 6×4 BGR frames at 25 fps. Width 6 makes the
    * DIB stride 20 ≠ 18 raw bytes, so row padding (and the bottom-up row
    * order) is genuinely exercised by every payload, not just declared.
    */
  private[llm] val AviW = 6
  private[llm] val AviH = 4
  private[llm] val AviUsPerFrame = 40000L // 25 fps
  private[llm] def aviFrameCount(id: Long): Int = (2 + id % 5).toInt
  private[llm] def aviPixel(id: Long, f: Int, x: Int, y: Int, c: Int): Int =
    ((id * 7 + f * 31 + y * 13 + x * 5 + c * 11) % 256).toInt

  /** ENCODE pass: genuine RIFF/AVI bytes (uncompressed DIB frames) from
    * the deterministic per-id raster — the same generate-then-really-
    * encode shape as the PNG/WAV tiers, batched per partition.
    */
  private def encodeAviPartition(ids: Iterator[Long]): Iterator[AviPayload] =
    ids.map { id =>
      val nf = aviFrameCount(id)
      val frames = Array.tabulate(nf) { f =>
        val bytes = new Array[Byte](AviW * AviH * 3)
        var i = 0
        var y = 0
        while (y < AviH) {
          var x = 0
          while (x < AviW) {
            var c = 0
            while (c < 3) {
              bytes(i) = aviPixel(id, f, x, y, c).toByte; i += 1; c += 1
            }
            x += 1
          }
          y += 1
        }
        bytes
      }
      AviPayload(id, AviContainer.encode(AviW, AviH, AviUsPerFrame, frames))
    }

  /** REAL DECODE pass: parse the AVI container (AviContainer.decode walks
    * the RIFF tree, cross-checks avih/strh/movi frame counts, undoes DIB
    * stride padding and bottom-up row order) and extract features FROM
    * THE DECODED FRAMES: duration from the container's µs/frame ×
    * totalFrames — the value that was md5-synthetic through round 5 —
    * plus an exact pixel sum and a position-weighted checksum that any
    * row-order or padding mistake would break. The DuckDB oracle mirrors
    * the generating arithmetic, so a hash match proves the container
    * round-trip bit-exact.
    */
  private def decodeAviPartition(rows: Iterator[AviPayload]): Iterator[AviDecoded] =
    rows.map { r =>
      val v = AviContainer.decode(r.payload)
      var pxSum = 0L
      var pxCheck = 0L
      var f = 0
      while (f < v.nFrames) {
        val frame = v.frames(f)
        var i = 0
        while (i < frame.length) {
          val px = frame(i) & 0xff
          pxSum += px
          pxCheck += px.toLong * (f.toLong * frame.length + i + 1)
          i += 1
        }
        f += 1
      }
      AviDecoded(r.id, v.nFrames.toLong, v.width, v.height, v.fps,
        v.durationMs, pxSum, pxCheck)
    }

  /** Genuine-AVI decode over the corpus's video rows. */
  def mmAviDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 2) // the 'video' rows of mediaTable
      .select(col("doc_id")).as[Long]
      .mapPartitions(encodeAviPartition _)
      .mapPartitions(decodeAviPartition _)
      .toDF()
      .orderBy("id")
  }

  // ------------------------------------------------------- oracle queries

  /** Metadata pass over binary payloads — the non-stub subset (byte length,
    * content digest, modality routing), which DuckDB can verify exactly.
    */
  def mmMeta(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir)
      .select(
        col("id"),
        col("modality"),
        expr("octet_length(payload)").as("byte_len"),
        md5(col("payload")).as("content_md5"))
      .orderBy("id")

  /** Frame-sampling plan on deterministic (stub-decoded) durations. */
  def mmFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val decoded = decodeAll(spark, sfDir).toDF()
    frameSample(decoded, everyMs = 5000L).orderBy("id", "frame_no")
  }

  /** Frame-sampling with oracle-checkable durations: duration_ms derives
    * from the public n_chars column (40 ms per char — a stand-in bitrate)
    * instead of the decode stub, so DuckDB can verify the generator exactly:
    * one row per started 5-second frame interval per video.
    */
  def mmFramesSql(spark: SparkSession, sfDir: String): DataFrame = {
    val everyMs = 5000L
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 2) // the 'video' rows of mediaTable
      .withColumn("duration_ms", col("n_chars") * 40)
      .withColumn("frame_no",
        explode(sequence(lit(0L),
          greatest(ceil(col("duration_ms").cast("double") / everyMs).cast("long") - 1, lit(0L)))))
      .select(
        col("doc_id").as("id"),
        col("frame_no"),
        (col("frame_no") * everyMs).as("frame_ts_ms"),
        col("duration_ms"))
      .orderBy("id", "frame_no")
  }

  /** Resize planning with oracle-checkable dimensions: width/height derive
    * from public columns (doc_id arithmetic — the mmFramesSql trick again)
    * so DuckDB verifies the REAL `resizePlan` fit/no-upscale arithmetic
    * exactly. The fit ratio is IEEE-deterministic in both engines (single
    * divide + multiply + floor on identical doubles); only the displayed
    * scale is rounded.
    */
  def mmResize(spark: SparkSession, sfDir: String): DataFrame = {
    val dims = Tables.documents(spark, sfDir)
      .select(
        col("doc_id").as("id"),
        element_at(
          array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3).cast("int") + 1).as("modality"),
        (lit(16) * (col("doc_id") % 120 + 1)).cast("int").as("width"),
        (lit(16) * (expr("doc_id div 7") % 68 + 1)).cast("int").as("height"))
    resizePlan(dims, maxW = 640, maxH = 360)
      .withColumn("scale", round(col("scale"), 6))
      .orderBy("id")
  }

  /** Silence trimming for the 'audio' rows — the lead-in/lead-out cut every
    * speech pipeline runs before feature extraction. Frames are 25 ms-ish
    * (`n_chars div 25` of them) and per-frame energy derives from public
    * columns (`(doc_id·31 + frame) mod 7`, 0 = silent — the mmFramesSql
    * determinism trick), so DuckDB verifies the REAL trim arithmetic: first/
    * last voiced frame via min/max over a generated frame axis (explode —
    * never a driver loop), kept span and trim counts from them. A real
    * deployment swaps the energy synth for the decoder's RMS pass;
    * everything else (generator → filter → per-id min/max agg) is the
    * production plan shape.
    */
  def mmSilenceTrim(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 1) // the 'audio' rows of mediaTable
      .select(col("doc_id").as("id"),
        expr("n_chars div 25").as("n_frames"))
      .filter(col("n_frames") > 0)
      .withColumn("frame", explode(sequence(lit(0L), col("n_frames") - 1)))
      .withColumn("energy", (col("id") * 31 + col("frame")) % 7)
      .groupBy("id", "n_frames")
      .agg(
        min(when(col("energy") > 0, col("frame"))).as("first_voiced"),
        max(when(col("energy") > 0, col("frame"))).as("last_voiced"))
      .select(col("id"), col("n_frames"), col("first_voiced"), col("last_voiced"),
        coalesce(col("last_voiced") - col("first_voiced") + 1, lit(0L)).as("kept_frames"),
        coalesce(col("first_voiced"), col("n_frames")).as("lead_trim"),
        coalesce(col("n_frames") - 1 - col("last_voiced"), lit(0L)).as("tail_trim"))
      .orderBy("id")
  }

  /** Average-hash (aHash) near-dup fingerprint for the 'image' rows — the
    * standard cheap perceptual hash: sample a fixed 60-cell grid from the
    * decoded plane, threshold each cell against the grid mean, pack 60
    * bits (the house 60-bit convention — simhash's — so the sign bit
    * never overflows either engine's BIGINT). Here the "plane" is the payload's byte sequence (the stub
    * decode; a real deployment hashes the resized grayscale raster, same
    * arithmetic), sampled at the 60 stride positions k·len div 60. The
    * threshold is exact — cell·60 > Σcells cross-multiplied in integers,
    * never a float mean — so the hash is oracle-exact; matching hashes
    * (`n_same`) are the near-dup groups an image pipeline collapses.
    * Shape: one map stage + one hash-keyed window count.
    */
  def mmAhash(spark: SparkSession, sfDir: String): DataFrame = {
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy("ahash")
    ahashOf(spark, sfDir)
      .withColumn("n_same", count(lit(1)).over(byHash))
      .select(col("id"), col("ahash"), col("n_same"))
      .orderBy("id")
  }

  /** (id, ahash) over the 'image' rows — the shared front half of mmAhash
    * (exact-match groups) and mmAhashPairs (near-match radius search).
    */
  private def ahashOf(spark: SparkSession, sfDir: String): DataFrame = {
    // coalesce keeps every sub-expression NON-NULLABLE: otherwise the
    // self-join in mmAhashPairs infers IsNotNull(chunk_value) constraints,
    // and the optimizer pushes that null test below the barrier exchange as
    // the fully-INLINED hash expression, re-running the O(60²) interpreted
    // fold against raw text at both scans (measured: the entire 26 s of
    // mm_ahash_pairs at sf0.1 was this inferred filter)
    val samples = expr(
      "transform(sequence(0, 59), k -> ascii(substring(coalesce(text, ''), cast((k * length(coalesce(text, ''))) div 60 as int) + 1, 1)))")
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0) // the 'image' rows of mediaTable
      .withColumn("s", samples)
      .withColumn("tot", expr("aggregate(s, 0L, (acc, x) -> acc + x)"))
      // barrier: CollapseProject would otherwise INLINE s and tot into every
      // step of the 60-step bit fold below — each step re-running the
      // 60-substring transform and the 60-step total (O(60²) interpreted
      // lambda frames per evaluation; higher-order functions don't codegen),
      // and downstream fanout (11 chunks × 2 self-join sides in
      // mmAhashPairs) re-evaluates the whole monster per row: measured 26 s
      // at sf0.1. The 2-column exchange pins s/tot to one evaluation per
      // image; after it the fold reads materialized arrays.
      .repartition(col("doc_id"))
      .withColumn("ahash", expr(
        "aggregate(sequence(0, 59), 0L, (acc, k) -> " +
          "acc + if(element_at(s, k + 1) * 60 > tot, shiftleft(cast(1 as bigint), k), 0L))"))
      // the outer coalesce makes the OUTPUT attribute non-nullable (the
      // fold can't actually be null, but ArrayAggregate reports nullable):
      // otherwise mmAhashPairs' self-join infers IsNotNull on every join
      // key derived from ahash, and the optimizer pushes that test below
      // the exchange as the fully-inlined fold, re-running it per raw scan
      // row on both sides
      .select(col("doc_id").as("id"), coalesce(col("ahash"), lit(0L)).as("ahash"))
  }

  /** Perceptual NEAR-dup image pairs — Hamming distance ≤ 10 between
    * 60-bit average-hashes, the radius search an image-dedup pipeline runs
    * after exact-hash grouping (mmAhash) to catch re-encodes/crops. Same
    * pigeonhole blocking as dedup_simhash_pairs: split 60 bits into 11
    * chunks (5×6 + 6×5 bits); two hashes within distance 10 differ in at
    * most 10 chunks, so they agree exactly on ≥1 — candidate generation is
    * an equi-join on (chunk_id, chunk_value) with zero recall loss, and
    * exact bit_count verification runs only on candidates. Radius is the
    * scale knob: at radius 10 the chunks are 5-6 bits wide, so random
    * hashes collide on a given chunk at ~2⁻⁵ — fine at 10⁵-image corpora,
    * but at 10⁹ images a production pass tightens to radius 3-4 (16-bit
    * chunks, ~2⁻¹⁶ collisions) and reaches wider radii by re-running on
    * the survivors' rotations instead of widening chunks.
    */
  def mmAhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val widths = Seq(6, 6, 6, 6, 6, 5, 5, 5, 5, 5, 5)
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunkStructs = widths.zip(offsets).zipWithIndex.map { case ((w, off), id) =>
      struct(lit(id).as("cid"),
        shiftright(col("ahash"), off).bitwiseAND(lit((1L << w) - 1)).as("cval"))
    }
    // pinned exchange → the ahash map stage + chunk explode feed both
    // self-join sides once (ReuseExchange), as in dedup_simhash_pairs
    val probes = ahashOf(spark, sfDir)
      .select(col("id"), col("ahash"), explode(array(chunkStructs: _*)).as("c"))
      .select(col("id"), col("ahash"), col("c.cid").as("cid"), col("c.cval").as("cval"))
      .repartition(col("id"))
    // the Hamming test runs INSIDE the join condition: candidates are
    // integer-op-verified in the join loop and non-matches die before any
    // shuffle — with byte-sample hashes the bits are correlated, so narrow
    // chunks collide often and the candidate multiset is ~10⁷ at sf0.1;
    // filtering it before the distinct is a 10× wall-clock difference
    // (measured: 26 s → the distinct was shuffling the full multiset)
    val ham = bit_count(col("x.ahash").bitwiseXOR(col("y.ahash")))
    probes.as("x").join(probes.as("y"),
        col("x.cid") === col("y.cid") && col("x.cval") === col("y.cval") &&
        col("x.id") < col("y.id") && ham <= 10)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        ham.cast("int").as("hamming"))
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Image near-dup CLUSTERS — connected components over the perceptual
    * pair graph (mmAhashPairs), canonical image = min id per cluster: the
    * transitive-consistent survivor rule, exactly as text dedup goes
    * pairs → clusters (`dedup_clusters`). A~B and B~C must collapse
    * {B, C} together even when A~C's Hamming distance exceeds the radius;
    * the component step is what makes dedup decisions consistent. Scale
    * profile is ConnectedComponents' (star-contraction rounds, lineage
    * cut per round); near-dup graphs converge in a handful of rounds.
    */
  def mmAhashClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = mmAhashPairs(spark, sfDir)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    graft.operators.ConnectedComponents.components(pairs)
      .select(
        col("component").as("cluster"),
        col("node").as("id"),
        (col("node") === col("component")).as("canonical"))
      .orderBy("cluster", "id")
  }

  /** The perceptual-cluster closure with PREFIXED CTE names (mm_*) so it
    * composes into OTHER oracles (refinery_mm_dedup) without colliding
    * with their CTEs — the `Dedup.duckClusterLoserCtes` discipline for
    * the image pair graph. Exposes `mm_losers(doc_id)`: docs whose IMAGE
    * payload is a non-canonical member of an aHash near-dup cluster,
    * i.e. exactly what `mmAhashClusters.filter(!canonical)` drops. The
    * enclosing query must open `WITH RECURSIVE`.
    */
  private[llm] val duckAhashLoserCtes: String =
    """mm_img AS (
      |  SELECT doc_id AS id,
      |    list_transform(range(0, 60),
      |      k -> ascii(substr(text, CAST((k * len(text)) // 60 AS INTEGER) + 1, 1))) AS s
      |  FROM documents WHERE doc_id % 3 = 0
      |), mm_hashed AS (
      |  SELECT id, s, list_sum(s) AS tot FROM mm_img
      |), mm_packed AS (
      |  SELECT id,
      |    CAST(list_sum(list_transform(range(0, 60),
      |      k -> CASE WHEN s[k + 1] * 60 > tot THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))
      |      AS BIGINT) AS ahash
      |  FROM mm_hashed
      |), mm_pairs AS (
      |  SELECT a.id AS pa, b.id AS pb
      |  FROM mm_packed a JOIN mm_packed b ON a.id < b.id
      |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 10
      |), mm_edges AS (
      |  SELECT pa AS a, pb AS b FROM mm_pairs
      |  UNION SELECT pb, pa FROM mm_pairs
      |), mm_reach(n, m) AS (
      |  SELECT a, b FROM mm_edges
      |  UNION
      |  SELECT r.n, e.b FROM mm_reach r JOIN mm_edges e ON r.m = e.a WHERE e.b <> r.n
      |), mm_losers AS (
      |  SELECT n AS doc_id FROM mm_reach GROUP BY n
      |  HAVING LEAST(n, MIN(m)) <> n
      |)""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_ahash"      -> (mmAhash _),
    "mm_ahash_pairs" -> (mmAhashPairs _),
    "mm_ahash_clusters" -> (mmAhashClusters _),
    "mm_silence_trim" -> (mmSilenceTrim _),
    "mm_meta"       -> (mmMeta _),
    "mm_frames"     -> (mmFrames _), // oracled: the md5 stub is SQL-mirrorable
    "mm_frames_sql" -> (mmFramesSql _),
    "mm_resize"     -> (mmResize _),
    "mm_png_decode" -> (mmPngDecode _),
    "mm_png_resize" -> (mmPngResize _),
    "mm_wav_decode" -> (mmWavDecode _),
    "mm_avi_decode" -> (mmAviDecode _),
    "mm_jpeg_meta"  -> (mmJpegMeta _),
    "mm_jpeg_dedup" -> (mmJpegDedup _),
    "mm_jpeg_quarantine" -> (mmJpegQuarantine _),
  )

  override def oracles: Map[String, String] = Map(
    "mm_ahash" ->
      """WITH img AS (
        |  SELECT doc_id AS id,
        |    list_transform(range(0, 60),
        |      k -> ascii(substr(text, CAST((k * len(text)) // 60 AS INTEGER) + 1, 1))) AS s
        |  FROM documents WHERE doc_id % 3 = 0
        |), hashed AS (
        |  SELECT id, s, list_sum(s) AS tot FROM img
        |), packed AS (
        |  SELECT id,
        |    CAST(list_sum(list_transform(range(0, 60),
        |      k -> CASE WHEN s[k + 1] * 60 > tot THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))
        |      AS BIGINT) AS ahash
        |  FROM hashed
        |)
        |SELECT id, ahash, COUNT(*) OVER (PARTITION BY ahash) AS n_same
        |FROM packed ORDER BY id""".stripMargin,
    "mm_ahash_clusters" ->
      """WITH RECURSIVE img AS (
        |  SELECT doc_id AS id,
        |    list_transform(range(0, 60),
        |      k -> ascii(substr(text, CAST((k * len(text)) // 60 AS INTEGER) + 1, 1))) AS s
        |  FROM documents WHERE doc_id % 3 = 0
        |), hashed AS (
        |  SELECT id, s, list_sum(s) AS tot FROM img
        |), packed AS (
        |  SELECT id,
        |    CAST(list_sum(list_transform(range(0, 60),
        |      k -> CASE WHEN s[k + 1] * 60 > tot THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))
        |      AS BIGINT) AS ahash
        |  FROM hashed
        |), pairs AS (
        |  SELECT a.id AS pa, b.id AS pb
        |  FROM packed a JOIN packed b ON a.id < b.id
        |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 10
        |), edges AS (
        |  SELECT pa AS a, pb AS b FROM pairs
        |  UNION SELECT pb, pa FROM pairs
        |), reach(n, m) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a WHERE e.b <> r.n
        |)
        |SELECT LEAST(n, MIN(m)) AS cluster, n AS id,
        |  (LEAST(n, MIN(m)) = n) AS canonical
        |FROM reach GROUP BY n
        |ORDER BY cluster, id""".stripMargin,
    "mm_ahash_pairs" ->
      """WITH img AS (
        |  SELECT doc_id AS id,
        |    list_transform(range(0, 60),
        |      k -> ascii(substr(text, CAST((k * len(text)) // 60 AS INTEGER) + 1, 1))) AS s
        |  FROM documents WHERE doc_id % 3 = 0
        |), hashed AS (
        |  SELECT id, s, list_sum(s) AS tot FROM img
        |), packed AS (
        |  SELECT id,
        |    CAST(list_sum(list_transform(range(0, 60),
        |      k -> CASE WHEN s[k + 1] * 60 > tot THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))
        |      AS BIGINT) AS ahash
        |  FROM hashed
        |)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
        |FROM packed a JOIN packed b ON a.id < b.id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 10
        |ORDER BY id_a, id_b""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id AS id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY id""".stripMargin,
    // mm_frames' durations come from the stub decoder, but the stub is
    // md5-derived and md5 is identical cross-engine — so the oracle mirrors
    // it exactly: duration_ms = (bytes 2-3 of md5(payload) as a 16-bit
    // big-endian int) * 40, i.e. hex chars 5-8. A real codec would drop
    // this oracle (decode output isn't SQL), keeping the rows-only check.
    "mm_frames" ->
      """WITH v AS (
        |  SELECT doc_id AS id,
        |    CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) * 40 AS duration_ms
        |  FROM documents WHERE doc_id % 3 = 2
        |)
        |SELECT id,
        |  unnest(range(0, greatest(CAST(floor(duration_ms / 5000.0) AS BIGINT), 1))) AS frame_no,
        |  unnest(range(0, greatest(CAST(floor(duration_ms / 5000.0) AS BIGINT), 1))) * 5000 AS frame_ts_ms
        |FROM v
        |ORDER BY id, frame_no""".stripMargin,
    "mm_resize" ->
      """WITH dims AS (
        |  SELECT doc_id AS id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |    CAST(16 * (doc_id % 120 + 1) AS INTEGER) AS width,
        |    CAST(16 * ((doc_id // 7) % 68 + 1) AS INTEGER) AS height
        |  FROM documents
        |), r AS (
        |  SELECT *, least(640.0 / width, 360.0 / height, 1.0) AS raw_scale
        |  FROM dims WHERE modality IN ('image', 'video')
        |)
        |SELECT id, modality, width, height,
        |  CAST(floor(width * raw_scale) AS INTEGER) AS out_width,
        |  CAST(floor(height * raw_scale) AS INTEGER) AS out_height,
        |  ROUND(raw_scale, 6) AS scale
        |FROM r ORDER BY id""".stripMargin,
    "mm_silence_trim" ->
      """WITH f AS (
        |  SELECT doc_id AS id, n_chars // 25 AS n_frames,
        |    unnest(range(0, n_chars // 25)) AS frame
        |  FROM documents
        |  WHERE doc_id % 3 = 1 AND n_chars // 25 > 0
        |), e AS (
        |  SELECT id, n_frames, frame, (id * 31 + frame) % 7 AS energy FROM f
        |), agg AS (
        |  SELECT id, n_frames,
        |    MIN(CASE WHEN energy > 0 THEN frame END) AS first_voiced,
        |    MAX(CASE WHEN energy > 0 THEN frame END) AS last_voiced
        |  FROM e GROUP BY id, n_frames
        |)
        |SELECT id, n_frames, first_voiced, last_voiced,
        |  COALESCE(last_voiced - first_voiced + 1, 0) AS kept_frames,
        |  COALESCE(first_voiced, n_frames) AS lead_trim,
        |  COALESCE(n_frames - 1 - last_voiced, 0) AS tail_trim
        |FROM agg
        |ORDER BY id""".stripMargin,
    // The real-codec tier: the oracle mirrors the deterministic raster/PCM
    // GENERATOR; PNG and 16-bit PCM WAV are lossless, so a hash match
    // proves the javax.imageio / javax.sound round-trip is bit-exact.
    "mm_png_decode" ->
      """WITH img AS (
        |  SELECT doc_id AS id,
        |    CAST(8 + doc_id % 9 AS INTEGER) AS w,
        |    CAST(8 + (doc_id // 7) % 9 AS INTEGER) AS h
        |  FROM documents WHERE doc_id % 3 = 0
        |), px AS (
        |  SELECT id, w, h,
        |    list_transform(range(0, w * h),
        |      i -> (id * 31 + (i % w) * 7 + (i // w) * 13) % 256) AS g
        |  FROM img
        |), samp AS (
        |  SELECT id, w, h, list_sum(g) AS sum_gray,
        |    list_transform(range(0, 60), k -> g[CAST((k * w * h) // 60 AS INTEGER) + 1]) AS s
        |  FROM px
        |), tot AS (
        |  SELECT id, w, h, sum_gray, s, list_sum(s) AS t FROM samp
        |)
        |SELECT id, w AS width, h AS height, CAST(w * h AS INTEGER) AS n_px,
        |  CAST(sum_gray AS BIGINT) AS sum_gray,
        |  CAST(list_sum(list_transform(range(0, 60),
        |    k -> CASE WHEN s[k + 1] * 60 > t THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))
        |    AS BIGINT) AS ahash
        |FROM tot ORDER BY id""".stripMargin,
    "mm_png_resize" ->
      """WITH img AS (
        |  SELECT doc_id AS id, 'image' AS modality,
        |    CAST(8 + doc_id % 9 AS INTEGER) AS width,
        |    CAST(8 + (doc_id // 7) % 9 AS INTEGER) AS height
        |  FROM documents WHERE doc_id % 3 = 0
        |), r AS (
        |  SELECT *, least(12.0 / width, 12.0 / height, 1.0) AS raw_scale FROM img
        |)
        |SELECT id, modality, width, height,
        |  CAST(floor(width * raw_scale) AS INTEGER) AS out_width,
        |  CAST(floor(height * raw_scale) AS INTEGER) AS out_height,
        |  ROUND(raw_scale, 6) AS scale
        |FROM r ORDER BY id""".stripMargin,
    // The LOSSY tier oracles only what survives the codec exactly: the
    // container facts (SOF dims/components/precision mirror the raster
    // arithmetic; 1-component 8-bit baseline is the encoder's contract
    // for a TYPE_BYTE_GRAY source) and the determinism of one fixed
    // quality (byte-identical re-uploads -> identical decoded features,
    // so the dedup clusters are by-construction). Pixel error envelopes
    // live in JpegSpec.
    "mm_jpeg_meta" ->
      """SELECT doc_id AS id,
        |  CAST(8 + doc_id % 9 AS INTEGER) AS width,
        |  CAST(8 + (doc_id // 7) % 9 AS INTEGER) AS height,
        |  CAST(1 AS INTEGER) AS n_components,
        |  CAST(8 AS INTEGER) AS bit_depth,
        |  (doc_id % 5 = 0) AS progressive,
        |  CAST(8 + doc_id % 9 AS INTEGER) AS dec_width,
        |  CAST(8 + (doc_id // 7) % 9 AS INTEGER) AS dec_height
        |FROM documents WHERE doc_id % 3 = 0 ORDER BY id""".stripMargin,
    // SF ceiling (advisor-noted): this zero-accidental-pairs shape is
    // separation-TESTED in JpegSpec over ids 0..1998 — the correctness
    // SF's (sf0.01) actual doc_id space. Dims cycle with period 63, so a
    // much larger id space could in principle mint a data-dependent
    // aHash collision (Hamming<=10 + equal n_px + equal sum_gray) that
    // fails this gate with no code bug; re-derive JpegSpec's separation
    // range before pointing the oracle at a bigger correctness SF.
    "mm_jpeg_dedup" ->
      s"""SELECT doc_id AS cluster, doc_id AS id, TRUE AS canonical
         |FROM documents WHERE doc_id % 9 = 0
         |UNION ALL
         |SELECT doc_id, doc_id + $JpegVariantOffset, FALSE
         |FROM documents WHERE doc_id % 9 = 0
         |ORDER BY cluster, id""".stripMargin,
    // mm_jpeg_quarantine: the oracle re-derives every object's bucket
    // from the PLANTING arithmetic (id%7 class -> reason) and the healthy
    // rows' container dims from the raster arithmetic — so a permissive
    // parser that crashes, mis-codes a reason, or drops a healthy row
    // breaks the hash.
    "mm_jpeg_quarantine" ->
      """WITH cls AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 1 THEN 'missing_soi'
        |         WHEN doc_id % 7 = 2 THEN 'no_sof'
        |         WHEN doc_id % 7 = 3 THEN 'bad_marker'
        |         ELSE 'ok' END AS reason
        |  FROM documents WHERE doc_id % 3 = 0
        |)
        |SELECT CASE WHEN reason = 'ok' THEN 'decoded' ELSE 'quarantined' END AS status,
        |  reason, COUNT(*) AS n_objects,
        |  CAST(SUM(CASE WHEN reason = 'ok' THEN 8 + doc_id % 9 ELSE 0 END) AS BIGINT) AS sum_width,
        |  CAST(SUM(CASE WHEN reason = 'ok' THEN 8 + (doc_id // 7) % 9 ELSE 0 END) AS BIGINT) AS sum_height
        |FROM cls GROUP BY 1, 2 ORDER BY status, reason""".stripMargin,
    "mm_wav_decode" ->
      """WITH a AS (
        |  SELECT doc_id AS id, CAST(200 + doc_id % 100 AS INTEGER) AS n
        |  FROM documents WHERE doc_id % 3 = 1
        |), s AS (
        |  SELECT id, n,
        |    list_transform(range(0, n),
        |      t -> abs((id * 131 + t * 17) % 2048 - 1024)) AS amp
        |  FROM a
        |)
        |SELECT id, 8000 AS sample_rate, n AS n_samples,
        |  CAST(list_sum(amp) AS BIGINT) AS sum_abs,
        |  CAST(list_aggregate(amp, 'max') AS INTEGER) AS peak
        |FROM s ORDER BY id""".stripMargin,
    // mm_avi_decode: mirrors the GENERATING raster arithmetic — the Spark
    // side must reproduce it through a real AVI encode → container parse
    // round-trip (stride padding + bottom-up rows undone), so a hash
    // match proves the container handling bit-exact. Global pixel index
    // i = f*72 + (y*6 + x)*3 + c over 6×4 BGR frames.
    "mm_avi_decode" ->
      """WITH v AS (
        |  SELECT doc_id AS id, 2 + doc_id % 5 AS nf
        |  FROM documents WHERE doc_id % 3 = 2
        |), px AS (
        |  SELECT v.id, v.nf, i.i,
        |    (v.id * 7 + (i.i // 72) * 31 + ((i.i % 72) // 18) * 13
        |     + ((i.i % 18) // 3) * 5 + (i.i % 3) * 11) % 256 AS val
        |  FROM v JOIN range(0, 6 * 72) i(i) ON i.i < v.nf * 72
        |)
        |SELECT id, CAST(nf AS BIGINT) AS n_frames, 6 AS width, 4 AS height,
        |  25 AS fps, CAST(nf * 40 AS BIGINT) AS duration_ms,
        |  CAST(SUM(val) AS BIGINT) AS px_sum,
        |  CAST(SUM(val * (i + 1)) AS BIGINT) AS px_check
        |FROM px GROUP BY id, nf ORDER BY id""".stripMargin,
    "mm_frames_sql" ->
      """SELECT doc_id AS id,
        |  unnest(range(0, greatest(CAST(ceil((n_chars * 40)::DOUBLE / 5000) AS BIGINT), 1))) AS frame_no,
        |  unnest(range(0, greatest(CAST(ceil((n_chars * 40)::DOUBLE / 5000) AS BIGINT), 1))) * 5000 AS frame_ts_ms,
        |  n_chars * 40 AS duration_ms
        |FROM documents WHERE doc_id % 3 = 2
        |ORDER BY id, frame_no""".stripMargin,
  )
}
