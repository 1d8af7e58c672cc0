package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.queries.Tables

/** Multimodal columns for a training-data pipeline: media payloads ride
  * as opaque BINARY columns with typed metadata alongside; decode /
  * feature-extract / frame-sample run per-partition against the bytes.
  *
  * The IMAGE and AUDIO decode paths are REAL: [[Bmp]] synthesizes
  * deterministic 24-bit BMP payloads and [[Decode.decode]] runs them
  * through `javax.imageio.ImageIO` (actual raster decoding); [[Wav]]
  * synthesizes 16-bit PCM WAV payloads and decode runs them through
  * `javax.sound.sampled.AudioSystem` (actual audio-stream decoding —
  * sample rate, channels, duration, amplitude histogram from DECODED
  * samples). VIDEO has no JDK codec, so its payloads use an honest
  * stand-in container instead of a stub: [[Bmv]] concatenates complete
  * BMP frames (each self-delimiting via its header's byte length) and
  * decode walks the stream frame by frame through the SAME `ImageIO`
  * raster path — real per-frame decoding, frame count, duration at a
  * fixed frame rate, and per-frame luminance (temporal drift,
  * [[videoFrameLuminance]]). Zero external jars anywhere. The plumbing —
  * BINARY schema, iterator-per-partition batch shape (one decoder per
  * partition, not per row), typed Dataset boundary — is identical for
  * all three, so a production codec (H.264 via JNI, say) drops in per
  * format without touching the Spark side.
  *
  * Scale shape: payload bytes never shuffle for metadata-only queries
  * (pruned at the scan); feature extraction is embarrassingly parallel
  * per partition; frame offsets are computed arithmetically, not by
  * materializing frames.
  */
object MultimodalOps {

  /** A media row: payload + typed metadata (the test corpus has no binary
    * table, so payloads are synthesized from `documents.text` bytes — the
    * BINARY column and everything downstream of it is real).
    */
  final case class MediaRow(doc_id: Long, format: String, payload: Array[Byte])

  /** Extracted features, per modality:
    *  - decoded images: width/height are the raster dimensions, `hist` a
    *    16-bin luminance histogram over DECODED pixels (mass = w·h);
    *    audio fields zero.
    *  - decoded audio: sample_rate/channels/duration_us from the codec,
    *    `hist` a 16-bin amplitude histogram over DECODED 16-bit samples
    *    (mass = frames·channels); image fields zero.
    *  - undecoded payloads: all codec fields zero and `hist` is the byte
    *    histogram (mass = n_bytes).
    */
  final case class MediaFeatures(doc_id: Long, format: String, n_bytes: Long,
                                 width: Int, height: Int,
                                 sample_rate: Int, channels: Int,
                                 duration_us: Long, hist: Array[Long],
                                 n_frames: Int = 0)

  /** Minimal 24-bit uncompressed BMP writer — enough container for
    * `ImageIO.read` to produce a real `BufferedImage`. Pure JDK byte
    * layout: 14-byte file header + 40-byte DIB header, bottom-up rows,
    * BGR order, rows padded to 4 bytes.
    */
  object Bmp {
    def encode(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == width * height * 3, "rgb must be w*h*3 bytes")
      val rowSize = (3 * width + 3) & ~3
      val dataSize = rowSize * height
      val out = java.nio.ByteBuffer.allocate(54 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
        .putInt(0).putInt(54)
      out.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
        .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
      var y = height - 1 // bottom-up
      while (y >= 0) {
        var x = 0
        while (x < width) {
          val i = (y * width + x) * 3
          out.put(rgb(i + 2)).put(rgb(i + 1)).put(rgb(i)) // BGR
          x += 1
        }
        var pad = rowSize - 3 * width
        while (pad > 0) { out.put(0.toByte); pad -= 1 }
        y -= 1
      }
      out.array()
    }
  }

  /** Minimal 16-bit PCM WAV writer — enough container for
    * `AudioSystem.getAudioInputStream` to produce a real decoded stream.
    * Pure JDK byte layout: RIFF header + fmt chunk + data chunk,
    * little-endian samples interleaved by channel.
    */
  object Wav {
    def encode(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
      require(channels > 0 && samples.length % channels == 0,
        "samples must be a whole number of frames")
      val dataSize = samples.length * 2
      val byteRate = sampleRate * channels * 2
      val out = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVE".getBytes("US-ASCII"))
      out.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(channels.toShort).putInt(sampleRate).putInt(byteRate)
        .putShort((channels * 2).toShort).putShort(16)
      out.put("data".getBytes("US-ASCII")).putInt(dataSize)
      var i = 0
      while (i < samples.length) { out.putShort(samples(i)); i += 1 }
      out.array()
    }
  }

  /** Concatenated-BMP "video" container — the stand-in that retires the
    * video stub without pretending a codec exists: a clip is complete
    * BMP frames laid end to end, each self-delimiting via the BMP
    * header's little-endian byte-length field, so a reader needs no
    * outer index to walk the stream. Decode runs every frame through the
    * same real `ImageIO` raster path as still images.
    */
  object Bmv {
    val FrameUs = 100000L // fixed 10 fps for duration accounting

    def encode(frames: Seq[Array[Byte]]): Array[Byte] =
      frames.toArray.flatten

    /** Split a clip into its BMP frames; throws on any malformed frame
      * boundary (callers fall back via NonFatal, same as bad stills).
      */
    def split(p: Array[Byte]): Seq[Array[Byte]] = {
      val out = Seq.newBuilder[Array[Byte]]
      var off = 0
      var n = 0
      while (off < p.length) {
        require(off + 54 <= p.length &&
          p(off) == 'B'.toByte && p(off + 1) == 'M'.toByte,
          s"bad frame magic at $off")
        val size = (p(off + 2) & 0xFF) | ((p(off + 3) & 0xFF) << 8) |
          ((p(off + 4) & 0xFF) << 16) | ((p(off + 5) & 0xFF) << 24)
        require(size >= 54 && off + size <= p.length, s"bad frame size $size at $off")
        out += java.util.Arrays.copyOfRange(p, off, off + size)
        off += size
        n += 1
      }
      require(n > 0, "empty clip")
      out.result()
    }
  }

  /** The media table: documents.text as bytes + a deterministic modality
    * tag. BINARY column + metadata, the multimodal storage shape.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("format"),
      col("text").cast("binary").as("payload"))

  object Decode {
    import scala.util.control.NonFatal

    private def isBmp(p: Array[Byte]): Boolean =
      p.length > 54 && p(0) == 'B'.toByte && p(1) == 'M'.toByte

    private def isWav(p: Array[Byte]): Boolean =
      p.length > 44 &&
        p(0) == 'R'.toByte && p(1) == 'I'.toByte &&
        p(2) == 'F'.toByte && p(3) == 'F'.toByte &&
        p(8) == 'W'.toByte && p(9) == 'A'.toByte &&
        p(10) == 'V'.toByte && p(11) == 'E'.toByte

    /** The one luminance kernel — mean-of-channels per pixel, binned into
      * `hist` (16 bins), returning the pixel luminance SUM. Shared by
      * stills, clips and the per-frame drift signal so the definition
      * (cross-checked from first principles in MultimodalSpec) cannot
      * fork between the histogram and the temporal features.
      */
    private[multimodal] def rasterLum(img: java.awt.image.BufferedImage,
                                      hist: Array[Long]): Long = {
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val px = img.getRGB(x, y)
          val lum = (((px >> 16) & 0xFF) + ((px >> 8) & 0xFF) + (px & 0xFF)) / 3
          hist(lum >> 4) += 1
          sum += lum
          x += 1
        }
        y += 1
      }
      sum
    }

    private def imageFeatures(r: MediaRow,
                              img: java.awt.image.BufferedImage): MediaFeatures = {
      val hist = new Array[Long](16)
      rasterLum(img, hist)
      MediaFeatures(r.doc_id, r.format, r.payload.length.toLong,
        img.getWidth, img.getHeight, 0, 0, 0L, hist)
    }

    /** Real audio decode: `AudioSystem` parses the container (format
      * params come from the codec, not from our own header reads), then
      * the decoded 16-bit LE sample stream feeds a 16-bin amplitude
      * histogram — mass = frames·channels, NOT payload bytes, which is
      * what proves the features came from decoded samples.
      */
    private def audioFeatures(r: MediaRow): MediaFeatures = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      try {
        val fmt = in.getFormat
        val frames = in.getFrameLength
        val channels = fmt.getChannels
        val rate = fmt.getSampleRate.toInt
        // Trust nothing the container reports until it is the shape the
        // sample loop assumes: 16-bit signed little-endian PCM with a
        // known frame count. An 8-bit or big-endian WAV parses fine but
        // would be misread two-bytes-at-a-time into garbage 'decoded'
        // features, and AudioSystem.NOT_SPECIFIED (-1) frames would
        // yield a negative duration — both must fall back to the byte
        // histogram (these requires are caught by the NonFatal handler).
        require(fmt.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"unsupported encoding ${fmt.getEncoding}")
        require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
          "sample loop requires 16-bit little-endian")
        require(frames >= 0 && rate > 0 && channels > 0,
          s"unspecified frame count or bad format ($frames, $rate, $channels)")
        val durationUs = frames * 1000000L / rate
        val bytes = in.readAllBytes()
        val hist = new Array[Long](16)
        var i = 0
        while (i + 1 < bytes.length) {
          val s = ((bytes(i) & 0xFF) | (bytes(i + 1) << 8)).toShort
          hist((s + 32768) >> 12) += 1
          i += 2
        }
        MediaFeatures(r.doc_id, r.format, r.payload.length.toLong,
          0, 0, rate, channels, durationUs, hist)
      } finally in.close()
    }

    /** Real video decode over the [[Bmv]] stand-in container: walk the
      * self-delimiting frame stream, raster-decode EVERY frame through
      * `ImageIO` (null ⇒ malformed ⇒ throw ⇒ byte-histogram fallback,
      * same contract as stills), accumulate the luminance histogram
      * across all frames (mass = w·h·frames — proof the features came
      * from decoded pixels), and account duration at the container's
      * fixed frame rate.
      */
    private def videoFeatures(r: MediaRow): MediaFeatures = {
      val frames = Bmv.split(r.payload)
      var w = 0
      var h = 0
      val hist = new Array[Long](16)
      frames.foreach { fb =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fb))
        require(img != null, "undecodable frame")
        if (w == 0) { w = img.getWidth; h = img.getHeight }
        rasterLum(img, hist)
      }
      MediaFeatures(r.doc_id, r.format, r.payload.length.toLong, w, h, 0, 0,
        frames.size * Bmv.FrameUs, hist, frames.size)
    }

    private def byteHistogram(r: MediaRow): MediaFeatures = {
      val hist = new Array[Long](16)
      var i = 0
      while (i < r.payload.length) {
        hist((r.payload(i) & 0xFF) >> 4) += 1
        i += 1
      }
      MediaFeatures(r.doc_id, r.format, r.payload.length.toLong, 0, 0, 0, 0, 0L, hist)
    }

    /** Per-partition decode: BMP image payloads go through a REAL
      * `javax.imageio.ImageIO.read` (raster dimensions + luminance
      * histogram over decoded pixels), WAV audio payloads through a REAL
      * `javax.sound.sampled.AudioSystem` stream (rate/channels/duration +
      * amplitude histogram over decoded samples), and BMV video payloads
      * through per-frame `ImageIO` raster decode ([[videoFeatures]]:
      * frame count, duration, all-frames luminance histogram). Payloads
      * that merely start with a magic number but don't parse fall back
      * to the deterministic byte histogram. NonFatal, not just
      * IOException: garbage dimension/size fields after a valid magic
      * make JDK codecs throw IllegalArgumentException /
      * NegativeArraySizeException, and a bad payload must fall back, not
      * fail the task.
      */
    def decode(rows: Iterator[MediaRow]): Iterator[MediaFeatures] = {
      // per-partition decoder setup would go here (expensive, once)
      rows.map { r =>
        if (r.format == "image" && isBmp(r.payload)) {
          val img =
            try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(r.payload)))
            catch { case NonFatal(_) => None }
          img.map(imageFeatures(r, _)).getOrElse(byteHistogram(r))
        } else if (r.format == "audio" && isWav(r.payload)) {
          try audioFeatures(r)
          catch { case NonFatal(_) => byteHistogram(r) }
        } else if (r.format == "video" && isBmp(r.payload)) {
          // a clip opens with its first frame's BMP magic
          try videoFeatures(r)
          catch { case NonFatal(_) => byteHistogram(r) }
        } else byteHistogram(r)
      }
    }
  }

  private val ImgW = 16
  private val ImgH = 8

  /** The image rows of [[mediaTable]] with REAL payloads: each doc's text
    * bytes cycled into a 16×8 RGB raster and wrapped in a BMP container —
    * deterministic, distributed (a typed map, no driver work), and
    * decodable by the stock JDK.
    */
  def imageTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    mediaTable(spark, dir).filter(col("format") === lit("image")).as[MediaRow]
      .map { r =>
        val n = ImgW * ImgH * 3
        val rgb = Array.tabulate(n)(i =>
          if (r.payload.isEmpty) 0.toByte else r.payload(i % r.payload.length))
        MediaRow(r.doc_id, "image", Bmp.encode(ImgW, ImgH, rgb))
      }
  }

  private val AudioRate = 8000
  private val AudioFrames = 800 // 100 ms at 8 kHz, mono

  /** The audio rows of [[mediaTable]] with REAL payloads: each doc's text
    * bytes cycled into 16-bit PCM samples and wrapped in a WAV container —
    * deterministic, distributed, and decodable by the stock JDK
    * (`javax.sound.sampled`). Mirrors [[imageTable]].
    */
  def audioTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    mediaTable(spark, dir).filter(col("format") === lit("audio")).as[MediaRow]
      .map { r =>
        val pcm = Array.tabulate(AudioFrames) { i =>
          val b = if (r.payload.isEmpty) 0 else r.payload(i % r.payload.length) & 0xFF
          (((b - 128) << 8) | (i & 0xFF)).toShort
        }
        MediaRow(r.doc_id, "audio", Wav.encode(AudioRate, 1, pcm))
      }
  }

  private val VideoMinFrames = 3

  /** The video rows of [[mediaTable]] with REAL [[Bmv]] payloads:
    * 3–5 frames per clip (doc_id-determined), each frame the doc's text
    * bytes cycled into a 16×8 raster with a per-frame phase shift — so
    * consecutive frames differ and per-frame luminance DRIFTS, giving
    * the temporal axis something real to measure. Mirrors
    * [[imageTable]] / [[audioTable]]: deterministic, distributed, stock
    * JDK decodable.
    */
  def videoTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    mediaTable(spark, dir).filter(col("format") === lit("video")).as[MediaRow]
      .map { r =>
        val nFrames = VideoMinFrames + (r.doc_id % 3).toInt
        val n = ImgW * ImgH * 3
        val frames = (0 until nFrames).map { f =>
          val rgb = Array.tabulate(n)(i =>
            if (r.payload.isEmpty) 0.toByte
            else r.payload((i + 7 * f) % r.payload.length))
          Bmp.encode(ImgW, ImgH, rgb)
        }
        MediaRow(r.doc_id, "video", Bmv.encode(frames))
      }
  }

  /** The real-decode path: BMV clips → per-frame ImageIO raster features
    * (frame count, duration at the fixed rate, all-frames luminance
    * histogram).
    */
  def extractVideoFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    videoTable(spark, dir).mapPartitions(Decode.decode _)
  }

  /** Temporal drift: mean luminance PER DECODED FRAME — (doc_id,
    * frame_idx, mean_lum_milli). The per-frame numbers are exact integer
    * per-mille (sum·1000 / pixels), so the drift signal is deterministic.
    * Same per-partition imperative boundary as [[Decode.decode]].
    */
  def videoFrameLuminance(spark: SparkSession, dir: String): Dataset[(Long, Int, Long)] = {
    import spark.implicits._
    videoTable(spark, dir).flatMap { r =>
      Bmv.split(r.payload).zipWithIndex.map { case (fb, idx) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fb))
        require(img != null, "undecodable frame")
        val sum = Decode.rasterLum(img, new Array[Long](16))
        (r.doc_id, idx, sum * 1000L / (img.getWidth.toLong * img.getHeight))
      }
    }.toDF("doc_id", "frame_idx", "mean_lum_milli")
      .as[(Long, Int, Long)]
  }

  /** Feature extraction over the BINARY column: typed mapPartitions with
    * the per-partition decoder (the sanctioned imperative boundary —
    * everything before and after stays relational).
    */
  def extractFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRow].mapPartitions(Decode.decode _)
  }

  /** The real-decode path: BMP image payloads → ImageIO raster features. */
  def extractImageFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    imageTable(spark, dir).mapPartitions(Decode.decode _)
  }

  /** The real-decode path: WAV audio payloads → AudioSystem stream
    * features (rate, channels, duration, amplitude histogram).
    */
  def extractAudioFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    audioTable(spark, dir).mapPartitions(Decode.decode _)
  }

  /** Metadata + frame-sampling query over the BINARY column, fully
    * relational (no decode needed): byte length, 256-byte chunk count,
    * sampled frame offsets, content hash. Oracle-checked — the payload
    * IS bytes, so DuckDB computes the same answers over the BLOB cast.
    */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).select(
      col("doc_id"), col("format"),
      length(col("payload")).as("n_bytes"),
      expr("(length(payload) + 255) div 256").as("n_chunks"),
      size(expr("sequence(1, length(payload), 256)")).as("n_frames"),
      md5(col("payload")).as("content_hash"))

  /** Frame sampling, fully relational: explode the arithmetic frame
    * offsets and slice the payload bytes per frame — 256-byte "frames"
    * stand in for decoded media frames; each carries its index, byte
    * range, and content hash. Payload bytes are touched only where a
    * frame is materialized; the offsets themselves cost no I/O.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("doc_id"), col("format"), col("payload"),
        explode(expr("sequence(1, length(payload), 256)")).as("frame_off"))
      .select(col("doc_id"), col("format"),
        ((col("frame_off") - 1) / 256).cast("int").as("frame_idx"),
        length(expr("substring(payload, frame_off, 256)")).as("frame_bytes"),
        md5(expr("substring(payload, frame_off, 256)")).as("frame_hash"))

  val specs: Seq[QuerySpec] = Seq(
    // DuckDB 1.0 lacks substring over BLOB; the payload bytes ARE the
    // ascii text bytes, so the oracle slices the VARCHAR — byte-identical.
    QuerySpec("frame_sample", frameSample, """
      WITH media AS (
        SELECT doc_id,
               ['image', 'audio', 'video'][(doc_id % 3)::INT + 1] AS format,
               text AS payload
        FROM documents),
      fr AS (SELECT doc_id, format, payload,
               unnest(range(1, length(payload) + 1, 256)) AS frame_off
             FROM media)
      SELECT doc_id, format,
             ((frame_off - 1) // 256)::INT AS frame_idx,
             length(substring(payload, frame_off::INT, 256)) AS frame_bytes,
             md5(substring(payload, frame_off::INT, 256)) AS frame_hash
      FROM fr"""),
    QuerySpec("multimodal_meta", multimodalMeta, """
      WITH media AS (
        SELECT doc_id,
               ['image', 'audio', 'video'][(doc_id % 3)::INT + 1] AS format,
               text::BLOB AS payload
        FROM documents)
      SELECT doc_id, format,
             octet_length(payload) AS n_bytes,
             (octet_length(payload) + 255) // 256 AS n_chunks,
             len(range(1, octet_length(payload) + 1, 256)) AS n_frames,
             md5(payload::VARCHAR) AS content_hash
      FROM media"""),
  )
}
