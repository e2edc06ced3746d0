package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY §7 extensions): image/audio/video
  * as opaque `binary` columns plus typed metadata, with decode /
  * feature-extract / resize / frame-sample stages.
  *
  * Decode kernels are REAL for every format here: binary PPM (P6) and
  * RIFF/PCM WAV are parsed byte-by-byte with no library, PNG/JPEG go
  * through the JDK's `javax.imageio` (ships with the JVM — no external
  * codec needed), and video is MJPEG-in-AVI — a RIFF container walk
  * (same chunk grammar as WAV) yielding per-frame JPEG payloads that
  * decode through the same `imageio` path. No stub remains. The
  * execution shape is uniform: the schema contract, partition-wise
  * batch execution (`mapPartitions`, the Scala analog of a Pandas-UDF
  * batch loop), and the pushdown-friendly metadata layout.
  *
  * Scale notes (100 TB of media): binaries stay opaque until the last
  * possible stage; metadata predicates (mime/width/duration) prune
  * partitions and rows BEFORE any decode; decode parallelism is
  * per-partition with bounded batch memory = batchRows × maxBlobSize.
  */
object Multimodal {

  /** Typed metadata contract for a media asset table. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    // nullable like content: expression-derived under non-ANSI mode
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType),       // images/video
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),    // audio/video
    // nullable: expression-derived binary columns are nullable in
    // Spark's type derivation; contract is "never null in practice"
    StructField("content", BinaryType, nullable = true)))

  /** Build a deterministic synthetic asset table. Every slot carries a
    * GENUINE payload: P6 rasters and PCM WAVs built by expression
    * (pixel/sample bytes derive from the id's sha256 hex), PNGs and
    * JPEGs encoded with `javax.imageio` in a second `mapPartitions`
    * stage (solid fills whose color derives from the same hex, so
    * decoded stats stay oracle-predictable), and `video/avi` as real
    * MJPEG-in-AVI — `id % 3 + 2` solid-fill JPEG frames (frame f's
    * color = ASCII of hex chars 3f..3f+2) in a RIFF/AVI container,
    * so frame counts and dimensions are oracle-predictable too. */
  /** 44-byte canonical WAV header for 8-bit mono PCM: 8 kHz, 48
    * samples (RIFF chunk size 36+48, byteRate = sampleRate). */
  private val WavHeader: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 48)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)      // PCM, mono
      .putInt(8000).putInt(8000)    // sample rate, byte rate
      .putShort(1).putShort(8)      // block align, bits/sample
      .put("data".getBytes("US-ASCII")).putInt(48)
    bb.array()
  }

  def syntheticAssets(spark: SparkSession, n: Int): DataFrame = {
    // 4×4 P6: header + 48 pixel bytes taken from the sha256 hex chars
    val ppmBytes = concat(lit("P6\n4 4\n255\n"),
      substring(sha2(col("id").cast("string"), 256), 1, 48)).cast("binary")
    // real RIFF/PCM WAV: canonical header + 48 sample bytes, same
    // sha256-hex derivation (so an oracle can predict the amplitudes)
    val wavBytes = concat(lit(WavHeader),
      substring(sha2(col("id").cast("string"), 256), 1, 48).cast("binary"))
    val base = spark.range(n.toLong).select(
      col("id").as("asset_id"),
      when(col("id") % 4 === 0, lit("image/x-portable-pixmap"))
        // id ≡ 1 (mod 8) → PNG, id ≡ 5 (mod 8) → JPEG: both slots get
        // REAL encoded payloads in the second stage below
        .when(col("id") % 8 === 1, lit("image/png"))
        .when(col("id") % 8 === 5, lit("image/jpeg"))
        .when(col("id") % 4 === 2, lit("audio/wav"))
        .otherwise(lit("video/avi")).as("mime"),
      when(col("id") % 4 === 0, lit(4))
        .when(col("id") % 4 === 1, (col("id") % 512 + 16).cast("int"))
        .when(col("id") % 4 === 3, (col("id") % 128 + 16).cast("int"))
        .otherwise(lit(null)).as("width"),
      when(col("id") % 4 === 0, lit(4))
        .when(col("id") % 4 === 1, (col("id") % 256 + 16).cast("int"))
        .when(col("id") % 4 === 3, (col("id") % 64 + 16).cast("int"))
        .otherwise(lit(null)).as("height"),
      when(col("id") % 4 === 2, lit(6L)) // 48 samples @ 8 kHz
        .when(col("id") % 4 === 3, col("id") * 40 + 1000)
        .otherwise(lit(null)).as("duration_ms"),
      when(col("id") % 4 === 0, ppmBytes)
        .when(col("id") % 4 === 2, wavBytes)
        // png/jpeg/video: filled with real encoded bytes below
        .otherwise(lit(null).cast("binary"))
        .as("content"))
    // Second stage: encode the codec payloads with javax.imageio —
    // PNG/JPEG as a width×height solid fill whose (r,g,b) are the
    // ASCII codes of the first three sha256-hex chars of the id, and
    // video as MJPEG-in-AVI (id%3+2 solid-fill JPEG frames, frame f's
    // color from hex chars 3f..3f+2) — so a DuckDB oracle can predict
    // decoded channel means / frame counts / dims from first
    // principles.
    implicit val enc: Encoder[Row] = Encoders.row(assetSchema)
    base.mapPartitions { rows =>
      rows.map { r =>
        r.getString(1) match {
          case m @ ("image/png" | "image/jpeg") =>
            val hex = sha256Hex(r.getLong(0).toString)
            val bytes = encodeImage(if (m == "image/png") "png" else "jpg",
              r.getInt(2), r.getInt(3),
              hex.charAt(0).toInt, hex.charAt(1).toInt, hex.charAt(2).toInt)
            Row(r.getLong(0), m, r.get(2), r.get(3), r.get(4), bytes)
          case "video/avi" =>
            val id = r.getLong(0)
            val hex = sha256Hex(id.toString)
            val (w, h) = (r.getInt(2), r.getInt(3))
            val frames = (0 until (id % 3 + 2).toInt).map(f =>
              encodeImage("jpg", w, h, hex.charAt(3 * f).toInt,
                hex.charAt(3 * f + 1).toInt, hex.charAt(3 * f + 2).toInt))
            Row(id, "video/avi", w, h, r.get(4), encodeAvi(w, h, frames))
          case _ => r
        }
      }
    }(enc)
  }

  /** Lowercase sha256 hex — the JVM-side twin of Spark's `sha2(s, 256)`
    * (used where payloads are built inside a decode/encode kernel). */
  private[ops] def sha256Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
    val sb = new StringBuilder(64)
    d.foreach(b => sb.append(String.format("%02x", Byte.box(b))))
    sb.toString
  }

  /** Encode a solid-fill w×h RGB image via the JDK's ImageIO
    * (`format` = "png" | "jpg"). */
  private[ops] def encodeImage(format: String, w: Int, h: Int,
      r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, out)
    out.toByteArray
  }

  /** Fixed feature-vector width of extractFeatures. */
  val FeatureDim = 16

  // --- MJPEG-in-AVI: RIFF chunk building + walking ------------------
  // AVI is the same RIFF grammar decodeWav already walks: fourcc +
  // le32 size + payload (word-aligned), with LIST chunks nesting. The
  // writer emits a structurally valid AVI (avih + one 'vids'/'MJPG'
  // stream header + a movi list of 00dc frames); the reader is a
  // generic RIFF walk that collects the frame payloads, each of which
  // is a plain JPEG decoded by the same imageio path as still images.

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** fourcc + size + payload, padded to even length (RIFF word
    * alignment — the pad byte is not counted in the size field). */
  private def chunk(id: String, payload: Array[Byte]): Array[Byte] =
    fourcc(id) ++ le32(payload.length) ++ payload ++
      (if ((payload.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])

  private def list(listType: String, bodies: Array[Byte]*): Array[Byte] =
    chunk("LIST", fourcc(listType) ++ bodies.flatten)

  /** Encode solid-fill JPEG frames as a minimal, structurally valid
    * MJPEG AVI: RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
    * LIST('movi' 00dc…)). 25 fps nominal. */
  private[ops] def encodeAvi(w: Int, h: Int,
      jpegFrames: Seq[Array[Byte]]): Array[Byte] = {
    val n = jpegFrames.length
    val avih = chunk("avih", Array(
      le32(40000), le32(0), le32(0), le32(0),      // usec/frame 25fps
      le32(n), le32(0), le32(1), le32(0),          // frames, streams=1
      le32(w), le32(h),
      le32(0), le32(0), le32(0), le32(0)).flatten) // reserved
    val strh = chunk("strh", Array(
      fourcc("vids"), fourcc("MJPG"),
      le32(0), le32(0), le32(0),                   // flags, prio, init
      le32(1), le32(25), le32(0), le32(n),         // scale, rate, start, len
      le32(0), le32(-1), le32(0),                  // bufsize, quality, sample
      le32(0), le32((h << 16) | (w & 0xFFFF))).flatten) // rcFrame
    val strf = chunk("strf", Array(                // BITMAPINFOHEADER
      le32(40), le32(w), le32(h), le32((24 << 16) | 1),
      fourcc("MJPG"), le32(w * h * 3),
      le32(0), le32(0), le32(0), le32(0)).flatten)
    val hdrl = list("hdrl", avih, list("strl", strh, strf))
    val movi = list("movi", jpegFrames.map(chunk("00dc", _)): _*)
    chunk("RIFF", fourcc("AVI ") ++ hdrl ++ movi)
  }

  /** RIFF/AVI container walk: returns the raw per-frame payloads of
    * every video-data chunk (00dc/00db) inside the movi list, in
    * stream order. None for anything that isn't a well-formed AVI —
    * corrupt blobs degrade instead of failing the task. */
  private[ops] def decodeAviFrames(
      bytes: Array[Byte]): Option[Seq[Array[Byte]]] = {
    def le32At(i: Int): Long =
      (bytes(i) & 0xFFL) | (bytes(i + 1) & 0xFFL) << 8 |
        (bytes(i + 2) & 0xFFL) << 16 | (bytes(i + 3) & 0xFFL) << 24
    def tag(i: Int, s: String): Boolean =
      bytes.length >= i + 4 && new String(bytes, i, 4, "US-ASCII") == s
    if (bytes == null || bytes.length < 12 ||
      !tag(0, "RIFF") || !tag(8, "AVI ")) return None
    val riffEnd = math.min(8L + le32At(4), bytes.length.toLong).toInt
    val frames = Seq.newBuilder[Array[Byte]]
    // walk a chunk sequence in [from, to); recurse into LIST bodies
    def walk(from: Int, to: Int): Boolean = {
      var i = from
      while (i + 8 <= to) {
        val size = le32At(i + 4)
        if (size < 0 || i + 8 + size > to) return false
        if (tag(i, "LIST")) {
          if (!walk(i + 12, i + 8 + size.toInt)) return false
        } else if (tag(i, "00dc") || tag(i, "00db")) {
          frames += java.util.Arrays.copyOfRange(bytes, i + 8,
            i + 8 + size.toInt)
        }
        i += 8 + size.toInt + (size.toInt & 1)
      }
      true
    }
    if (!walk(12, riffEnd)) None
    else {
      val fs = frames.result()
      if (fs.nonEmpty) Some(fs) else None
    }
  }

  /** REAL video decode: container walk + per-frame JPEG decode through
    * the same imageio kernel as still images. Frames a codec rejects
    * are dropped (degrade, don't fail). */
  private[ops] def decodeAvi(bytes: Array[Byte]): Option[Seq[DecodedImage]] =
    decodeAviFrames(bytes).map(_.flatMap(decodeCodec(_)))
      .filter(_.nonEmpty)

  /** A decoded raster image. Channel means are in [0, 1]. */
  final case class DecodedImage(width: Int, height: Int,
      meanR: Double, meanG: Double, meanB: Double)

  /** REAL decode kernel for binary PPM (P6) — the one raster format
    * parseable without any codec library: `P6 <ws> width <ws> height
    * <ws> maxval <single ws> raw RGB bytes` (netpbm spec, '#' comments
    * allowed in the header). Returns None for anything that isn't a
    * well-formed P6 payload — callers fall back to the stub, so a
    * corrupt blob degrades instead of failing the task. */
  private[ops] def decodePpm(bytes: Array[Byte]): Option[DecodedImage] =
    ppmRaster(bytes).map { case (w, h, maxval, pixelStart) =>
      var (r, g, b) = (0L, 0L, 0L)
      var p = pixelStart
      val end = pixelStart + w * h * 3
      while (p < end) {
        r += bytes(p) & 0xFF
        g += bytes(p + 1) & 0xFF
        b += bytes(p + 2) & 0xFF
        p += 3
      }
      val n = (w.toLong * h * maxval).toDouble
      DecodedImage(w, h, r / n, g / n, b / n)
    }

  /** The one P6 header walk, shared by [[decodePpm]] and
    * [[PerceptualHash]]'s gray decoder: `(width, height, maxval,
    * raster offset)` of a well-formed P6 payload whose raster holds at
    * least width·height RGB triples, else None. */
  private[ops] def ppmRaster(
      bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    var i = 2
    def skipWsAndComments(): Unit = {
      var go = true
      while (go && i < bytes.length) {
        val b = bytes(i)
        if (b == ' ' || b == '\t' || b == '\n' || b == '\r') i += 1
        else if (b == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else go = false
      }
    }
    def readInt(): Option[Int] = {
      skipWsAndComments()
      val start = i
      var v = 0L
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0')
        if (v > Int.MaxValue) return None
        i += 1
      }
      if (i == start) None else Some(v.toInt)
    }
    for {
      w <- readInt()
      h <- readInt()
      maxval <- readInt()
      if w > 0 && h > 0 && maxval > 0 && maxval <= 255 // 1 byte/sample
      // exactly ONE whitespace byte separates header and raster
      if i < bytes.length && (bytes(i) == '\n' || bytes(i) == ' ' ||
        bytes(i) == '\t' || bytes(i) == '\r')
      pixelStart = i + 1
      if bytes.length - pixelStart >= w.toLong * h * 3
    } yield (w, h, maxval, pixelStart)
  }

  /** REAL decode kernel for PNG and JPEG via the JDK's
    * `javax.imageio` (readers for png/jpeg/gif/bmp ship with every
    * JVM — zero external dependencies). A magic-byte sniff gates the
    * (comparatively heavy) ImageIO path so non-image payloads skip it;
    * anything ImageIO rejects degrades to None like the other decoders.
    * Channel means use the same sum / (w·h·255) arithmetic as
    * decodePpm, so PNG (lossless) stats are exactly predictable from
    * the encoder's inputs; JPEG dims are exact, means carry the
    * codec's quantization error. */
  private[ops] def decodeCodec(bytes: Array[Byte]): Option[DecodedImage] = {
    if (bytes == null || bytes.length < 8) return None
    val isPng = (bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G'
    val isJpeg = (bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8
    if (!isPng && !isJpeg) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        var (r, g, b) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            r += (p >> 16) & 0xFF
            g += (p >> 8) & 0xFF
            b += p & 0xFF
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h * 255).toDouble
        Some(DecodedImage(w, h, r / n, g / n, b / n))
      }
    } catch { case _: Exception => None }
  }

  /** A decoded PCM audio clip. Mean amplitude is over the unsigned
    * sample values in [0, 1]. */
  final case class DecodedAudio(sampleRate: Int, nSamples: Int,
      durationMs: Double, meanAmplitude: Double)

  /** REAL decode kernel for RIFF/WAVE 8-bit mono PCM — like P6, a
    * container parseable without any codec library: RIFF header, chunk
    * walk to `fmt ` (format 1, 8-bit) and `data`, then sample stats.
    * None for anything else (other formats/bit depths take the stub
    * path); corrupt blobs degrade instead of failing the task. */
  private[ops] def decodeWav(bytes: Array[Byte]): Option[DecodedAudio] = {
    def le32(i: Int): Long =
      (bytes(i) & 0xFFL) | (bytes(i + 1) & 0xFFL) << 8 |
        (bytes(i + 2) & 0xFFL) << 16 | (bytes(i + 3) & 0xFFL) << 24
    def le16(i: Int): Int = (bytes(i) & 0xFF) | (bytes(i + 1) & 0xFF) << 8
    def tag(i: Int, s: String): Boolean =
      bytes.length >= i + 4 &&
        new String(bytes, i, 4, "US-ASCII") == s
    if (bytes.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    // chunk walk from offset 12
    var i = 12
    var fmt: Option[(Int, Int, Int, Int)] = None // format, channels, rate, bits
    var data: Option[(Int, Int)] = None          // offset, size
    while (i + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
      val size = le32(i + 4).toInt
      if (size < 0 || i + 8 + size > bytes.length) return None
      if (tag(i, "fmt ") && size >= 16)
        fmt = Some((le16(i + 8), le16(i + 10), le32(i + 12).toInt,
          le16(i + 22)))
      else if (tag(i, "data"))
        data = Some((i + 8, size))
      i += 8 + size + (size & 1) // chunks are word-aligned
    }
    for {
      (format, channels, rate, bits) <- fmt
      if format == 1 && channels == 1 && bits == 8 && rate > 0
      (off, size) <- data
      if size > 0
    } yield {
      var s = 0L
      var p = off
      while (p < off + size) { s += bytes(p) & 0xFF; p += 1 }
      DecodedAudio(rate, size, size * 1000.0 / rate,
        s.toDouble / (size.toLong * 255))
    }
  }

  /** Real audio statistics for decodable assets (the audio twin of
    * imageStats): one row per asset the WAV decoder accepts. */
  def audioStats(assets: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("n_samples", IntegerType, nullable = false),
      StructField("duration_ms_decoded", DoubleType, nullable = false),
      StructField("mean_amplitude", DoubleType, nullable = false)))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    assets.select("asset_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        decodeWav(r.getAs[Array[Byte]](1)).map(d =>
          Row(r.getLong(0), d.sampleRate, d.nSamples, d.durationMs,
            d.meanAmplitude))
      }
    }(enc)
  }

  /** Real image statistics for decodable assets: one row per asset
    * whose payload the P6 decoder accepts — decoded dimensions +
    * channel means straight from the pixel bytes. Same batched
    * `mapPartitions` shape as extractFeatures; codec formats simply
    * produce no row here (they take the stub path). */
  def imageStats(assets: DataFrame): DataFrame =
    rasterStats(assets, decodePpm)

  /** imageStats for the JDK-codec formats (PNG/JPEG via ImageIO) —
    * same batched shape, same output contract. */
  def codecImageStats(assets: DataFrame): DataFrame =
    rasterStats(assets, decodeCodec)

  private def rasterStats(assets: DataFrame,
      decoder: Array[Byte] => Option[DecodedImage]): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("decoded_width", IntegerType, nullable = false),
      StructField("decoded_height", IntegerType, nullable = false),
      StructField("mean_r", DoubleType, nullable = false),
      StructField("mean_g", DoubleType, nullable = false),
      StructField("mean_b", DoubleType, nullable = false)))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    assets.select("asset_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        decoder(r.getAs[Array[Byte]](1)).map(d =>
          Row(r.getLong(0), d.width, d.height, d.meanR, d.meanG, d.meanB))
      }
    }(enc)
  }

  /** Fixed-dim feature layout for a decoded image: dims + channel
    * means, zero-padded. */
  private def imageFeats(d: DecodedImage): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    out(0) = d.width.toFloat
    out(1) = d.height.toFloat
    out(2) = d.meanR.toFloat
    out(3) = d.meanG.toFloat
    out(4) = d.meanB.toFloat
    out
  }

  /** Fixed-dim feature layout for a decoded audio clip. */
  private def audioFeats(d: DecodedAudio): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    out(0) = d.sampleRate.toFloat
    out(1) = d.nSamples.toFloat
    out(2) = d.durationMs.toFloat
    out(3) = d.meanAmplitude.toFloat
    out
  }

  /** Fixed-dim feature layout for a decoded video: first-frame dims,
    * frame count, channel means averaged across frames. */
  private def videoFeats(frames: Seq[DecodedImage]): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    val n = frames.length
    out(0) = frames.head.width.toFloat
    out(1) = frames.head.height.toFloat
    out(2) = n.toFloat
    out(3) = (frames.map(_.meanR).sum / n).toFloat
    out(4) = (frames.map(_.meanG).sum / n).toFloat
    out(5) = (frames.map(_.meanB).sum / n).toFloat
    out
  }

  /** Decode + featurize: partition-wise batched execution over the
    * binary column — the Scala analog of `mapInPandas` (iterator of
    * batches in, iterator of batches out; constant memory per task).
    * Every format produces REAL decoded features — images (P6/PNG/
    * JPEG): dims + channel means; audio (PCM WAV): rate, sample count,
    * duration, mean amplitude; video (MJPEG AVI): dims, frame count,
    * cross-frame channel means — zero-padded to FeatureDim.
    * Undecodable payloads produce no row (degrade, don't fail), like
    * every other decode kernel here. */
  def extractFeatures(assets: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("mime", StringType),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    assets.select("asset_id", "mime", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](2)
        decodePpm(bytes).map(imageFeats)
          .orElse(decodeCodec(bytes).map(imageFeats))
          .orElse(decodeWav(bytes).map(audioFeats))
          .orElse(decodeAvi(bytes).map(videoFeats))
          .map(f => Row(r.getLong(0), r.getString(1), f.toSeq))
      }
    }(enc)
  }

  /** Real resize kernel: decode via the JDK codec, scale to w×h
    * (Graphics2D draw — for any interpolation a solid fill stays the
    * same color, which keeps the oracle exact), re-encode as PNG
    * (lossless, so downstream stats see exactly the scaled raster).
    * None for payloads the codec rejects. */
  private[ops] def resizeImage(bytes: Array[Byte], w: Int,
      h: Int): Option[Array[Byte]] = {
    if (bytes == null || bytes.length < 8 || w <= 0 || h <= 0) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try g.drawImage(img, 0, 0, w, h, null)
        finally g.dispose()
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", baos)
        Some(baos.toByteArray)
      }
    } catch { case _: Exception => None }
  }

  /** Resize stage: every decodable codec image (PNG/JPEG) → a w×h PNG
    * under the same (asset_id, mime, width, height, duration_ms,
    * content) contract, so resize output feeds straight back into
    * decode/featurize stages. Undecodable payloads produce no row
    * (degrade, don't fail). Same bounded `mapPartitions` batch shape
    * as every other kernel. */
  def resizeAssets(assets: DataFrame, w: Int, h: Int): DataFrame = {
    implicit val enc: Encoder[Row] = Encoders.row(assetSchema)
    assets.mapPartitions { rows =>
      rows.flatMap { r =>
        resizeImage(r.getAs[Array[Byte]](5), w, h).map(bytes =>
          Row(r.getLong(0), "image/png", w, h, r.get(4), bytes))
      }
    }(enc)
  }

  /** Metadata-only filter stage: prunes BEFORE decode (predicate on
    * typed metadata columns, pushed to the scan). */
  def images(assets: DataFrame, minWidth: Int): DataFrame =
    assets.filter(col("mime").startsWith("image/") &&
      col("width") >= minWidth)

  private val frameStatsSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("decoded_width", IntegerType, nullable = false),
    StructField("decoded_height", IntegerType, nullable = false),
    StructField("mean_r", DoubleType, nullable = false),
    StructField("mean_g", DoubleType, nullable = false),
    StructField("mean_b", DoubleType, nullable = false)))

  /** REAL per-frame video stats: RIFF/AVI container walk + per-frame
    * JPEG decode — one row per decoded frame with its index, dims and
    * channel means. Same bounded `mapPartitions` batch shape as every
    * other kernel; non-video/undecodable payloads produce no row. */
  def videoStats(assets: DataFrame): DataFrame = {
    implicit val enc: Encoder[Row] = Encoders.row(frameStatsSchema)
    assets.select("asset_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        decodeAvi(r.getAs[Array[Byte]](1)).toSeq.flatMap(_.zipWithIndex.map {
          case (d, f) => Row(r.getLong(0), f, d.width, d.height,
            d.meanR, d.meanG, d.meanB)
        })
      }
    }(enc)
  }

  /** Frame-sample stage for video: REAL decode (container walk +
    * per-frame JPEG decode), keeping every `everyN`-th frame — the
    * bounded-cost preprocessing pattern for video at scale (decode
    * once, keep a stride). Emits the same per-frame stats contract as
    * videoStats. */
  def sampleFrames(assets: DataFrame, everyN: Int): DataFrame = {
    require(everyN > 0, "everyN must be positive")
    implicit val enc: Encoder[Row] = Encoders.row(frameStatsSchema)
    assets.select("asset_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        decodeAvi(r.getAs[Array[Byte]](1)).toSeq.flatMap(
          _.zipWithIndex.collect {
            case (d, f) if f % everyN == 0 =>
              Row(r.getLong(0), f, d.width, d.height,
                d.meanR, d.meanG, d.meanB)
          })
      }
    }(enc)
  }
}
