package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSuite {

  lazy val assets = Multimodal.syntheticAssets(spark, 100).cache()

  test("asset table honors the typed metadata contract") {
    assert(assets.schema === Multimodal.assetSchema)
    assert(assets.count() === 100)
    // images carry dimensions, a/v carries duration
    assert(assets.filter(col("mime").startsWith("image/") &&
      col("width").isNull).count() === 0)
    assert(assets.filter(!col("mime").startsWith("image/") &&
      col("duration_ms").isNull).count() === 0)
  }

  test("metadata pruning happens before decode (filter is scan-side)") {
    val pruned = Multimodal.images(assets, minWidth = 100)
    assert(pruned.count() > 0)
    assert(pruned.filter(col("width") < 100).count() === 0)
  }

  test("extractFeatures: deterministic fixed-dim features, batch plumbing intact") {
    val f1 = Multimodal.extractFeatures(assets)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    val f2 = Multimodal.extractFeatures(assets)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(f1 === f2) // every decode path is deterministic
    assert(f1.values.forall(_.length === Multimodal.FeatureDim))
    assert(f1.size === 100) // EVERY asset decodes for real — no drops
    // different payloads → different features (not a constant)
    assert(f1(0L) !== f1(1L))
  }

  test("decodePpm: golden image decodes to exact dimensions and means") {
    // 2×1 P6 with a header comment: pixels (255,0,0) and (0,255,0)
    val bytes = ("P6\n# test\n2 1\n255\n").getBytes("ISO-8859-1") ++
      Array[Byte](-1, 0, 0, 0, -1, 0)
    val got = Multimodal.decodePpm(bytes).get
    assert(got === Multimodal.DecodedImage(2, 1, 0.5, 0.5, 0.0))
    // the same header walk feeds the gray decoder: 299·255/1000 and
    // 587·255/1000, integer-truncated
    val gray = PerceptualHash.decodeGray(bytes).get
    assert((gray._1, gray._2, gray._3.toSeq) === ((2, 1, Seq(76, 149))))
  }

  test("decodePpm: corrupt payloads degrade to None, never throw") {
    val bad = Seq(
      Array.empty[Byte],
      "P5\n2 1\n255\n??".getBytes("ISO-8859-1"),       // wrong magic
      "P6\n2 1\n255\nX".getBytes("ISO-8859-1"),        // truncated raster
      "P6\n0 1\n255\n".getBytes("ISO-8859-1"),         // zero width
      "P6\n2 1\n65535\n".getBytes("ISO-8859-1"),       // 2-byte samples
      "P6 garbage".getBytes("ISO-8859-1"))
    bad.foreach(b => assert(Multimodal.decodePpm(b).isEmpty))
    bad.foreach(b => assert(PerceptualHash.decodeGray(b).isEmpty))
  }

  test("decodeWav: golden clip decodes to exact rate, length, amplitude") {
    val bb = java.nio.ByteBuffer.allocate(44 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 4)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(1000).putInt(1000)
      .putShort(1).putShort(8)
      .put("data".getBytes("US-ASCII")).putInt(4)
      .put(Array[Byte](0, -1, 51, 102)) // 0, 255, 51, 102
    val got = Multimodal.decodeWav(bb.array()).get
    assert(got.sampleRate === 1000 && got.nSamples === 4)
    assert(got.durationMs === 4.0)
    assert(got.meanAmplitude === (0 + 255 + 51 + 102).toDouble / (4 * 255))
  }

  test("decodeWav: corrupt/unsupported payloads degrade to None") {
    val stereo = {
      val bb = java.nio.ByteBuffer.allocate(44 + 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(38)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(2).putInt(1000).putInt(2000) // 2 channels
        .putShort(2).putShort(8)
        .put("data".getBytes("US-ASCII")).putInt(2)
        .put(Array[Byte](1, 2))
      bb.array()
    }
    val bad = Seq(
      Array.empty[Byte],
      "RIFFxxxxWAVE".getBytes("US-ASCII"),          // no chunks
      "NOPE".getBytes("US-ASCII") ++ new Array[Byte](48),
      stereo)                                        // unsupported layout
    bad.foreach(b => assert(Multimodal.decodeWav(b).isEmpty))
  }

  test("audioStats: every WAV asset decodes; duration matches metadata") {
    val stats = Multimodal.audioStats(assets).collect()
    val nWav = assets.filter(col("mime") === "audio/wav").count()
    assert(stats.length.toLong === nWav && nWav > 0)
    stats.foreach { r =>
      assert(r.getInt(1) === 8000 && r.getInt(2) === 48)
      assert(r.getDouble(3) === 6.0) // == the metadata duration_ms
      assert(r.getDouble(4) > 0.18 && r.getDouble(4) < 0.41) // hex ASCII band
    }
  }

  test("imageStats: every P6 asset decodes; dims match metadata") {
    val stats = Multimodal.imageStats(assets).collect()
    val nPpm = assets
      .filter(col("mime") === "image/x-portable-pixmap").count()
    assert(stats.length.toLong === nPpm && nPpm > 0)
    stats.foreach { r =>
      assert(r.getInt(1) === 4 && r.getInt(2) === 4)
      // sha256-hex pixel bytes are ASCII [0-9a-f]: means land in
      // (48/255, 103/255) — a real pixel average, not a constant
      assert(r.getDouble(3) > 0.18 && r.getDouble(3) < 0.41)
    }
  }

  test("extractFeatures dispatches: real decode for every format, " +
      "video included") {
    val feats = Multimodal.extractFeatures(assets)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2)))
    feats.filter(_._2 == "image/x-portable-pixmap").foreach { case (_, _, f) =>
      assert(f(0) === 4.0f && f(1) === 4.0f) // decoded dims
      assert(f.drop(5).forall(_ === 0.0f))   // zero-padded tail
    }
    // png/jpeg: real ImageIO decode → metadata dims in slots 0-1
    feats.filter(t => t._2 == "image/png" || t._2 == "image/jpeg")
      .foreach { case (id, _, f) =>
        assert(f(0) === (id % 512 + 16).toFloat)
        assert(f(1) === (id % 256 + 16).toFloat)
        assert(f.drop(5).forall(_ === 0.0f))
      }
    // wav: real PCM decode → (rate, n, duration, amplitude)
    feats.filter(_._2 == "audio/wav").foreach { case (_, _, f) =>
      assert(f(0) === 8000.0f && f(1) === 48.0f && f(2) === 6.0f)
      assert(f(3) > 0.18f && f(3) < 0.41f)
      assert(f.drop(4).forall(_ === 0.0f))
    }
    // video: real container walk + frame decode → dims, frame count,
    // cross-frame channel means
    val videos = feats.filter(_._2 == "video/avi")
    assert(videos.nonEmpty)
    videos.foreach { case (id, _, f) =>
      assert(f(0) === (id % 128 + 16).toFloat)
      assert(f(1) === (id % 64 + 16).toFloat)
      assert(f(2) === (id % 3 + 2).toFloat)
      // hex-ASCII fills land in (48/255, 103/255) modulo JPEG error
      assert(f(3) > 0.15f && f(3) < 0.45f)
      assert(f.drop(6).forall(_ === 0.0f))
    }
  }

  test("decodeCodec: PNG round-trips the encoder's fill exactly") {
    val bytes = Multimodal.encodeImage("png", 7, 3, 120, 45, 200)
    val got = Multimodal.decodeCodec(bytes).get
    assert(got.width === 7 && got.height === 3)
    assert(got.meanR === 120.0 / 255 && got.meanG === 45.0 / 255 &&
      got.meanB === 200.0 / 255)
  }

  test("decodeCodec: JPEG dims exact, means within quantization error") {
    val bytes = Multimodal.encodeImage("jpg", 33, 17, 99, 150, 60)
    val got = Multimodal.decodeCodec(bytes).get
    assert(got.width === 33 && got.height === 17)
    // solid fill → DC-only blocks; quantization shifts means by at
    // most a few codes
    assert(math.abs(got.meanR - 99.0 / 255) < 4.0 / 255)
    assert(math.abs(got.meanG - 150.0 / 255) < 4.0 / 255)
    assert(math.abs(got.meanB - 60.0 / 255) < 4.0 / 255)
  }

  test("decodeCodec: non-image payloads degrade to None, never throw") {
    val bad = Seq(
      Array.empty[Byte],
      "not an image at all".getBytes("US-ASCII"),
      Array[Byte](-119, 'P', 'N', 'G', 0, 0, 0, 0), // truncated PNG
      Array[Byte](-1, -40, 0, 0, 0, 0, 0, 0))       // truncated JPEG
    bad.foreach(b => assert(Multimodal.decodeCodec(b).isEmpty))
  }

  test("codecImageStats: every png/jpeg asset decodes; dims match metadata") {
    val codecAssets = assets.filter(col("mime").isin("image/png", "image/jpeg"))
    val stats = Multimodal.codecImageStats(codecAssets).collect()
    assert(stats.length.toLong === codecAssets.count() && stats.nonEmpty)
    val meta = assets.select("asset_id", "width", "height").collect()
      .map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    stats.foreach { r =>
      assert((r.getInt(1), r.getInt(2)) === meta(r.getLong(0)))
    }
  }

  test("resizeImage: solid PNG keeps its color at any target size; " +
      "jpeg decodes then rescales; junk degrades to None") {
    val png = Multimodal.encodeImage("png", 20, 10, 30, 60, 90)
    val resized = Multimodal.resizeImage(png, 3, 5).get
    val got = Multimodal.decodeCodec(resized).get
    assert(got.width === 3 && got.height === 5)
    assert(got.meanR === 30.0 / 255 && got.meanG === 60.0 / 255 &&
      got.meanB === 90.0 / 255)
    val jpg = Multimodal.encodeImage("jpg", 16, 16, 200, 100, 50)
    val rj = Multimodal.decodeCodec(Multimodal.resizeImage(jpg, 4, 4).get).get
    assert(rj.width === 4 && rj.height === 4)
    assert(math.abs(rj.meanR - 200.0 / 255) < 4.0 / 255)
    assert(Multimodal.resizeImage("junk".getBytes("US-ASCII"), 4, 4).isEmpty)
    assert(Multimodal.resizeImage(png, 0, 4).isEmpty)
  }

  test("resizeAssets: every codec image re-emerges as a w×h PNG under " +
      "the asset contract; non-codec payloads drop") {
    val resized = Multimodal.resizeAssets(assets, 6, 6).cache()
    assert(resized.schema === Multimodal.assetSchema)
    val nCodec = assets
      .filter(col("mime").isin("image/png", "image/jpeg")).count()
    assert(resized.count() === nCodec && nCodec > 0)
    assert(resized.filter(col("mime") =!= "image/png" ||
      col("width") =!= 6 || col("height") =!= 6).count() === 0)
    // output feeds straight back into the decode stage
    val stats = Multimodal.codecImageStats(resized).collect()
    assert(stats.length.toLong === nCodec)
    stats.foreach(r => assert(r.getInt(1) === 6 && r.getInt(2) === 6))
  }

  test("encodeAvi/decodeAvi: golden MJPEG container round-trips frame " +
      "count, order, dims and (quantization-bounded) colors") {
    val frames = Seq((200, 10, 30), (10, 220, 40), (60, 70, 250))
      .map { case (r, g, b) => Multimodal.encodeImage("jpg", 24, 16, r, g, b) }
    val avi = Multimodal.encodeAvi(24, 16, frames)
    val raw = Multimodal.decodeAviFrames(avi).get
    assert(raw.length === 3)
    assert(raw.zip(frames).forall { case (a, b) => a.sameElements(b) })
    val decoded = Multimodal.decodeAvi(avi).get
    assert(decoded.map(d => (d.width, d.height)) === Seq.fill(3)((24, 16)))
    assert(math.abs(decoded(0).meanR - 200.0 / 255) < 4.0 / 255)
    assert(math.abs(decoded(1).meanG - 220.0 / 255) < 4.0 / 255)
    assert(math.abs(decoded(2).meanB - 250.0 / 255) < 4.0 / 255)
  }

  test("decodeAvi: corrupt/non-AVI payloads degrade to None, never throw") {
    val jpeg = Multimodal.encodeImage("jpg", 4, 4, 1, 2, 3)
    val truncated = {
      val ok = Multimodal.encodeAvi(4, 4, Seq(jpeg))
      java.util.Arrays.copyOfRange(ok, 0, ok.length / 2)
    }
    val bad = Seq(
      Array.empty[Byte],
      "RIFF????WAVE".getBytes("US-ASCII"),          // RIFF but not AVI
      "not a container".getBytes("US-ASCII"),
      jpeg,                                          // bare still image
      truncated)                                     // size overruns
    bad.foreach(b => assert(Multimodal.decodeAvi(b).isEmpty))
    // an AVI whose movi list is empty has no frames → None, not Some(Nil)
    assert(Multimodal.decodeAvi(Multimodal.encodeAvi(4, 4, Nil)).isEmpty)
  }

  test("videoStats: one row per frame; counts and dims match the " +
      "generator contract") {
    val stats = Multimodal.videoStats(
      assets.filter(col("mime") === "video/avi")).collect()
    val perAsset = stats.groupBy(_.getLong(0))
    assert(perAsset.nonEmpty)
    perAsset.foreach { case (id, rows) =>
      assert(rows.length === (id % 3 + 2).toInt)
      assert(rows.map(_.getInt(1)).sorted.toSeq === (0 until rows.length))
      rows.foreach { r =>
        assert(r.getInt(2) === (id % 128 + 16).toInt)
        assert(r.getInt(3) === (id % 64 + 16).toInt)
        assert(r.getDouble(4) > 0.1 && r.getDouble(4) < 0.5)
      }
    }
  }

  test("sampleFrames: keeps exactly every n-th frame with real dims") {
    val sampled = Multimodal.sampleFrames(
      assets.filter(col("mime") === "video/avi"), everyN = 2).collect()
    assert(sampled.nonEmpty)
    assert(sampled.forall(_.getInt(1) % 2 === 0))
    sampled.groupBy(_.getLong(0)).foreach { case (id, rows) =>
      val n = (id % 3 + 2).toInt
      assert(rows.length === (n + 1) / 2) // ceil(n / 2): frames 0,2,…
      assert(rows.forall(r => r.getInt(2) === (id % 128 + 16).toInt))
    }
    // strides compose: everyN=1 ≡ videoStats
    val all1 = Multimodal.sampleFrames(
      assets.filter(col("mime") === "video/avi"), everyN = 1).count()
    val full = Multimodal.videoStats(
      assets.filter(col("mime") === "video/avi")).count()
    assert(all1 === full)
  }
}
