package graft.ops

/** Perceptual image hashing (X68): the 8×8 average-hash (aHash) —
  * downsample to an 8×8 grid of block means over integer grayscale,
  * threshold each block against the image mean, pack the 64 booleans
  * into one long. Near-duplicate IMAGES (re-encodes, brightness
  * shifts, small patches) then dedup exactly like near-duplicate
  * text: hamming-banded signature join ([[Dedup.simhashPairsFromSig]]
  * — the X3 blocking device), so a 100 TB image corpus shuffles
  * 8-byte signatures, never pixels.
  *
  * Invariances (why aHash and not a byte hash): a uniform brightness
  * shift moves every block mean AND the image mean by the same
  * amount, so the hash is bit-identical — the canonical
  * near-duplicate byte-level dedup (X1) cannot see. A small patch
  * perturbs only the blocks it covers (plus blocks whose mean sits
  * within the image-mean shift — bounded and deterministic), so
  * hamming distance stays small.
  *
  * Exactness discipline: all arithmetic is integer — grayscale is the
  * BT.601 integer form (299r+587g+114b)/1000, block membership is
  * floor division, and the threshold is the cross-multiplied
  * `blockSum · nPixels > totalSum · blockPixels` (no division at
  * all), so for fixture rasters a SQL oracle predicts every bit from
  * first principles (the Multimodal device: predict, don't re-parse).
  */
object PerceptualHash {

  /** Decode to integer grayscale: P6 walked byte-level (netpbm spec,
    * the header walk [[Multimodal.ppmRaster]]), PNG/JPEG via
    * the JDK's ImageIO behind a magic-byte sniff. None for anything
    * malformed — a corrupt blob degrades instead of failing the task. */
  private[ops] def decodeGray(
      bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6')
      decodeGrayPpm(bytes)
    else if (bytes.length >= 4 &&
      (((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P') || // PNG
        ((bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8))) // JPEG
      decodeGrayImageIO(bytes)
    else None
  }

  private def gray(r: Int, g: Int, b: Int): Int =
    (299 * r + 587 * g + 114 * b) / 1000

  private def decodeGrayPpm(
      bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    Multimodal.ppmRaster(bytes).map { case (w, h, _, pixelStart) =>
      val out = new Array[Int](w * h)
      var p = pixelStart
      var j = 0
      while (j < out.length) {
        out(j) = gray(bytes(p) & 0xFF, bytes(p + 1) & 0xFF,
          bytes(p + 2) & 0xFF)
        p += 3; j += 1
      }
      (w, h, out)
    }

  private def decodeGrayImageIO(
      bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      val img = javax.imageio.ImageIO
        .read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val out = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            out(y * w + x) =
              gray((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
            x += 1
          }
          y += 1
        }
        Some((w, h, out))
      }
    } catch { case _: Exception => None }

  /** 64-bit average-hash of a decoded grayscale raster: bit
    * `8·by + bx` set iff cell (bx, by)'s mean gray strictly exceeds
    * the image mean. Cell (bx, by) covers x ∈ [⌊bx·w/8⌋, ⌊(bx+1)·w/8⌋)
    * (floor-boundary grid — exact for any dims, identity blocks when
    * 8 | w,h). Threshold is the cross-multiplied integer comparison,
    * so there is no division anywhere: bit-exact and replayable. */
  private[ops] def aHashFromGray(w: Int, h: Int,
      g: Array[Int]): Option[Long] = {
    if (w < 8 || h < 8) return None // a cell would be empty
    var total = 0L
    var j = 0
    while (j < g.length) { total += g(j); j += 1 }
    val nPixels = w.toLong * h
    var hash = 0L
    var by = 0
    while (by < 8) {
      val y0 = by * h / 8; val y1 = (by + 1) * h / 8
      var bx = 0
      while (bx < 8) {
        val x0 = bx * w / 8; val x1 = (bx + 1) * w / 8
        var cell = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { cell += g(y * w + x); x += 1 }
          y += 1
        }
        val cellPixels = (x1 - x0).toLong * (y1 - y0)
        if (cell * nPixels > total * cellPixels)
          hash |= 1L << (8 * by + bx)
        bx += 1
      }
      by += 1
    }
    Some(hash)
  }

  /** aHash straight from encoded bytes (P6 / PNG / JPEG). */
  def aHash64(bytes: Array[Byte]): Option[Long] =
    decodeGray(bytes).flatMap { case (w, h, g) => aHashFromGray(w, h, g) }

  /** Deterministic image corpus with PLANTED near-duplicates, for the
    * perceptual-dedup oracle. Scene `s = id / 4` owns four variants
    * (`v = id % 4`) of a 32×32 P6 raster built from 4×4 solid blocks
    * whose gray values are the ASCII codes of sha256(s)'s 64 hex
    * chars (block b ← hex char b — ASCII 48–57 / 97–102, a bimodal
    * distribution whose mean falls in the 57–97 gap, so no block sits
    * near the threshold and the planted relations below are stable):
    *
    *   - v=0: the base raster;
    *   - v=1: every pixel +10 — different bytes, IDENTICAL aHash
    *     (the brightness invariance exact dedup can't see);
    *   - v=2: block 0 overwritten to 255 — hamming ≤ 1 from base
    *     (1 if block 0's bit was clear, 0 if already set; the ~2.5
    *     gray-level mean shift flips nothing else because of the
    *     bimodal gap);
    *   - v=3: blocks from sha256(s ⊕ "x") — an unrelated signature,
    *     hamming ~32, never a candidate pair.
    */
  def syntheticImageCorpus(spark: org.apache.spark.sql.SparkSession,
      n: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val header = "P6\n32 32\n255\n".getBytes("US-ASCII")
    spark.range(n.toLong).as[Long].map { id =>
      val scene = id / 4
      val v = (id % 4).toInt
      val hex = Multimodal.sha256Hex(
        if (v == 3) scene.toString + "x" else scene.toString)
      val px = new Array[Byte](32 * 32 * 3)
      var y = 0
      while (y < 32) {
        var x = 0
        while (x < 32) {
          val b = 8 * (y / 4) + (x / 4)
          val g =
            if (v == 2 && b == 0) 255
            else hex.charAt(b).toInt + (if (v == 1) 10 else 0)
          val o = 3 * (y * 32 + x)
          px(o) = g.toByte; px(o + 1) = g.toByte; px(o + 2) = g.toByte
          x += 1
        }
        y += 1
      }
      (id, header ++ px)
    }.toDF("asset_id", "content")
  }
}
