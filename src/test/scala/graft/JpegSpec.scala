package graft

import org.apache.spark.sql.functions._

import graft.multimodal.{Jpeg, Multimodal, Png}

class JpegSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference: the q166 block formula pushed through the
    * documented dHash definition, independent of the decoder. */
  private def refDhash(id: Long): Option[Long] = {
    def pm(a: Long, m: Long): Long = ((a % m) + m) % m
    if (pm(id, 11) == 6 || pm(id, 13) == 5) return None
    val eid = if (pm(id, 10) == 1) id - 1 else id
    def g(x: Int, y: Int): Long = {
      val bump = if (pm(id, 10) == 1 && x == 0 && y == 0) 1L else 0L
      pm((eid * 31 + x * 17 + y * 53) * (eid + x + y + 7) + bump, 256)
    }
    Some((0 until 64).map { b =>
      val gx = b % 8; val gy = b / 8
      if (g(gx + 1, gy) > g(gx, gy)) 1L << b else 0L
    }.sum)
  }

  private def hashes(ids: Long*): Map[Long, Option[Long]] =
    Multimodal.imageDhash(Jpeg.synthJpegImageBytes(
      ids.toDF("doc_id"), "doc_id"))
      .select($"media_id", $"dhash")
      .as[(Long, Option[Long])].collect().toMap

  test("decode-rung dHash equals the id-arithmetic reference for every " +
      "id in 0..200 — covering grayscale, 4:4:4, 4:2:0, 4:2:2, DRI " +
      "restarts, APP0/COM skips, the near-dup plant, garbage NULLs and " +
      "progressive NULLs") {
    val got = hashes(0L until 200L: _*)
    for (id <- 0L until 200L)
      assert(got(id) === refDhash(id), s"dhash diverged for id $id")
    assert(got(17L).isEmpty && got(28L).isEmpty, "garbage ids (6 mod 11)")
    assert(got(5L).isEmpty && got(18L).isEmpty,
      "progressive ids (5 mod 13)")
    // every codec shape really decoded at least once
    for (m <- 0 to 4) {
      val decoded = (0L until 200L).filter(i =>
        i % 5 == m && got(i).isDefined)
      assert(decoded.nonEmpty, s"mode $m never decoded")
    }
  }

  test("cross-FORMAT bit-compatibility: a JPEG exhibit hashes " +
      "identically to the BMP expression exhibit and the PNG decode " +
      "exhibit for ids congruent mod 2^8 (same pixel formula, three " +
      "containers, one grid)") {
    // ids where BMP (9x8 pixels), PNG (9x8 pixels) and JPEG (72x64 flat
    // blocks) all decode: avoid garbage/progressive/plant classes
    val ids = (0L until 120L).filter(i =>
      i % 11 != 6 && i % 13 != 5 && i % 10 != 1)
    val jpeg = hashes(ids: _*)
    val bmp = Multimodal.imageDhash(Multimodal.synthDhashImageBytes(
      ids.toDF("doc_id"), "doc_id"))
      .select($"media_id", $"dhash")
      .as[(Long, Option[Long])].collect().toMap
    val png = Multimodal.imageDhash(Png.synthPngImageBytes(
      ids.toDF("doc_id"), "doc_id"))
      .select($"media_id", $"dhash")
      .as[(Long, Option[Long])].collect().toMap
    for (id <- ids) {
      assert(jpeg(id) === bmp(id), s"jpeg!=bmp at $id")
      assert(jpeg(id) === png(id), s"jpeg!=png at $id")
    }
  }

  test("independent-referee parity: images encoded by the JDK's ImageIO " +
      "JPEG writer decode with dims equal and channels within IDCT " +
      "tolerance of ImageIO's own reading (general Huffman + AC paths, " +
      "not just the DC-only synth)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 6) {
      val w = 24 + rnd.nextInt(40)
      val h = 16 + rnd.nextInt(40)
      val gray = trial % 2 == 1
      val img = new java.awt.image.BufferedImage(w, h,
        if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        else java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        // GRAYSCALE trials: pure noise — no chroma, so divergence is
        // Huffman/dequant/IDCT only and the bound can be tight. COLOR
        // trials: smooth gradients — ImageIO writes 4:2:0 and its
        // reader upsamples with triangular interpolation where this
        // decoder uses nearest-neighbor (both spec-conformant); on
        // smooth chroma the two agree closely, on noise they diverge by
        // design, which would test the interpolator, not the decoder
        val (r, g, b) =
          if (gray) { val v = rnd.nextInt(256); (v, v, v) }
          else ((x * 255 / math.max(1, w - 1)),
            (y * 255 / math.max(1, h - 1)),
            ((x + y) * 255 / math.max(1, w + h - 2)))
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val bo = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", bo))
      val bytes = bo.toByteArray
      val mine = Jpeg.decodeRgb(bytes, 1 << 20, 1 << 22)
      assert(mine.isDefined, s"trial $trial: failed to decode")
      val (mw, mh, ch, px) = mine.get
      assert(mw === w && mh === h && ch === 3)
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(ref.getWidth === w && ref.getHeight === h)
      // RAW raster samples, not getRGB: on TYPE_BYTE_GRAY getRGB runs
      // a linear->sRGB colorspace conversion on the decoded values,
      // which would compare gamma curves, not decoders
      val raster = ref.getRaster
      val nb = raster.getNumBands
      var sumAbs = 0L
      var maxAbs = 0
      for (y <- 0 until h; x <- 0 until w) {
        val o = (y * w + x) * 3
        for (band <- 0 until 3) {
          val refC = raster.getSample(x, y, math.min(band, nb - 1))
          val mineC = px(o + band) & 0xFF
          val d = math.abs(refC - mineC)
          sumAbs += d
          maxAbs = math.max(maxAbs, d)
        }
      }
      val mean = sumAbs.toDouble / (w * h * 3)
      val (meanTol, maxTol) = if (gray) (1.0, 4) else (3.0, 40)
      assert(mean <= meanTol, s"trial $trial mean abs diff $mean")
      assert(maxAbs <= maxTol, s"trial $trial max abs diff $maxAbs")
    }
  }

  test("malformed inputs NULL, never throw: truncation at every 25-byte " +
      "step, entropy-byte corruption, oversized input, pixel-bomb " +
      "header, missing tables, stray markers") {
    // MediaGoldens.jpegMalformed: key = prefix length (every 25 bytes),
    // 10000 + i the image with byte i XOR 0x5A (bit noise may still
    // decode; it must never throw), 20001 a 65535x65535 SOF (the pixel
    // gate NULLs it before any allocation), 20002 the DHT marker blanked
    // into an APP marker (a missing table, not an NPE)
    val good = Jpeg.synthJpegBytes(0L)
    val got = Multimodal.imageDhash(
        MediaGoldens.jpegMalformed.toDF("media_id", "content"))
      .select($"media_id", $"dhash").as[(Long, Option[Long])].collect().toMap
    assert(got.size === MediaGoldens.jpegMalformed.size)
    for (cut <- 0 until good.length by 25)
      assert(got(cut.toLong).isEmpty, s"truncated at $cut")
    assert(got(20001L).isEmpty && got(20002L).isEmpty)
    // the whole image decodes; one byte over maxBytes is NULL
    def dh(maxBytes: Int): Option[Long] =
      Multimodal.imageDhash(Seq((1L, good)).toDF("media_id", "content"),
        maxBytes = maxBytes)
        .select($"dhash").as[Option[Long]].collect().head
    assert(dh(1 << 20).isDefined)
    assert(dh(good.length - 1).isEmpty)
  }

  test("the decode rung is a narrow map: no shuffle exchange in the plan") {
    val df = Multimodal.imageDhash(Jpeg.synthJpegImageBytes(
      (0L until 20L).toDF("doc_id"), "doc_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
