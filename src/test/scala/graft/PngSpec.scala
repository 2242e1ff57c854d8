package graft

import org.apache.spark.sql.functions._

import graft.multimodal.{Multimodal, Png}

class PngSpec extends SparkSpec {
  import spark.implicits._

  test("decode-rung parity: PNG twins hash bit-identically to the " +
      "expression dHash over the BMP/ICO exhibits for EVERY id — " +
      "covering all five row filters, RGB and RGBA, multi-IDAT splits, " +
      "ancillary-chunk skips, the near-dup plant, and aligned NULLs") {
    val ids = (0L until 200L).toDF("doc_id")
    val png = Multimodal.imageDhash(Png.synthPngImageBytes(ids, "doc_id"))
      .select($"media_id", $"dhash")
      .as[(Long, Option[Long])].collect().toMap
    val bmp = Multimodal.imageDhash(
      Multimodal.synthDhashImageBytes(ids, "doc_id"))
      .select($"media_id", $"dhash")
      .as[(Long, Option[Long])].collect().toMap
    assert(png.keySet === bmp.keySet)
    for (id <- png.keySet) {
      assert(png(id) === bmp(id), s"dhash diverged for id $id")
      assert(png(id).isEmpty === (((id % 11) + 11) % 11 == 6),
        s"NULL contract broke for id $id")
    }
  }

  test("independent-encoder golden: the JDK ImageIO PNG writer encodes " +
      "the same pixels and the decoder recovers them byte-for-byte " +
      "(not a self-round-trip — a second encoder's filter choices)") {
    val w = 23; val h = 17
    def g(x: Int, y: Int): Int =
      ((((7L * 31 + x * 17 + y * 53) * (7L + x + y + 7)) % 256 + 256)
        % 256).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val v = g(x, y)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    val bytes = out.toByteArray
    val Some((dw, dh, ch, px)) =
      Png.decodeRgb(bytes, 1 << 20, 1 << 22): @unchecked
    assert((dw, dh) === ((w, h)))
    for (y <- 0 until h; x <- 0 until w; j <- 0 until 3)
      assert((px((y * w + x) * ch + j) & 0xFF) === g(x, y),
        s"pixel ($x,$y) channel $j")
    // and the dHash of the ImageIO bytes equals the dHash computed
    // from the raw formula through the 9x8 sampling
    val got = Multimodal.imageDhash(Seq((1L, bytes)).toDF("media_id", "content"))
      .select($"dhash").as[Option[Long]].collect().head.get
    val grid = Array.tabulate(8, 9)((gy, gx) =>
      3L * g(gx * w / 9, gy * h / 8))
    val want = (0 until 64).map(b =>
      if (grid(b / 8)(b % 8 + 1) > grid(b / 8)(b % 8)) 1L << b else 0L).sum
    assert(got === want)
  }

  test("grayscale and palette color types: independent ImageIO encoders " +
      "(TYPE_BYTE_GRAY -> color type 0, TYPE_BYTE_INDEXED -> type 3 with " +
      "PLTE) decode to the exact pixels ImageIO rendered") {
    val w = 13; val h = 11
    def g(x: Int, y: Int): Int =
      ((((3L * 31 + x * 17 + y * 53) * (3L + x + y + 7)) % 256 + 256)
        % 256).toInt
    for (imgType <- Seq(
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)) {
      val img = new java.awt.image.BufferedImage(w, h, imgType)
      for (y <- 0 until h; x <- 0 until w) {
        val v = g(x, y)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", out))
      val Some((dw, dh, ch, px)) =
        Png.decodeRgb(out.toByteArray, 1 << 20, 1 << 22): @unchecked
      assert((dw, dh, ch) === ((w, h, 3)), s"type $imgType header")
      // ground truth: the indexed type quantizes through its sRGB
      // palette (getRGB matches the PLTE entries); TYPE_BYTE_GRAY
      // stores a LINEAR-gray raster (getRGB would re-apply the color
      // transform the file bytes never carried), so compare the
      // RASTER sample — the byte the PNG actually stores
      for (y <- 0 until h; x <- 0 until w) {
        val want =
          if (imgType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) {
            val s = img.getRaster.getSample(x, y, 0)
            Seq(s, s, s)
          } else {
            val rgb = img.getRGB(x, y)
            Seq((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
          }
        val got = (0 until 3).map(j => px((y * w + x) * 3 + j) & 0xFF)
        assert(got === want, s"type $imgType pixel ($x,$y)")
      }
    }
  }

  test("malformed/out-of-subset bytes NULL, never throw: truncation at " +
      "every prefix, corrupted IDAT CRC, interlaced, 16-bit, palette " +
      "missing its PLTE, oversized dims, trailing-garbage tolerance") {
    // MediaGoldens.pngMalformed: key = prefix length (the full image at
    // its own length), 1001 a corrupted IDAT byte (CRC mismatch), 1002-
    // 1004 IHDR patched to interlaced / 16-bit / palette without PLTE
    // (CRC fixed, so the REJECTION is the documented subset check),
    // 1005 trailing garbage after IEND (tolerated, as libpng does)
    val good = Png.synthPngBytes(7L)
    val got = MediaGoldens.pngMalformed.map { case (k, b) =>
      k -> Multimodal.parseImageDhash(b, 1 << 20)
    }.toMap
    assert(got(good.length.toLong) !== null)
    for (cut <- 0 until good.length)
      assert(got(cut.toLong) === null, s"truncated at $cut must be NULL")
    for (k <- 1001L to 1004L) assert(got(k) === null, s"variant $k")
    assert(got(1005L) !== null)
    // dim bound: w*h > maxPixels -> NULL (the bomb guard)
    assert(Png.decodeRgb(good, 1 << 20, maxPixels = 71).isEmpty)
    // input bound: bytes.length > maxBytes -> NULL
    assert(Multimodal.parseImageDhash(good, good.length - 1) === null)
  }

  test("the PNG decode is a narrow map: no shuffle exchange in the " +
      "imageDhash plan") {
    val df = Multimodal.imageDhash(Png.synthPngImageBytes(
      (0L until 50L).toDF("doc_id"), "doc_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("mixed-container banding: a PNG and a BMP with congruent ids " +
      "(mod 256) are content dups across FORMATS, and one banding run " +
      "finds both the cross-format dup and the PNG near-dup plant") {
    val bmp = Multimodal.imageDhash(Multimodal.synthDhashImageBytes(
        Seq(40L, 43L).toDF("doc_id"), "doc_id"))
      .where($"dhash".isNotNull)
      .select($"media_id".as("id"), $"dhash".as("simhash"))
    // 296 ≡ 40 (mod 256): same pixels, different container+codec;
    // 41 is the one-pixel plant of 40 encoded as PNG
    val png = Multimodal.imageDhash(Png.synthPngImageBytes(
        Seq(296L, 41L).toDF("doc_id"), "doc_id"))
      .where($"dhash".isNotNull)
      .select($"media_id".as("id"), $"dhash".as("simhash"))
    val pairs = graft.dedup.Dedup.simhashBandedDups(
      bmp.unionByName(png), "id", 64, 2)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((40L, 296L, 0)), s"cross-format dup missing: $pairs")
    assert(pairs.exists(p => p._1 == 40L && p._2 == 41L && p._3 <= 1),
      s"PNG plant missing: $pairs")
    assert(!pairs.exists(p => p._1 == 43L || p._2 == 43L),
      s"false positive on unrelated id: $pairs")
  }
}
