package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PNG pixel decode for perceptual hashing: [[Multimodal.parseImageDhash]]
  * (`image_dhash`) sends every blob with the PNG signature here.
  *
  * Real crawl images are overwhelmingly compressed. This module decodes
  * PNG with a pure-JVM decoder (JDK Inflater — the same dependency-free
  * route `multimodal/Pdf.scala` takes for FlateDecode): 8-bit
  * non-interlaced PNG in ALL FIVE color
  * types — 2 RGB, 6 RGBA, 0 grayscale, 4 gray+alpha, 3 palette
  * (PLTE-expanded) — full per-row defilter (all five §4.5.2 filters
  * incl. Paeth), multi-IDAT reassembly, CRC-validated critical chunks.
  * Everything else — sub-8/16-bit depths, interlaced, malformed,
  * truncated, oversized — returns NULL, never a throw (the
  * parser-family contract); the contract is DOCUMENTED honesty, not
  * silent wrong hashes.
  *
  * The hash is [[dhashFromRgb]], the SAME standard dHash as the BMP/ICO
  * decoder: 9×8 nearest-neighbor luminance grid (srcX = floor(gx·w/9),
  * srcY = floor(gy·h/8)), luminance = unweighted first-three-channel
  * sum (dHash only compares adjacent values, so the BGR-vs-RGB channel
  * order difference between BMP and PNG is irrelevant — the sum is
  * permutation-invariant), bit gy·8+gx = right-neighbor brighter.
  * PngSpec asserts bit-equality against the BMP/ICO dHash on
  * re-encoded twins of the BMP exhibits, so one `image_dhash` call over
  * a mixed BMP/PNG corpus feeds ONE banding pipeline
  * ([[graft.dedup.Dedup.simhashBandedDups]], q174).
  *
  * Work per blob is bounded by `maxBytes` (input) and `maxPixels`
  * (decoded buffer = ≤4·maxPixels bytes), so a decompression-bomb PNG
  * costs a bounded allocation then NULLs, never an OOM.
  */
object Png {

  private val Signature: Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** Decode an 8-bit non-interlaced PNG to its raw pixel array —
    * color types 2 (RGB), 6 (RGBA), 0 (grayscale, expanded to RGB),
    * 4 (gray+alpha, expanded to RGB), and 3 (palette, PLTE-expanded
    * to RGB). Some((w, h, channels, pixels)) where pixels is
    * row-major w·channels bytes per row; None for anything outside
    * the documented subset or malformed. */
  private[graft] def decodeRgb(bytes: Array[Byte], maxBytes: Int,
                               maxPixels: Int): Option[(Int, Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < 8 + 25 || bytes.length > maxBytes)
      return None
    var i = 0
    while (i < 8) { if (bytes(i) != Signature(i)) return None; i += 1 }
    def u32(at: Int): Long =
      ((bytes(at) & 0xFFL) << 24) | ((bytes(at + 1) & 0xFFL) << 16) |
        ((bytes(at + 2) & 0xFFL) << 8) | (bytes(at + 3) & 0xFFL)
    var pos = 8
    var w, h, colorType = 0
    var seenIhdr, seenIend = false
    var palette: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    while (!seenIend) {
      if (pos + 12 > bytes.length) return None // truncated chunk frame
      val len = u32(pos)
      if (len > Int.MaxValue - 12 || pos + 12 + len > bytes.length)
        return None
      val typ = new String(bytes, pos + 4, 4, "US-ASCII")
      val dataAt = pos + 8
      val dataLen = len.toInt
      // critical chunks get their CRC verified (the libpng behavior we
      // care about: a corrupted IHDR/PLTE/IDAT/IEND must NULL, not
      // mis-hash); ancillary chunks are skipped without the CRC cost
      def crcOk: Boolean = {
        val crc = new java.util.zip.CRC32()
        crc.update(bytes, pos + 4, 4 + dataLen)
        crc.getValue == u32(dataAt + dataLen)
      }
      typ match {
        case "IHDR" =>
          if (seenIhdr || dataLen != 13 || !crcOk) return None
          seenIhdr = true
          val wL = u32(dataAt); val hL = u32(dataAt + 4)
          val bitDepth = bytes(dataAt + 8) & 0xFF
          colorType = bytes(dataAt + 9) & 0xFF
          val compression = bytes(dataAt + 10) & 0xFF
          val filterMethod = bytes(dataAt + 11) & 0xFF
          val interlace = bytes(dataAt + 12) & 0xFF
          if (wL < 1 || hL < 1 || wL * hL > maxPixels) return None
          if (bitDepth != 8 || !Set(0, 2, 3, 4, 6).contains(colorType) ||
            compression != 0 || filterMethod != 0 || interlace != 0)
            return None
          w = wL.toInt; h = hL.toInt
        case "PLTE" =>
          if (!seenIhdr || dataLen % 3 != 0 || dataLen == 0 ||
            dataLen > 256 * 3 || !crcOk) return None
          palette = java.util.Arrays.copyOfRange(bytes, dataAt,
            dataAt + dataLen)
        case "IDAT" =>
          if (!seenIhdr || !crcOk) return None
          idat.write(bytes, dataAt, dataLen)
        case "IEND" =>
          if (!seenIhdr || dataLen != 0 || !crcOk) return None
          seenIend = true
        case _ => // ancillary (tEXt, gAMA, tRNS, ...): skip
      }
      pos = dataAt + dataLen + 4
    }
    if (colorType == 3 && palette == null) return None // PLTE is critical
    // raw channel count drives the scanline/bpp geometry; the OUTPUT is
    // expanded below so every subscriber reads RGB-first channels
    val rawCh = colorType match {
      case 0 => 1; case 4 => 2; case 3 => 1; case 2 => 3; case _ => 4
    }
    // inflate exactly the expected scanline bytes: (filter + row) × h
    val rowBytes = w * rawCh
    val expected = (rowBytes + 1) * h
    val raw = new Array[Byte](expected)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < expected && !inf.finished()) {
        val n = inf.inflate(raw, got, expected - got)
        if (n == 0 && inf.needsInput()) return None // truncated stream
        got += n
      }
      if (got < expected) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // defilter in place → pixel array (RFC 2083 §4.5.2, all 5 filters;
    // bpp for the filter deltas is the RAW per-pixel byte count)
    val px = new Array[Byte](rowBytes * h)
    var y = 0
    while (y < h) {
      val f = raw(y * (rowBytes + 1)) & 0xFF
      if (f > 4) return None
      val src = y * (rowBytes + 1) + 1
      val dst = y * rowBytes
      var k = 0
      while (k < rowBytes) {
        val left = if (k >= rawCh) px(dst + k - rawCh) & 0xFF else 0
        val up = if (y > 0) px(dst - rowBytes + k) & 0xFF else 0
        val ul = if (y > 0 && k >= rawCh)
          px(dst - rowBytes + k - rawCh) & 0xFF else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => // Paeth
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        px(dst + k) = (((raw(src + k) & 0xFF) + pred) & 0xFF).toByte
        k += 1
      }
      y += 1
    }
    colorType match {
      case 2 => Some((w, h, 3, px))
      case 6 => Some((w, h, 4, px))
      case 0 => // grayscale → (g, g, g)
        val out = new Array[Byte](w * h * 3)
        var j = 0
        while (j < w * h) {
          val g = px(j)
          out(j * 3) = g; out(j * 3 + 1) = g; out(j * 3 + 2) = g
          j += 1
        }
        Some((w, h, 3, out))
      case 4 => // gray+alpha → (g, g, g), alpha dropped (luminance hash)
        val out = new Array[Byte](w * h * 3)
        var j = 0
        while (j < w * h) {
          val g = px(j * 2)
          out(j * 3) = g; out(j * 3 + 1) = g; out(j * 3 + 2) = g
          j += 1
        }
        Some((w, h, 3, out))
      case _ => // palette → PLTE[idx]; an index past the PLTE is malformed
        val n = palette.length / 3
        val out = new Array[Byte](w * h * 3)
        var j = 0
        while (j < w * h) {
          val idx = px(j) & 0xFF
          if (idx >= n) return None
          out(j * 3) = palette(idx * 3)
          out(j * 3 + 1) = palette(idx * 3 + 1)
          out(j * 3 + 2) = palette(idx * 3 + 2)
          j += 1
        }
        Some((w, h, 3, out))
    }
  }

  /** The SHARED 9×8 grid + adjacent-comparison fold — one definition
    * for every decoded container ([[Png]], [[Jpeg]]), so "bit-compatible
    * with the BMP/ICO dHash" is a property of one function, not a claim
    * re-proven per format. */
  private[multimodal] def dhashFromRgb(w: Int, h: Int, channels: Int,
                                       px: Array[Byte]): java.lang.Long = {
    val grid = Array.ofDim[Long](8, 9)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 9) {
        val srcX = gx.toLong * w / 9
        val srcY = gy.toLong * h / 8
        val base = (srcY * w + srcX).toInt * channels
        grid(gy)(gx) = (px(base) & 0xFFL) + (px(base + 1) & 0xFFL) +
          (px(base + 2) & 0xFFL)
        gx += 1
      }
      gy += 1
    }
    var acc = 0L
    var b = 0
    while (b < 64) {
      if (grid(b / 8)(b % 8 + 1) > grid(b / 8)(b % 8))
        acc += 1L << b
      b += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Deterministic PNG twins of [[Multimodal.synthDhashImageBytes]] —
    * the SAME 9×8 pixel formula g(id, x, y) = pmod((eid·31 + x·17 +
    * y·53)·(eid + x + y + 7) [+ bump], 256), so a PNG exhibit and a BMP
    * exhibit with congruent ids (mod 256) hash identically and the
    * q166/q167 id-arithmetic oracles replay unchanged. Same plants:
    * pmod(id,10)=1 is a one-pixel near-dup of id−1, pmod(id,11)=6 is
    * garbage → NULL. PNG-specific coverage varies by id: the COLOR
    * TYPE cycles ALL FIVE 8-bit forms on pmod(id,5) — 0 RGB, 1 RGBA,
    * 2 grayscale, 3 palette (identity 256-gray PLTE, so indices ARE
    * luminances), 4 gray+alpha — every one rendering the SAME pixels,
    * so cross-COLOR-TYPE ids congruent mod 1280 (lcm of the pixel
    * formula's mod-256 period and the 5-way color-type cycle) hash
    * identically — unless one of the pair lands in the pmod(id,11)=6
    * garbage class and hashes NULL — and every type feeds the same
    * oracle; every row cycles filter y%5 (all five defilter
    * paths in every image), pmod(id,4)=2 splits IDAT in two chunks,
    * pmod(id,4)=3 inserts an ancillary tEXt chunk to skip. */
  def synthPngImageBytes(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast(LongType)).as[Long]
      .map(id => (id, synthPngBytes(id)))
      .toDF("media_id", "content")
  }

  private[graft] def synthPngBytes(id: Long): Array[Byte] = {
    def pm(a: Long, m: Long): Long = ((a % m) + m) % m
    if (pm(id, 11) == 6)
      return Array(0xDE, 0xAD, 0xBE, 0xEF, 0x00, 0xFF).map(_.toByte)
    val eid = if (pm(id, 10) == 1) id - 1 else id
    val w = 9; val h = 8
    // color mode: 0 RGB, 1 RGBA, 2 grayscale, 3 palette, 4 gray+alpha
    val mode = pm(id, 5).toInt
    val channels = mode match {
      case 0 => 3; case 1 => 4; case 4 => 2; case _ => 1
    }
    val colorType = mode match {
      case 0 => 2; case 1 => 6; case 2 => 0; case 3 => 3; case _ => 4
    }
    val rowBytes = w * channels
    val px = new Array[Int](rowBytes * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val bump = if (pm(id, 10) == 1 && x == 0 && y == 0) 1L else 0L
        val g = pm((eid * 31 + x * 17 + y * 53) *
          (eid + x + y + 7) + bump, 256).toInt
        val base = y * rowBytes + x * channels
        // gray/palette store g once (identity PLTE maps index g to
        // (g,g,g)); multi-channel forms replicate it
        px(base) = g
        if (channels >= 3) { px(base + 1) = g; px(base + 2) = g }
        if (channels == 4) px(base + 3) = 0xFF
        if (channels == 2) px(base + 1) = 0xFF
        x += 1
      }
      y += 1
    }
    // filter each row with y % 5 — every image exercises every filter
    val raw = new Array[Byte]((rowBytes + 1) * h)
    y = 0
    while (y < h) {
      val f = y % 5
      raw(y * (rowBytes + 1)) = f.toByte
      var k = 0
      while (k < rowBytes) {
        val cur = px(y * rowBytes + k)
        val left = if (k >= channels) px(y * rowBytes + k - channels) else 0
        val up = if (y > 0) px((y - 1) * rowBytes + k) else 0
        val ul = if (y > 0 && k >= channels)
          px((y - 1) * rowBytes + k - channels) else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ =>
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        raw(y * (rowBytes + 1) + 1 + k) = ((cur - pred) & 0xFF).toByte
        k += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    val zOut = new java.io.ByteArrayOutputStream()
    try {
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](4096)
      while (!defl.finished()) zOut.write(buf, 0, defl.deflate(buf))
    } finally defl.end()
    val idat = zOut.toByteArray
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length)
      val t = typ.getBytes("US-ASCII")
      bb.put(t); bb.put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte)
      .put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Signature)
    out.write(chunk("IHDR", ihdr))
    if (colorType == 3)
      out.write(chunk("PLTE", Array.tabulate(768)(i => (i / 3).toByte)))
    if (pm(id, 4) == 3)
      out.write(chunk("tEXt", "Comment\u0000synthetic".getBytes("US-ASCII")))
    if (pm(id, 4) == 2 && idat.length >= 2) {
      val cut = idat.length / 2
      out.write(chunk("IDAT", idat.take(cut)))
      out.write(chunk("IDAT", idat.drop(cut)))
    } else out.write(chunk("IDAT", idat))
    out.write(chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }
}
