package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Baseline JPEG pixel decode for perceptual hashing:
  * [[Multimodal.parseImageDhash]] (`image_dhash`) sends every blob that
  * starts with `FF D8` here. JPEG is the DOMINANT crawl-image codec;
  * real web corpora are majority JPEG ([[Multimodal.imageDims]] parses
  * its headers and EXIF).
  *
  * Pure-JVM baseline-sequential decoder, from the ITU-T T.81 spec:
  * SOI/APPn/COM/DQT (8- and 16-bit precision)/DHT (canonical
  * mincode/maxcode/valptr decode)/SOF0+SOF1/DRI/SOS, entropy-coded
  * data with 0xFF00 byte-unstuffing and RSTn restart handling (DC
  * predictors reset, bit buffer realigned), Huffman DC difference +
  * AC run-length/EOB/ZRL block decode, dequantize + dezigzag, double-
  * precision separable IDCT with the all-AC-zero flat shortcut,
  * nearest-neighbor chroma upsampling for 4:4:4 / 4:2:2 / 4:2:0, and
  * JFIF YCbCr→RGB with round+clamp. One or three components.
  *
  * Everything else NULLs, never throws (the parser-family contract):
  * progressive (SOF2) and every non-baseline SOF class (lossless,
  * arithmetic-coded, differential), 12-bit precision, 4-component
  * (CMYK) scans, sampling factors over 2, truncated entropy data,
  * missing tables, stray markers, oversized inputs. The contract is
  * documented honesty — a progressive JPEG yields NULL, not a wrong
  * hash.
  *
  * The hash is [[Png.dhashFromRgb]] — the SAME 9×8 grid and unweighted
  * first-three-channel luminance the BMP/ICO and PNG decodes use, so
  * one `image_dhash` call over a mixed BMP/PNG/JPEG corpus feeds ONE
  * [[graft.dedup.Dedup.simhashBandedDups]] banding (q185): a BMP, a PNG
  * and a JPEG of the same content surface as one duplicate group.
  *
  * Work per blob is bounded by `maxBytes` (input) and `maxPixels` (w·h
  * gate BEFORE any plane allocation, so a
  * decompression-bomb header costs a header parse then NULLs, never an
  * OOM — planes are ≤ 4·maxPixels ints across all components at the
  * 2×2 sampling cap).
  */
object Jpeg {

  /** Decode failure — control flow only, caught at the decode boundary;
    * carries no stack trace (fillInStackTrace suppressed) because it
    * fires once per malformed blob on the hot path. */
  private final class Malformed extends RuntimeException(null, null, false, false)
  private def fail(): Nothing = throw new Malformed

  /** Zigzag index → natural (row-major) index — T.81 Figure A.6. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** cos((2x+1)·u·π/16) · C(u) — the separable IDCT basis. */
  private val CosT: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    math.cos((2 * x + 1) * u * math.Pi / 16) *
      (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)
  }

  /** Canonical Huffman table (T.81 Annex C): decode via the standard
    * mincode/maxcode/valptr walk, one bit at a time. */
  private final class Huff(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l) == 0) maxCode(l) = -1
        else {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l)
          k += bits(l)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var l = 1
      var code = br.bit()
      while (l < 16 && (maxCode(l) < 0 || code > maxCode(l))) {
        code = (code << 1) | br.bit()
        l += 1
      }
      if (maxCode(l) < 0 || code > maxCode(l)) fail()
      vals(valPtr(l) + code - minCode(l))
    }
  }

  /** MSB-first bit reader over the entropy-coded segment: 0xFF00 →
    * 0xFF, any other marker inside a read is malformed (restart markers
    * are consumed explicitly by [[expectRst]] at interval boundaries,
    * never mid-block). */
  private final class BitReader(data: Array[Byte], var pos: Int, end: Int) {
    private var bitBuf = 0
    private var bitCnt = 0
    private def nextByte(): Int = {
      if (pos >= end) fail()
      val b = data(pos) & 0xFF
      pos += 1
      if (b == 0xFF) {
        if (pos >= end) fail()
        if ((data(pos) & 0xFF) != 0x00) fail()
        pos += 1
      }
      b
    }
    def bit(): Int = {
      if (bitCnt == 0) { bitBuf = nextByte(); bitCnt = 8 }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Byte-align and consume the next RSTn marker (T.81 E.2.4). */
    def expectRst(): Unit = {
      bitCnt = 0
      if (pos + 1 >= end || (data(pos) & 0xFF) != 0xFF) fail()
      val m = data(pos + 1) & 0xFF
      if (m < 0xD0 || m > 0xD7) fail()
      pos += 2
    }
  }

  /** receive_extend (T.81 F.2.2.1): an s-bit magnitude to its signed
    * coefficient value. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private final class Comp(val hi: Int, val vi: Int, val tq: Int) {
    var td = 0
    var ta = 0
    var plane: Array[Int] = null
    var planeW = 0
  }

  /** Decode a baseline JPEG to RGB — Some((w, h, 3, pixels)) row-major
    * RGB bytes, None outside the documented subset or malformed. */
  private[graft] def decodeRgb(bytes: Array[Byte], maxBytes: Int,
                               maxPixels: Int): Option[(Int, Int, Int, Array[Byte])] =
    try {
      if (bytes == null || bytes.length < 4 || bytes.length > maxBytes)
        return None
      if ((bytes(0) & 0xFF) != 0xFF || (bytes(1) & 0xFF) != 0xD8)
        return None
      def u16(at: Int): Int =
        if (at + 1 >= bytes.length) fail()
        else ((bytes(at) & 0xFF) << 8) | (bytes(at + 1) & 0xFF)
      val qt = new Array[Array[Int]](4)
      val dcT = new Array[Huff](4)
      val acT = new Array[Huff](4)
      var ri = 0
      var w = 0
      var h = 0
      var comps: Array[Comp] = null
      var pos = 2
      while (true) {
        if (pos + 2 > bytes.length) fail()
        if ((bytes(pos) & 0xFF) != 0xFF) fail()
        var m = bytes(pos + 1) & 0xFF
        pos += 2
        // 0xFF fill bytes before a marker are legal (T.81 B.1.1.2)
        while (m == 0xFF && pos < bytes.length) {
          m = bytes(pos) & 0xFF
          pos += 1
        }
        if (m == 0xD9 || (m >= 0xD0 && m <= 0xD7) || m == 0x01) {
          // EOI before any scan, stray restart, or TEM: no image here
          fail()
        }
        val len = u16(pos)
        if (len < 2 || pos + len > bytes.length) fail()
        val seg = pos + 2
        val segEnd = pos + len
        m match {
          case 0xC0 | 0xC1 => // baseline / extended sequential Huffman
            if (comps != null) fail()
            if (len < 8 || (bytes(seg) & 0xFF) != 8) fail()
            h = u16(seg + 1)
            w = u16(seg + 3)
            val nc = bytes(seg + 5) & 0xFF
            if (w < 1 || h < 1 || w.toLong * h > maxPixels) fail()
            if (nc != 1 && nc != 3) fail()
            if (len != 8 + 3 * nc) fail()
            comps = Array.tabulate(nc) { c =>
              val hv = bytes(seg + 7 + 3 * c) & 0xFF
              val comp = new Comp(hv >> 4, hv & 0x0F,
                bytes(seg + 8 + 3 * c) & 0xFF)
              if (comp.hi < 1 || comp.hi > 2 || comp.vi < 1 ||
                comp.vi > 2 || comp.tq > 3) fail()
              comp
            }
          case 0xC2 | 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
               0xCD | 0xCE | 0xCF =>
            // progressive / lossless / arithmetic / differential:
            // outside the documented subset — NULL, never a wrong hash
            fail()
          case 0xC4 => // DHT, possibly several tables per segment
            var p = seg
            while (p < segEnd) {
              if (p + 17 > segEnd) fail()
              val tcth = bytes(p) & 0xFF
              val tc = tcth >> 4
              val th = tcth & 0x0F
              if (tc > 1 || th > 3) fail()
              val bits = new Array[Int](17)
              var total = 0
              var l = 1
              while (l <= 16) {
                bits(l) = bytes(p + l) & 0xFF
                total += bits(l)
                l += 1
              }
              if (total > 256 || p + 17 + total > segEnd) fail()
              val vals = Array.tabulate(total)(i => bytes(p + 17 + i) & 0xFF)
              val t = new Huff(bits, vals)
              if (tc == 0) dcT(th) = t else acT(th) = t
              p += 17 + total
            }
          case 0xDB => // DQT, possibly several tables per segment
            var p = seg
            while (p < segEnd) {
              val pqtq = bytes(p) & 0xFF
              val pq = pqtq >> 4
              val tq = pqtq & 0x0F
              if (pq > 1 || tq > 3) fail()
              val n = if (pq == 0) 64 else 128
              if (p + 1 + n > segEnd) fail()
              val t = new Array[Int](64)
              var k = 0
              while (k < 64) {
                val v = if (pq == 0) bytes(p + 1 + k) & 0xFF
                  else u16(p + 1 + 2 * k)
                if (v == 0) fail()
                t(Zigzag(k)) = v
                k += 1
              }
              qt(tq) = t
              p += 1 + n
            }
          case 0xDD =>
            if (len != 4) fail()
            ri = u16(seg)
          case 0xDA => // SOS: decode the scan and return
            if (comps == null) fail()
            val ns = bytes(seg) & 0xFF
            if (ns != comps.length || len != 6 + 2 * ns) fail()
            var c = 0
            while (c < ns) {
              // components must appear in SOF order (the overwhelming
              // convention; out-of-order interleave is out of subset)
              val tdta = bytes(seg + 2 + 2 * c) & 0xFF
              comps(c).td = tdta >> 4
              comps(c).ta = tdta & 0x0F
              if (comps(c).td > 3 || comps(c).ta > 3) fail()
              c += 1
            }
            // baseline spectral selection 0..63, no successive approx
            if ((bytes(segEnd - 3) & 0xFF) != 0 ||
              (bytes(segEnd - 2) & 0xFF) != 63 ||
              (bytes(segEnd - 1) & 0xFF) != 0) fail()
            return Some(decodeScan(bytes, segEnd, w, h, comps, qt, dcT,
              acT, ri))
          case _ => // APPn / COM / DNL etc.: skip
        }
        pos += len
      }
      None // unreachable
    } catch {
      case _: Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
    }

  private def decodeScan(bytes: Array[Byte], from: Int, w: Int, h: Int,
                         comps: Array[Comp], qt: Array[Array[Int]],
                         dcT: Array[Huff], acT: Array[Huff],
                         ri: Int): (Int, Int, Int, Array[Byte]) = {
    val hmax = comps.map(_.hi).max
    val vmax = comps.map(_.vi).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    comps.foreach { c =>
      c.planeW = mcusX * c.hi * 8
      c.plane = new Array[Int](c.planeW * mcusY * c.vi * 8)
      if (qt(c.tq) == null || dcT(c.td) == null || acT(c.ta) == null)
        fail()
    }
    val br = new BitReader(bytes, from, bytes.length)
    val preds = new Array[Int](comps.length)
    val coef = new Array[Int](64)
    val out8 = new Array[Int](64)
    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (ri > 0 && mcu > 0 && mcu % ri == 0) {
          br.expectRst()
          java.util.Arrays.fill(preds, 0)
        }
        var ci = 0
        while (ci < comps.length) {
          val c = comps(ci)
          val q = qt(c.tq)
          var by = 0
          while (by < c.vi) {
            var bx = 0
            while (bx < c.hi) {
              // one 8x8 block: DC diff + AC RLE (T.81 F.2.2)
              java.util.Arrays.fill(coef, 0)
              val s = dcT(c.td).decode(br)
              if (s > 11) fail()
              preds(ci) += extend(br.receive(s), s)
              coef(0) = preds(ci) * q(0)
              var k = 1
              var eob = false
              while (k < 64 && !eob) {
                val rs = acT(c.ta).decode(br)
                val r = rs >> 4
                val sz = rs & 0x0F
                if (sz == 0) {
                  if (r == 15) k += 16 // ZRL
                  else eob = true
                } else {
                  k += r
                  if (k > 63) fail()
                  coef(Zigzag(k)) = extend(br.receive(sz), sz) *
                    q(Zigzag(k))
                  k += 1
                }
              }
              idct(coef, out8)
              // write into the component plane
              val px0 = (mx * c.hi + bx) * 8
              val py0 = (my * c.vi + by) * 8
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  c.plane((py0 + yy) * c.planeW + px0 + xx) =
                    out8(yy * 8 + xx)
                  xx += 1
                }
                yy += 1
              }
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    // upsample + color convert
    val out = new Array[Byte](w * h * 3)
    if (comps.length == 1) {
      val c = comps(0)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = c.plane(y * c.planeW + x)
          val o = (y * w + x) * 3
          out(o) = g.toByte; out(o + 1) = g.toByte; out(o + 2) = g.toByte
          x += 1
        }
        y += 1
      }
    } else {
      val cy = comps(0); val cb = comps(1); val cr = comps(2)
      def sample(c: Comp, x: Int, y: Int): Int =
        c.plane((y * c.vi / vmax) * c.planeW + (x * c.hi / hmax))
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val yv = sample(cy, x, y)
          val cbv = sample(cb, x, y) - 128
          val crv = sample(cr, x, y) - 128
          val o = (y * w + x) * 3
          out(o) = clamp(Math.round(yv + 1.402 * crv).toInt).toByte
          out(o + 1) = clamp(Math.round(
            yv - 0.344136 * cbv - 0.714136 * crv).toInt).toByte
          out(o + 2) = clamp(Math.round(yv + 1.772 * cbv).toInt).toByte
          x += 1
        }
        y += 1
      }
    }
    (w, h, 3, out)
  }

  private def clamp(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** Double-precision separable IDCT (T.81 A.3.3) + level shift +
    * clamp, with the all-AC-zero FLAT shortcut — on a DC-only block the
    * output is exactly clamp(round(F00/8) + 128), which is what makes
    * the synth exhibit's decode exactly replayable as id arithmetic. */
  private def idct(coef: Array[Int], out: Array[Int]): Unit = {
    var allZero = true
    var k = 1
    while (k < 64 && allZero) {
      if (coef(k) != 0) allZero = false
      k += 1
    }
    if (allZero) {
      val v = clamp(Math.round(coef(0) / 8.0 + 128).toInt)
      java.util.Arrays.fill(out, v)
      return
    }
    // rows then columns
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          s += CosT(x)(u) * coef(y * 8 + u)
          u += 1
        }
        tmp(y * 8 + x) = s
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) {
      y = 0
      while (y < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          s += CosT(y)(v) * tmp(v * 8 + x)
          v += 1
        }
        out(y * 8 + x) = clamp(Math.round(s / 4.0 + 128).toInt)
        y += 1
      }
      x += 1
    }
  }

  // --------------------------------------------------------------------
  // Deterministic synth encoder (test/oracle exhibits)
  // --------------------------------------------------------------------

  // T.81 Annex K.3 typical Huffman tables — spec constants, like the
  // RFC 7932 dictionary in sources/Brotli.scala
  private val LumaDcBits =
    Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val LumaDcVals = (0 to 11).toArray
  private val ChromaDcBits =
    Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val ChromaDcVals = (0 to 11).toArray
  // AC tables: only the EOB (0x00) and ZRL-free DC-only stream is ever
  // emitted by the synth, but the tables are the FULL Annex K ones so a
  // general decoder exercises real code lengths
  private val LumaAcBits =
    Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
  private val LumaAcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)
  private val ChromaAcBits =
    Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val ChromaAcVals: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)

  /** Canonical (code, length) per symbol from a BITS/HUFFVAL pair —
    * the encoder half of [[Huff]]. */
  private def codeTable(bits: Array[Int],
                        vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val m = scala.collection.mutable.Map.empty[Int, (Int, Int)]
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l)) {
        m(vals(k)) = (code, l)
        code += 1
        k += 1
        i += 1
      }
      code <<= 1
      l += 1
    }
    m.toMap
  }

  private final class BitWriter {
    val out = new java.io.ByteArrayOutputStream()
    private var buf = 0
    private var cnt = 0
    def bits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        buf = (buf << 1) | ((v >> i) & 1)
        cnt += 1
        if (cnt == 8) {
          out.write(buf)
          if (buf == 0xFF) out.write(0x00) // byte stuffing
          buf = 0
          cnt = 0
        }
        i -= 1
      }
    }
    /** Pad the final partial byte with 1-bits (T.81 F.1.2.3). */
    def flushAlign(): Unit =
      if (cnt > 0) bits((1 << (8 - cnt)) - 1, 8 - cnt)
    def raw(b: Int): Unit = { flushAlign(); out.write(b) }
  }

  /** Deterministic baseline-JPEG twins of [[Png.synthPngImageBytes]] —
    * 72×64 images of FLAT 8×8 blocks, block (x, y) carrying the q166
    * pixel value g(id, x, y) = pmod((eid·31 + x·17 + y·53)·(eid + x +
    * y + 7) [+ bump], 256). Flat blocks make the lossy codec EXACT: the
    * luma quantizer is 8 at DC (so coded DC = v − 128 with zero
    * rounding error) and the decoder's flat-block IDCT shortcut
    * reproduces v bit-for-bit; chroma is constant 128 (coded DC 0) so
    * YCbCr→RGB is the identity on the gray axis. The dHash grid sample
    * srcX = 8·gx, srcY = 8·gy lands on block (gx, gy), so the hash
    * equals the 9×8 BMP exhibit's for congruent ids and the
    * q173 id-arithmetic oracle replays with one extra NULL class.
    *
    * Per-id coverage: pmod(id,5) cycles the CODEC SHAPE — 0 grayscale,
    * 1 YCbCr 4:4:4, 2 YCbCr 4:2:0 (padded MCU columns the decoder must
    * discard), 3 grayscale + DRI=2 restart markers (RST0..7 cycling,
    * DC-predictor resets), 4 YCbCr 4:2:2; pmod(id,4) = 3 inserts APP0
    * (JFIF) + COM segments to skip; pmod(id,10) = 1 is the one-pixel
    * near-dup plant of id−1; pmod(id,11) = 6 garbage → NULL;
    * pmod(id,13) = 5 PROGRESSIVE (SOF2) → NULL, the documented
    * honesty path for the decoder's biggest real-world gap. */
  def synthJpegImageBytes(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast(LongType)).as[Long]
      .map(id => (id, synthJpegBytes(id)))
      .toDF("media_id", "content")
  }

  private[graft] def synthJpegBytes(id: Long): Array[Byte] = {
    def pm(a: Long, m: Long): Long = ((a % m) + m) % m
    if (pm(id, 11) == 6)
      return Array(0xFF, 0xD8, 0xDE, 0xAD, 0xBE, 0xEF).map(_.toByte)
    val eid = if (pm(id, 10) == 1) id - 1 else id
    // block value grid (9 wide x 8 tall), q166 formula + plant bump
    val g = Array.tabulate(8, 9) { (y, x) =>
      val bump = if (pm(id, 10) == 1 && x == 0 && y == 0) 1L else 0L
      pm((eid * 31 + x * 17 + y * 53) * (eid + x + y + 7) + bump, 256).toInt
    }
    val mode = pm(id, 5).toInt
    val progressive = pm(id, 13) == 5
    val gray = mode == 0 || mode == 3
    val (sh, sv) = mode match {
      case 2 => (2, 2) // 4:2:0
      case 4 => (2, 1) // 4:2:2
      case _ => (1, 1)
    }
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xFF); out.write(m) }
    def seg(m: Int, data: Array[Int]): Unit = {
      marker(m)
      val len = data.length + 2
      out.write(len >> 8); out.write(len & 0xFF)
      data.foreach(out.write)
    }
    marker(0xD8) // SOI
    if (pm(id, 4) == 3) {
      // APP0 JFIF + a COM segment — skipped-segment coverage
      seg(0xE0, Array(0x4A, 0x46, 0x49, 0x46, 0x00, 1, 1, 0, 0, 1, 0, 1,
        0, 0))
      seg(0xFE, "synthetic".map(_.toInt).toArray)
    }
    // DQT: luma table 0 (DC quant 8, AC 1); chroma table 1 same shape
    val qtData = Array(0x00) ++ (0 until 64).map(k => if (k == 0) 8 else 1)
    seg(0xDB, qtData)
    if (!gray)
      seg(0xDB, Array(0x01) ++ (0 until 64).map(k => if (k == 0) 8 else 1))
    val w = 72; val h = 64
    if (progressive) {
      // a structurally plausible PROGRESSIVE file: SOF2 then a token
      // scan — the decoder must NULL at the SOF2 marker, never decode
      val sof = Array(8, h >> 8, h & 0xFF, w >> 8, w & 0xFF, 1, 1, 0x11, 0)
      seg(0xC2, sof)
      seg(0xC4, Array(0x00) ++ LumaDcBits.drop(1) ++ LumaDcVals)
      seg(0xDA, Array(1, 1, 0x00, 0, 0, 0))
      out.write(Array[Byte](0x12, 0x34, 0x56))
      marker(0xD9)
      return out.toByteArray
    }
    // SOF0
    val sofComps =
      if (gray) Array(1, 0x11, 0)
      else Array(1, (sh << 4) | sv, 0, 2, 0x11, 1, 3, 0x11, 1)
    seg(0xC0, Array(8, h >> 8, h & 0xFF, w >> 8, w & 0xFF,
      if (gray) 1 else 3) ++ sofComps)
    // DHT
    seg(0xC4, Array(0x00) ++ LumaDcBits.drop(1) ++ LumaDcVals)
    seg(0xC4, Array(0x10) ++ LumaAcBits.drop(1) ++ LumaAcVals)
    if (!gray) {
      seg(0xC4, Array(0x01) ++ ChromaDcBits.drop(1) ++ ChromaDcVals)
      seg(0xC4, Array(0x11) ++ ChromaAcBits.drop(1) ++ ChromaAcVals)
    }
    val ri = if (mode == 3) 2 else 0
    if (ri > 0) seg(0xDD, Array(0, ri))
    // SOS
    seg(0xDA,
      (if (gray) Array(1, 1, 0x00) else Array(3, 1, 0x00, 2, 0x11, 3, 0x11))
        ++ Array(0, 63, 0))
    // entropy-coded data: DC-only blocks, interleaved MCUs
    val lumaDc = codeTable(LumaDcBits, LumaDcVals)
    val lumaAc = codeTable(LumaAcBits, LumaAcVals)
    val chromaDc = codeTable(ChromaDcBits, ChromaDcVals)
    val chromaAc = codeTable(ChromaAcBits, ChromaAcVals)
    val bw = new BitWriter
    def putCode(t: Map[Int, (Int, Int)], sym: Int): Unit = {
      val (c, l) = t(sym)
      bw.bits(c, l)
    }
    def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    var predY = 0
    var predCb = 0
    var predCr = 0
    def encBlock(coded: Int, dc: Map[Int, (Int, Int)],
                 ac: Map[Int, (Int, Int)], pred: Int): Int = {
      val diff = coded - pred
      val s = category(diff)
      putCode(dc, s)
      if (s > 0) bw.bits(if (diff < 0) diff + (1 << s) - 1 else diff, s)
      putCode(ac, 0x00) // EOB
      coded
    }
    // luma block value at padded grid coords (edge replicate)
    def lv(bx: Int, by: Int): Int = g(math.min(by, 7))(math.min(bx, 8))
    val mcusX = (w + 8 * sh - 1) / (8 * sh)
    val mcusY = (h + 8 * sv - 1) / (8 * sv)
    var rstIdx = 0
    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (ri > 0 && mcu > 0 && mcu % ri == 0) {
          bw.raw(0xFF); out.write(bw.out.toByteArray); bw.out.reset()
          // bw.raw flushed align + wrote 0xFF into bw's stream; write
          // the restart marker byte directly
          out.write(0xD0 + (rstIdx % 8))
          rstIdx += 1
          predY = 0; predCb = 0; predCr = 0
        }
        var by = 0
        while (by < sv) {
          var bx = 0
          while (bx < sh) {
            predY = encBlock(lv(mx * sh + bx, my * sv + by) - 128,
              lumaDc, lumaAc, predY)
            bx += 1
          }
          by += 1
        }
        if (!gray) {
          predCb = encBlock(0, chromaDc, chromaAc, predCb)
          predCr = encBlock(0, chromaDc, chromaAc, predCr)
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    bw.flushAlign()
    out.write(bw.out.toByteArray)
    marker(0xD9)
    out.toByteArray
  }
}
