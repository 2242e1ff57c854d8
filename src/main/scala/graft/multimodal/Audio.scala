package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.AudioFingerprint

/** WAV-PCM content fingerprinting — the dHash treatment for audio,
  * closing the A/V modality at the same cost shape ([[Multimodal
  * .avMetadata]] was headers-only; WAV PCM samples need no codec,
  * exactly like BMP pixels).
  *
  * The fingerprint is a 64-bit FRAME-ENERGY signature: partition the
  * interleaved sample stream into 65 frames (frame(i) = floor(i·65/n) —
  * nearest-neighbor, the dHash convention), per-frame energy = Σ|s|
  * over 16-bit signed PCM samples, bit f = energy(f+1) > energy(f).
  * Like dHash, only ADJACENT COMPARISONS ride into the bits, so any
  * monotone per-sample transform — amplitude scaling (volume
  * normalization), the most common audio near-dup in a crawl — leaves
  * the signature unchanged, and near-dups reduce to the SAME
  * [[graft.dedup.Dedup.simhashBandedDups]] banding the text and image
  * sides run (full-64-bit, sign-safe chunks).
  *
  * Decodable subset (documented honesty, the parser-family contract):
  * canonical RIFF/WAVE containers, fmt audio-format 1 (integer PCM) at
  * 16-bit signed, 8-bit unsigned (midpoint 128 — the spec's two
  * classic integer conventions) or 24-bit signed LE, OR fmt
  * audio-format 3 (IEEE float) at 32 bits — the four layouts archived
  * audio actually ships. Any channel count (channels interleave into
  * the frame stream — energy mixes them, which is what a content
  * fingerprint wants), at least 65 samples, data chunk fully inside
  * `maxBytes`. Anything else — float64, 12-bit, integer-PCM-declared
  * 32-bit, truncated data, non-RIFF bytes — fingerprints NULL, never a
  * throw; a float stream containing NaN/Inf samples also NULLs (an
  * energy over non-finite values is not a content signature).
  *
  * Energies accumulate in DOUBLE: integer samples stay exact (Σ|s| <
  * 2^53 by the maxBytes bound), and float magnitudes decode EXACTLY —
  * sign dropped via the exponent/mantissa split, (2^23+m)·2^(e−150)
  * normal / m·2^−149 denormal are both exact double products, so two
  * engines replaying the same samples agree bit-for-bit whenever the
  * per-frame sum itself is exact (integer-valued floats, the oracle's
  * case).
  *
  * The decoder is [[parseFingerprint]], exposed as the native
  * `audio_fingerprint` expression ([[graft.functions.MediaParse]]).
  */
object Audio {

  /** Append `afp: bigint` — the 64-bit frame-energy fingerprint, NULL
    * outside the documented subset. `maxBytes` bounds the prefix read
    * per blob (the data chunk must end inside it); `maxChunks` bounds
    * the RIFF chunk walk. */
  def audioEnergyFingerprint(media: DataFrame,
                             contentCol: String = "content",
                             maxBytes: Int = 1 << 20,
                             maxChunks: Int = 16): DataFrame =
    Multimodal.appendParsed(media, "Audio.audioEnergyFingerprint",
      "audio_fingerprint", contentCol, Seq(maxBytes, maxChunks),
      AudioFingerprint.schema)

  /** One blob's 64-bit frame-energy fingerprint, or null. */
  def parseFingerprint(content: Array[Byte], maxBytes: Int,
                       maxChunks: Int): java.lang.Long = {
    if (content == null) return null
    val p = content // read in place: every access is bounded by L
    val L = math.min(content.length, maxBytes)
    @inline def u(i: Int): Int = p(i) & 0xFF
    def le16(i: Int): Long = u(i) | (u(i + 1).toLong << 8)
    def le32(i: Int): Long = u(i) | (u(i + 1).toLong << 8) |
      (u(i + 2).toLong << 16) | (u(i + 3).toLong << 24)
    def cc(i: Int, s: String): Boolean =
      (0 until s.length).forall(k => u(i + k) == s.charAt(k))
    if (L < 12 || !cc(0, "RIFF") || !cc(8, "WAVE")) return null
    // chunk walk (the avMetadata WAV shape): fmt -> afmt/bits, data ->
    // dpos/dsize; done once both seen
    var b = 12L
    var afmt, bits, dsize: java.lang.Long = null
    var dpos: java.lang.Long = null // payload byte offset
    var done = false
    var i = 0
    while (i < maxChunks && !done) {
      if (L < b + 8) done = true
      else {
        val bi = b.toInt
        val size = le32(bi + 4)
        if (cc(bi, "fmt ") && L >= b + 24 && size >= 16) {
          afmt = le16(bi + 8); bits = le16(bi + 22)
          done = dpos != null
        } else if (cc(bi, "data")) {
          dpos = b + 8; dsize = size
          done = afmt != null
        }
        b = b + 8 + size + (size % 2)
      }
      i += 1
    }
    val fmtBits = afmt != null && bits != null &&
      ((afmt == 1L && (bits == 16L || bits == 8L || bits == 24L)) ||
        (afmt == 3L && bits == 32L))
    if (!fmtBits || dpos == null || dsize == null) return null
    val bytesPer = (bits / 8).toInt
    val n = dsize / bytesPer
    if (n < 65 || L < dpos + dsize) return null
    val d0 = dpos.toInt
    val nI = n.toInt
    // per-sample magnitudes
    val mg = new Array[Double](nI)
    var k = 0
    if (afmt == 3L) {
      while (k < nI) {
        val b0 = u(d0 + k * 4); val b1 = u(d0 + k * 4 + 1)
        val b2 = u(d0 + k * 4 + 2); val b3 = u(d0 + k * 4 + 3)
        val fe = (b3 % 128) * 2 + b2 / 128
        val fm = (b2 % 128).toLong * 65536L + b1.toLong * 256L + b0
        mg(k) =
          if (fe == 0) fm.toDouble * math.pow(2.0, -149.0)
          else if (fe == 255) Double.NaN
          else (fm + (1L << 23)).toDouble * math.pow(2.0, fe - 150.0)
        k += 1
      }
    } else if (bits == 16L) {
      while (k < nI) {
        val uu = u(d0 + k * 2) + u(d0 + k * 2 + 1).toLong * 256L
        mg(k) = math.abs((uu + 32768L) % 65536L - 32768L).toDouble
        k += 1
      }
    } else if (bits == 24L) {
      while (k < nI) {
        val uu = u(d0 + k * 3) + u(d0 + k * 3 + 1).toLong * 256L +
          u(d0 + k * 3 + 2).toLong * 65536L
        mg(k) = math.abs((uu + (1L << 23)) % (1L << 24) - (1L << 23)).toDouble
        k += 1
      }
    } else {
      while (k < nI) { mg(k) = math.abs(u(d0 + k) - 128L).toDouble; k += 1 }
    }
    // 65 frame energies, accumulated in ascending sample order from 0.0
    val e = new Array[Double](65)
    var f = 0
    while (f < 65) {
      val lo = (f * n + 64) / 65
      val hi = ((f + 1) * n + 64) / 65
      var acc = 0.0d
      var s = lo
      while (s < hi) { acc += mg(s.toInt); s += 1 }
      if (java.lang.Double.isNaN(acc)) return null
      e(f) = acc
      f += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (e(bit + 1) > e(bit)) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** Deterministic WAV-PCM exhibit bytes — the [[Multimodal
    * .synthDhashImageBytes]] pattern for audio. Samples follow
    * s(id, i) = pmod((eid·31 + i·17)·(eid + i + 7), 16384) − 8192 over
    * n(eid) = 130 + pmod(eid·7, 66) samples, so the q175 oracle
    * recomputes every bit as id arithmetic. Plants:
    * pmod(id,11) = 6 → non-RIFF garbage (NULL);
    * pmod(id,13) = 5 → data chunk DECLARES n samples but the payload is
    * cut in half (truncation → NULL);
    * pmod(id,10) = 1 → the AMPLITUDE-SCALED near-dup of id−1: every
    * sample ×2 (no clipping — base range ±8192) plus +1 on sample 0,
    * which can flip only bit 0 → Hamming ≤ 1, the pair banding must
    * find. pmod(id,4) = 3 inserts a LIST chunk between fmt and data
    * (the chunk walk must skip it); channels alternate 1/2 by eid
    * (interleaving is content-transparent to the energy stream).
    * The sample LAYOUT cycles on pmod(eid,9) — derived from eid so
    * plants match their source's container: 4 = 8-BIT (unsigned
    * 128 ± s, s = pmod(formula, 127) − 63, ±63 so the ×2 plant cannot
    * clip); 2 = 32-bit IEEE FLOAT (fmt 3) and 7 = 24-bit signed LE —
    * both carrying the SAME integer values as the 16-bit class, so
    * the float encode→decode round-trip is exact and the q175/q176
    * id-arithmetic oracles replay UNCHANGED through all four
    * containers; everything else = 16-bit signed LE. */
  def synthWavPcmBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val eid = when(pmod(id, lit(10)) === 1, id - 1).otherwise(id)
    val n = (lit(130) + pmod(eid * 7, lit(66))).cast(LongType)
    val truncated = pmod(id, lit(13)) === 5
    val scalePlant = pmod(id, lit(10)) === 1
    def le(v: Column, bytes: Int) = concat((0 until bytes).map(b =>
      lpad(hex(pmod(floor(v / math.pow(256, b).toLong), lit(256))), 2, "0")): _*)
    // the sample LAYOUT cycles on pmod(eid, 9) — derived from eid so a
    // plant and its source share the container: 4 is the 8-BIT class
    // (unsigned, midpoint 128, ±63 base so the ×2 plant cannot clip),
    // 2 is 32-bit IEEE FLOAT (fmt 3 — sample VALUES are the same
    // integers as the 16-bit class, so float encode→decode is exact
    // and the id-arithmetic oracle replays UNCHANGED through the new
    // container), 7 is 24-bit signed LE (same values again), everything
    // else 16-bit signed LE
    val depth8 = pmod(eid, lit(9)) === 4
    val f32 = pmod(eid, lit(9)) === 2
    val depth24 = pmod(eid, lit(9)) === 7
    val bytesPerS = when(f32, 4L).when(depth24, 3L)
      .when(depth8, 1L).otherwise(2L)
    val keptN = when(truncated, floor(n / 2).cast(LongType)).otherwise(n)
    // THREE-pass sample pipeline — the let-binding idiom generalized to
    // HOFs: interpreted lambda bodies get no common-subexpression
    // elimination, so a single-pass form re-evaluates the quadratic
    // sample formula and (on float rows) the whole IEEE bit-assembly
    // once per OUTPUT BYTE (measured ~2x on q175/q176). Materializing
    // each stage as an array makes every later reference a cheap
    // lambda-variable read.
    // pass 1: the signed INTEGER sample value (plant scaling included;
    // the 8-bit class uses its own ±63 base)
    val svals = transform(sequence(lit(0L), keptN - 1), i => {
      val base16 = pmod((eid * 31 + i * 17) * (eid + i + 7),
        lit(16384)) - 8192
      val base8 = pmod((eid * 31 + i * 17) * (eid + i + 7),
        lit(127)) - 63
      val base = when(depth8, base8).otherwise(base16)
      when(scalePlant, base * 2 +
        when(i === 0, 1L).otherwise(0L)).otherwise(base)
    })
    // pass 2: the container's UNSIGNED bit pattern. IEEE-754 binary32
    // bits of the integer value: exponent from the binary-string length
    // (exact — no float log2), mantissa via an exact double product;
    // ±16385 needs exponents ≤ 14, far from any rounding edge
    val uvals = transform(svals, s => {
      val aAbs = abs(s)
      val pExp = (length(conv(aAbs, 10, 2)) - 1).cast(LongType)
      val mant = (aAbs.cast(DoubleType) *
        pow(lit(2.0), lit(23L) - pExp)).cast(LongType) - lit(1L << 23)
      val uF = when(aAbs === 0L, 0L).otherwise(
        when(s < 0, lit(1L << 31)).otherwise(lit(0L)) +
          (pExp + 127L) * lit(1L << 23) + mant)
      when(f32, uF)
        .when(depth24, pmod(s, lit(1L << 24)))
        .when(depth8, s + 128L)
        .otherwise(pmod(s, lit(65536)))
    })
    // pass 3: LE hex of the bit pattern — byte reads are now arithmetic
    // on a lambda variable, not re-evaluations of the passes above
    val data = array_join(transform(uvals, u =>
      when(f32, le(u, 4))
        .when(depth24, le(u, 3))
        .when(depth8, lpad(hex(u), 2, "0"))
        .otherwise(le(u, 2))), "")
    val ch = lit(1) + pmod(eid, lit(2))
    val list = when(pmod(id, lit(4)) === 3,
      concat(lit("4C495354"), le(lit(10L), 4),
        lit("494E464F" + "AB" * 6))).otherwise(lit(""))
    val listLen = when(pmod(id, lit(4)) === 3, 18L).otherwise(0L)
    // RIFF size = 4 (WAVE) + 24 (fmt) + optional LIST + 8 + data bytes;
    // the size field reflects the DECLARED layout even when the payload
    // is cut (that is what a truncated file looks like)
    val riffSize = lit(36L) + listLen + n * bytesPerS
    val fmt = concat(lit("666D7420"), le(lit(16L), 4),
      le(when(f32, 3L).otherwise(1L), 2), le(ch, 2),
      le(lit(8000L), 4), le(lit(8000L) * ch * bytesPerS, 4),
      le(ch * bytesPerS, 2), le(bytesPerS * 8, 2))
    val wav = concat(
      lit("52494646"), le(riffSize, 4), lit("57415645"),
      fmt, list,
      lit("64617461"), le(n * bytesPerS, 4), data)
    docs.select(
      id.as("media_id"),
      unhex(when(pmod(id, lit(11)) === 6, lit("DEADBEEF00FF"))
        .otherwise(wav)).as("content"))
  }
}
