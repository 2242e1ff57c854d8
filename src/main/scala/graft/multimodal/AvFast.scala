package graft.multimodal

/** The audio/video container-header decoder behind
  * [[Multimodal.avMetadata]] and `av_metadata`: sample rate, channel
  * count, bit depth, dimensions and duration straight from the bytes,
  * never decoding a sample. It reads the first `headerBytes` bytes at
  * most; malformed or truncated input yields NULL fields, never a throw.
  * Walk positions are Longs, so an untrusted u32/u64 size cannot wrap an
  * index. A u64 field at or above 2^63 (an MP4 `mvhd` v1 duration, an
  * 8-byte EBML integer) reads as NULL, as does a duration whose
  * millisecond value overflows a Long.
  *
  * WAV: 'RIFF' + size + 'WAVE', then a CHUNK WALK — LIST/INFO (and any
  * other) chunks may precede `fmt `, so fixed offsets are wrong for
  * real files. Each hop reads fourcc + LE u32 size and skips
  * 8 + size + (size odd ? 1 : 0) bytes — RIFF chunks are WORD-aligned,
  * and a walk that forgets the pad byte desyncs after the first
  * odd-sized chunk. `fmt ` yields channels (u16 LE), sample_rate
  * (u32 LE), byte_rate (u32 LE), bits_per_sample (u16 LE) — only when
  * its DECLARED size is >= 16 (the PCM core): a malformed fmt declaring
  * fewer bytes would otherwise have fields read past its payload into
  * the next chunk, producing plausible garbage instead of NULL; `data`
  * yields its declared size; duration_ms = data_bytes * 1000 /
  * byte_rate (the declared size is used on purpose — a header parser
  * must price a streamed/truncated file from its header, not its tail).
  *
  * MP4: a BOX WALK from byte 0 — u32 BE size + fourcc per box; `free`/
  * `skip`/`wide` boxes commonly precede `moov`. `moov` and `trak` are
  * pure containers, so the walk DESCENDS into them (pos += 8) and keeps
  * walking — their children are boxes too. `mvhd` carries the movie
  * timescale and duration: version 0 lays them at payload bytes 12/16
  * as u32 BE; version 1 widens creation/modification to u64, moving
  * timescale/duration to 20/24 (u32/u64 BE) — both versions read.
  * The FIRST `tkhd` carries the track's presentation width/height as
  * 16.16 fixed point at payload bytes 76/80 (v0) or 88/92 (v1); the
  * integer part (the leading u16 of each field) is the resolution a
  * curation filter wants. Phone-shot video stores a ROTATION in the
  * tkhd transform matrix while width/height keep the coded (landscape)
  * dims: when the matrix's a and d terms are both zero (the 90deg /
  * 270deg shapes — b/c carry the +-1.0), the emitted width/height are
  * SWAPPED so they are the DISPLAY resolution, matching what ffprobe's
  * rotate-aware consumers filter on. An audio-only track stores 0x0 —
  * emitted as stored (0), distinct from NULL = no tkhd found. A
  * size == 1 box carries a u64 BE largesize after its fourcc and is
  * hopped like any other box when its high u32 is 0 and the size is
  * >= 16; anything larger (2^63 and up included) extends past the
  * prefix and ends the walk with the fields found so far — same for
  * size == 0 (to-EOF). This is a bounded header parser, not a demuxer:
  * a non-faststart file whose moov sits after a multi-GiB mdat
  * legitimately yields NULL metadata (raising `headerBytes` cannot
  * reach it); route such files through a demuxer, don't trust a header.
  *
  * MP3 (MPEG audio, Layer III): an optional ID3v2 tag is hopped via its
  * SYNCSAFE 28-bit size (four 7-bit bytes — a byte with the high bit
  * set is malformed; the size includes any extended header, so one hop
  * lands on the first frame; ID3v2 FOOTERS are not handled — rare, and
  * they fail safe to NULL fields via the sync check). The frame header
  * yields MPEG version (1/2/2.5), bitrate index and sample-rate index
  * — mapped through the spec's Layer III tables — and the channel
  * mode. duration_ms is the CBR estimate (audio bytes x 8 / bitrate)
  * over the WHOLE blob, not the prefix; VBR files without a Xing header
  * misestimate, as every header-only MP3 parser does. Non-Layer-III
  * frames and reserved version/index values yield NULL fields ('mp3'
  * format retained).
  *
  * FLAC: 'fLaC' then STREAMINFO, which the spec REQUIRES to be the
  * first metadata block — a fixed-offset read of its bit-packed core:
  * sample rate (20 bits), channels-1 (3), bits-per-sample-1 (5), total
  * samples (36) packed MSB-first in 8 bytes, read as two u32s.
  * duration_ms = total samples x 1000 / sample rate — exact.
  *
  * Ogg (Opus/Vorbis): 'OggS' + version 0; the first page's payload
  * starts after the VARIABLE-length segment table (27 + the
  * segment-count byte at offset 26 — a fixed payload offset is wrong
  * for any page with more than one lacing value). The payload prefix
  * selects the codec: 'OpusHead' (channel count u8 at payload byte 9,
  * the STORED input_sample_rate u32 LE at 12 — informational per
  * RFC 7845, decode is always 48 kHz; emitted as stored) or
  * '\\x01vorbis' (channels u8 at 11, rate u32 LE at 12). duration needs
  * the LAST page's granule position — end-of-file, unreachable by a
  * header parser — so it is NULL for ogg.
  *
  * WebM/Matroska (EBML, magic 1A45DFA3): element IDs and sizes are
  * VARINTS — the first byte's leading-bit class encodes each one's
  * length (IDs 1-4 bytes kept with their marker, sizes 1-8 bytes with
  * the marker stripped), so nothing sits at a fixed offset and a walk
  * is mandatory. The walk descends into the EBML head, Segment, Info,
  * Tracks, TrackEntry and Video/Audio (descending reads only id+size,
  * so a container's size — including the all-ones UNKNOWN size live
  * muxers write for Segment — is never trusted), reads DocType
  * ('webm' -> av_format 'webm', anything else/missing -> generic
  * 'mkv'), TimestampScale (default 1,000,000 ns when absent), Duration
  * (an IEEE-754 BE float, f32 or f64, decoded arithmetically — sign
  * bit, inf/nan or subnormal yields NULL), PixelWidth/PixelHeight,
  * Channels, SamplingFrequency and the first CodecID, and generically
  * hops everything else; the first Cluster ends the walk (media data —
  * past it nothing a header parser may read remains). duration_ms =
  * Duration ticks x TimestampScale / 1e6, exact for the
  * integer-valued floats real muxers write. A file whose Info/Tracks
  * follow the first Cluster (some live remuxes) legitimately yields
  * NULL for the fields not yet seen — same header-parser contract as
  * Ogg's NULL duration.
  */
object AvFast {

  // unsigned byte at offset (caller guarantees bounds)
  @inline private def u(p: Array[Byte], i: Int): Int = p(i) & 0xFF
  private def le16(p: Array[Byte], i: Int): Long =
    u(p, i) | (u(p, i + 1).toLong << 8)
  private def le32(p: Array[Byte], i: Int): Long =
    u(p, i) | (u(p, i + 1).toLong << 8) | (u(p, i + 2).toLong << 16) |
      (u(p, i + 3).toLong << 24)
  private def beN(p: Array[Byte], i: Int, n: Int): Long = {
    var v = 0L; var k = 0
    while (k < n) { v = (v << 8) | u(p, i + k); k += 1 }
    v
  }
  private def fourcc(p: Array[Byte], i: Int, s: String): Boolean = {
    var k = 0
    while (k < s.length) { if (u(p, i + k) != s.charAt(k)) return false; k += 1 }
    true
  }

  /** u64 BE at offset, or null at or above 2^63 (caller guarantees
    * bounds). */
  private def u64(p: Array[Byte], i: Int): java.lang.Long = {
    val v = beN(p, i, 8)
    if (v < 0) null else v
  }

  /** `units * 1000 / per`, or null when the product overflows a Long. */
  private def millis(units: Long, per: Long): java.lang.Long =
    try Math.multiplyExact(units, 1000L) / per
    catch { case _: ArithmeticException => null }

  /** The 8 fields of one blob, in `av_metadata`'s struct order: av_format,
    * codec, channels, sample_rate, bits_per_sample, width, height,
    * duration_ms. */
  def parse(content: Array[Byte], maxChunks: Int,
            headerBytes: Int): Seq[Any] = {
    if (content == null) return Seq(null, null, null, null, null, null, null, null)
    val p = content // read in place: every access is bounded by L
    val L = math.min(content.length, headerBytes)
    // EBML walk first when the magic matches (av_format needs DocType)
    var web: WebSt = null
    if (L >= 4 && u(p, 0) == 0x1A && u(p, 1) == 0x45 &&
        u(p, 2) == 0xDF && u(p, 3) == 0xA3)
      web = webmWalk(p, L, 3 * maxChunks)

    // sniff
    val fmt: String =
      if (L >= 12 && fourcc(p, 0, "RIFF") && fourcc(p, 8, "WAVE")) "wav"
      else if (L >= 8 && fourcc(p, 4, "ftyp")) "mp4"
      else if ((L >= 3 && fourcc(p, 0, "ID3")) ||
               (L >= 2 && u(p, 0) == 0xFF && u(p, 1) >= 224)) "mp3"
      else if (L >= 4 && fourcc(p, 0, "fLaC")) "flac"
      else if (L >= 4 && fourcc(p, 0, "OggS")) "ogg"
      else if (web != null) { if (web.dt == "7765626D") "webm" else "mkv" }
      else null

    var codec: String = null
    var channels: Any = null
    var sampleRate: Any = null
    var bits: Any = null
    var width: Any = null
    var height: Any = null
    var durMs: Any = null

    if (fmt == "wav") {
      // chunk walk from byte 12; each iter needs 8 bytes (fourcc + size)
      var b = 12L
      var ch, sr, br, bi, db: Any = null
      var done = false
      var i = 0
      while (i < maxChunks && !done) {
        if (L < b + 8) done = true
        else {
          val at = b.toInt
          val size = le32(p, at + 4)
          if (fourcc(p, at, "fmt ") && L >= b + 24 && size >= 16) {
            ch = le16(p, at + 10); sr = le32(p, at + 12)
            br = le32(p, at + 16); bi = le16(p, at + 22)
            done = db != null
          } else if (fourcc(p, at, "data")) {
            db = size
            done = ch != null
          }
          b += 8 + size + (size % 2)
        }
        i += 1
      }
      channels = ch; sampleRate = sr; bits = bi
      if (br != null && br.asInstanceOf[Long] > 0 && db != null)
        durMs = db.asInstanceOf[Long] * 1000 / br.asInstanceOf[Long]
    }

    if (fmt == "mp4") {
      var b = 0L
      var ts, dur, w, h: Any = null
      var done = false
      var i = 0
      while (i < maxChunks && !done) {
        if (b > L - 8) done = true
        else {
          val bi2 = b.toInt
          val size = beN(p, bi2, 4)
          // a full box's version byte, or -1 when the prefix ends first
          val version = if (L > b + 8) u(p, bi2 + 8) else -1
          if (fourcc(p, bi2 + 4, "mvhd")) {
            if (version == 0 && L >= b + 28) {
              ts = beN(p, bi2 + 20, 4); dur = beN(p, bi2 + 24, 4)
              done = w != null; b += size
            } else if (version == 1 && L >= b + 40) {
              ts = beN(p, bi2 + 28, 4); dur = u64(p, bi2 + 32)
              done = w != null; b += size
            } else { ts = null; dur = null; done = true }
          } else if (fourcc(p, bi2 + 4, "tkhd")) {
            if (version == 0 && L >= b + 90) {
              val rot = beN(p, bi2 + 48, 4) == 0 && beN(p, bi2 + 64, 4) == 0
              w = beN(p, bi2 + (if (rot) 88 else 84), 2)
              h = beN(p, bi2 + (if (rot) 84 else 88), 2)
              done = ts != null; b += size
            } else if (version == 1 && L >= b + 102) {
              val rot = beN(p, bi2 + 60, 4) == 0 && beN(p, bi2 + 76, 4) == 0
              w = beN(p, bi2 + (if (rot) 100 else 96), 2)
              h = beN(p, bi2 + (if (rot) 96 else 100), 2)
              done = ts != null; b += size
            } else { w = null; h = null; done = true }
          } else if (fourcc(p, bi2 + 4, "moov") || fourcc(p, bi2 + 4, "trak")) {
            b += 8
          } else if (size == 1) {
            if (L >= b + 16 && beN(p, bi2 + 8, 4) == 0 &&
                beN(p, bi2 + 12, 4) >= 16) b += beN(p, bi2 + 12, 4)
            else done = true
          } else if (size < 8) done = true
          else b += size
        }
        i += 1
      }
      width = w; height = h
      if (ts != null && ts.asInstanceOf[Long] > 0 && dur != null)
        durMs = millis(dur.asInstanceOf[Long], ts.asInstanceOf[Long])
    }

    if (fmt == "mp3") {
      // first-frame byte offset: one hop over an ID3v2 tag (syncsafe)
      val fp: Any =
        if (L >= 3 && fourcc(p, 0, "ID3")) {
          if (L >= 10 && u(p, 6) < 128 && u(p, 7) < 128 && u(p, 8) < 128 &&
              u(p, 9) < 128)
            10L + (u(p, 6).toLong * 2097152 + u(p, 7).toLong * 16384 +
              u(p, 8).toLong * 128 + u(p, 9))
          else null
        } else 0L
      if (fp != null) {
        val fpL = fp.asInstanceOf[Long]
        if (fpL <= L - 4 && fpL <= Int.MaxValue - 4) {
          val fi = fpL.toInt
          val h2 = u(p, fi + 1); val h3 = u(p, fi + 2)
          if (u(p, fi) == 0xFF && h2 >= 224 && (h2 / 2) % 4 == 1 &&
              (h2 / 8) % 4 != 1 && h3 / 16 >= 1 && h3 / 16 <= 14 &&
              (h3 / 4) % 4 != 3) {
            val kbps: Long =
              if ((h2 / 8) % 4 == 3)
                Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                  256, 320)(h3 / 16 - 1)
              else
                Array(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
                  160)(h3 / 16 - 1)
            val srT = (h2 / 8) % 4 match {
              case 3 => Array(44100L, 48000L, 32000L)
              case 2 => Array(22050L, 24000L, 16000L)
              case _ => Array(11025L, 12000L, 8000L)
            }
            sampleRate = srT((h3 / 4) % 4)
            channels = if (u(p, fi + 3) / 64 == 3) 1L else 2L
            // CBR estimate over the WHOLE blob, not the prefix
            if (kbps > 0)
              durMs = (content.length.toLong - fpL) * 8 / kbps
          }
        }
      }
    }

    if (fmt == "flac") {
      if (L >= 26 && u(p, 4) % 128 == 0) {
        val u32a = beN(p, 18, 4); val u32b = beN(p, 22, 4)
        sampleRate = u32a / 4096
        channels = (u32a / 512) % 8 + 1
        bits = (u32a / 16) % 32 + 1
        val total = (u32a % 16) * 4294967296L + u32b
        if (u32a / 4096 > 0) durMs = total * 1000 / (u32a / 4096)
      }
    }

    if (fmt == "ogg") {
      if (L >= 27 && u(p, 4) == 0) {
        val pb = 27 + u(p, 26)
        if (L >= pb + 16 && fourcc(p, pb, "OpusHead")) {
          codec = "opus"; channels = u(p, pb + 9).toLong
          sampleRate = le32(p, pb + 12)
        } else if (L >= pb + 16 && u(p, pb) == 0x01 &&
                   fourcc(p, pb + 1, "vorbis")) {
          codec = "vorbis"; channels = u(p, pb + 11).toLong
          sampleRate = le32(p, pb + 12)
        }
      }
    }

    if ((fmt == "webm" || fmt == "mkv") && web != null) {
      // CodecID: strict UTF-8 decode — invalid bytes -> NULL
      if (web.cid != null) codec = strictUtf8(web.cid)
      channels = web.ch
      if (web.sr != null) sampleRate = web.sr.asInstanceOf[Double].toLong
      width = web.w; height = web.h
      if (web.dur != null) {
        val scale = if (web.scale == null) 1000000L
          else web.scale.asInstanceOf[Long]
        durMs = math.floor(
          web.dur.asInstanceOf[Double] * scale.toDouble / 1000000.0d).toLong
      }
    }

    Seq(fmt, codec, channels, sampleRate, bits, width, height, durMs)
  }

  private final class WebSt {
    var dt: String = null        // DocType payload as UPPERCASE hex
    var scale: Any = null
    var dur: Any = null          // Double
    var w, h, ch: Any = null
    var sr: Any = null           // Double
    var cid: Array[Byte] = null  // CodecID payload bytes
  }

  private def strictUtf8(bytes: Array[Byte]): String =
    try {
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    } catch { case _: java.nio.charset.CharacterCodingException => null }

  // IEEE-754 BE decode: sign bit set,
  // inf/nan (max exponent) or subnormal (zero exponent, unless the whole
  // word is zero = exact 0.0) -> null
  private def ebmlFloat(p: Array[Byte], i: Int, n: Int): Any =
    if (n == 4) {
      if (u(p, i) >= 128) null
      else {
        val raw = beN(p, i, 4)
        if (raw == 0) 0.0d
        else if (raw / 8388608 == 0 || raw / 8388608 == 255) null
        else (1.0d + (raw % 8388608).toDouble / 8388608.0d) *
          math.pow(2.0d, (raw / 8388608).toDouble - 127.0d)
      }
    } else {
      if (u(p, i) >= 128) null
      else {
        val raw = beN(p, i, 8)
        if (raw == 0) 0.0d
        else if (raw / 4503599627370496L == 0 ||
                 raw / 4503599627370496L == 2047) null
        else (1.0d + (raw % 4503599627370496L).toDouble / 4.503599627370496e15) *
          math.pow(2.0d, (raw / 4503599627370496L).toDouble - 1023.0d)
      }
    }

  private def hexUpper(p: Array[Byte], from: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder(2 * n)
    var k = 0
    while (k < n) {
      val v = u(p, from + k)
      sb.append("0123456789ABCDEF".charAt(v >>> 4))
      sb.append("0123456789ABCDEF".charAt(v & 15))
      k += 1
    }
    sb.toString
  }

  /** The EBML element walk (see the object scaladoc): descends into the six container ids, reads the known
    * leaves, generically hops the rest; Cluster, malformed varints,
    * truncation or unknown-size end it keeping fields found so far. */
  private def webmWalk(p: Array[Byte], L: Int, budget: Int): WebSt = {
    val st = new WebSt
    var b = 0L
    var done = false
    var i = 0
    val containers = Set("1A45DFA3", "18538067", "1549A966", "1654AE6B",
      "AE", "E0", "E1")
    while (i < budget && !done) {
      if (b > L - 2) done = true
      else {
        val bi = b.toInt
        val f0 = u(p, bi)
        val idLen = if (f0 >= 128) 1 else if (f0 >= 64) 2
          else if (f0 >= 32) 3 else if (f0 >= 16) 4 else 0
        if (idLen == 0) done = true
        else {
          val idAvail = math.min(idLen.toLong, L - b).toInt
          val idh = hexUpper(p, bi, idAvail)
          val szpB = b + idLen
          val szl: Int =
            if (szpB >= L) 0
            else {
              val s0 = u(p, szpB.toInt)
              if (s0 >= 128) 1 else if (s0 >= 64) 2 else if (s0 >= 32) 3
              else if (s0 >= 16) 4 else if (s0 >= 8) 5 else if (s0 >= 4) 6
              else if (s0 >= 2) 7 else if (s0 >= 1) 8 else 0
            }
          if (szl == 0) done = true
          else {
            // the size varint is read CLAMPED to the prefix (a truncated
            // read parses the available bytes); an empty read ends the walk
            val szAvail = math.min(szl.toLong, L - szpB).toInt
            if (szAvail <= 0) done = true
            else {
              val szv = beN(p, szpB.toInt, szAvail) - (1L << (7 * szl))
              val dpB = szpB + szl
              def leafOk(lo: Long, hi: Long): Boolean =
                szv >= lo && szv <= hi && L >= dpB + szv
              // an unsigned integer leaf at or above 2^63 is malformed and
              // ends the walk, like a leaf with a bad size
              def intLeaf(set: Long => Unit): Unit =
                if (leafOk(1, 8) && beN(p, dpB.toInt, szv.toInt) >= 0) {
                  set(beN(p, dpB.toInt, szv.toInt)); b = dpB + szv
                } else done = true
              if (containers.contains(idh)) b = dpB
              else if (idh == "1F43B675") done = true // Cluster
              else if (idh == "4282") { // DocType
                if (leafOk(1, 16)) {
                  st.dt = hexUpper(p, dpB.toInt, szv.toInt); b = dpB + szv
                } else done = true
              } else if (idh == "2AD7B1") intLeaf(st.scale = _) // TimestampScale
              else if (idh == "4489") { // Duration (float)
                if ((szv == 4 || szv == 8) && L >= dpB + szv) {
                  st.dur = ebmlFloat(p, dpB.toInt, szv.toInt); b = dpB + szv
                } else done = true
              } else if (idh == "B0") intLeaf(st.w = _)
              else if (idh == "BA") intLeaf(st.h = _)
              else if (idh == "9F") intLeaf(st.ch = _)
              else if (idh == "B5") { // SamplingFrequency (float)
                if ((szv == 4 || szv == 8) && L >= dpB + szv) {
                  st.sr = ebmlFloat(p, dpB.toInt, szv.toInt); b = dpB + szv
                } else done = true
              } else if (idh == "86") { // CodecID
                if (leafOk(1, 16)) {
                  st.cid = java.util.Arrays.copyOfRange(
                    p, dpB.toInt, (dpB + szv).toInt)
                  b = dpB + szv
                } else done = true
              } else if (szv < 0 || szv == (1L << (7 * szl)) - 1) done = true
              else b = dpB + szv
            }
          }
        }
      }
      i += 1
    }
    st
  }
}
