package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{ArchiveMetadata, AvMetadata, ImageDhash, ImageDims,
  MediaParse}

/** Multimodal column plumbing: image/audio/video/archive/PDF as opaque
  * `binary` columns with typed metadata parsed straight from the
  * container bytes.
  *
  * Every blob parser has ONE implementation, a JVM decoder over the
  * blob's bytes: [[parseImageDims]], [[parseImageDhash]] (BMP/ICO
  * pixels in place, PNG through [[Png.decodeRgb]], JPEG through
  * [[Jpeg.decodeRgb]]), [[AvFast.parse]], [[Audio.parseFingerprint]],
  * [[parseArchiveMetadata]], [[Pdf.parseTriage]] and [[Pdf.extractOne]].
  * Each is exposed as a native Catalyst expression
  * ([[graft.functions.MediaParse]]; `image_dims`, `image_dhash`,
  * `av_metadata`, `audio_fingerprint`, `archive_metadata`, `pdf_triage`
  * and `pdf_text` in SQL), and the DataFrame entry points ([[imageDims]],
  * [[imageDhash]], [[avMetadata]], [[Audio.audioEnergyFingerprint]],
  * [[archiveMetadata]], [[Pdf.pdfTriage]], [[Pdf.extractPdfText]])
  * evaluate that expression once per row through [[appendParsed]] and
  * expand its fields into columns.
  *
  * SCALE DESIGN: media blobs dominate bytes, so (1) every parser reads a
  * bounded window of the blob where it already is, inside whole-stage
  * codegen, (2) blobs never shuffle, and (3) outputs carry metadata, not
  * bytes.
  */
object Multimodal {

  /** Wrap a text table as opaque binary media (test/demo source: UTF-8
    * bytes stand in for undecodable media bytes). */
  def asBinaryMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      // deterministic pseudo-kind so the pipeline exercises per-kind paths
      element_at(typedlit(Seq("image", "audio", "video")),
        (pmod(col(idCol), lit(3)) + 1).cast(IntegerType)).as("kind"),
      col(textCol).cast(BinaryType).as("content"))

  /** Expression-only metadata: computed at scan, no decode, no shuffle. */
  def withMetadata(media: DataFrame): DataFrame =
    media
      .withColumn("n_bytes", octet_length(col("content")).cast(LongType))
      .withColumn("content_md5", md5(col("content")))

  /** Append the image container's `format`, `orientation`, `width` and
    * `height` — the one piece of image metadata a 100 TB curation pass
    * needs (resolution filters, aspect-ratio buckets) that the opaque-blob
    * metadata above can't give. Formats and their header layouts are
    * documented on [[parseImageDims]]: format is 'png'/'jpeg'/'gif'/
    * 'webp'/'bmp'/'tiff'/'ico'/'avif'/'heic'/'heif' or NULL (unknown
    * containers pass through — filter, don't fail, at corpus scale);
    * width/height are NULL when unparseable; orientation is the JPEG EXIF
    * value (NULL elsewhere). Malformed or truncated headers yield NULL
    * fields, never a throw.
    *
    * `headerBytes` bounds the prefix read per blob (default 256 KiB — a
    * JPEG segment length is at most 64 KiB-1, so this survives several
    * EXIF-sized segments before SOF; PNG needs 24 bytes); a walk that
    * runs off the prefix yields NULL dims, the same fail-safe as malformed
    * input. `maxSegments` bounds the JPEG segment walk and the TIFF/EXIF
    * entry scans (the ISO-BMFF box walk gets twice that). */
  def imageDims(media: DataFrame, contentCol: String = "content",
                maxSegments: Int = 16,
                headerBytes: Int = 256 * 1024): DataFrame =
    appendParsed(media, "Multimodal.imageDims", "image_dims", contentCol,
      Seq(maxSegments, headerBytes), ImageDims.schema)

  /** Register the media parsers and append `fn(content, bounds...)`'s
    * struct fields as columns after `media`'s own. The struct is expanded
    * by `inline` over a one-element array, a Generate node: it evaluates
    * the parse once per row, and the optimizer keeps predicates on the
    * parsed columns above it (predicates on `media`'s own columns still
    * push through), so a `.where` on a parsed field never re-runs the
    * parse or the expression that produced `content`. The parser's
    * output names are reserved: a media table that already carries
    * catalog `width`/`height` (say) is refused rather than having them
    * silently replaced by parsed, possibly NULL, values. */
  private[multimodal] def appendParsed(media: DataFrame, owner: String,
                                       fn: String, contentCol: String,
                                       bounds: Seq[Int],
                                       schema: StructType): DataFrame = {
    schema.fieldNames.foreach(c =>
      require(!media.columns.contains(c),
        s"$owner: media already has a '$c' column — rename it first; " +
          s"$fn appends its own"))
    MediaParse.register(media.sparkSession)
    media.select(col("*"), inline(array(
      call_function(fn, col(contentCol) +: bounds.map(lit(_)): _*))))
  }

  /** (format, orientation, width, height) of one image blob, the
    * decoder behind [[imageDims]] and `image_dims`. It reads the first
    * `headerBytes` bytes at most and never throws: the format gates below
    * are length-guarded, and a field read that runs off the prefix CLAMPS
    * — a big-endian read keeps the bytes it has as a smaller number, a
    * little-endian read drops the missing high bytes, and a read with no
    * byte in range is NULL. Formats, in sniff order:
    *
    * PNG: IHDR is mandatory-first (RFC 2083 §3.1 layout is fixed), so
    * width/height are big-endian u32 at byte offsets 16/20, guarded by
    * the 8-byte signature.
    *
    * JPEG: dimensions live in the first SOF marker — ANY of the frame
    * types FFC0-FFCF except C4 (DHT), C8 (JPG reserved) and CC (DAC),
    * covering baseline, progressive, lossless and the arithmetic-coded
    * variants — whose position is VARIABLE: JFIF/EXIF/COM segments of
    * arbitrary length precede it, so a fixed offset is wrong for real
    * files. The segment walk (`maxSegments` hops — headers hold a handful
    * of APPn/COM/DQT/DHT segments; raise it for EXIF-heavy corpora;
    * spec-legal FF fill bytes before a marker each consume one hop too)
    * reads each marker, hops 2 + seglen bytes (the length field counts
    * itself), and stops at SOF (capturing height then width: SOF payload
    * is [len:2][precision:1][h:2][w:2]) or at EOI / a non-FF byte
    * (malformed -> NULL dims). Entropy-coded data is never scanned
    * because SOF precedes it in every legal stream. Standalone markers
    * that carry no length field (TEM, RSTn) are not expected in the
    * pre-SOF header region and read as malformed.
    *
    * EXIF orientation (JPEG): the segment walk records the first
    * APP1/Exif segment's embedded TIFF header on its way to the SOF, and
    * an endian-paired IFD scan reads tag 274 (type 3 SHORT, value 1..8;
    * anything else NULLs). Orientations 5..8 mean the pixels are stored
    * TRANSPOSED — phone portrait shots store landscape coded dims plus
    * orientation 6/8 — so the emitted width/height are SWAPPED to the
    * DISPLAY resolution there (the same display-dims convention as
    * [[avMetadata]]'s rotated tkhd). JPEGs without EXIF (or with a
    * non-Exif APP1, e.g. XMP) have orientation NULL and keep the SOF dims.
    *
    * GIF: both signatures (GIF87a/GIF89a); logical-screen width/height
    * are LITTLE-endian u16 at bytes 6/8 — the byte-swap is load-bearing
    * (a BE read of a 1024x17 GIF yields 4+4352).
    *
    * WebP: RIFF('RIFF' + size + 'WEBP') then the first chunk's fourcc:
    * 'VP8 ' (lossy — dims as 14-bit LE u16 pair after the 9D012A start
    * code, which is verified: no start code, no dims), 'VP8L' (lossless —
    * 0x2F signature byte then 14+14 bits packed LSB-first in a LE u32,
    * both stored minus-one), 'VP8X' (extended — canvas w-1/h-1 as LE u24
    * pairs). All three live at fixed offsets once the fourcc is known.
    *
    * BMP: 'BM', then the DIB header whose first u32 LE (byte 14) is its
    * own size and selects the layout: 12 (BITMAPCOREHEADER) stores
    * width/height as u16 LE at bytes 18/20; 40+ (BITMAPINFOHEADER and
    * the V4/V5 extensions, which share the leading fields) as i32 LE at
    * bytes 18/22. An INFO-header height may be NEGATIVE (two's
    * complement = a top-down DIB); the emitted height is the MAGNITUDE —
    * a resolution filter wants pixels, not scanline order. The 2-byte
    * 'BM' sniff is weak on arbitrary binary; on an image corpus it is
    * the format's only signature.
    *
    * TIFF: 'II*\\0' (little-endian) or 'MM\\0*' (big-endian) — EVERY
    * multi-byte field including the IFD offset, entry count, tags and
    * values follows the header's byte order. The u32 header offset points
    * at the first IFD (commonly NOT at byte 8 — real writers put it after
    * the image data); its u16 entry count prefixes count x 12-byte
    * entries (tag u16, type u16, count u32, value field 4 bytes) sorted
    * by tag. Tags 256/257 carry ImageWidth/ImageLength as type 3 SHORT or
    * type 4 LONG; a SHORT value sits in the FIRST two bytes of the value
    * field in FILE byte order — reading the value field as a u32 in a
    * big-endian file yields width x 65536, the classic TIFF trap. Other
    * value types for these tags (spec-illegal) yield NULL for that
    * dimension. The entry scan is bounded by `maxSegments`; an IFD offset
    * or entry beyond the prefix leaves the dims NULL.
    *
    * ICO: reserved u16 0, type u16 1 (LE), entry count >= 1 (the count
    * gate rejects all-zero prefixes the 4-byte signature alone would
    * accept); the FIRST directory entry's width/height bytes are at 6/7,
    * where 0 means 256 (the classic byte-sized-dimension trap). Multi-
    * image files report the first entry, not the largest.
    *
    * AVIF/HEIC/HEIF (ISO-BMFF images, sniffed by the ftyp major brand —
    * avif/avis -> 'avif', heic/heix -> 'heic', the brand-agnostic
    * mif1/msf1 -> 'heif'; video brands like isom/mp42 are NOT claimed,
    * they are [[avMetadata]]'s 'mp4'): the pixel dimensions live in an
    * `ispe` (ImageSpatialExtents) full-box nested meta > iprp > ipco,
    * never at a fixed offset. The box walk DESCENDS into those three
    * containers (meta is a full-box: 4 version/flags bytes past its
    * header) and hops everything else by its u32 size (u64 largesize
    * when size == 1, followed only when its high u32 is 0, so a size at
    * or above 2^32 — 2^63 included — ends the walk); the first ispe's u32
    * BE width/height win. The dims are the CODED extents of the first
    * ispe property — a HEIF `irot` transform or a grid-derivation's
    * reassembled canvas is not applied. Walk budget is 2 x `maxSegments`:
    * real muxers put hdlr/pitm/iloc/iinf/iref before iprp and colr/hvcC
    * before ispe, and each descent spends an iteration. */
  def parseImageDims(content: Array[Byte], maxSegments: Int,
                     headerBytes: Int): Seq[Any] = {
    if (content == null) return Seq(null, null, null, null)
    val p = content // read in place: every access is bounded by L
    val L = math.min(content.length, headerBytes)
    @inline def u(i: Int): Int = p(i) & 0xFF
    def cc(i: Int, s: String): Boolean = i + s.length <= L &&
      (0 until s.length).forall(k => u(i + k) == s.charAt(k))
    // CLAMPED reads (see the scaladoc); an entirely-absent read is null
    def beC(at: Long, n: Int): java.lang.Long = {
      if (at >= L || at < 0) return null
      var v = 0L; var i = at.toInt; val end = math.min(at + n, L).toInt
      while (i < end) { v = (v << 8) | u(i); i += 1 }
      v
    }
    def leC(at: Long, n: Int): java.lang.Long = {
      var v = 0L; var any = false; var i = n - 1
      while (i >= 0) {
        val b = at + i
        if (b >= 0 && b < L) { v = (v << 8) | u(b.toInt); any = true }
        i -= 1
      }
      if (any) v else null
    }
    // ---- sniff
    def hasSig(s: Array[Int]): Boolean = L >= s.length &&
      s.indices.forall(k => u(k) == s(k))
    val isFtyp = cc(4, "ftyp")
    val fmt: String =
      if (hasSig(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))) "png"
      else if (L >= 2 && u(0) == 0xFF && u(1) == 0xD8) "jpeg"
      else if (cc(0, "GIF87a") || cc(0, "GIF89a")) "gif"
      else if (cc(0, "RIFF") && cc(8, "WEBP")) "webp"
      else if (cc(0, "BM")) "bmp"
      else if (hasSig(Array(0x49, 0x49, 0x2A, 0x00)) ||
               hasSig(Array(0x4D, 0x4D, 0x00, 0x2A))) "tiff"
      else if (hasSig(Array(0x00, 0x00, 0x01, 0x00)) && L >= 6 &&
               { val c = leC(4, 2); c != null && c >= 1 } && !isFtyp) "ico"
      else if (isFtyp) {
        if (cc(8, "avif") || cc(8, "avis")) "avif"
        else if (cc(8, "heic") || cc(8, "heix")) "heic"
        else if (cc(8, "mif1") || cc(8, "msf1")) "heif"
        else null
      } else null
    var width: Any = null
    var height: Any = null
    var orientation: Any = null

    if (fmt == "png") {
      width = beC(16, 4); height = beC(20, 4)
    }

    if (fmt == "jpeg") {
      // segment walk: SOF dims + the APP1/Exif TIFF-header position
      val sof = Set(0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
      var b = 2L
      var posNull = false
      var done = false
      var h, w: Any = null
      var ex: java.lang.Long = null // byte pos of the embedded TIFF header
      var i = 0
      while (i < maxSegments && !done && !posNull) {
        if (b >= L) done = true
        else {
          val m0 = u(b.toInt)
          val m1 = if (b + 1 < L) u((b + 1).toInt) else -1
          if (m0 == 0xFF && sof.contains(m1)) {
            h = beC(b + 5, 2); w = beC(b + 7, 2); done = true
          } else if (m0 == 0xFF && m1 == 0xFF) b += 1
          else if (m0 != 0xFF || m1 == 0xD9) done = true
          else if (m1 == 0xE1 && cc((b + 4).toInt, "Exif") &&
                   b + 9 < L && u((b + 8).toInt) == 0 &&
                   u((b + 9).toInt) == 0 && ex == null) {
            ex = b + 10
            val seg = beC(b + 2, 2) // fully inside: the Exif probe covers it
            b = b + 2 + seg
          } else {
            val seg = beC(b + 2, 2)
            if (seg == null) posNull = true else b = b + 2 + seg
          }
        }
        i += 1
      }
      // EXIF orientation: bounded IFD scan at the recorded TIFF base
      if (ex != null && ex < L) {
        val exB = ex.toInt
        val le = cc(exB, "II") && exB + 3 < L && u(exB + 2) == 0x2A &&
          u(exB + 3) == 0x00
        val be = cc(exB, "MM") && exB + 3 < L && u(exB + 2) == 0x00 &&
          u(exB + 3) == 0x2A
        def eu16(at: Long): java.lang.Long = if (le) leC(at, 2) else beC(at, 2)
        def eu32(at: Long): java.lang.Long = if (le) leC(at, 4) else beC(at, 4)
        if (le || be) {
          val o = eu32(exB + 4)
          // the gate asks for one byte PAST the u16 entry count
          if (o != null && L >= exB + o + 3) {
            val n = eu16(exB + o)
            if (n != null) {
              var i2 = 1
              var r: Any = null
              while (r == null && i2 <= maxSegments && i2 <= n &&
                     L >= exB + o + 12 * (i2 - 1) + 14) {
                val ebB = exB + o + 12 * (i2 - 1) + 2
                val tag = eu16(ebB); val typ = eu16(ebB + 2)
                val v = eu16(ebB + 8)
                if (tag != null && tag == 274L && typ != null && typ == 3L &&
                    v != null && v >= 1 && v <= 8) r = v
                i2 += 1
              }
              orientation = r
            }
          }
        }
      }
      val swap = orientation != null && orientation.asInstanceOf[Long] >= 5
      width = if (swap) h else w
      height = if (swap) w else h
    }

    if (fmt == "gif" && L >= 10) {
      width = leC(6, 2); height = leC(8, 2)
    }

    if (fmt == "webp") {
      if (cc(12, "VP8 ")) {
        if (L >= 30 && u(23) == 0x9D && u(24) == 0x01 && u(25) == 0x2A) {
          width = leC(26, 2).longValue % 16384
          height = leC(28, 2).longValue % 16384
        }
      } else if (cc(12, "VP8L")) {
        if (L >= 25 && u(20) == 0x2F) {
          val b32 = leC(21, 4).longValue
          width = b32 % 16384 + 1
          height = (b32 >> 14) % 16384 + 1
        }
      } else if (cc(12, "VP8X")) {
        if (L >= 30) {
          width = leC(24, 3).longValue + 1
          height = leC(27, 3).longValue + 1
        }
      }
    }

    if (fmt == "bmp" && L >= 18) {
      val dib = leC(14, 4).longValue
      if (dib == 12 && L >= 22) { width = leC(18, 2); height = leC(20, 2) }
      else if (dib >= 40 && L >= 26) {
        val wv = leC(18, 4).longValue
        if (wv < 2147483648L) width = wv
        val hv = leC(22, 4).longValue
        height = if (hv >= 2147483648L) 4294967296L - hv else hv
      }
    }

    if (fmt == "tiff") {
      val le = u(0) == 0x49
      def tu16(at: Long): java.lang.Long = if (le) leC(at, 2) else beC(at, 2)
      def tu32(at: Long): java.lang.Long = if (le) leC(at, 4) else beC(at, 4)
      val off = tu32(4)
      if (off != null && L >= off + 2) {
        val n = tu16(off)
        var w, h: Any = null
        var i = 0
        while (i < maxSegments &&
               !(w != null && h != null) &&
               n != null && i < n && L >= off + 12 * i + 14) {
          val ebB = off + 12 * i + 2
          val tag = tu16(ebB); val typ = tu16(ebB + 2)
          def value: Any =
            if (typ != null && typ == 3L) tu16(ebB + 8)
            else if (typ != null && typ == 4L) tu32(ebB + 8)
            else null
          if (tag != null && tag == 256L) w = value
          else if (tag != null && tag == 257L) h = value
          i += 1
        }
        width = w; height = h
      }
    }

    if (fmt == "ico" && L >= 8) {
      val wv = u(6).toLong; val hv = u(7).toLong
      width = if (wv == 0) 256L else wv
      height = if (hv == 0) 256L else hv
    }

    if (fmt == "avif" || fmt == "heic" || fmt == "heif") {
      // ISO-BMFF box walk to the first ispe (descends meta/iprp/ipco)
      var b = 0L
      var done = false
      var w, h: Any = null
      var i = 0
      while (i < 2 * maxSegments && !done) {
        if (b > L - 8) done = true
        else {
          val bi = b.toInt
          val size = beC(b, 4).longValue
          if (cc(bi + 4, "meta")) b += 12
          else if (cc(bi + 4, "iprp") || cc(bi + 4, "ipco")) b += 8
          else if (cc(bi + 4, "ispe") && size >= 20) {
            if (L >= b + 20) { w = beC(b + 12, 4); h = beC(b + 16, 4) }
            done = true
          } else if (size == 1) {
            if (L >= b + 16 && beC(b + 8, 4) == 0L &&
                beC(b + 12, 4) >= 16L) b += beC(b + 12, 4)
            else done = true
          } else if (size < 8) done = true
          else b += size
        }
        i += 1
      }
      width = w; height = h
    }

    Seq(fmt, orientation, width, height)
  }

  /** Deterministic VALID image-container exhibit bytes from an id column —
    * the test/demo source for [[imageDims]] (this container ships no image
    * files, and checked-in binaries couldn't scale with sf). Even ids
    * become PNGs (signature + correct IHDR), odd ids become JPEGs with a
    * JFIF APP0 segment AND a variable-length COM segment (id-derived, 3-34
    * bytes) BEFORE the SOF0 — so a fixed-offset "parser" reads garbage and
    * only a real segment walk finds the dimensions. Dimensions are
    * id-derived (w = 16 + pmod(id, 1024), h = 16 + pmod(7 id, 768) — pmod,
    * not %, so a negative id cannot produce a negative residue whose
    * hex() is 16 chars wide and gets TRUNCATED by the lpad, nor a
    * Spark-vs-DuckDB '%' sign divergence), payloads are md5-derived
    * filler. Pure hex-string concatenation + unhex, replayable verbatim
    * in the oracle (which uses the ((x % m) + m) % m idiom for the same
    * pmod). */
  def synthImageBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val w4 = lpad(hex(lit(16) + pmod(id, lit(1024))), 8, "0") // PNG u32 width
    val h4 = lpad(hex(lit(16) + pmod(id * 7, lit(768))), 8, "0")
    val w2 = lpad(hex(lit(16) + pmod(id, lit(1024))), 4, "0") // JPEG u16 width
    val h2 = lpad(hex(lit(16) + pmod(id * 7, lit(768))), 4, "0")
    // 64 hex chars of filler: the COM payload runs to 32 BYTES, so a
    // single 32-char md5 would under-fill the declared segment length and
    // desync the walk
    val fill = repeat(upper(md5(id.cast(StringType))), 2)
    // COM payload: 1-32 filler bytes -> segment length 3-34 incl the field
    val comBytes = (pmod(id, lit(32)) + 1).cast(IntegerType)
    val comLen = lpad(hex(comBytes + 2), 4, "0")
    val png = concat(
      lit("89504E470D0A1A0A"), // signature
      lit("0000000D49484452"), // IHDR length 13 + type
      w4, h4,
      lit("0806000000"), // bit depth 8, RGBA, default methods
      substring(fill, 1, 8)) // stand-in CRC: parser never checks it
    val jpeg = concat(
      lit("FFD8"), // SOI
      lit("FFE000104A46494600010100000100010000"), // APP0/JFIF, len 16
      lit("FFFE"), comLen, fill.substr(lit(1), comBytes * 2), // COM
      lit("FFC00011"), // SOF0, len 17
      lit("08"), h2, w2, // precision 8, height, width (h first!)
      lit("03012200021101031101"), // 3 components
      lit("FFD9")) // EOI
    docs.select(
      id.as("media_id"),
      unhex(when(pmod(id, lit(2)) === 0, png).otherwise(jpeg)).as("content"))
  }

  /** Deterministic VALID GIF/WebP container exhibit bytes — the test/demo
    * source for [[imageDims]]'s web-format branches (pmod(id, 5) picks
    * GIF87a / VP8 / GIF89a / VP8L / VP8X). Same id-derived dimensions as
    * [[synthImageBytes]] (w = 16 + pmod(id, 1024), h = 16 + pmod(7 id,
    * 768)); every multi-byte field is LITTLE-endian per the specs (the
    * trap this family exists to pin: GIF u16, VP8 u16, VP8L packed u32,
    * VP8X u24 — a generator+parser pair that both read big-endian would
    * round-trip while being wrong on every real file, which is why the
    * unit spec checks hand-assembled golden headers too). Pure hex
    * concat + unhex, replayable verbatim in the q127 oracle. */
  /** Little-endian hex encoders for the synth generators: value -> the
    * byte-swapped hex string a LE container field stores. */
  private def leHex(v: Column, nBytes: Int): Column = {
    val be = lpad(hex(v), 2 * nBytes, "0")
    concat((nBytes - 1 to 0 by -1).map(i => substring(be, 2 * i + 1, 2)): _*)
  }
  private def le2(v: Column): Column = leHex(v, 2) // u16 LE hex
  private def le3(v: Column): Column = leHex(v, 3) // u24 LE hex
  private def le4(v: Column): Column = leHex(v, 4) // u32 LE hex

  def synthWebImageBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val w = lit(16) + pmod(id, lit(1024))
    val h = lit(16) + pmod(id * 7, lit(768))
    val fill = upper(md5(id.cast(StringType))) // 16 bytes of payload filler
    def gif(sig: String) = concat(
      lit(sig), le2(w), le2(h),
      lit("910000"), // packed fields, bg index, aspect
      substring(fill, 1, 16), lit("3B")) // filler + trailer
    val riff = lit("52494646")
    val webpTag = lit("57454250")
    // VP8 chunk payload: frame tag (3) + start code (3) + dims (4) +
    // filler (8) = 18 bytes; RIFF size = 4 ('WEBP') + 8 (chunk hdr) + 18
    val vp8 = concat(riff, lit("1E000000"), webpTag,
      lit("56503820"), lit("12000000"),
      lit("D00100"), lit("9D012A"), le2(w), le2(h), substring(fill, 1, 16))
    // VP8L payload: 0x2F sig (1) + packed u32 (4) + filler (8) = 13
    val vp8l = concat(riff, lit("19000000"), webpTag,
      lit("5650384C"), lit("0D000000"),
      lit("2F"), le4((w - 1) + (h - 1) * 16384), substring(fill, 1, 16))
    // VP8X payload: flags (1) + reserved (3) + w-1 u24 + h-1 u24 = 10
    val vp8x = concat(riff, lit("16000000"), webpTag,
      lit("56503858"), lit("0A000000"),
      lit("00"), lit("000000"), le3(w - 1), le3(h - 1))
    docs.select(
      id.as("media_id"),
      unhex(when(pmod(id, lit(5)) === 0, gif("474946383761"))
        .when(pmod(id, lit(5)) === 1, vp8)
        .when(pmod(id, lit(5)) === 2, gif("474946383961"))
        .when(pmod(id, lit(5)) === 3, vp8l)
        .otherwise(vp8x)).as("content"))
  }

  /** Deterministic VALID BMP/ICO exhibit bytes — the test/demo source for
    * [[imageDims]]'s desktop/web-crawl-format branches. Even ids are BMPs
    * cycling pmod(hid, 3): 0 = INFO header with a NEGATIVE (top-down,
    * two's-complement) stored height — the sign trap; 1 = positive INFO
    * header; 2 = the legacy 12-byte CORE header whose dims are u16, not
    * i32 (an INFO-offset read lands in the wrong field). Odd ids are
    * single-entry ICOs whose byte-sized dims encode 256 as 0 — ids whose
    * derived dim hits 256 exercise that wrap in the bulk oracle, not just
    * a golden. Parameters derive from floor(id/2) (same parity-coverage
    * reasoning as [[synthAudioBytes]]); the q130 oracle recomputes every
    * field as ground-truth id arithmetic. */
  def synthBmpIcoBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val hid = floor(id / lit(2)).cast(LongType)
    val fill = upper(md5(id.cast(StringType)))
    val w = lit(16) + pmod(hid, lit(1024))
    val h = lit(16) + pmod(hid * 7, lit(768))
    val variant = pmod(hid, lit(3))
    val hStored = when(variant === 0, lit(4294967296L) - h).otherwise(h)
    val bmpInfo = concat(
      lit("424D"), le4(lit(62)), lit("00000000"), le4(lit(54)),
      le4(lit(40)), le4(w), le4(hStored),
      lit("0100"), lit("1800"), le4(lit(0)), // planes 1, 24 bpp, BI_RGB
      le4(lit(8)), le4(lit(2835)), le4(lit(2835)), le4(lit(0)), le4(lit(0)),
      substring(fill, 1, 16)) // 8 payload bytes -> 62 total
    val bmpCore = concat(
      lit("424D"), le4(lit(34)), lit("00000000"), le4(lit(26)),
      le4(lit(12)), le2(w), le2(h),
      lit("0100"), lit("1800"),
      substring(fill, 1, 16)) // 8 payload bytes -> 34 total
    // multipliers 51/29 put the 256->0 wrap within reach of a small
    // corpus (iw = 256 at hid = 5, i.e. doc_id 11; a plain pmod(hid, 256)
    // would need doc_id 511 and no sub-sf0.1 oracle run would ever
    // exercise the wrap)
    val iw = lit(1) + pmod(hid * 51, lit(256)) // 1..256
    val ih = lit(1) + pmod(hid * 29, lit(256))
    def icoByte(v: Column) = leHex(when(v === 256, lit(0)).otherwise(v), 1)
    val ico = concat(
      lit("0000"), lit("0100"), le2(lit(1)),   // reserved, type icon, count
      icoByte(iw), icoByte(ih),
      lit("00"), lit("00"), lit("0100"), lit("2000"), // colors/planes/bpp
      le4(lit(16)), le4(lit(22)),              // data size, data offset
      fill) // 16 payload bytes -> 38 total
    docs.select(
      id.as("media_id"),
      unhex(when(pmod(id, lit(2)) === 0,
          when(variant === 2, bmpCore).otherwise(bmpInfo))
        .otherwise(ico)).as("content"))
  }

  /** Append `dhash: bigint` — a 64-bit PERCEPTUAL difference hash of
    * the image's pixels, the content-level cousin of the exact byte
    * dedup q30 runs: two images whose pixels differ slightly
    * (recompression, a one-pixel watermark, metadata-stripped copies, a
    * re-encode into another container) hash to small Hamming distance,
    * so near-duplicate IMAGES reduce to the
    * [[graft.dedup.Dedup.simhashBandedDups]] banding plumbing the text
    * side already runs (q166/q167, and q174/q185 over mixed BMP, PNG and
    * JPEG corpora). Decodable containers and the hash definition are
    * documented on [[parseImageDhash]]; everything else hashes NULL,
    * never a throw. `maxBytes` bounds the bytes read per blob (see
    * [[parseImageDhash]] for what it means per container). */
  def imageDhash(media: DataFrame, contentCol: String = "content",
                 maxBytes: Int = 1 << 20): DataFrame =
    appendParsed(media, "Multimodal.imageDhash", "image_dhash", contentCol,
      Seq(maxBytes), ImageDhash.schema)

  /** Pixel bound of the PNG and JPEG decodes: an image whose w·h exceeds
    * it hashes NULL before any pixel buffer is allocated. */
  private val MaxDecodedPixels = 1 << 22

  /** One blob's 64-bit dHash, or null — the decoder behind [[imageDhash]]
    * and `image_dhash`. It dispatches on the magic bytes:
    *
    * PNG (the 8-byte signature) and JPEG (`FF D8`) decode to RGB through
    * [[Png.decodeRgb]] and [[Jpeg.decodeRgb]]; their supported subsets
    * are documented there. For these two `maxBytes` bounds the WHOLE
    * blob: a longer one is NULL, since a compressed image cannot be
    * decoded from a prefix. A decode is also bounded by 2^22 pixels.
    *
    * BMP (BITMAPINFOHEADER-family, 24/32 bpp, BI_RGB, bottom-up or
    * top-down) and single-image ICO whose embedded DIB is the same shape
    * (height stored DOUBLED for the AND mask, rows bottom-up) are read in
    * place, so `maxBytes` bounds the PREFIX read: an image whose pixel
    * array ends past it reads as truncated → NULL. Directory reads at
    * data-dependent ICO offsets CLAMP to the prefix (missing bytes
    * contribute nothing; a read with no byte in range is null).
    *
    * The hash is standard dHash: nearest-neighbor-sample a 9x8
    * luminance grid (srcX = floor(gx·w/9), srcY = floor(gy·h/8) — the
    * identity when the image IS 9x8, which is what the oracle exhibits
    * use), then bit gy·8+gx = 1 iff grid(gx+1, gy) brighter than
    * grid(gx, gy). "Luminance" is the unweighted sum of the first three
    * channels — dHash only COMPARES adjacent values, so any monotone
    * transform and any channel order (BGR in BMP, RGB in PNG/JPEG) give
    * the same bits, and integer sums replay exactly in SQL. So the same
    * pixels hash identically in every container. Malformed, undecodable
    * or truncated bytes → null. */
  def parseImageDhash(content: Array[Byte], maxBytes: Int): java.lang.Long = {
    if (content == null) return null
    val magic =
      if (content.length < 2) -1
      else ((content(0) & 0xFF) << 8) | (content(1) & 0xFF)
    if (magic == 0x8950 || magic == 0xFFD8) {
      val rgb =
        if (magic == 0x8950) Png.decodeRgb(content, maxBytes, MaxDecodedPixels)
        else Jpeg.decodeRgb(content, maxBytes, MaxDecodedPixels)
      return rgb.map { case (w, h, ch, px) => Png.dhashFromRgb(w, h, ch, px) }
        .orNull
    }
    val p = content // read in place: every access is bounded by L
    val L = math.min(content.length, maxBytes)
    @inline def u(i: Int): Int = p(i) & 0xFF
    // fixed-offset LE reads (all gated offsets are inside the length
    // checks below)
    def le(at: Int, n: Int): Long = {
      var v = 0L; var i = n - 1
      while (i >= 0) { v = (v << 8) | u(at + i); i -= 1 }
      v
    }
    // data-dependent reads CLAMP to the prefix (see the scaladoc)
    def leClamped(at: Long, n: Int): java.lang.Long = {
      var v = 0L; var any = false; var i = n - 1
      while (i >= 0) {
        val b = at + i
        if (b >= 0 && b < L) { v = (v << 8) | u(b.toInt); any = true }
        i -= 1
      }
      if (any) v else null
    }
    // (pixoff, w, h, topdown, bpc) per container, or null
    var pixoff, w, h, bpc = 0L
    var topdown = false
    var some = false
    if (L >= 54 && u(0) == 'B' && u(1) == 'M' &&
        le(14, 4) >= 40 && (le(28, 2) == 24 || le(28, 2) == 32) &&
        le(30, 4) == 0 && le(18, 4) >= 1 && le(18, 4) <= 2147483647L && {
          val hRaw = le(22, 4)
          (if (hRaw >= 2147483648L) 4294967296L - hRaw else hRaw) >= 1
        }) {
      val hRaw = le(22, 4)
      pixoff = le(10, 4); w = le(18, 4)
      topdown = hRaw >= 2147483648L
      h = if (topdown) 4294967296L - hRaw else hRaw
      bpc = le(28, 2) / 8
      some = true
    } else if (L >= 22 && u(0) == 0 && u(1) == 0 && u(2) == 1 && u(3) == 0 &&
               le(4, 2) >= 1) {
      val off = le(18, 4)
      val dib = leClamped(off, 4)
      val ibpp = leClamped(off + 14, 2)
      val comp = leClamped(off + 16, 4)
      val iw = leClamped(off + 4, 4)
      val ihd = leClamped(off + 8, 4)
      if (dib != null && dib == 40L && ibpp != null &&
          (ibpp == 24L || ibpp == 32L) && comp != null && comp == 0L &&
          iw != null && iw >= 1L && iw <= 2147483647L &&
          ihd != null && ihd >= 2L) {
        pixoff = off + 40; w = iw
        h = ihd / 2; topdown = false; bpc = ibpp / 8
        some = true
      }
    }
    if (!some) return null
    val stride = (w * bpc * 8 + 31) / 32 * 4
    // overflow-safe covered gate (an adversarial 2^31 x 2^31 header
    // must NULL here, never wrap into a passing bound)
    if (h != 0 && stride > (Long.MaxValue - pixoff) / h) return null
    if (L < pixoff + stride * h) return null // covered gate
    val g = new Array[Long](72)
    var i = 0
    while (i < 72) {
      val gy = i / 9; val gx = i % 9
      val srcX = gx * w / 9
      val srcY = gy * h / 8
      val row = if (topdown) srcY else h - 1 - srcY
      val base = (pixoff + row * stride + srcX * bpc).toInt
      g(i) = u(base).toLong + u(base + 1) + u(base + 2)
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      val left = (b / 8) * 9 + b % 8
      if (g(left + 1) > g(left)) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Deterministic PIXEL-BEARING image exhibit bytes for [[imageDhash]]
    * — 9x8 images (the dHash grid exactly, so sampling is identity and
    * the q166 oracle recomputes every bit as id arithmetic) whose
    * luminance is g(id, x, y) = pmod((id·31 + x·17 + y·53) ·
    * (id + x + y + 7), 256), equal across channels (ids congruent mod
    * 256 still render identical pixels — g depends on id mod 256). Storage cycles pmod(id, 3) over the THREE layouts
    * the parser must normalize to the same hash: 0 = 24 bpp bottom-up
    * BMP (padded 28-byte rows), 1 = 32 bpp TOP-DOWN BMP (negative
    * stored height), 2 = single-image ICO (DIB height doubled, rows
    * bottom-up, zeroed AND mask). pmod(id, 10) = 1 plants a NEAR-DUP of
    * id−1: identical pixels except luminance(0,0) bumped +1 — Hamming
    * distance <= 1 from id−1's hash, the pair q166's banding must find;
    * everything else is a true negative (~32-bit expected distance).
    * pmod(id, 11) = 6 is non-image garbage → NULL dhash. */
  def synthDhashImageBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val eid = when(pmod(id, lit(10)) === 1, id - 1).otherwise(id)
    // per-pixel hex via HOF lambdas (one body, not 72 unrolled copies —
    // the same plan-size discipline as imageDhash's grid read)
    def pxHex(x: Column, y: Column, bpc: Int): Column = {
      val bump = when(pmod(id, lit(10)) === 1 && x === 0 && y === 0,
        lit(1L)).otherwise(lit(0L))
      // the multiplicative (eid + x + y + 7) mix DECORRELATES ids: a
      // purely linear g would shift every pixel of two ids by the same
      // constant, leaving their adjacent-pixel comparisons — hence
      // their dHashes — nearly equal (measured Hamming ~6 between
      // unrelated ids), a broken true-negative exhibit
      val b = lpad(hex(pmod(
        (eid * 31 + x * 17 + y * 53) * (eid + x + y + 7) + bump,
        lit(256))), 2, "0")
      if (bpc == 3) concat(b, b, b) else concat(b, b, b, lit("FF"))
    }
    def rows(topdown: Boolean, bpc: Int, pad: String): Column = {
      val ys =
        if (topdown) sequence(lit(0), lit(7))
        else sequence(lit(7), lit(0), lit(-1))
      array_join(transform(ys, y => concat(
        array_join(transform(sequence(lit(0), lit(8)),
          x => pxHex(x, y, bpc)), ""),
        lit(pad))), "")
    }
    // 24 bpp bottom-up: 27 pixel bytes + 1 pad = 28/row, 224 total
    val bmp24 = concat(lit("424D" + leHexLit(278, 4) + "00000000" +
      leHexLit(54, 4) + leHexLit(40, 4) + leHexLit(9, 4) +
      leHexLit(8, 4) + "0100" + "1800" + leHexLit(0, 4) +
      leHexLit(224, 4) + leHexLit(2835, 4) + leHexLit(2835, 4) +
      leHexLit(0, 4) + leHexLit(0, 4)),
      rows(topdown = false, bpc = 3, pad = "00"))
    // 32 bpp TOP-DOWN: stored height = -8 two's-complement, 36/row
    val bmp32 = concat(lit("424D" + leHexLit(342, 4) + "00000000" +
      leHexLit(54, 4) + leHexLit(40, 4) + leHexLit(9, 4) +
      "F8FFFFFF" + "0100" + "2000" + leHexLit(0, 4) +
      leHexLit(288, 4) + leHexLit(2835, 4) + leHexLit(2835, 4) +
      leHexLit(0, 4) + leHexLit(0, 4)),
      rows(topdown = true, bpc = 4, pad = ""))
    // single-image ICO: 22-byte header+entry, DIB h DOUBLED (16),
    // bottom-up 32 bpp XOR rows, then the 1-bpp AND mask (8 x 4 zeros)
    val ico = concat(lit("00000100" + leHexLit(1, 2) +
      "09" + "08" + "00" + "00" + "0100" + "2000" +
      leHexLit(360, 4) + leHexLit(22, 4) +
      leHexLit(40, 4) + leHexLit(9, 4) + leHexLit(16, 4) +
      "0100" + "2000" + leHexLit(0, 4) + leHexLit(288, 4) +
      leHexLit(0, 4) + leHexLit(0, 4) + leHexLit(0, 4) + leHexLit(0, 4)),
      rows(topdown = false, bpc = 4, pad = ""), lit("00" * 32))
    docs.select(
      id.as("media_id"),
      unhex(when(pmod(id, lit(11)) === 6, lit("DEADBEEF00FF"))
        .when(pmod(id, lit(3)) === 0, bmp24)
        .when(pmod(id, lit(3)) === 1, bmp32)
        .otherwise(ico)).as("content"))
  }

  /** Deterministic VALID TIFF exhibit bytes — the test/demo source for
    * [[imageDims]]'s TIFF branch. Even ids are little-endian ('II'), odd
    * big-endian ('MM') — every multi-byte field byte-swaps with the
    * header, which is the format's whole trap surface. The IFD sits
    * after an id-derived 0..15-byte filler gap (real writers put the IFD
    * after the image data, so a parser assuming offset 8 reads garbage),
    * optionally behind a leading tag-254 entry (tags stay ascending),
    * and the width/height entries cycle SHORT/LONG value types — a
    * SHORT's value occupies the FIRST two bytes of the 4-byte value
    * field in FILE order, so a reader that grabs the whole u32 gets
    * width x 65536 on big-endian files. The q132 oracle recomputes all
    * fields as ground-truth id arithmetic. */
  def synthTiffBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val hid = floor(id / lit(2)).cast(LongType)
    val fill = upper(md5(id.cast(StringType)))
    val w = lit(16) + pmod(hid, lit(1024))
    val h = lit(16) + pmod(hid * 7, lit(768))
    val pad = pmod(hid, lit(16))
    val extra = pmod(hid, lit(2))   // leading tag-254 entry when 1
    val mix = pmod(hid, lit(3))     // 0: w,h SHORT; 1: w SHORT h LONG;
                                    // 2: w,h LONG
    def tiff(le: Boolean): Column = {
      def u16h(v: Column) = if (le) leHex(v, 2) else lpad(hex(v), 4, "0")
      def u32h(v: Column) = if (le) leHex(v, 4) else lpad(hex(v), 8, "0")
      def entry(tag: Int, typ: Int, v: Column): Column = concat(
        u16h(lit(tag)), u16h(lit(typ)), u32h(lit(1)),
        if (typ == 3) concat(u16h(v), lit("0000")) else u32h(v))
      val eW = when(mix < 2, entry(256, 3, w)).otherwise(entry(256, 4, w))
      val eH = when(mix === 0, entry(257, 3, h)).otherwise(entry(257, 4, h))
      concat(
        lit(if (le) "49492A00" else "4D4D002A"),
        u32h(lit(8) + pad),
        fill.substr(lit(1), (pad * 2).cast(IntegerType)),
        u16h(lit(2) + extra),
        when(extra === 1, entry(254, 4, lit(0))).otherwise(lit("")),
        eW, eH,
        u32h(lit(0))) // no next IFD
    }
    docs.select(
      id.as("media_id"),
      unhex(when(pmod(id, lit(2)) === 0, tiff(le = true))
        .otherwise(tiff(le = false))).as("content"))
  }

  /** Deterministic VALID AVIF/HEIC (ISO-BMFF image) exhibit bytes — the
    * test/demo source for [[imageDims]]'s ispe branch. Even ids are AVIF
    * (major brand `avif`), odd HEIC (`heic`), both listing `mif1` as the
    * compatible brand like real muxers. The dimensions live in an `ispe`
    * full-box nested meta > iprp > ipco, and the path there is mined with
    * every trap the walk exists for: an id-derived variable-length `free`
    * box BEFORE meta (shifts every later offset), an `hdlr` decoy child
    * inside meta, and a `pixi` decoy property before the ispe inside ipco
    * — a fixed-offset "parser" reads garbage at every step and only the
    * descend-walk finds the dims. Box sizes are honest (each container's
    * size is the exact sum of its children); a trailing `mdat` carries
    * id-derived filler. Parameters derive from floor(id/2): w = 16 +
    * pmod(hid, 1024), h = 16 + pmod(7 hid, 768), free payload 1 +
    * pmod(3 hid, 16) bytes, mdat payload 1 + pmod(5 hid, 16) bytes —
    * total size 133 + nfree + nmdat, all recomputed by the q135 oracle
    * as ground-truth id arithmetic. */
  def synthIsobmffBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val hid = floor(id / lit(2)).cast(LongType)
    val fill = upper(md5(id.cast(StringType))) // up to 16 bytes of filler
    val w = lit(16) + pmod(hid, lit(1024))
    val h = lit(16) + pmod(hid * 7, lit(768))
    val nfree = lit(1) + pmod(hid * 3, lit(16)) // 1..16 free payload bytes
    val nmdat = lit(1) + pmod(hid * 5, lit(16)) // 1..16 mdat payload bytes
    def be4(v: Column) = lpad(hex(v), 8, "0")
    val brand = when(pmod(id, lit(2)) === 0, "61766966") // 'avif'
      .otherwise(lit("68656963")) // 'heic'
    val ftyp = concat(be4(lit(20)), lit("66747970"), brand,
      lit("00000000"), lit("6D696631")) // minor version 0, compat mif1
    val free = concat(be4(lit(8) + nfree), lit("66726565"),
      fill.substr(lit(1), (nfree * 2).cast(IntegerType)))
    // meta(full) { hdlr(33) iprp { ipco { pixi(16) ispe(20) } } } —
    // 12 + 33 + 52 = 97; iprp = 8 + 44; ipco = 8 + 16 + 20
    val hdlr = concat(be4(lit(33)), lit("68646C72"), lit("00000000"),
      lit("00000000"), lit("70696374"), lit("00" * 12), lit("00"))
    val ispe = concat(be4(lit(20)), lit("69737065"), lit("00000000"),
      be4(w), be4(h))
    val pixi = concat(be4(lit(16)), lit("70697869"), lit("00000000"),
      lit("03"), lit("080808")) // 3 channels x 8 bpc
    val ipco = concat(be4(lit(44)), lit("6970636F"), pixi, ispe)
    val iprp = concat(be4(lit(52)), lit("69707270"), ipco)
    val meta = concat(be4(lit(97)), lit("6D657461"), lit("00000000"),
      hdlr, iprp)
    val mdat = concat(be4(lit(8) + nmdat), lit("6D646174"),
      fill.substr(lit(1), (nmdat * 2).cast(IntegerType)))
    docs.select(
      id.as("media_id"),
      unhex(concat(ftyp, free, meta, mdat)).as("content"))
  }

  /** Deterministic VALID EXIF-tagged JPEG exhibit bytes — the test/demo
    * source for [[imageDims]]'s orientation path. Each id yields a JPEG
    * whose APP1/Exif segment embeds a minimal TIFF (id-derived
    * endianness — EXIF ships both 'II' and 'MM' in the wild) holding one
    * tag-274 entry with orientation 1..8 (all eight occur per endian
    * class via floor(id/2)), followed by a variable-length COM segment
    * and the SOF0 — so the walk must hop BOTH the Exif and COM segments
    * to reach the dims, and the orientation scan runs against both byte
    * orders corpus-wide. The q134 oracle recomputes format, orientation,
    * DISPLAY dims (swapped for 5..8) and size as ground-truth id
    * arithmetic. */
  def synthExifJpegBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val hid = floor(id / lit(2)).cast(LongType)
    val fill = repeat(upper(md5(id.cast(StringType))), 2)
    val w2 = lpad(hex(lit(16) + pmod(id, lit(1024))), 4, "0")
    val h2 = lpad(hex(lit(16) + pmod(id * 7, lit(768))), 4, "0")
    val orient = lit(1) + pmod(hid, lit(8))
    val comBytes = (lit(1) + pmod(hid, lit(32))).cast(IntegerType)
    val comLen = lpad(hex(comBytes + 2), 4, "0")
    def tiffExif(le: Boolean): Column = {
      def u16h(v: Column) = if (le) leHex(v, 2) else lpad(hex(v), 4, "0")
      def u32h(v: Column) = if (le) leHex(v, 4) else lpad(hex(v), 8, "0")
      concat(
        lit(if (le) "49492A00" else "4D4D002A"),
        u32h(lit(8)),              // IFD immediately after the header
        u16h(lit(1)),              // one entry
        u16h(lit(274)), u16h(lit(3)), u32h(lit(1)),
        concat(u16h(orient), lit("0000")),
        u32h(lit(0)))              // no next IFD -> TIFF is 26 bytes
    }
    val app1 = concat(
      lit("FFE1"), lit("0022"),    // APP1, declared length 34 BE
      lit("457869660000"),         // 'Exif\0\0'
      when(pmod(id, lit(2)) === 0, tiffExif(le = true))
        .otherwise(tiffExif(le = false)))
    val jpeg = concat(
      lit("FFD8"), app1,
      lit("FFFE"), comLen, fill.substr(lit(1), comBytes * 2),
      lit("FFC00011"), lit("08"), h2, w2,
      lit("03012200021101031101"),
      lit("FFD9"))
    docs.select(id.as("media_id"), unhex(jpeg).as("content"))
  }

  /** Append the audio/video container's `av_format`, `codec`, `channels`,
    * `sample_rate`, `bits_per_sample`, `width`, `height` and
    * `duration_ms` — the metadata a 100 TB A/V curation pass filters on
    * (duration caps, sample-rate buckets) without decoding a sample.
    * Formats and their header layouts are documented on [[AvFast]]:
    * av_format is 'wav'/'mp4'/'mp3'/'flac'/'ogg'/'webm'/'mkv' or NULL;
    * codec is 'opus'/'vorbis' for ogg and the CodecID string for
    * webm/mkv (NULL if its bytes are not UTF-8, and where the container
    * already implies the codec); channels and sample_rate come from
    * WAV/MP3/FLAC/Ogg/EBML-audio, bits_per_sample from WAV/FLAC,
    * width/height from MP4/EBML video, duration_ms from all but ogg.
    * Malformed or truncated input yields NULL fields, never a throw.
    * `headerBytes` bounds the prefix read per blob; `maxChunks` bounds
    * the WAV chunk walk and the MP4 box walk (the EBML walk gets three
    * times that). */
  def avMetadata(media: DataFrame, contentCol: String = "content",
                 maxChunks: Int = 16,
                 headerBytes: Int = 64 * 1024): DataFrame =
    appendParsed(media, "Multimodal.avMetadata", "av_metadata", contentCol,
      Seq(maxChunks, headerBytes), AvMetadata.schema)

  /** Deterministic VALID WAV/MP4 container exhibit bytes — the test/demo
    * source for [[avMetadata]] (pmod(id, 2): even ids PCM WAV, odd MP4;
    * odd ids split pmod(id, 4) = 1 -> mvhd version 0, 3 -> version 1).
    * Both carry an id-derived variable-length filler chunk (WAV: LIST;
    * MP4: free) BEFORE the metadata chunk, so fixed-offset "parsers"
    * read garbage and only the walk finds the fields. All parameters are
    * id-derived integer arithmetic the q128 oracle recomputes as ground
    * truth: channels = 1 + pmod(id,4)/2, sample_rate = 8000 +
    * pmod(id,8)*1000, data_bytes = 1000 + pmod(13 id, 9000), timescale =
    * 600 + pmod(id,10)*100, duration units = 3000 + pmod(11 id, 60000),
    * video track dims = the images family's 16 + pmod(id,1024) by
    * 16 + pmod(7 id, 768), stored 16.16 in a `trak`/`tkhd` after mvhd.
    * The WAV's data payload is truncated to 8 filler bytes on purpose
    * (its SIZE field stays honest-to-declared — the streamed-file shape
    * a header parser must price without reading the tail); RIFF/box
    * sizes elsewhere match actual content. */
  def synthAvBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val fill = upper(md5(id.cast(StringType))) // up to 16 bytes of filler
    // WAV parameters
    val ch = when(pmod(id, lit(4)) === 0, 1L).otherwise(2L)
    val sr = lit(8000) + pmod(id, lit(8)) * 1000
    val ba = ch * 2 // block align: 16-bit PCM
    val br = sr * ba
    val db = lit(1000) + pmod(id * 13, lit(9000))
    val listN = (pmod(id, lit(8)) + 1) * 2 // even 2..16 filler bytes
    val wav = concat(
      lit("52494646"), le4(lit(52) + listN), lit("57415645"),
      lit("4C495354"), le4(listN), fill.substr(lit(1), (listN * 2).cast(IntegerType)),
      lit("666D7420"), lit("10000000"), // fmt, size 16 (PCM)
      lit("0100"), le2(ch), le4(sr), le4(br), le2(ba), lit("1000"),
      lit("64617461"), le4(db), substring(fill, 1, 16))
    // MP4 parameters
    val ts = lit(600) + pmod(id, lit(10)) * 100
    val dur = lit(3000) + pmod(id * 11, lit(60000))
    val freeN = pmod(id, lit(16)) + 1 // 1..16 filler bytes
    def be4(v: Column) = lpad(hex(v), 8, "0")
    def be8(v: Column) = lpad(hex(v), 16, "0")
    val ftyp = concat(lit("00000010"), lit("66747970"),
      lit("69736F6D"), lit("00000200"))
    val free = concat(be4(freeN + 8), lit("66726565"),
      fill.substr(lit(1), (freeN * 2).cast(IntegerType)))
    val mvhd0 = concat(lit("0000006C"), lit("6D766864"), // size 108, v0
      lit("00"), lit("000000"), lit("00000000"), lit("00000000"),
      be4(ts), be4(dur), repeat(lit("00"), 80))
    val mvhd1 = concat(lit("00000078"), lit("6D766864"), // size 120, v1
      lit("01"), lit("000000"),
      repeat(lit("00"), 16), // u64 creation + modification
      be4(ts), be8(dur), repeat(lit("00"), 80))
    // tkhd: the video track header — presentation dims as 16.16 fixed
    // point (integer part = the id-derived w/h the images family uses;
    // fraction 0). Unity matrix per spec; layer/volume/reserved zero.
    val vw = lit(16) + pmod(id, lit(1024))
    val vh = lit(16) + pmod(id * 7, lit(768))
    val unityMatrix = lit("00010000" + "00000000" + "00000000" +
      "00000000" + "00010000" + "00000000" +
      "00000000" + "00000000" + "40000000")
    val tkhd0 = concat(lit("0000005C"), lit("746B6864"), // size 92, v0
      lit("00000007"), // version 0, flags: enabled | in-movie | in-preview
      lit("00000000"), lit("00000000"), // creation, modification
      lit("00000001"), lit("00000000"), be4(dur), // track id, rsvd, dur
      repeat(lit("00"), 8), // reserved u32[2]
      repeat(lit("00"), 8), // layer, alternate group, volume, reserved
      unityMatrix, be4(vw * 65536), be4(vh * 65536))
    val tkhd1 = concat(lit("00000068"), lit("746B6864"), // size 104, v1
      lit("01000007"),
      repeat(lit("00"), 16), // u64 creation + modification
      lit("00000001"), lit("00000000"), be8(dur),
      repeat(lit("00"), 8), repeat(lit("00"), 8),
      unityMatrix, be4(vw * 65536), be4(vh * 65536))
    val trak0 = concat(lit("00000064"), lit("7472616B"), tkhd0) // 8 + 92
    val trak1 = concat(lit("00000070"), lit("7472616B"), tkhd1) // 8 + 104
    val moov0 = concat(lit("000000D8"), lit("6D6F6F76"), // 8 + 108 + 100
      mvhd0, trak0)
    val moov1 = concat(lit("000000F0"), lit("6D6F6F76"), // 8 + 120 + 112
      mvhd1, trak1)
    val mp4 = concat(ftyp, free,
      when(pmod(id, lit(4)) === 1, moov0).otherwise(moov1))
    docs.select(
      id.as("media_id"),
      unhex(when(pmod(id, lit(2)) === 0, wav).otherwise(mp4)).as("content"))
  }

  /** Deterministic VALID MP3/FLAC exhibit bytes — the test/demo source for
    * [[avMetadata]]'s audio branches (pmod(id, 2): even ids MP3, odd FLAC).
    * The MP3 carries an id-derived VARIABLE-length ID3v2 tag whose size is
    * SYNCSAFE-encoded (four 7-bit bytes — the trap the tag hop exists to
    * handle: sizes >= 128 split across two bytes, and a plain-u28 encoder
    * would desync the frame position for every tag over 127 bytes), then
    * one Layer III frame header mixing all three MPEG versions
    * (1 / 2 / 2.5 — each with its own sample-rate table and, for v1, its
    * own bitrate table), all 14 valid bitrate indices, all 3 sample-rate
    * indices and all 4 channel modes, then id-derived payload filler (the
    * CBR duration estimate divides the whole-blob audio bytes by the
    * table kbps, so payload length is load-bearing). The FLAC is fLaC +
    * a STREAMINFO whose bit-packed core is assembled with the same
    * integer arithmetic the parser must invert: sr(20) | ch-1(3) |
    * bps-1(5) | total-samples(36), with the 36-bit total SPLIT as
    * hi-4-bits (id-derived 0-7, nonzero for most ids — so the u32-pair
    * read in the parser is exercised by the bulk oracle, not just a
    * golden) and a u32 low word. All parameters are id-derived integer
    * arithmetic the q129 oracle recomputes as GROUND TRUTH — the oracle
    * is spec(id), not a parse replay, so a symmetric generator+parser
    * bit-packing bug cannot cancel (golden headers in TrainingDataSpec
    * pin the byte layout itself). */
  def synthAudioBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val fill = repeat(upper(md5(id.cast(StringType))), 19) // 608 hex chars
    def b2(v: Column) = lpad(hex(v), 2, "0")
    // Parameters derive from floor(id/2), NOT id: the format split already
    // consumed id's parity, so pmod(id, k) over one parity class only
    // visits half the residues for even k — channel mode 3 (mono) and
    // half the bitrate indices would never occur in the corpus mix.
    // floor(id/2) covers every integer on each parity class.
    val hid = floor(id / lit(2)).cast(LongType)
    // MP3: tag 1..300 bytes (>= 128 exercises the 2-byte syncsafe split)
    val tagSize = lit(1) + pmod(hid * 3, lit(300))
    val v = when(pmod(hid, lit(3)) === 0, 3L) // MPEG1
      .when(pmod(hid, lit(3)) === 1, 2L)      // MPEG2
      .otherwise(0L)                          // MPEG2.5
    val bi = lit(1) + pmod(hid * 5, lit(14))  // bitrate index 1..14
    val si = pmod(hid * 7, lit(3))            // sample-rate index 0..2
    val cm = pmod(hid, lit(4))                // channel mode 0..3
    val audioN = lit(50) + pmod(hid * 13, lit(200)) // payload filler bytes
    val mp3 = concat(
      lit("494433"), lit("0400"), lit("00"), // 'ID3', v2.4.0, flags 0
      lit("0000"), b2(floor(tagSize / 128)), b2(pmod(tagSize, lit(128))),
      fill.substr(lit(1), (tagSize * 2).cast(IntegerType)), // tag body
      lit("FF"), b2(lit(227) + v * 8), // sync + ver bits + layer III + prot
      b2(bi * 16 + si * 4), b2(cm * 64),
      fill.substr(lit(1), (audioN * 2).cast(IntegerType)))
    // FLAC: STREAMINFO (34 bytes) with the bit-packed core
    val fsr = lit(8000) + pmod(hid, lit(8)) * 1000 // fits the 20-bit field
    val fch = lit(1) + pmod(hid, lit(8))           // 1..8 channels
    val fbps = lit(8) + pmod(hid, lit(3)) * 8      // 8/16/24 bits
    val thi = pmod(hid * 17, lit(8))               // total-samples bits 35-32
    val tlo = lit(100000) + pmod(hid * 13, lit(1000000)) // low u32
    val u32a = fsr * 4096 + (fch - 1) * 512 + (fbps - 1) * 16 + thi
    def be4(c: Column) = lpad(hex(c), 8, "0")
    val flac = concat(
      lit("664C6143"), lit("80"), lit("000022"), // last-block, type 0, len 34
      lit("1000"), lit("1000"),          // min/max block size 4096
      lit("000000"), lit("000000"),      // min/max frame size (unknown)
      be4(u32a), be4(tlo),
      substring(fill, 1, 32))            // 16-byte MD5 signature stand-in
    docs.select(
      id.as("media_id"),
      unhex(when(pmod(id, lit(2)) === 0, mp3).otherwise(flac)).as("content"))
  }

  /** Deterministic VALID Ogg exhibit bytes — the test/demo source for
    * [[avMetadata]]'s Ogg branch (pmod(id, 2): even ids Opus, odd Vorbis
    * identification headers). The first page carries an id-derived
    * VARIABLE-length segment table (1..3 lacing values — the trap the
    * payload-offset arithmetic exists to handle: a fixed offset is only
    * right for single-segment pages). Channel count and the stored
    * sample rate are id arithmetic the q131 oracle recomputes as ground
    * truth; parameters derive from floor(id/2) (parity-coverage, as
    * [[synthAudioBytes]]). */
  def synthOggBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val hid = floor(id / lit(2)).cast(LongType)
    val fill = upper(md5(id.cast(StringType)))
    def b2(v: Column) = lpad(hex(v), 2, "0")
    val co = lit(1) + pmod(hid, lit(8))
    val sr = lit(8000) + pmod(hid, lit(8)) * 5000
    val nseg = lit(1) + pmod(hid, lit(3))
    val pageFront = concat(
      lit("4F676753"), lit("00"), lit("02"), // OggS, stream v0, BOS flag
      repeat(lit("00"), 8),                  // granule position
      substring(fill, 1, 8),                 // serial (parser-opaque)
      repeat(lit("00"), 8),                  // page seq + crc (opaque)
      b2(nseg),
      lit("1E1E1E").substr(lit(1),
        (nseg * 2).cast(IntegerType)))       // lacing values (opaque)
    val opus = concat(pageFront,
      lit("4F70757348656164"), lit("01"),    // 'OpusHead', version 1
      b2(co), lit("3801"),                   // channels, pre-skip 312 LE
      le4(sr), lit("0000"), lit("00"))       // input rate, gain, mapping
    val vorbis = concat(pageFront,
      lit("01"), lit("766F72626973"),        // \x01vorbis
      lit("00000000"),                       // version 0
      b2(co), le4(sr),
      repeat(lit("00"), 12),                 // max/nominal/min bitrate
      lit("B8"), lit("01"))                  // blocksizes, framing bit
    docs.select(
      id.as("media_id"),
      unhex(when(pmod(id, lit(2)) === 0, opus).otherwise(vorbis))
        .as("content"))
  }

  /** Deterministic VALID WebM/Matroska (EBML) exhibit bytes — the
    * test/demo source for [[avMetadata]]'s EBML branch. Even ids are
    * WebM (DocType 'webm', a VP9 video track with PixelWidth/Height),
    * odd Matroska (DocType 'matroska', an Opus audio track with
    * SamplingFrequency as an IEEE-754 f32 + Channels). The path to every
    * field is mined with the traps the walk exists for, each id-varied so
    * the bulk oracle (not just a golden) exercises them: a
    * variable-length Void element before Info, the Info SIZE varint
    * encoded in 2 bytes for pmod(hid,4)==1 (writers pad size fields),
    * Duration as f32 vs f64 by pmod(hid,2), TimestampScale present vs
    * absent-default by pmod(hid,3), and the Segment size known (8-byte
    * varint, the rewrite-friendly encoding real muxers emit) vs the
    * all-ones UNKNOWN live-stream encoding by pmod(hid,5). Duration
    * ticks = 1000 + pmod(13 hid, 9000) at scale 1e6 (= milliseconds),
    * exactly representable in both float widths. A trailing Cluster
    * carries id-derived filler. The q136 oracle recomputes every field
    * and the total byte length as GROUND-TRUTH id arithmetic. */
  def synthWebmBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val hid = floor(id / lit(2)).cast(LongType)
    val fill = upper(md5(id.cast(StringType))) // up to 16 bytes of filler
    def b2(v: Column) = lpad(hex(v), 2, "0")
    def vi1(n: Column) = b2(lit(128) + n) // 1-byte size varint, n <= 63
    def vi2(n: Column) = lpad(hex(lit(16384) + n), 4, "0") // 2-byte size
    // exact IEEE-754 encoders for integer v in [512, 65535] (the synth
    // ranges): exponent by range, mantissa shift via exact pow-of-2
    def fexp(v: Column) =
      when(v >= 32768, 15).when(v >= 16384, 14).when(v >= 8192, 13)
        .when(v >= 4096, 12).when(v >= 2048, 11).when(v >= 1024, 10)
        .otherwise(9)
    def p2(n: Column) = pow(lit(2.0), n.cast(DoubleType)).cast(LongType)
    def f32hex(v: Column) = {
      val ex = fexp(v)
      lpad(hex((ex + 127) * lit(8388608L) +
        (v - p2(ex)) * p2(lit(23) - ex)), 8, "0")
    }
    def f64hex(v: Column) = {
      val ex = fexp(v)
      lpad(hex((ex + 1023) * lit(4503599627370496L) +
        (v - p2(ex)) * p2(lit(52) - ex)), 16, "0")
    }
    val w = lit(16) + pmod(hid, lit(1024))
    val h = lit(16) + pmod(hid * 7, lit(768))
    val ch = lit(1) + pmod(hid, lit(8))
    val sr = lit(8000) + pmod(hid, lit(8)) * 1000
    val dur = lit(1000) + pmod(hid * 13, lit(9000))
    val nfv = lit(1) + pmod(hid * 3, lit(16)) // 1..16 Void filler bytes
    val ncl = lit(1) + pmod(hid * 5, lit(16)) // 1..16 Cluster filler bytes
    val f8 = pmod(hid, lit(2)) === 1          // f64 Duration
    val info2 = pmod(hid, lit(4)) === 1       // 2-byte Info size varint
    val segKnown = pmod(hid, lit(5)) =!= 0    // known vs unknown Segment sz
    val headW = concat(lit("1A45DFA3"), lit("87"),
      lit("4282"), lit("84"), lit("7765626D")) // 12 bytes
    val headM = concat(lit("1A45DFA3"), lit("8B"),
      lit("4282"), lit("88"), lit("6D6174726F736B61")) // 16 bytes
    val void = concat(lit("EC"), vi1(nfv),
      fill.substr(lit(1), (nfv * 2).cast(IntegerType)))
    val tsElem = concat(lit("2AD7B1"), lit("84"), lit("000F4240"))
    val durElem = concat(lit("4489"),
      when(f8, concat(lit("88"), f64hex(dur)))
        .otherwise(concat(lit("84"), f32hex(dur))))
    val tsPresent = pmod(hid, lit(3)) =!= 0
    val infoContent = when(tsPresent, lit(8)).otherwise(lit(0)) +
      when(f8, lit(11)).otherwise(lit(7))
    val info = concat(lit("1549A966"),
      when(info2, vi2(infoContent)).otherwise(vi1(infoContent)),
      when(tsPresent, tsElem).otherwise(lit("")), durElem)
    val infoBytes = lit(4) + when(info2, 2).otherwise(1) + infoContent
    def dim2(v: Column) = lpad(hex(v), 4, "0")
    // video TrackEntry: TrackNumber + CodecID V_VP9 + Video{B0,BA} =
    // 3 + 7 + 10 = 20 content bytes -> AE(22) -> Tracks content 22
    val tracksV = concat(lit("1654AE6B"), vi1(lit(22)),
      lit("AE"), vi1(lit(20)),
      lit("D7"), lit("81"), lit("01"),
      lit("86"), lit("85"), lit("565F565039"), // V_VP9
      lit("E0"), lit("88"),
      lit("B0"), lit("82"), dim2(w), lit("BA"), lit("82"), dim2(h))
    // audio TrackEntry: TrackNumber + CodecID A_OPUS + Audio{B5,9F} =
    // 3 + 8 + 11 = 22 content bytes -> AE(24) -> Tracks content 24
    val tracksA = concat(lit("1654AE6B"), vi1(lit(24)),
      lit("AE"), vi1(lit(22)),
      lit("D7"), lit("81"), lit("01"),
      lit("86"), lit("86"), lit("415F4F505553"), // A_OPUS
      lit("E1"), lit("89"),
      lit("B5"), lit("84"), f32hex(sr), lit("9F"), lit("81"), b2(ch))
    val tracksBytes = when(pmod(id, lit(2)) === 0, 27L).otherwise(29L)
    val clusterHd = concat(lit("1F43B675"), vi1(ncl),
      fill.substr(lit(1), (ncl * 2).cast(IntegerType)))
    // Segment content: Void + Info + Tracks + Cluster
    val segContent = (lit(2) + nfv) + infoBytes + tracksBytes +
      (lit(5) + ncl)
    val segSize = when(segKnown,
      concat(lit("01"), lpad(hex(segContent), 14, "0")))
      .otherwise(lit("01FFFFFFFFFFFFFF"))
    val seg = concat(lit("18538067"), segSize)
    val webm = concat(headW, seg, void, info, tracksV, clusterHd)
    val mkv = concat(headM, seg, void, info, tracksA, clusterHd)
    docs.select(
      id.as("media_id"),
      unhex(when(pmod(id, lit(2)) === 0, webm).otherwise(mkv))
        .as("content"))
  }

  /** Archive-container metadata from BOUNDED head + tail windows — the
    * crawl-dump triage step that runs BEFORE any decompress: which codec,
    * how many member files, how big uncompressed. Unlike the media
    * parsers, the load-bearing fields of archive formats live at the
    * END of the file (gzip's ISIZE trailer, ZIP's end-of-central-
    * directory record), so the decoder ([[parseArchiveMetadata]],
    * `archive_metadata` in SQL) reads BOTH a bounded head prefix and a
    * bounded TAIL suffix — never the whole blob; a 10 GiB archive costs
    * the same two windows as a 10 KiB one, and blobs never shuffle.
    *
    * gzip (RFC 1952): CM byte 2 (8 = deflate -> detail), MTIME u32 LE at
    * bytes 4-7, and ISIZE — the uncompressed size MOD 2^32 by spec — in
    * the LAST four bytes (tail window; requires >= 18 total bytes).
    *
    * ZIP (APPNOTE): the EOCD record sits at EOF behind a VARIABLE-length
    * archive comment, so it is found by a reverse search over the tail
    * window's hex digits for the LAST occurrence of the magic, then
    * VALIDATED: the occurrence must be byte-aligned and its
    * comment-length field must equal exactly the bytes remaining after
    * the record — a false magic inside comment bytes or a mid-byte
    * coincidence fails validation and yields NULL, never garbage counts.
    * n_entries = the total-entries u16 — EXCEPT 0xFFFF, which is ZIP64's
    * "see the ZIP64 EOCD" sentinel, not a count: it yields NULL (the real
    * count lives in a separate record this bounded probe does not
    * chase). A comment longer than the tail window (or one embedding the
    * magic bytes) legitimately NULLs — the documented single-probe
    * contract; NULL is the fail-safe triage answer ("open this one the
    * slow way").
    *
    * zstd (RFC 8878): the frame-header descriptor byte gates everything
    * — FCS field size flag (bits 7-6), single-segment (bit 5, decides
    * whether a window descriptor byte follows), dict-ID length (bits
    * 1-0) — so the frame-content-size offset is computed, not fixed;
    * flag 1's u16 stores value-256 per spec. A no-FCS frame (flag 0,
    * multi-segment) yields NULL size: the format genuinely does not
    * declare it. One leading SKIPPABLE frame (magic 0x184D2A50..5F LE +
    * u32 LE size + opaque data, a metadata sidecar some archivers emit)
    * is hopped when its declared size is at most `headBytes`; a second
    * one, or a hop past the head window, leaves the blob NULL-format.
    *
    * xz: stream-flags check type (byte 7: none/crc32/crc64/sha256 ->
    * detail); the uncompressed size lives in the INDEX (variable-length,
    * mid-file) — NULL by the bounded-window contract. bzip2: the block
    * size digit ('1'-'9') -> detail 'level-N'; the format stores no
    * sizes at all.
    *
    * Output: input columns + format ('gzip'/'zip'/'zstd'/'xz'/'bz2'/
    * NULL), detail (gzip compression method, xz check, bz2 level),
    * n_entries (ZIP only), uncompressed_size (gzip mod-2^32, zstd when
    * declared), mtime_epoch (gzip). Malformed/truncated yields NULL,
    * never a throw. */
  def archiveMetadata(media: DataFrame, contentCol: String = "content",
                      headBytes: Int = 4096,
                      tailBytes: Int = 4096): DataFrame =
    appendParsed(media, "Multimodal.archiveMetadata", "archive_metadata",
      contentCol, Seq(headBytes, tailBytes), ArchiveMetadata.schema)

  /** The ZIP end-of-central-directory magic `50 4B 05 06` as hex digits. */
  private val EocdNibbles = Array(5, 0, 4, 0xB, 0, 5, 0, 6)

  /** (format, detail, n_entries, uncompressed_size, mtime_epoch) of one
    * blob, the decoder behind [[archiveMetadata]] and `archive_metadata`.
    * It reads the first `headBytes` and the last `tailBytes` bytes at
    * most; every field read is inside the window it belongs to, else the
    * field is NULL. */
  def parseArchiveMetadata(content: Array[Byte], headBytes: Int,
                           tailBytes: Int): Seq[Any] = {
    if (content == null) return Seq(null, null, null, null, null)
    val n = content.length
    val hl = math.min(n, headBytes) // head window: bytes [0, hl)
    val t0 = math.max(n - tailBytes, 0) // tail window: bytes [t0, n)
    @inline def u(i: Int): Int = content(i) & 0xFF
    def le(at: Int, k: Int): Long = {
      var v = 0L; var i = k - 1
      while (i >= 0) { v = (v << 8) | u(at + i); i -= 1 }
      v
    }
    def headIs(at: Int, magic: Int*): Boolean =
      at + magic.length <= hl && magic.indices.forall(i => u(at + i) == magic(i))
    // offset of the zstd frame: past one leading skippable frame
    val zo =
      if (hl >= 8 && (u(0) >> 4) == 5 && headIs(1, 0x2A, 0x4D, 0x18) &&
          le(4, 4) <= headBytes) 8 + le(4, 4).toInt
      else 0
    val format =
      if (headIs(0, 0x1F, 0x8B)) "gzip"
      else if (headIs(0, 0x50, 0x4B, 0x03, 0x04) ||
               headIs(0, 0x50, 0x4B, 0x05, 0x06)) "zip"
      else if (headIs(zo, 0x28, 0xB5, 0x2F, 0xFD)) "zstd"
      else if (headIs(0, 0xFD, 0x37, 0x7A, 0x58, 0x5A, 0x00)) "xz"
      else if (headIs(0, 0x42, 0x5A, 0x68) && hl >= 4 &&
               u(3) >= '1' && u(3) <= '9') "bz2"
      else null
    val detail = format match {
      case "gzip" if hl >= 3 && u(2) == 8 => "deflate"
      case "xz" if hl >= 8 => u(7) match {
        case 0x00 => "none"; case 0x01 => "crc32"
        case 0x04 => "crc64"; case 0x0A => "sha256"; case _ => null
      }
      case "bz2" => s"level-${u(3) - '0'}"
      case _ => null
    }
    val nEntries: java.lang.Long = if (format != "zip") null else {
      // the LAST occurrence of the magic among the tail's hex digits,
      // byte-aligned or not; a misaligned one fails validation
      def nib(j: Int): Int = {
        val b = u(t0 + j / 2)
        if (j % 2 == 0) b >> 4 else b & 0xF
      }
      var s = 2 * (n - t0) - EocdNibbles.length
      var found = false
      while (s >= 0 && !found) {
        var k = 0
        while (k < EocdNibbles.length && nib(s + k) == EocdNibbles(k)) k += 1
        if (k == EocdNibbles.length) found = true else s -= 1
      }
      val b = t0 + s / 2
      if (!found || s % 2 == 1 || n - b < 22 || le(b + 20, 2) != n - b - 22)
        null
      else {
        val entries = le(b + 10, 2)
        if (entries == 0xFFFF) null else entries
      }
    }
    val size: java.lang.Long = format match {
      case "gzip" if n >= 18 => le(n - 4, 4)
      case "zstd" if hl >= zo + 5 =>
        val fhd = u(zo + 4)
        val singleSegment = (fhd >> 5) & 1
        val fcsAt = zo + 5 + (1 - singleSegment) + Array(0, 1, 2, 4)(fhd & 3)
        (fhd >> 6) match {
          case 0 if singleSegment == 1 && hl >= fcsAt + 1 => u(fcsAt).toLong
          case 1 if hl >= fcsAt + 2 => le(fcsAt, 2) + 256
          case 2 if hl >= fcsAt + 4 => le(fcsAt, 4)
          case 3 if hl >= fcsAt + 8 && le(fcsAt + 4, 4) < (1L << 31) =>
            le(fcsAt, 4) + (le(fcsAt + 4, 4) << 32)
          case _ => null
        }
      case _ => null
    }
    val mtime: java.lang.Long =
      if (format == "gzip" && hl >= 8) le(4, 4) else null
    Seq(format, detail, nEntries, size, mtime)
  }

  /** Deterministic VALID archive exhibit bytes — the test/demo source for
    * [[archiveMetadata]] (pmod(id, 5) picks gzip / ZIP / zstd / xz /
    * bzip2; parameters derive from floor(id/5) so every residue class
    * sees every variant). Each family carries its trap: the gzip ISIZE
    * sits after an id-derived payload (tail read, not an offset from the
    * head); the ZIP has 1-4 STORED members and an id-derived 0..31-byte
    * archive COMMENT after the EOCD — the reverse-search must skip the
    * comment bytes and the validation must accept exactly this layout;
    * the zstd cycles all four FCS widths incl. the u16's value-256
    * bias, a dict-ID byte that shifts the FCS offset, and the no-FCS
    * multi-segment shape (NULL size by spec); xz cycles its three check
    * types; bzip2 its nine levels. The q137 oracle recomputes every
    * field and byte length as GROUND-TRUTH id arithmetic. */
  def synthArchiveBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val hid = floor(id / lit(5)).cast(LongType)
    val fill = repeat(upper(md5(id.cast(StringType))), 2) // 32 bytes
    val variant = pmod(id, lit(5))
    // gzip: header(10) + payload + crc(4) + ISIZE(4)
    val gzNp = lit(1) + pmod(hid, lit(16))
    val gzMt = lit(1600000000L) + pmod(hid * 7, lit(100000))
    val gzUs = lit(1000) + pmod(hid * 13, lit(9000))
    val gzip = concat(lit("1F8B"), lit("08"), lit("00"),
      leHex(gzMt, 4), lit("00"), lit("03"),
      fill.substr(lit(1), (gzNp * 2).cast(IntegerType)),
      substring(fill, 33, 8), // CRC32 (parser-opaque)
      leHex(gzUs, 4))
    // ZIP: 1-4 STORED members (fixed 4-byte names/payloads so the local
    // and central records are compile-time literals with per-member
    // offsets), EOCD, then the id-derived comment
    val zipN = lit(1) + pmod(hid, lit(4))
    val zipClen = pmod(hid * 3, lit(32))
    def zLocal(k: Int) = // 38 bytes: 30 header + 4 name + 4 data
      "504B0304" + "1400" + "0000" + "0000" + "0000" + "0000" +
        "00000000" + "04000000" + "04000000" + "0400" + "0000" +
        s"66696C3$k" + "44415441" // name 'fil<k>', data 'DATA'
    def zCentral(k: Int) = // 50 bytes: 46 header + 4 name
      "504B0102" + "1400" + "1400" + "0000" + "0000" + "0000" + "0000" +
        "00000000" + "04000000" + "04000000" + "0400" + "0000" + "0000" +
        "0000" + "0000" + "00000000" +
        leHexLit(38 * k, 4) + s"66696C3$k"
    val zipBody = (1 to 4).map { n =>
      (n, (0 until n).map(k => zLocal(k)).mkString +
        (0 until n).map(k => zCentral(k)).mkString)
    }
    val zipEocd = concat(lit("504B0506"), lit("0000"), lit("0000"),
      leHex(zipN, 2), leHex(zipN, 2), leHex(zipN * 50, 4),
      leHex(zipN * 38, 4), leHex(zipClen, 2),
      fill.substr(lit(1), (zipClen * 2).cast(IntegerType)))
    val zip = concat(
      zipBody.foldLeft(lit(""): Column) { case (acc, (n, body)) =>
        when(zipN === n, lit(body)).otherwise(acc)
      }, zipEocd)
    // zstd: magic + descriptor + [window][dict][fcs] + frame data
    val zsSub = pmod(hid, lit(4))
    val zsNp = lit(1) + pmod(hid, lit(8))
    val zsUs0 = pmod(hid, lit(256))
    val zsUs1 = lit(256) + pmod(hid, lit(60000))
    val zsUs2 = lit(70000) + pmod(hid * 11, lit(1000000))
    val zsData = fill.substr(lit(1), (zsNp * 2).cast(IntegerType))
    // pmod(hid,7)=3 rows lead with a SKIPPABLE frame (any 0x184D2A5x
    // magic + u32 LE size + opaque bytes) the parser must hop
    val skn = lit(1) + pmod(hid, lit(6))
    val zsSkip = when(pmod(hid, lit(7)) === 3,
      concat(lit("5"), hex(pmod(hid, lit(16))), lit("2A4D18"),
        leHex(skn, 4), fill.substr(lit(1), (skn * 2).cast(IntegerType))))
      .otherwise("")
    val zstd = concat(zsSkip, lit("28B52FFD"),
      when(zsSub === 0, concat(lit("20"), leHex(zsUs0, 1)))
        .when(zsSub === 1,
          concat(lit("61"), lit("AB"), leHex(zsUs1 - 256, 2)))
        .when(zsSub === 2, concat(lit("A0"), leHex(zsUs2, 4)))
        .otherwise(concat(lit("00"), lit("58"))), // no FCS, window desc
      zsData)
    // xz: magic(6) + stream flags(2) + opaque filler
    val xzNp = lit(1) + pmod(hid, lit(8))
    val xzCheck = pmod(hid, lit(3))
    val xz = concat(lit("FD377A585A00"), lit("00"),
      when(xzCheck === 0, "01").when(xzCheck === 1, "04").otherwise("0A"),
      fill.substr(lit(1), (xzNp * 2).cast(IntegerType)))
    // bzip2: 'BZh' + level digit + opaque filler
    val bzNp = lit(1) + pmod(hid, lit(8))
    val bzD = lit(1) + pmod(hid, lit(9))
    val bz2 = concat(lit("425A68"), lpad(hex(lit(48) + bzD), 2, "0"),
      fill.substr(lit(1), (bzNp * 2).cast(IntegerType)))
    docs.select(
      id.as("media_id"),
      unhex(when(variant === 0, gzip)
        .when(variant === 1, zip)
        .when(variant === 2, zstd)
        .when(variant === 3, xz)
        .otherwise(bz2)).as("content"))
  }

  /** Little-endian hex literal for compile-time values (synth helpers). */
  private def leHexLit(v: Int, nBytes: Int): String = {
    val be = f"$v%08X".takeRight(2 * nBytes) match {
      case s if s.length < 2 * nBytes => ("0" * (2 * nBytes - s.length)) + s
      case s => s
    }
    (nBytes - 1 to 0 by -1).map(i => be.substring(2 * i, 2 * i + 2)).mkString
  }
}
