package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus batch decode/feature-extract scaffolding.
  *
  * METADATA is fully real: container-header parsing for images
  * ([[imageDims]] — PNG/JPEG/GIF/WebP) and audio/video ([[avMetadata]] —
  * WAV/MP4) reads dimensions, sample rate, channels and duration straight
  * from the bytes with built-in expressions. REAL pixel/sample decode
  * now exists for the perceptual-hash family — [[Png]] (r18), [[Jpeg]]
  * (r19, baseline Huffman+IDCT from scratch) and WAV PCM
  * ([[Audio.audioEnergyFingerprint]], 16/8/24-bit int + float32) — so
  * only the generic feature-extract DECODE step remains a STUB
  * (no codec libraries exist in this container):
  * [[FakeDecoder.decode]] produces a deterministic fake "feature" from
  * the bytes. Everything around it — the schema, the per-partition batch
  * shape, the partitioning strategy — is real and tested, so a real
  * decoder drops in by replacing one function.
  *
  * SCALE DESIGN: media blobs dominate bytes, so (1) metadata extraction is
  * pure column expressions evaluated at scan (never materializes the blob
  * downstream if pruned), (2) decoding runs inside `mapPartitions` so any
  * native decoder amortizes per-partition init (model load, codec context),
  * the Scala analogue of pandas-batch UDFs, and (3) outputs drop the blob
  * column immediately — features travel, bytes don't.
  */
object Multimodal {

  /** A blob row with typed metadata — the multimodal storage schema. */
  case class MediaRow(media_id: Long, kind: String, content: Array[Byte])

  /** Extracted features (decode output batch shape). */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           content_md5: String, feature: Array[Double])

  /** Wrap a text table as opaque binary media (test/demo source: UTF-8
    * bytes stand in for undecodable media bytes). */
  def asBinaryMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      // deterministic pseudo-kind so the pipeline exercises per-kind paths
      element_at(typedlit(Seq("image", "audio", "video")),
        (col(idCol) % 3 + 1).cast(IntegerType)).as("kind"),
      col(textCol).cast(BinaryType).as("content"))

  /** Expression-only metadata: computed at scan, no decode, no shuffle. */
  def withMetadata(media: DataFrame): DataFrame =
    media
      .withColumn("n_bytes", octet_length(col("content")).cast(LongType))
      .withColumn("content_md5", md5(col("content")))

  /** REAL image-header parsing — width/height straight from the container
    * bytes with built-in expressions only (no decoder, no UDF, no
    * mapPartitions): the one piece of image metadata a 100 TB curation
    * pass needs (resolution filters, aspect-ratio buckets) that the
    * opaque-blob metadata above can't give. Operates on the HEX form of
    * the binary (Spark and DuckDB hex() agree byte-for-byte, so the
    * oracle replays it exactly); everything is codegen'd scan-side
    * arithmetic — blobs are read once and never shuffle.
    *
    * PNG: IHDR is mandatory-first (RFC 2083 §3.1 layout is fixed), so
    * width/height are big-endian u32 at byte offsets 16/20 — hex chars
    * 33-40/41-48 — guarded by the 8-byte signature.
    *
    * JPEG: dimensions live in the first SOF marker — ANY of the frame
    * types FFC0-FFCF except C4 (DHT), C8 (JPG reserved) and CC (DAC),
    * covering baseline, progressive, lossless and the arithmetic-coded
    * variants — whose position is VARIABLE: JFIF/EXIF/COM
    * segments of arbitrary length precede it, so a fixed offset is
    * wrong for real files. This walks the segment chain: a bounded
    * `aggregate` fold (`maxSegments` hops, default 16 — headers hold a
    * handful of APPn/COM/DQT/DHT segments; raise it for EXIF-heavy
    * corpora; spec-legal FF fill bytes before a marker each consume one
    * hop too) reads each marker, hops 2 + seglen bytes (the length field
    * counts itself), and stops at SOF (capturing height then width:
    * SOF payload is [len:2][precision:1][h:2][w:2]) or at EOI / a
    * non-FF byte (malformed -> NULL dims, never a throw). The fold is a
    * single whole-stage-codegen expression; entropy-coded data is never
    * scanned because SOF precedes it in every legal stream. Standalone
    * markers that carry no length field (TEM, RSTn) are not expected in
    * the pre-SOF header region and read as malformed.
    *
    * GIF: both signatures (GIF87a/GIF89a); logical-screen width/height
    * are LITTLE-endian u16 at bytes 6/8 — the one format here whose
    * dimension bytes are LE, so the byte-swap is load-bearing, not a
    * convention choice (a BE read of a 1024x17 GIF yields 4+4352).
    *
    * WebP: RIFF('RIFF' + size + 'WEBP') then one chunk hop on the first
    * chunk fourcc: 'VP8 ' (lossy — dims as 14-bit LE u16 pair after the
    * 9D012A start code, which is verified: no start code, no dims),
    * 'VP8L' (lossless — 0x2F signature byte then 14+14 bits packed
    * LSB-first in a LE u32, both stored minus-one), 'VP8X' (extended —
    * canvas w-1/h-1 as LE u24 pairs). All three live at fixed offsets
    * once the fourcc is known, so this is a 1-hop parse, not a fold.
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
    * ICO: reserved u16 0, type u16 1 (LE), entry count >= 1 (the count
    * gate rejects all-zero prefixes the 4-byte signature alone would
    * accept); the FIRST directory entry's width/height bytes are at 6/7,
    * where 0 means 256 (the classic byte-sized-dimension trap). Multi-
    * image files report the first entry, not the largest — a header
    * parser takes the directory as ordered.
    *
    * TIFF: 'II*\\0' (little-endian) or 'MM\\0*' (big-endian) — EVERY
    * multi-byte field including the IFD offset, entry count, tags and
    * values follows the header's byte order, so the whole walk is
    * endian-paired. The u32 header offset points at the first IFD
    * (commonly NOT at byte 8 — real writers put it after the image
    * data); its u16 entry count prefixes count x 12-byte entries
    * (tag u16, type u16, count u32, value field 4 bytes) sorted by tag.
    * Tags 256/257 carry ImageWidth/ImageLength as type 3 SHORT or type 4
    * LONG; a SHORT value sits in the FIRST two bytes of the value field
    * in FILE byte order — reading the value field as a u32 in a
    * big-endian file yields width x 65536, the classic TIFF trap. Other
    * value types for these tags (spec-illegal) yield NULL for that
    * dimension. The entry scan is bounded by `maxSegments`; entries are
    * tag-sorted so 256/257 come before the strip/EXIF tags that dominate
    * real IFDs. An IFD offset or entry beyond the hexed prefix skips in
    * BIGINT (no INT cast on untrusted offsets) and leaves the dims NULL.
    *
    * AVIF/HEIC/HEIF (ISO-BMFF images, sniffed by the ftyp major brand —
    * avif/avis -> 'avif', heic/heix -> 'heic', the brand-agnostic
    * mif1/msf1 -> 'heif'; video brands like isom/mp42 are NOT claimed,
    * they are [[avMetadata]]'s 'mp4'): the pixel dimensions live in an
    * `ispe` (ImageSpatialExtents) full-box nested meta > iprp > ipco,
    * never at a fixed offset. A bounded box walk DESCENDS into those
    * three containers (meta is a full-box: 4 version/flags bytes past
    * its header) and hops everything else by its u32 size (u64 largesize
    * when size==1); the first ispe's u32 BE width/height win. The dims
    * are the CODED extents of the first ispe property — a HEIF `irot`
    * transform or a grid-derivation's reassembled canvas is not applied
    * (the single-ispe read is the header-parser contract, same spirit as
    * Ogg's NULL duration). Walk budget is 2 x `maxSegments`: real muxers
    * put hdlr/pitm/iloc/iinf/iref before iprp and colr/hvcC before ispe,
    * and each descent spends an iteration.
    *
    * EXIF orientation (JPEG): the segment walk records the first
    * APP1/Exif segment's embedded TIFF header on its way to the SOF, and
    * a second endian-paired IFD scan reads tag 274 (type 3 SHORT,
    * value 1..8; anything else NULLs). Orientations 5..8 mean the pixels
    * are stored TRANSPOSED — phone portrait shots store landscape coded
    * dims plus orientation 6/8 — so the emitted width/height are SWAPPED
    * to the DISPLAY resolution there (the same display-dims convention
    * as [[avMetadata]]'s rotated tkhd). The `orientation` column carries
    * the raw stored value; JPEGs without EXIF (or with a non-Exif APP1,
    * e.g. XMP) have it NULL and keep the SOF dims as-is.
    *
    * Output: input columns + format
    * ('png'/'jpeg'/'gif'/'webp'/'bmp'/'tiff'/'ico'/'avif'/'heic'/
    * 'heif'/NULL),
    * width, height (NULL when unparseable), orientation (JPEG EXIF
    * only). Unknown containers pass
    * through with NULL format — filter, don't fail, at corpus scale.
    * Filter the INPUT before calling this (partition/scan pruning
    * happens there): the parse projection is deliberately opaque to
    * predicate pushdown — see [[ndZero]] — so predicates written on the
    * output evaluate row-wise just above the parse.
    * Truncated-header reads are length-guarded: a prefix shorter than a
    * format's dimension field yields NULL, never a partial-bytes value.
    *
    * `headerBytes` bounds how much of the blob is hexed: a header parse
    * must never materialize 2x a multi-MB image per row, so only the
    * first `headerBytes` (default 256 KiB — a JPEG segment length is at
    * most 64 KiB-1, so this survives several EXIF-sized segments before
    * SOF; PNG needs 24 bytes) enter the hex string. A walk that runs off
    * the prefix fails the marker test and yields NULL dims — the same
    * fail-safe as malformed input; raise the bound for thumbnail-stuffed
    * corpora rather than trusting unbounded headers. */
  /** Nondeterministic ZERO (`rand() * 0`): added to every fold-backed
    * numeric output column so those aliases are nondeterministic, which
    * stops Catalyst's predicate pushdown AT the parse projection.
    * Without it, a `.where` on any parsed column substitutes the full
    * fold expressions into the predicate — once per reference — and a
    * simple resolution filter took ~40 s of optimizer+codegen time
    * (measured: 12 s optimize / 9 s physical / 19 s codegen on a 64-row
    * frame). With it, predicates evaluate just above the parse as cheap
    * attribute references. EVERY such column carries the marker (not
    * just the last one) so the barrier survives column pruning when a
    * caller selects a subset. The trade: input-column predicates written
    * AFTER the parse no longer reach the scan either — filter the input
    * BEFORE parsing (the contract both parsers' docstrings state). */
  private def ndZero: Column = (rand(19L) * lit(0)).cast(LongType)

  /** Every format label [[imageDims]] can emit — its default (and the
    * validity domain of) `formats`. */
  val ImageFormats: Set[String] = Set("png", "jpeg", "gif", "webp", "bmp",
    "tiff", "ico", "avif", "heic", "heif")

  /** Every format label [[avMetadata]] can emit — its default (and the
    * validity domain of) `formats`. 'webm' and 'mkv' are one EBML family:
    * requesting either compiles the (one) EBML fold and both labels. */
  val AvFormats: Set[String] = Set("wav", "mp4", "mp3", "flac", "ogg",
    "webm", "mkv")

  /** Build a when-chain from the format branches that survived dispatch
    * filtering; no surviving branch means the column is constant NULL. */
  private def whenChain(branches: Seq[(Column, Column)]): Column =
    branches match {
      case (c, v) +: rest =>
        rest.foldLeft(when(c, v)) { case (acc, (bc, bv)) => acc.when(bc, bv) }
      case _ => lit(null).cast(LongType)
    }

  def imageDims(media: DataFrame, contentCol: String = "content",
                maxSegments: Int = 16,
                headerBytes: Int = 256 * 1024,
                formats: Set[String] = ImageFormats): DataFrame = {
    require(maxSegments >= 1 && maxSegments <= 256,
      s"maxSegments must be in [1, 256], got $maxSegments")
    require(headerBytes >= 32,
      s"headerBytes must cover at least the PNG IHDR (32), got $headerBytes")
    // PER-FORMAT DISPATCH (plan-size, the r13 lesson): every format family
    // added here grows the ONE parse expression every caller compiles, so
    // the planning tax was O(formats x queries) and produced a measured
    // 10.7x optimizer regression once. `formats` bounds what this CALL
    // compiles: the magic SNIFF still labels every known container (it is
    // a handful of literal prefix tests — plan-free by comparison), but a
    // family's FOLD/branch expressions enter the plan only when requested,
    // so a JPEG-only pipeline never compiles the ISO-BMFF box walk. Rows
    // whose sniffed format is outside `formats` keep NULL width/height/
    // orientation — the format label stays truthful either way.
    require(formats.nonEmpty && formats.subsetOf(ImageFormats),
      s"formats must be a non-empty subset of $ImageFormats, got $formats")
    def want(fs: String*): Boolean = fs.exists(formats.contains)
    // the family's reserved-output guard (survivors/selectWithinBudget/...):
    // a media table that already carries catalog width/height must not have
    // it silently replaced by parsed (possibly NULL) values. The temp
    // columns are guarded too — an input already carrying __img_hx would be
    // silently overwritten and then dropped.
    Seq("format", "width", "height", "orientation",
      "__img_hx", "__img_sof", "__img_tif", "__img_isp").foreach(c =>
        require(!media.columns.contains(c),
          s"Multimodal.imageDims: media already has a '$c' column — rename " +
            "it first; imageDims appends its own"))
    val withHex = media.withColumn("__img_hx",
      hex(substring(col(contentCol), 1, headerBytes)))
    // the fold ALSO records the char position of an APP1/Exif segment's
    // embedded TIFF header ('ex') on its way to the SOF — EXIF
    // orientation lives there and a second pass would re-walk the chain
    lazy val jpegFold = expr(s"""
      aggregate(
        sequence(1, $maxSegments),
        named_struct('pos', CAST(5 AS BIGINT),
                     'h', CAST(NULL AS BIGINT),
                     'w', CAST(NULL AS BIGINT),
                     'ex', CAST(NULL AS BIGINT),
                     'done', false),
        (st, i) -> CASE
          WHEN st.done THEN st
          WHEN substring(__img_hx, CAST(st.pos AS INT), 4)
               IN ('FFC0', 'FFC1', 'FFC2', 'FFC3', 'FFC5', 'FFC6', 'FFC7',
                   'FFC9', 'FFCA', 'FFCB', 'FFCD', 'FFCE', 'FFCF')
            THEN named_struct('pos', st.pos,
              'h', CAST(conv(substring(__img_hx, CAST(st.pos AS INT) + 10, 4),
                             16, 10) AS BIGINT),
              'w', CAST(conv(substring(__img_hx, CAST(st.pos AS INT) + 14, 4),
                             16, 10) AS BIGINT),
              'ex', st.ex,
              'done', true)
          WHEN substring(__img_hx, CAST(st.pos AS INT), 4) = 'FFFF'
            THEN named_struct('pos', st.pos + 2, 'h', CAST(NULL AS BIGINT),
                              'w', CAST(NULL AS BIGINT), 'ex', st.ex,
                              'done', false)
          WHEN substring(__img_hx, CAST(st.pos AS INT), 2) <> 'FF'
               OR substring(__img_hx, CAST(st.pos AS INT), 4) = 'FFD9'
            THEN named_struct('pos', st.pos, 'h', CAST(NULL AS BIGINT),
                              'w', CAST(NULL AS BIGINT), 'ex', st.ex,
                              'done', true)
          WHEN substring(__img_hx, CAST(st.pos AS INT), 4) = 'FFE1'
               AND substring(__img_hx, CAST(st.pos AS INT) + 8, 12)
                 = '457869660000'
               AND st.ex IS NULL
            THEN named_struct(
              'pos', st.pos + 4 + 2 * CAST(conv(
                substring(__img_hx, CAST(st.pos AS INT) + 4, 4), 16, 10)
                AS BIGINT),
              'h', CAST(NULL AS BIGINT), 'w', CAST(NULL AS BIGINT),
              'ex', st.pos + 20,
              'done', false)
          ELSE named_struct(
            'pos', st.pos + 4 + 2 * CAST(conv(
              substring(__img_hx, CAST(st.pos AS INT) + 4, 4), 16, 10)
              AS BIGINT),
            'h', CAST(NULL AS BIGINT), 'w', CAST(NULL AS BIGINT),
            'ex', st.ex,
            'done', false)
        END,
        st -> st)""")
    val hx = col("__img_hx")
    // little-endian read: nBytes byte pairs starting at 1-based hex char
    // `at`, reassembled most-significant-first before the base-16 parse.
    // Callers length-guard: a short hex string would CONCAT PARTIAL byte
    // pairs into a smaller-but-plausible value, not NULL.
    def le(at: Int, nBytes: Int): Column =
      conv(concat((nBytes - 1 to 0 by -1).map(i =>
        substring(hx, at + 2 * i, 2)): _*), 16, 10).cast(LongType)
    def hexLen(chars: Int): Column = length(hx) >= chars
    val fourcc = substring(hx, 25, 8) // first RIFF chunk type after 'WEBP'
    def webpDim(first: Boolean): Column = {
      // VP8 bitstream (4.1): 3-byte frame tag, then start code 9D 01 2A,
      // then 16-bit LE width/height whose top 2 bits are rescale hints
      val vp8 = when(hexLen(60) && substring(hx, 47, 6) === "9D012A",
        pmod(le(if (first) 53 else 57, 2), lit(16384)))
      // VP8L (lossless spec 3): 0x2F signature, then u32 LE packing
      // width-1 (bits 0-13) and height-1 (bits 14-27)
      val b = le(43, 4)
      val vp8l = when(hexLen(50) && substring(hx, 41, 2) === "2F",
        (if (first) pmod(b, lit(16384))
         else pmod(shiftright(b, 14), lit(16384))) + 1)
      // VP8X (extended): flags byte + 3 reserved, then canvas w-1 / h-1
      // as back-to-back LE u24
      val vp8x = when(hexLen(60), le(if (first) 49 else 55, 3) + 1)
      when(fourcc === "56503820", vp8)
        .when(fourcc === "5650384C", vp8l)
        .when(fourcc === "56503858", vp8x)
    }
    // TIFF first-IFD scan, endian-paired: every multi-byte read follows
    // the header's byte order. The IFD offset is an UNTRUSTED u32, so it
    // rides the fold state in BIGINT and every bounds check happens
    // before any INT cast (the avMetadata overflow lesson). Returns a
    // struct(w, h, n, o) or NULL.
    def tiffFold(le: Boolean): Column = {
      def u16(at: String) =
        if (le) s"""CAST(conv(concat(
           |substring(__img_hx, CAST(($at) + 2 AS INT), 2),
           |substring(__img_hx, CAST(($at) AS INT), 2)), 16, 10) AS BIGINT)"""
          .stripMargin
        else s"""CAST(conv(substring(__img_hx, CAST(($at) AS INT), 4),
           |16, 10) AS BIGINT)""".stripMargin
      def u32(at: String) =
        if (le) s"""CAST(conv(concat(
           |substring(__img_hx, CAST(($at) + 6 AS INT), 2),
           |substring(__img_hx, CAST(($at) + 4 AS INT), 2),
           |substring(__img_hx, CAST(($at) + 2 AS INT), 2),
           |substring(__img_hx, CAST(($at) AS INT), 2)), 16, 10) AS BIGINT)"""
          .stripMargin
        else s"""CAST(conv(substring(__img_hx, CAST(($at) AS INT), 8),
           |16, 10) AS BIGINT)""".stripMargin
      val off = u32("9") // IFD offset, header bytes 4-7 (literal chars: safe)
      val eb = "(2 * st.o + 24 * i + 5)" // entry i's 1-based char base
      def st4(w: String, h: String) =
        s"named_struct('w', $w, 'h', $h, 'n', st.n, 'o', st.o)"
      expr(s"""
        CASE WHEN length(__img_hx) >= 2 * ($off) + 4 THEN
          aggregate(
            sequence(0, ${maxSegments - 1}),
            named_struct('w', CAST(NULL AS BIGINT), 'h', CAST(NULL AS BIGINT),
                         'n', ${u16(s"2 * ($off) + 1")},
                         'o', CAST(($off) AS BIGINT)),
            (st, i) -> CASE
              WHEN st.w IS NOT NULL AND st.h IS NOT NULL THEN st
              WHEN st.n IS NULL OR i >= st.n
                   OR length(__img_hx) < 2 * st.o + 24 * i + 28 THEN st
              WHEN ${u16(eb)} = 256 THEN ${st4(
                s"""CASE WHEN ${u16(s"$eb + 4")} = 3 THEN ${u16(s"$eb + 16")}
                   |WHEN ${u16(s"$eb + 4")} = 4 THEN ${u32(s"$eb + 16")}
                   |END""".stripMargin, "st.h")}
              WHEN ${u16(eb)} = 257 THEN ${st4("st.w",
                s"""CASE WHEN ${u16(s"$eb + 4")} = 3 THEN ${u16(s"$eb + 16")}
                   |WHEN ${u16(s"$eb + 4")} = 4 THEN ${u32(s"$eb + 16")}
                   |END""".stripMargin)}
              ELSE st
            END,
            st -> st)
        END""")
    }
    // EXIF orientation: a second bounded scan of the TIFF IFD embedded at
    // the APP1 position the jpegFold recorded. Same endian-paired BIGINT
    // discipline as tiffFold; only tag 274 (type 3 SHORT, value 1..8) is
    // read. Values 5..8 mean the image is stored transposed — the
    // width/height the SOF carries are the CODED dims and the DISPLAY
    // dims are swapped.
    //
    // STRUCTURE NOTE (plan-size, the hard-won one): this is ONE fold
    // whose byte order and base position live in the fold STATE, not two
    // endian-specialized folds reading `__img_sof.ex` at every position.
    // Catalyst's predicate pushdown substitutes an alias's full
    // definition into EVERY reference when a caller filters on these
    // columns, so each `__img_sof` reference multiplies into a whole
    // jpegFold copy inside the rewritten predicate — the first version
    // referenced it ~30x across two folds and a simple .where() on the
    // output took minutes to optimize/codegen. This version references
    // `__img_sof.ex` exactly 3 times (base + the two endian probes);
    // iteration 0 initializes the IFD offset/count from state, entries
    // use i-1.
    lazy val exifFold: Column = {
      def u16(at: String) =
        s"""CASE WHEN st.le THEN CAST(conv(concat(
           |substring(__img_hx, CAST(($at) + 2 AS INT), 2),
           |substring(__img_hx, CAST(($at) AS INT), 2)), 16, 10) AS BIGINT)
           |ELSE CAST(conv(substring(__img_hx, CAST(($at) AS INT), 4),
           |16, 10) AS BIGINT) END""".stripMargin
      def u32(at: String) =
        s"""CASE WHEN st.le THEN CAST(conv(concat(
           |substring(__img_hx, CAST(($at) + 6 AS INT), 2),
           |substring(__img_hx, CAST(($at) + 4 AS INT), 2),
           |substring(__img_hx, CAST(($at) + 2 AS INT), 2),
           |substring(__img_hx, CAST(($at) AS INT), 2)), 16, 10) AS BIGINT)
           |ELSE CAST(conv(substring(__img_hx, CAST(($at) AS INT), 8),
           |16, 10) AS BIGINT) END""".stripMargin
      val eb = "(st.b + 2 * st.o + 24 * (i - 1) + 4)"
      expr(s"""
        aggregate(
          sequence(0, $maxSegments),
          named_struct('r', CAST(NULL AS BIGINT),
                       'n', CAST(NULL AS BIGINT),
                       'o', CAST(NULL AS BIGINT),
                       'b', CAST(__img_sof.ex AS BIGINT),
                       'le', substring(__img_hx, CAST(__img_sof.ex AS INT),
                         8) = '49492A00',
                       'be', substring(__img_hx, CAST(__img_sof.ex AS INT),
                         8) = '4D4D002A'),
          (st, i) -> CASE
            WHEN st.r IS NOT NULL THEN st
            WHEN i = 0 THEN CASE
              WHEN (st.le OR st.be)
                   AND length(__img_hx) >= st.b + 2 * (${u32("st.b + 8")}) + 5
                THEN named_struct('r', st.r,
                  'n', ${u16(s"st.b + 2 * (${u32("st.b + 8")})")},
                  'o', ${u32("st.b + 8")},
                  'b', st.b, 'le', st.le, 'be', st.be)
              ELSE st
            END
            WHEN st.n IS NULL OR st.o IS NULL OR i > st.n
                 OR length(__img_hx) < st.b + 2 * st.o + 24 * (i - 1) + 27
              THEN st
            WHEN ${u16(eb)} = 274 AND ${u16(s"$eb + 4")} = 3
                 AND ${u16(s"$eb + 16")} BETWEEN 1 AND 8
              THEN named_struct('r', ${u16(s"$eb + 16")},
                'n', st.n, 'o', st.o, 'b', st.b, 'le', st.le, 'be', st.be)
            ELSE st
          END,
          st -> st).r""")
    }
    // BMP DIB dims: layout selected by the DIB header's own size field
    val dibSize = when(hexLen(36), le(29, 4))
    // i32 LE magnitude: a top-down DIB stores height two's-complement
    def bmpMag(c: Column): Column =
      when(c >= 2147483648L, lit(4294967296L) - c).otherwise(c)
    // width is spec-unsigned: a sign-bit-set value is malformed -> NULL
    // (only HEIGHT legitimately goes negative, meaning top-down)
    def bmpDim(first: Boolean): Column =
      when(dibSize === 12, when(hexLen(44), le(if (first) 37 else 41, 2)))
        .when(dibSize >= 40, when(hexLen(52),
          if (first) when(le(37, 4) < 2147483648L, le(37, 4))
          else bmpMag(le(45, 4))))
    // ICO first-directory-entry dims: a stored 0 means 256
    def icoDim(first: Boolean): Column = when(hexLen(16), {
      val b = le(if (first) 13 else 15, 1)
      when(b === 0, 256L).otherwise(b)
    })
    // AVIF/HEIC (ISO-BMFF image): the pixel dimensions live in an `ispe`
    // (ImageSpatialExtents) full-box nested meta > iprp > ipco — never at
    // a fixed offset. One bounded fold walks top-level boxes and DESCENDS
    // into the three container boxes (meta is a full-box: +4 version/
    // flags bytes past the 8-byte header; iprp/ipco are plain containers)
    // instead of hopping them; the first ispe wins. Box sizes are
    // UNTRUSTED u32s so `pos` rides the state in BIGINT and every bounds
    // check precedes the INT cast (the avMetadata overflow lesson);
    // size==1 hops via the u64 largesize (high word must be 0 — a >4 GiB
    // offset is past any hexed prefix anyway); size 0 ("to EOF") or <8
    // stops the walk as unwalkable. An ispe DECLARING size < 20 is not
    // read (its "dims" would be the following box's bytes — the WAV fmt
    // truncation lesson); it falls through to the hop so a later valid
    // ispe can still win. The descend-don't-track-extent choice
    // means a fourcc collision in un-descended sibling payloads can't
    // happen (payload bytes are only reached by descending), but a
    // container's trailing garbage could be read as sibling boxes — the
    // done/size guards bound that to a NULL, never a throw.
    def ibe(at: String, nBytes: Int) =
      s"""CAST(conv(substring(__img_hx, CAST(($at) AS INT), ${2 * nBytes}),
         |16, 10) AS BIGINT)""".stripMargin
    def ispSt(pos: String, w: String, h: String, done: String) =
      s"named_struct('pos', $pos, 'w', $w, 'h', $h, 'done', $done)"
    val ispSize = ibe("st.pos", 4)
    // 2x the segment budget of the flat walks: the path to ispe crosses
    // ~12-15 boxes in real muxer output (meta's hdlr/pitm/iloc/iinf/iref
    // children precede iprp; ipco's colr/hvcC precede ispe) and each
    // DESCENT spends an iteration too — 16 would NULL well-formed phone
    // photos at the default setting
    lazy val ispeFold = expr(s"""
      aggregate(
        sequence(1, ${2 * maxSegments}),
        ${ispSt("CAST(1 AS BIGINT)", "CAST(NULL AS BIGINT)",
          "CAST(NULL AS BIGINT)", "false")},
        (st, i) -> CASE
          WHEN st.done THEN st
          WHEN st.pos IS NULL OR length(__img_hx) < st.pos + 15
            THEN ${ispSt("st.pos", "st.w", "st.h", "true")}
          WHEN substring(__img_hx, CAST(st.pos AS INT) + 8, 8) = '6D657461'
            THEN ${ispSt("st.pos + 24", "st.w", "st.h", "false")}
          WHEN substring(__img_hx, CAST(st.pos AS INT) + 8, 8) = '69707270'
               OR substring(__img_hx, CAST(st.pos AS INT) + 8, 8)
                 = '6970636F'
            THEN ${ispSt("st.pos + 16", "st.w", "st.h", "false")}
          WHEN substring(__img_hx, CAST(st.pos AS INT) + 8, 8) = '69737065'
               AND ($ispSize) >= 20
            THEN CASE
              WHEN length(__img_hx) >= st.pos + 39
                THEN ${ispSt("st.pos", ibe("st.pos + 24", 4),
                  ibe("st.pos + 32", 4), "true")}
              ELSE ${ispSt("st.pos", "CAST(NULL AS BIGINT)",
                "CAST(NULL AS BIGINT)", "true")}
            END
          WHEN ($ispSize) = 1
            THEN CASE
              WHEN length(__img_hx) >= st.pos + 31
                   AND ${ibe("st.pos + 16", 4)} = 0
                   AND ${ibe("st.pos + 24", 4)} >= 16
                THEN ${ispSt(s"st.pos + 2 * (${ibe("st.pos + 24", 4)})",
                  "st.w", "st.h", "false")}
              ELSE ${ispSt("st.pos", "st.w", "st.h", "true")}
            END
          WHEN ($ispSize) IS NULL OR ($ispSize) < 8
            THEN ${ispSt("st.pos", "st.w", "st.h", "true")}
          ELSE ${ispSt(s"st.pos + 2 * ($ispSize)", "st.w", "st.h", "false")}
        END,
        st -> st)""")
    // ftyp major brand (bytes 8-11) — only IMAGE brands are claimed;
    // isom/mp42/... stay NULL here (they are avMetadata's 'mp4', not an
    // image). mif1/msf1 majors are the brand-agnostic HEIF signature real
    // muxers emit when the codec lives in the compatible-brands list.
    val ftypBrand = substring(hx, 17, 8)
    val isoWanted = Seq("avif", "heic", "heif").filter(formats.contains)
    val sniffed = withHex
      .withColumn("format",
        when(hx.startsWith("89504E470D0A1A0A"), "png")
          .when(hx.startsWith("FFD8"), "jpeg")
          .when(hx.startsWith("474946383761") ||
            hx.startsWith("474946383961"), "gif")
          .when(hx.startsWith("52494646") &&
            substring(hx, 17, 8) === "57454250", "webp")
          .when(hx.startsWith("424D"), "bmp")
          .when(hx.startsWith("49492A00") || hx.startsWith("4D4D002A"),
            "tiff")
          // ICO's magic (00 00 01 00) is genuinely ambiguous: it is also
          // the size field of a 256-byte ISO-BMFF box, so a long-brand-list
          // ftyp would sniff as ICO. Bytes 4-7 disambiguate — a real ICO
          // has image count + first-entry dims there, never 'ftyp'.
          .when(hx.startsWith("00000100") && hexLen(12) && le(9, 2) >= 1 &&
            substring(hx, 9, 8) =!= "66747970",
            "ico")
          .when(substring(hx, 9, 8) === "66747970",
            when(ftypBrand === "61766966" || ftypBrand === "61766973",
              "avif") // avif / avis (image sequence)
              .when(ftypBrand === "68656963" || ftypBrand === "68656978",
                "heic") // heic / heix
              .when(ftypBrand === "6D696631" || ftypBrand === "6D736631",
                "heif"))) // mif1 / msf1 brand-agnostic HEIF
    // temp fold columns exist only for requested families — an unrequested
    // family's fold never parses, attaches, or enters any plan
    val withFolds = Seq(
      ("__img_sof", want("jpeg"),
        () => when(col("format") === "jpeg", jpegFold)),
      ("__img_tif", want("tiff"),
        () => when(col("format") === "tiff",
          when(hx.startsWith("49492A00"), tiffFold(le = true))
            .otherwise(tiffFold(le = false)))),
      ("__img_isp", isoWanted.nonEmpty,
        () => when(col("format").isin(isoWanted: _*), ispeFold))
    ).foldLeft(sniffed) { case (df, (name, wanted, mk)) =>
      if (wanted) df.withColumn(name, mk()) else df
    }
    val iso: Column = col("format").isin(isoWanted: _*)
    withFolds
      .withColumn("orientation",
        (if (want("jpeg"))
          when(col("format") === "jpeg" && col("__img_sof.ex").isNotNull,
            exifFold)
        else lit(null).cast(LongType)) + ndZero)
      .withColumn("width", whenChain(
        Seq[(String, (Column, Column))](
          "png" -> (col("format") === "png",
            conv(substring(hx, 33, 8), 16, 10).cast(LongType)),
          "jpeg" -> (col("format") === "jpeg",
            when(col("orientation") >= 5, col("__img_sof.h"))
              .otherwise(col("__img_sof.w"))),
          "gif" -> (col("format") === "gif" && hexLen(20), le(13, 2)),
          "webp" -> (col("format") === "webp", webpDim(first = true)),
          "bmp" -> (col("format") === "bmp", bmpDim(first = true)),
          "tiff" -> (col("format") === "tiff", col("__img_tif.w")),
          "ico" -> (col("format") === "ico", icoDim(first = true))
        ).collect { case (f, b) if formats(f) => b } ++
          (if (isoWanted.isEmpty) Nil
           else Seq((iso, col("__img_isp.w"))))) + ndZero)
      .withColumn("height", whenChain(
        Seq[(String, (Column, Column))](
          "png" -> (col("format") === "png",
            conv(substring(hx, 41, 8), 16, 10).cast(LongType)),
          "jpeg" -> (col("format") === "jpeg",
            when(col("orientation") >= 5, col("__img_sof.w"))
              .otherwise(col("__img_sof.h"))),
          "gif" -> (col("format") === "gif" && hexLen(20), le(17, 2)),
          "webp" -> (col("format") === "webp", webpDim(first = false)),
          "bmp" -> (col("format") === "bmp", bmpDim(first = false)),
          "tiff" -> (col("format") === "tiff", col("__img_tif.h")),
          "ico" -> (col("format") === "ico", icoDim(first = false))
        ).collect { case (f, b) if formats(f) => b } ++
          (if (isoWanted.isEmpty) Nil
           else Seq((iso, col("__img_isp.h"))))) + ndZero)
      .drop("__img_hx", "__img_sof", "__img_tif", "__img_isp")
  }

  /** JVM decode rung for [[imageDims]] — the mapPartitions twin (the
    * [[AvFast]]/[[imageDhashFast]]/Png/Jpeg/Audio ladder, r20, guide
    * §4): the header folds (JPEG segment walk, TIFF/EXIF IFD scans,
    * ISO-BMFF box walk) run interpreted per row in the expression form;
    * the same walks in plain JVM code cost ~µs/image. Offset-for-offset
    * translation of every gate and read, INCLUDING the expression's
    * clamped-substring semantics on truncated headers (a partial
    * big-endian read yields the value of the available prefix bytes, a
    * partial little-endian read drops the missing high bytes — exactly
    * what conv-over-substring produces), so labels, dims and
    * orientation are bit-identical — ImageDimsFastSpec pins parity
    * across all five synth families, format subsets, truncations and
    * malformed headers. The expression form stays the exhibit
    * (q125/q127/q130-class); the census (q133) reads this rung. */
  def imageDimsFast(media: DataFrame, contentCol: String = "content",
                    maxSegments: Int = 16,
                    headerBytes: Int = 256 * 1024,
                    formats: Set[String] = ImageFormats): DataFrame = {
    require(maxSegments >= 1 && maxSegments <= 256,
      s"maxSegments must be in [1, 256], got $maxSegments")
    require(headerBytes >= 32,
      s"headerBytes must cover at least the PNG IHDR (32), got $headerBytes")
    require(formats.nonEmpty && formats.subsetOf(ImageFormats),
      s"formats must be a non-empty subset of $ImageFormats, got $formats")
    Seq("format", "width", "height", "orientation").foreach(c =>
      require(!media.columns.contains(c),
        s"Multimodal.imageDimsFast: media already has a '$c' column — " +
          "rename it first; imageDimsFast appends its own"))
    val schema = StructType(media.schema.fields ++ Seq(
      StructField("format", StringType), StructField("orientation", LongType),
      StructField("width", LongType), StructField("height", LongType)))
    val idx = media.schema.fieldIndex(contentCol)
    val ms = maxSegments; val hb = headerBytes; val fm = formats
    media.mapPartitions { it =>
      it.map { r =>
        val content = if (r.isNullAt(idx)) null
          else r.get(idx).asInstanceOf[Array[Byte]]
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ dimsJvm(content, ms, hb, fm))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** (format, orientation, width, height) for one blob — the JVM twin
    * of the imageDims expression pipeline (byte offsets; char 2b+1 <->
    * byte b). */
  private[multimodal] def dimsJvm(content: Array[Byte], maxSegments: Int,
                                  headerBytes: Int,
                                  formats: Set[String]): Seq[Any] = {
    if (content == null) return Seq(null, null, null, null)
    val p = if (content.length <= headerBytes) content
      else java.util.Arrays.copyOf(content, headerBytes)
    val L = p.length
    @inline def u(i: Int): Int = p(i) & 0xFF
    def cc(i: Int, s: String): Boolean = i + s.length <= L &&
      (0 until s.length).forall(k => u(i + k) == s.charAt(k))
    // CLAMPED reads — the conv-over-substring semantics: BE keeps the
    // available PREFIX bytes as the whole (smaller) number, LE drops
    // the missing high bytes; an entirely-absent read is null
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
    def want(fs: String*): Boolean = fs.exists(formats.contains)
    // ---- sniff (the expression when-chain's order)
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

    if (fmt == "png" && want("png")) {
      width = beC(16, 4); height = beC(20, 4)
    }

    if (fmt == "jpeg" && want("jpeg")) {
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
          // the expression guard is hexlen >= b + 2o + 5 (char space),
          // i.e. one byte PAST the u16 entry count — replicate exactly
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

    if (fmt == "gif" && want("gif") && L >= 10) {
      width = leC(6, 2); height = leC(8, 2)
    }

    if (fmt == "webp" && want("webp")) {
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

    if (fmt == "bmp" && want("bmp") && L >= 18) {
      val dib = leC(14, 4).longValue
      if (dib == 12 && L >= 22) { width = leC(18, 2); height = leC(20, 2) }
      else if (dib >= 40 && L >= 26) {
        val wv = leC(18, 4).longValue
        if (wv < 2147483648L) width = wv
        val hv = leC(22, 4).longValue
        height = if (hv >= 2147483648L) 4294967296L - hv else hv
      }
    }

    if (fmt == "tiff" && want("tiff")) {
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

    if (fmt == "ico" && want("ico") && L >= 8) {
      val wv = u(6).toLong; val hv = u(7).toLong
      width = if (wv == 0) 256L else wv
      height = if (hv == 0) 256L else hv
    }

    if ((fmt == "avif" || fmt == "heic" || fmt == "heif") && want(fmt)) {
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

  /** Append `dhash: bigint` — a 64-bit PERCEPTUAL difference hash over
    * uncompressed-pixel images, the content-level cousin of the exact
    * byte dedup q30 runs: two images whose pixels differ slightly
    * (recompression, a one-pixel watermark, metadata-stripped copies)
    * hash to small Hamming distance, so near-duplicate IMAGES reduce to
    * the [[graft.dedup.Dedup.simhashBandedDups]] banding plumbing the
    * text side already runs (q166/q167).
    *
    * Decodable formats are the ones whose pixels are expression-
    * reachable without a codec: BMP (BITMAPINFOHEADER-family, 24/32
    * bpp, BI_RGB, bottom-up or top-down) and single-image ICO whose
    * embedded DIB is the same shape (height stored DOUBLED for the
    * AND mask, rows bottom-up). Compressed formats (PNG/JPEG/...)
    * keep NULL — decoding them is the mapInPandas stub seam, not an
    * expression.
    *
    * The hash is standard dHash: nearest-neighbor-sample a 9x8
    * luminance grid (srcX = floor(gx·w/9), srcY = floor(gy·h/8) — the
    * identity when the image IS 9x8, which is what the oracle
    * exhibits use), then bit gy·8+gx = 1 iff grid(gx+1, gy) brighter
    * than grid(gx, gy). "Luminance" is the unweighted channel sum —
    * dHash only COMPARES adjacent values, so any monotone transform
    * gives the same bits and integer sums replay exactly in SQL.
    * Malformed/undecodable/truncated bytes → NULL, never a throw (the
    * parser-family contract). Expression-only: one hex pass, 72
    * bounded substr reads — codegen'd, no UDF, a narrow map at any
    * corpus size. `maxBytes` bounds the hexed prefix; an image whose
    * pixel array ends past it reads as truncated → NULL. */
  def imageDhash(media: DataFrame, contentCol: String = "content",
                 maxBytes: Int = 1 << 20): DataFrame = {
    require(maxBytes >= 128, s"maxBytes too small: $maxBytes")
    Seq("dhash", "__dh_hx", "__dh_lt", "__dh_st", "__dh_g").foreach(c =>
      require(!media.columns.contains(c),
        s"Multimodal.imageDhash: media already has a '$c' column — " +
          "rename it first; imageDhash appends its own"))
    val hx = col("__dh_hx")
    // fixed-offset little-endian reads (0-based BYTE offsets)
    def leAt(at: Int, n: Int): Column =
      conv(concat((n - 1 to 0 by -1).map(i =>
        substring(hx, (at + i) * 2 + 1, 2)): _*), 16, 10).cast(LongType)
    // data-dependent-offset reads (ICO entry payload)
    def leAtC(p: Column, n: Int): Column =
      conv(concat((n - 1 to 0 by -1).map(i =>
        hx.substr(((p + i) * 2 + 1).cast(IntegerType), lit(2))): _*),
        16, 10).cast(LongType)
    def mag(c: Column): Column = // i32 two's-complement magnitude
      when(c >= 2147483648L, lit(4294967296L) - c).otherwise(c)
    // --- BMP: pixel offset from the file header, dims from the DIB
    val bmpBpp = leAt(28, 2)
    val bmpHRaw = leAt(22, 4)
    val bmpSt = struct(
      leAt(10, 4).as("pixoff"), leAt(18, 4).as("w"),
      mag(bmpHRaw).as("h"), (bmpHRaw >= 2147483648L).as("topdown"),
      (bmpBpp / 8).cast(LongType).as("bpc"))
    val bmpOk = hx.startsWith("424D") && length(hx) >= 108 &&
      leAt(14, 4) >= 40 && (bmpBpp === 24 || bmpBpp === 32) &&
      leAt(30, 4) === 0 && leAt(18, 4).between(1L, 2147483647L) &&
      mag(bmpHRaw) >= 1
    // --- single-image ICO: entry 0's embedded DIB, height doubled
    val icoOff = leAt(18, 4)
    val icoBpp = leAtC(icoOff + 14, 2)
    val icoHD = leAtC(icoOff + 8, 4)
    val icoSt = struct(
      (icoOff + 40).as("pixoff"), leAtC(icoOff + 4, 4).as("w"),
      floor(icoHD / 2).cast(LongType).as("h"), lit(false).as("topdown"),
      (icoBpp / 8).cast(LongType).as("bpc"))
    val icoOk = hx.startsWith("00000100") && length(hx) >= 44 &&
      leAt(4, 2) >= 1 && leAtC(icoOff, 4) === 40 &&
      (icoBpp === 24 || icoBpp === 32) && leAtC(icoOff + 16, 4) === 0 &&
      leAtC(icoOff + 4, 4).between(1L, 2147483647L) && icoHD >= 2
    val st = col("__dh_st")
    val wC = st.getField("w"); val hC = st.getField("h")
    val bpcC = st.getField("bpc")
    val stride =
      floor((wC * bpcC * 8 + 31) / lit(32)).cast(LongType) * 4
    val covered = st.isNotNull &&
      length(hx) >= (st.getField("pixoff") + stride * hC) * 2
    // 9x8 nearest-neighbor luminance grid, row-major index gy*9+gx.
    // HIGHER-ORDER transform, not 72 unrolled expressions: the unrolled
    // form (x3 conv/substr each, duplicated again through any self-join
    // downstream) was measured to blow the driver heap at plan time in
    // q167's banded self-join — the q133 plan-size lesson; one lambda
    // body keeps the plan O(1) in grid size.
    // pixel bytes read via ascii over ONE ISO-8859-1 decode of the
    // content (byte k <-> char k for all 256 values) instead of
    // conv(hex-pair, 16, 10): the grid lambda runs INTERPRETED, and
    // ascii(substr) is ~40% fewer interpreted nodes per byte with no
    // radix parse (r19 — the audio-fingerprint finding applied here;
    // same byte values, so the grays and every dhash bit are identical)
    val lt = col("__dh_lt")
    val grays = transform(sequence(lit(0), lit(71)), i => {
      val gy = floor(i / 9).cast(LongType)
      val gx = pmod(i, lit(9)).cast(LongType)
      val srcX = floor(gx * wC / 9).cast(LongType)
      val srcY = floor(gy * hC / 8).cast(LongType)
      val row = when(st.getField("topdown"), srcY)
        .otherwise(hC - 1 - srcY)
      val base = st.getField("pixoff") + row * stride + srcX * bpcC
      (0 to 2).map(j =>
        ascii(lt.substr((base + j + 1).cast(IntegerType), lit(1)))
          .cast(LongType)).reduce(_ + _)
    })
    val g = col("__dh_g")
    // bit b (0..63): right neighbor brighter; shiftleft needs a COLUMN
    // shift amount, which only the SQL form exposes
    val dhashBits = expr(
      """aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, b) ->
        |  acc + CASE WHEN
        |    element_at(__dh_g,
        |      CAST((b div 8) * 9 + pmod(b, 8) + 2 AS INT)) >
        |    element_at(__dh_g,
        |      CAST((b div 8) * 9 + pmod(b, 8) + 1 AS INT))
        |  THEN shiftleft(CAST(1 AS BIGINT), b)
        |  ELSE CAST(0 AS BIGINT) END)""".stripMargin)
    media
      .withColumn("__dh_hx", hex(substring(col(contentCol), 1, maxBytes)))
      .withColumn("__dh_lt",
        decode(substring(col(contentCol), 1, maxBytes), "ISO-8859-1"))
      .withColumn("__dh_st",
        when(bmpOk, bmpSt).when(icoOk, icoSt))
      .withColumn("__dh_g", when(covered, grays))
      // + ndZero (the imageDims family's pushdown barrier): without it,
      // a downstream filter like `dhash IS NOT NULL` — q167's shape —
      // substitutes the WHOLE parse tree into the predicate and the
      // optimizer's alias-trimming walks the multiplied expression for
      // minutes (measured: q167 never finished; the r13 q137 incident
      // class). The nondeterministic alias pins predicates above the
      // parse and stops project collapse from inlining it downstream.
      .withColumn("dhash", when(g.isNotNull, dhashBits) + ndZero)
      .drop("__dh_hx", "__dh_lt", "__dh_st", "__dh_g")
  }

  /** JVM decode rung for [[imageDhash]] — the mapPartitions twin (the
    * [[AvFast]] / [[Png]] / [[Jpeg]] / Audio-fingerprint ladder, r20,
    * guide §4): the 9×8 grid's 216 pixel reads run as an interpreted
    * HOF lambda in the expression form; the same reads in plain JVM
    * code cost ~µs/image. Offset-for-offset translation — same
    * BMP/ICO gates (incl. the expression's CLAMPED data-dependent
    * reads on truncated ICO directories), same stride/row/topdown
    * arithmetic, same grid sampling and bit layout — so every dhash
    * bit is identical (ImageDhashSpec's parity test pins it across
    * all three layouts, plants, garbage and malformed blobs). The
    * expression form stays the exhibit (q166/q125-class); banding
    * compositions (q167/q170/q174/q185) read this rung. */
  def imageDhashFast(media: DataFrame, contentCol: String = "content",
                     maxBytes: Int = 1 << 20): DataFrame = {
    require(maxBytes >= 128, s"maxBytes too small: $maxBytes")
    require(!media.columns.contains("dhash"),
      "Multimodal.imageDhashFast: media already has a 'dhash' column — " +
        "rename it first")
    val schema = StructType(media.schema.fields :+
      StructField("dhash", LongType))
    val idx = media.schema.fieldIndex(contentCol)
    val mb = maxBytes
    media.mapPartitions { it =>
      it.map { r =>
        val content = if (r.isNullAt(idx)) null
          else r.get(idx).asInstanceOf[Array[Byte]]
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ dhashJvm(content, mb))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** One blob's 64-bit dHash, or null — the JVM twin of the expression
    * pipeline (byte offsets; the expression works in hex chars). */
  private[multimodal] def dhashJvm(content: Array[Byte],
                                   maxBytes: Int): java.lang.Long = {
    if (content == null) return null
    val p = if (content.length <= maxBytes) content
      else java.util.Arrays.copyOf(content, maxBytes)
    val L = p.length
    @inline def u(i: Int): Int = p(i) & 0xFF
    // fixed-offset LE reads (all gated offsets are inside the length
    // checks below)
    def le(at: Int, n: Int): Long = {
      var v = 0L; var i = n - 1
      while (i >= 0) { v = (v << 8) | u(at + i); i -= 1 }
      v
    }
    // data-dependent reads CLAMP to the prefix like the expression's
    // concat-of-substrings (missing bytes contribute nothing; an
    // entirely-missing read is null)
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

  /** REAL audio/video container-header parsing — sample rate, channel
    * count, bit depth and duration straight from WAV/RIFF and MP4 (ISO
    * BMFF) bytes, built-in expressions only (no codec, no UDF, no
    * mapPartitions): the metadata a 100 TB A/V curation pass filters on
    * (duration caps, sample-rate buckets) without ever decoding a sample.
    * Same machinery as [[imageDims]]: the blob's first `headerBytes` are
    * hexed once and walked with a bounded `aggregate` fold; malformed or
    * truncated input yields NULL, never a throw; blobs never shuffle.
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
    * hopped like any other box when that largesize keeps the walk inside
    * the hexed prefix (its high u32 must be 0 and the size >= 16);
    * anything larger extends past the prefix and ends the walk with the
    * fields found so far — same for size == 0 (to-EOF). This is a bounded
    * header parser, not a demuxer: a non-faststart file whose moov sits
    * after a multi-GiB mdat legitimately yields NULL metadata (raising
    * `headerBytes` cannot reach it); route such files through a demuxer,
    * don't trust a header. All walk-position bounds compare in BIGINT —
    * an untrusted u32/u64 size field can push `pos` past Int.MaxValue,
    * and an INT cast there would throw under ANSI mode instead of
    * honoring the malformed-yields-NULL contract.
    *
    * MP3 (MPEG audio, Layer III): an optional ID3v2 tag is hopped via its
    * SYNCSAFE 28-bit size (four 7-bit bytes — a byte with the high bit
    * set is malformed; the size includes any extended header, so one hop
    * lands on the first frame; ID3v2 FOOTERS are not handled — rare, and
    * they fail safe to NULL fields via the sync check). The frame header
    * yields MPEG version (1/2/2.5), bitrate index and sample-rate index
    * — mapped through the spec's Layer III tables — and the channel
    * mode. duration_ms is the CBR estimate (audio bytes x 8 / bitrate)
    * over the WHOLE blob (octet_length, not the hexed prefix); VBR files
    * without a Xing header misestimate, as every header-only MP3 parser
    * does. Non-Layer-III frames and reserved version/index values yield
    * NULL fields ('mp3' format retained).
    *
    * FLAC: 'fLaC' then STREAMINFO, which the spec REQUIRES to be the
    * first metadata block — a fixed-offset read of its bit-packed core:
    * sample rate (20 bits), channels-1 (3), bits-per-sample-1 (5), total
    * samples (36) packed MSB-first in 8 bytes; parsed as two u32 reads so
    * no value ever touches the sign bit. duration_ms = total samples x
    * 1000 / sample rate — exact, not estimated.
    *
    * Ogg (Opus/Vorbis): 'OggS' + version 0; the first page's payload
    * starts after the VARIABLE-length segment table (27 + the
    * segment-count byte at offset 26 — a fixed payload offset is wrong
    * for any page with more than one lacing value). The payload prefix
    * selects the codec: 'OpusHead' (channel count u8 at payload byte 9,
    * the STORED input_sample_rate u32 LE at 12 — informational per
    * RFC 7845, decode is always 48 kHz; emitted as stored) or
    * '\\x01vorbis' (channels u8 at 11, rate u32 LE at 12). The emitted
    * `codec` column distinguishes them. duration needs the LAST page's
    * granule position — end-of-file, unreachable by a header parser —
    * so it is NULL for ogg.
    *
    * WebM/Matroska (EBML, magic 1A45DFA3): element IDs and sizes are
    * VARINTS — the first byte's leading-bit class encodes each one's
    * length (IDs 1-4 bytes kept with their marker, sizes 1-8 bytes with
    * the marker stripped), so nothing sits at a fixed offset and a walk
    * is mandatory. The fold descends into the EBML head, Segment, Info,
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
    *
    * Output: input columns + av_format
    * ('wav'/'mp4'/'mp3'/'flac'/'ogg'/'webm'/'mkv'/NULL),
    * codec ('opus'/'vorbis' for ogg; the CodecID string for webm/mkv,
    * NULL-ed via try_validate_utf8 if its bytes are not UTF-8 — ANSI
    * decode() would THROW there; NULL where the container already
    * implies the codec or it is unknown), channels (WAV/MP3/FLAC/Ogg/
    * EBML-audio), sample_rate (WAV/MP3/FLAC/Ogg/EBML-audio),
    * bits_per_sample (WAV/FLAC; the others don't carry one), width,
    * height (MP4/EBML video; NULL elsewhere),
    * duration_ms (all but ogg). All reads are length-guarded so a
    * truncated header NULLs rather than assembling a partial-bytes
    * value. Filter the INPUT before calling this — the parse projection
    * is deliberately opaque to predicate pushdown (see [[ndZero]]), so
    * output predicates evaluate row-wise just above the parse. */
  def avMetadata(media: DataFrame, contentCol: String = "content",
                 maxChunks: Int = 16,
                 headerBytes: Int = 64 * 1024,
                 formats: Set[String] = AvFormats): DataFrame = {
    require(maxChunks >= 1 && maxChunks <= 256,
      s"maxChunks must be in [1, 256], got $maxChunks")
    require(headerBytes >= 64,
      s"headerBytes must cover the smallest fmt/mvhd layout (64), got $headerBytes")
    // PER-FORMAT DISPATCH (plan-size, the r13 lesson — see [[imageDims]]):
    // a family's fold compiles into this call's plan only when requested.
    // The magic sniff still labels wav/mp4/mp3/flac/ogg unconditionally
    // (literal prefix tests), but the webm-vs-mkv label itself REQUIRES
    // the EBML walk (DocType is an element, not a magic), so when neither
    // 'webm' nor 'mkv' is requested an EBML blob keeps av_format NULL —
    // the one family whose label costs a fold. Rows outside `formats`
    // keep NULL metadata fields; labels stay truthful.
    require(formats.nonEmpty && formats.subsetOf(AvFormats),
      s"formats must be a non-empty subset of $AvFormats, got $formats")
    def want(fs: String*): Boolean = fs.exists(formats.contains)
    Seq("av_format", "codec", "channels", "sample_rate", "bits_per_sample",
      "width", "height", "duration_ms",
      "__av_hx", "__av_wav", "__av_mp4", "__av_p", "__av_mp3",
      "__av_flac", "__av_ogg", "__av_web").foreach(c =>
      require(!media.columns.contains(c),
        s"Multimodal.avMetadata: media already has a '$c' column — rename " +
          "it first; avMetadata appends its own"))
    // SQL-fragment readers over the hexed prefix (1-based char positions;
    // byte n lives at chars 2n+1..2n+2)
    def le16(at: String) =
      s"""CAST(conv(concat(substring(__av_hx, CAST(($at) AS INT) + 2, 2),
         |substring(__av_hx, CAST(($at) AS INT), 2)), 16, 10) AS BIGINT)""".stripMargin
    def le32(at: String) =
      s"""CAST(conv(concat(substring(__av_hx, CAST(($at) AS INT) + 6, 2),
         |substring(__av_hx, CAST(($at) AS INT) + 4, 2),
         |substring(__av_hx, CAST(($at) AS INT) + 2, 2),
         |substring(__av_hx, CAST(($at) AS INT), 2)), 16, 10) AS BIGINT)""".stripMargin
    def be(at: String, nBytes: Int) =
      s"""CAST(conv(substring(__av_hx, CAST(($at) AS INT), ${2 * nBytes}),
         |16, 10) AS BIGINT)""".stripMargin
    val wavSize = le32("st.pos + 8")
    val wavHop = s"st.pos + 16 + 2 * ($wavSize) + (($wavSize) % 2) * 2"
    def wavSt(pos: String, ch: String, sr: String, br: String, bits: String,
              db: String, done: String) =
      s"""named_struct('pos', $pos, 'ch', $ch, 'sr', $sr, 'br', $br,
         |'bits', $bits, 'db', $db, 'done', $done)""".stripMargin
    lazy val wavFold = expr(s"""
      aggregate(
        sequence(1, $maxChunks),
        ${wavSt(s"CAST(25 AS BIGINT)", "CAST(NULL AS BIGINT)",
          "CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)",
          "CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)", "false")},
        (st, i) -> CASE
          WHEN st.done THEN st
          WHEN st.pos IS NULL OR length(__av_hx) < st.pos + 15
            THEN ${wavSt("st.pos", "st.ch", "st.sr", "st.br", "st.bits",
              "st.db", "true")}
          WHEN substring(__av_hx, CAST(st.pos AS INT), 8) = '666D7420'
               AND length(__av_hx) >= st.pos + 47
               AND ($wavSize) >= 16
            THEN ${wavSt(wavHop, le16("st.pos + 20"), le32("st.pos + 24"),
              le32("st.pos + 32"), le16("st.pos + 44"), "st.db",
              "st.db IS NOT NULL")}
          WHEN substring(__av_hx, CAST(st.pos AS INT), 8) = '64617461'
            THEN ${wavSt(wavHop, "st.ch", "st.sr", "st.br", "st.bits",
              le32("st.pos + 8"), "st.ch IS NOT NULL")}
          ELSE ${wavSt(wavHop, "st.ch", "st.sr", "st.br", "st.bits",
            "st.db", "false")}
        END,
        st -> st)""")
    def mp4St(pos: String, ts: String, dur: String, w: String, h: String,
              done: String) =
      s"""named_struct('pos', $pos, 'ts', $ts, 'dur', $dur,
         |'w', $w, 'h', $h, 'done', $done)""".stripMargin
    val mp4Size = be("st.pos", 4)
    val mp4Hop = s"st.pos + 2 * ($mp4Size)"
    lazy val mp4Fold = expr(s"""
      aggregate(
        sequence(1, $maxChunks),
        ${mp4St("CAST(1 AS BIGINT)", "CAST(NULL AS BIGINT)",
          "CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)",
          "CAST(NULL AS BIGINT)", "false")},
        (st, i) -> CASE
          WHEN st.done THEN st
          WHEN st.pos IS NULL OR length(__av_hx) < st.pos + 15
            THEN ${mp4St("st.pos", "st.ts", "st.dur", "st.w", "st.h", "true")}
          WHEN substring(__av_hx, CAST(st.pos AS INT) + 8, 8) = '6D766864'
            THEN CASE
              WHEN substring(__av_hx, CAST(st.pos AS INT) + 16, 2) = '00'
                   AND length(__av_hx) >= st.pos + 55
                THEN ${mp4St(mp4Hop, be("st.pos + 40", 4),
                  be("st.pos + 48", 4), "st.w", "st.h",
                  "st.w IS NOT NULL")}
              WHEN substring(__av_hx, CAST(st.pos AS INT) + 16, 2) = '01'
                   AND length(__av_hx) >= st.pos + 79
                THEN ${mp4St(mp4Hop, be("st.pos + 56", 4),
                  be("st.pos + 64", 8), "st.w", "st.h",
                  "st.w IS NOT NULL")}
              ELSE ${mp4St("st.pos", "CAST(NULL AS BIGINT)",
                "CAST(NULL AS BIGINT)", "st.w", "st.h", "true")}
            END
          WHEN substring(__av_hx, CAST(st.pos AS INT) + 8, 8) = '746B6864'
            THEN CASE
              WHEN substring(__av_hx, CAST(st.pos AS INT) + 16, 2) = '00'
                   AND length(__av_hx) >= st.pos + 179
                THEN CASE
                  WHEN substring(__av_hx, CAST(st.pos AS INT) + 96, 8)
                         = '00000000'
                       AND substring(__av_hx, CAST(st.pos AS INT) + 128, 8)
                         = '00000000'
                    THEN ${mp4St(mp4Hop, "st.ts", "st.dur",
                      be("st.pos + 176", 2), be("st.pos + 168", 2),
                      "st.ts IS NOT NULL")}
                  ELSE ${mp4St(mp4Hop, "st.ts", "st.dur",
                    be("st.pos + 168", 2), be("st.pos + 176", 2),
                    "st.ts IS NOT NULL")}
                END
              WHEN substring(__av_hx, CAST(st.pos AS INT) + 16, 2) = '01'
                   AND length(__av_hx) >= st.pos + 203
                THEN CASE
                  WHEN substring(__av_hx, CAST(st.pos AS INT) + 120, 8)
                         = '00000000'
                       AND substring(__av_hx, CAST(st.pos AS INT) + 152, 8)
                         = '00000000'
                    THEN ${mp4St(mp4Hop, "st.ts", "st.dur",
                      be("st.pos + 200", 2), be("st.pos + 192", 2),
                      "st.ts IS NOT NULL")}
                  ELSE ${mp4St(mp4Hop, "st.ts", "st.dur",
                    be("st.pos + 192", 2), be("st.pos + 200", 2),
                    "st.ts IS NOT NULL")}
                END
              ELSE ${mp4St("st.pos", "st.ts", "st.dur",
                "CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)", "true")}
            END
          WHEN substring(__av_hx, CAST(st.pos AS INT) + 8, 8) = '6D6F6F76'
               OR substring(__av_hx, CAST(st.pos AS INT) + 8, 8) = '7472616B'
            THEN ${mp4St("st.pos + 16", "st.ts", "st.dur", "st.w", "st.h",
              "false")}
          WHEN ($mp4Size) = 1
            THEN CASE
              WHEN length(__av_hx) >= st.pos + 31
                   AND ${be("st.pos + 16", 4)} = 0
                   AND ${be("st.pos + 24", 4)} >= 16
                THEN ${mp4St(s"st.pos + 2 * (${be("st.pos + 24", 4)})",
                  "st.ts", "st.dur", "st.w", "st.h", "false")}
              ELSE ${mp4St("st.pos", "st.ts", "st.dur", "st.w", "st.h",
                "true")}
            END
          WHEN ($mp4Size) IS NULL OR ($mp4Size) < 8
            THEN ${mp4St("st.pos", "st.ts", "st.dur", "st.w", "st.h", "true")}
          ELSE ${mp4St(mp4Hop, "st.ts", "st.dur", "st.w", "st.h", "false")}
        END,
        st -> st)""")
    // unsigned single-byte reader
    def b(at: String) =
      s"""CAST(conv(substring(__av_hx, CAST(($at) AS INT), 2), 16, 10)
         |AS BIGINT)""".stripMargin
    // MP3: first-frame char position — one hop over an ID3v2 tag via its
    // syncsafe 28-bit size (bytes 6-9, each 7-bit; a high bit set is
    // malformed -> NULL), else byte 0
    lazy val mp3P = expr(s"""
      CASE WHEN substring(__av_hx, 1, 6) = '494433' THEN
        CASE WHEN length(__av_hx) >= 20
                  AND ${b("13")} < 128 AND ${b("15")} < 128
                  AND ${b("17")} < 128 AND ${b("19")} < 128
          THEN CAST(21 + 2 * (${b("13")} * 2097152 + ${b("15")} * 16384 +
                              ${b("17")} * 128 + ${b("19")}) AS BIGINT)
          ELSE CAST(NULL AS BIGINT) END
      ELSE CAST(1 AS BIGINT) END""")
    // MP3 frame header fields: Layer III only; reserved version/index
    // values NULL the whole struct (the validity gate precedes every
    // element_at, so ANSI can never see an out-of-range index)
    val hdr2 = b("__av_p + 2") // version/layer byte
    val hdr3 = b("__av_p + 4") // bitrate/samplerate byte
    lazy val mp3Fields = expr(s"""
      CASE WHEN __av_p IS NOT NULL
                AND length(__av_hx) >= __av_p + 7
                AND substring(__av_hx, CAST(__av_p AS INT), 2) = 'FF'
                AND $hdr2 >= 224
                AND ($hdr2 div 2) % 4 = 1
                AND ($hdr2 div 8) % 4 <> 1
                AND $hdr3 div 16 BETWEEN 1 AND 14
                AND ($hdr3 div 4) % 4 <> 3
        THEN named_struct(
          'kbps', CAST(CASE WHEN ($hdr2 div 8) % 4 = 3
            THEN element_at(
              array(32,40,48,56,64,80,96,112,128,160,192,224,256,320),
              CAST($hdr3 div 16 AS INT))
            ELSE element_at(
              array(8,16,24,32,40,48,56,64,80,96,112,128,144,160),
              CAST($hdr3 div 16 AS INT)) END AS BIGINT),
          'sr', CAST(element_at(
              CASE ($hdr2 div 8) % 4
                WHEN 3 THEN array(44100, 48000, 32000)
                WHEN 2 THEN array(22050, 24000, 16000)
                ELSE array(11025, 12000, 8000) END,
              CAST(($hdr3 div 4) % 4 + 1 AS INT)) AS BIGINT),
          'ch', CAST(CASE WHEN ${b("__av_p + 6")} div 64 = 3
            THEN 1 ELSE 2 END AS BIGINT))
        ELSE CAST(NULL AS STRUCT<kbps: BIGINT, sr: BIGINT, ch: BIGINT>)
      END""")
    // FLAC STREAMINFO bit-packed core, read as two u32s (sign-bit safe):
    // u32a = <sr:20><ch-1:3><bps-1:5><total_hi:4>, u32b = total_lo
    val u32a = "CAST(conv(substring(__av_hx, 37, 8), 16, 10) AS BIGINT)"
    val u32b = "CAST(conv(substring(__av_hx, 45, 8), 16, 10) AS BIGINT)"
    lazy val flacFields = expr(s"""
      CASE WHEN length(__av_hx) >= 52 AND ${b("9")} % 128 = 0
        THEN named_struct(
          'sr', CAST($u32a div 4096 AS BIGINT),
          'ch', CAST(($u32a div 512) % 8 + 1 AS BIGINT),
          'bps', CAST(($u32a div 16) % 32 + 1 AS BIGINT),
          'total', CAST(($u32a % 16) * 4294967296 + $u32b AS BIGINT))
        ELSE CAST(NULL AS
          STRUCT<sr: BIGINT, ch: BIGINT, bps: BIGINT, total: BIGINT>)
      END""")
    // Ogg first-page payload: after the variable-length segment table.
    // The payload char offset is bounded by construction (<= 565), so the
    // INT casts are safe without a BIGINT guard.
    val oggP = s"(55 + 2 * ${b("53")})"
    def oggSt(ch: String, sr: String, codec: String) =
      s"named_struct('ch', $ch, 'sr', $sr, 'codec', $codec)"
    lazy val oggFields = expr(s"""
      CASE WHEN length(__av_hx) >= 54 AND ${b("9")} = 0 THEN
        CASE
          WHEN length(__av_hx) >= $oggP + 31
               AND substring(__av_hx, CAST($oggP AS INT), 16)
                 = '4F70757348656164'
            THEN ${oggSt(b(s"$oggP + 18"), le32(s"$oggP + 24"), "'opus'")}
          WHEN length(__av_hx) >= $oggP + 31
               AND substring(__av_hx, CAST($oggP AS INT), 14)
                 = '01766F72626973'
            THEN ${oggSt(b(s"$oggP + 22"), le32(s"$oggP + 24"), "'vorbis'")}
          ELSE CAST(NULL AS STRUCT<ch: BIGINT, sr: BIGINT, codec: STRING>)
        END
      ELSE CAST(NULL AS STRUCT<ch: BIGINT, sr: BIGINT, codec: STRING>)
      END""")
    // WebM/Matroska (EBML): every element is <id varint><size varint>
    // <payload>, where the FIRST BYTE's leading-bit class encodes each
    // varint's length (>=0x80 -> 1 byte, >=0x40 -> 2, ... id up to 4,
    // size up to 8) and the size's value strips its marker bit
    // (raw - 2^(7*len)). Nothing is at a fixed offset; the walk below
    // DESCENDS into the six container elements (EBML head, Segment, Info,
    // Tracks, TrackEntry, Video/Audio — descending costs id+size only, so
    // a container's size, INCLUDING the all-ones "unknown size" real
    // stream muxers write for Segment, never needs trusting), reads the
    // leaf fields it knows (DocType, TimestampScale, Duration, Pixel
    // Width/Height, Channels, SamplingFrequency, CodecID) and generically
    // hops everything else (Void, SeekHead, CRC-32, TrackNumber, ...) by
    // id-class + size. Duration and SamplingFrequency are EBML FLOATS
    // (IEEE 754 BE, 4 or 8 bytes) decoded arithmetically: sign bit set,
    // inf/nan, or subnormal -> NULL (a negative/non-finite duration is
    // malformed); the decode is exact for the integer-valued floats real
    // muxers write. Sizes are UNTRUSTED so pos rides BIGINT and every
    // bounds check precedes the INT cast; a truncated or malformed
    // element ends the walk KEEPING the fields found so far (a header
    // parser prices what it saw, NULL for the rest); the first Cluster
    // (media data) ends it by contract. Walk budget 3x maxChunks: the
    // EBML head alone has ~7 children before DocTypeReadVersion and each
    // descent spends an iteration.
    //
    // PLAN-SIZE DISCIPLINE: SQL lambdas have no let-bindings, and a
    // naive inlining of the per-iteration intermediates (size-varint
    // length, value, data position — each referencing the others) blew
    // the fold up to a multi-MiB expression whose OPTIMIZER cost taxed
    // every avMetadata plan ~+1.1 s and the 9-family census 10x
    // (measured r13, same mechanism as the pushdown-substitution find).
    // The fold below fakes lets with nested single-element
    // transform(array(x), v -> ...) hops: szp (size-varint position),
    // then s.szl (its length), then v.szv/v.dp (its value / the payload
    // position) are each computed ONCE and referenced as lambda
    // variables; the whole fold shrank ~10x and per-iteration work at
    // execution dropped the same way (the interpreted HOF evaluator
    // re-evaluated every inlined copy).
    // IEEE 754 BE decode at a data position (f32/f64): NULL for sign bit
    // set, inf/nan (max exponent) and subnormals (zero exponent, unless
    // all-zero bits = exact 0.0). Exact for mantissas real durations use.
    def f32(dp: String) =
      s"""CASE WHEN ${b(dp)} >= 128 THEN CAST(NULL AS DOUBLE)
         |WHEN ${be(dp, 4)} = 0 THEN 0.0D
         |WHEN ${be(dp, 4)} div 8388608 IN (0, 255) THEN CAST(NULL AS DOUBLE)
         |ELSE (1.0D + CAST(${be(dp, 4)} % 8388608 AS DOUBLE) / 8388608.0D)
         |* power(2.0D, CAST(${be(dp, 4)} div 8388608 AS DOUBLE) - 127.0D)
         |END""".stripMargin
    def f64(dp: String) =
      s"""CASE WHEN ${b(dp)} >= 128 THEN CAST(NULL AS DOUBLE)
         |WHEN ${be(dp, 8)} = 0 THEN 0.0D
         |WHEN ${be(dp, 8)} div 4503599627370496 IN (0, 2047)
         |  THEN CAST(NULL AS DOUBLE)
         |ELSE (1.0D + CAST(${be(dp, 8)} % 4503599627370496 AS DOUBLE)
         |/ 4503599627370496.0D)
         |* power(2.0D, CAST(${be(dp, 8)} div 4503599627370496 AS DOUBLE)
         |- 1023.0D) END""".stripMargin
    def webSt(pos: String, dt: String, scale: String, dur: String,
              w: String, h: String, ch: String, sr: String, cid: String,
              done: String) =
      s"""named_struct('pos', $pos, 'dt', $dt, 'scale', $scale,
         |'dur', $dur, 'w', $w, 'h', $h, 'ch', $ch, 'sr', $sr,
         |'cid', $cid, 'done', $done)""".stripMargin
    def webKeep(pos: String, done: String,
                over: (String, String)*): String = {
      val f = Map("dt" -> "st.dt", "scale" -> "st.scale", "dur" -> "st.dur",
        "w" -> "st.w", "h" -> "st.h", "ch" -> "st.ch", "sr" -> "st.sr",
        "cid" -> "st.cid") ++ over
      webSt(pos, f("dt"), f("scale"), f("dur"), f("w"), f("h"), f("ch"),
        f("sr"), f("cid"), done)
    }
    // a leaf read inside the innermost lambda: guard the declared size
    // (v.szv) and the hexed prefix, read `value` at v.dp, hop past the
    // payload; malformed/truncated ends the walk keeping prior fields
    def webLeaf(field: String, value: String,
                szCond: String = "v.szv BETWEEN 1 AND 8") =
      s"""CASE WHEN $szCond
         |AND length(__av_hx) >= v.dp + 2 * v.szv - 1
         |THEN ${webKeep("v.dp + 2 * v.szv", "false", field -> value)}
         |ELSE ${webKeep("st.pos", "true")} END""".stripMargin
    // uint payload of v.szv bytes at v.dp
    val webUint =
      """CAST(conv(substring(__av_hx, CAST(v.dp AS INT),
        |CAST(2 * v.szv AS INT)), 16, 10) AS BIGINT)""".stripMargin
    // float payload (EBML floats are f32 or f64)
    val webFloat = s"CASE WHEN v.szv = 4 THEN ${f32("v.dp")} " +
      s"ELSE ${f64("v.dp")} END"
    // string payload (bounded; szCond caps v.szv at 16 bytes)
    val webStr =
      """substring(__av_hx, CAST(v.dp AS INT),
        |CAST(2 * v.szv AS INT))""".stripMargin
    lazy val webmFold = expr(s"""
      aggregate(
        sequence(1, ${3 * maxChunks}),
        ${webSt("CAST(1 AS BIGINT)", "CAST(NULL AS STRING)",
          "CAST(NULL AS BIGINT)", "CAST(NULL AS DOUBLE)",
          "CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)",
          "CAST(NULL AS BIGINT)", "CAST(NULL AS DOUBLE)",
          "CAST(NULL AS STRING)", "false")},
        (st, i) -> CASE
          WHEN st.done THEN st
          WHEN st.pos IS NULL OR length(__av_hx) < st.pos + 3
            THEN ${webKeep("st.pos", "true")}
          ELSE element_at(transform(
            array(st.pos + 2 * (CASE
              WHEN ${b("st.pos")} >= 128 THEN 1
              WHEN ${b("st.pos")} >= 64 THEN 2
              WHEN ${b("st.pos")} >= 32 THEN 3
              WHEN ${b("st.pos")} >= 16 THEN 4 END)),
            szp -> element_at(transform(
              array(named_struct(
                'idh', substring(__av_hx, CAST(st.pos AS INT),
                  CAST(szp - st.pos AS INT)),
                'szl', CASE
                  WHEN ${b("szp")} >= 128 THEN 1
                  WHEN ${b("szp")} >= 64 THEN 2
                  WHEN ${b("szp")} >= 32 THEN 3
                  WHEN ${b("szp")} >= 16 THEN 4
                  WHEN ${b("szp")} >= 8 THEN 5
                  WHEN ${b("szp")} >= 4 THEN 6
                  WHEN ${b("szp")} >= 2 THEN 7
                  WHEN ${b("szp")} >= 1 THEN 8 END)),
              s -> element_at(transform(
                array(named_struct(
                  'idh', s.idh,
                  'szl', s.szl,
                  'szv', CAST(conv(substring(__av_hx, CAST(szp AS INT),
                      2 * s.szl), 16, 10) AS BIGINT)
                    - shiftleft(CAST(1 AS BIGINT), 7 * s.szl),
                  'dp', szp + 2 * s.szl)),
                v -> CASE
                  WHEN v.idh IN ('1A45DFA3', '18538067', '1549A966',
                                 '1654AE6B', 'AE', 'E0', 'E1')
                    THEN ${webKeep("v.dp", "false")}
                  WHEN v.idh = '1F43B675'
                    THEN ${webKeep("st.pos", "true")}
                  WHEN v.idh = '4282'
                    THEN ${webLeaf("dt", webStr,
                      "v.szv BETWEEN 1 AND 16")}
                  WHEN v.idh = '2AD7B1'
                    THEN ${webLeaf("scale", webUint)}
                  WHEN v.idh = '4489'
                    THEN ${webLeaf("dur", webFloat, "v.szv IN (4, 8)")}
                  WHEN v.idh = 'B0'
                    THEN ${webLeaf("w", webUint)}
                  WHEN v.idh = 'BA'
                    THEN ${webLeaf("h", webUint)}
                  WHEN v.idh = '9F'
                    THEN ${webLeaf("ch", webUint)}
                  WHEN v.idh = 'B5'
                    THEN ${webLeaf("sr", webFloat, "v.szv IN (4, 8)")}
                  WHEN v.idh = '86'
                    THEN ${webLeaf("cid", webStr,
                      "v.szv BETWEEN 1 AND 16")}
                  WHEN v.szv IS NULL OR v.szv < 0
                       OR v.szv = shiftleft(CAST(1 AS BIGINT),
                                            7 * v.szl) - 1
                    THEN ${webKeep("st.pos", "true")}
                  ELSE ${webKeep("v.dp + 2 * v.szv", "false")}
                END), 1)), 1)), 1)
        END,
        st -> st)""")
    val hx = col("__av_hx")
    val ebml = want("webm", "mkv")
    val hexed = media
      .withColumn("__av_hx", hex(substring(col(contentCol), 1, headerBytes)))
    // the EBML fold is gated on the magic directly (not av_format):
    // av_format NEEDS its DocType ('webm' vs generic 'mkv' Matroska)
    val withWeb = if (ebml)
      hexed.withColumn("__av_web", when(hx.startsWith("1A45DFA3"), webmFold))
    else hexed
    val sniffed = withWeb
      .withColumn("av_format", {
        val base = when(hx.startsWith("52494646") &&
          substring(hx, 17, 8) === "57415645", "wav")
          .when(substring(hx, 9, 8) === "66747970", "mp4")
          .when(hx.startsWith("494433") ||
            (substring(hx, 1, 2) === "FF" &&
              conv(substring(hx, 3, 2), 16, 10).cast(LongType) >= 224),
            "mp3")
          .when(hx.startsWith("664C6143"), "flac")
          .when(hx.startsWith("4F676753"), "ogg")
        if (!ebml) base
        else base.when(hx.startsWith("1A45DFA3"),
          // 7765626D = 'webm'; any other (or missing) DocType is
          // generic Matroska — 6D6174726F736B61 = 'matroska'
          when(col("__av_web.dt") === "7765626D", "webm")
            .otherwise("mkv"))
      })
    val withFolds = Seq(
      ("__av_wav", want("wav"),
        () => when(col("av_format") === "wav", wavFold)),
      ("__av_mp4", want("mp4"),
        () => when(col("av_format") === "mp4", mp4Fold)),
      ("__av_p", want("mp3"),
        () => when(col("av_format") === "mp3", mp3P)),
      ("__av_mp3", want("mp3"),
        () => when(col("av_format") === "mp3", mp3Fields)),
      ("__av_flac", want("flac"),
        () => when(col("av_format") === "flac", flacFields)),
      ("__av_ogg", want("ogg"),
        () => when(col("av_format") === "ogg", oggFields))
    ).foldLeft(sniffed) { case (df, (name, wanted, mk)) =>
      if (wanted) df.withColumn(name, mk()) else df
    }
    // coalesce over only the requested families' fields; none -> NULL
    def coal(parts: Seq[(Boolean, Column)], orElse: Column): Column =
      parts.collect { case (true, c) => c } match {
        case Seq() => orElse
        case cs    => coalesce(cs: _*)
      }
    val nullL = lit(null).cast(LongType)
    withFolds
      .withColumn("codec", coal(Seq(
        want("ogg") -> col("__av_ogg.codec"),
        // the track's CodecID string, e.g. V_VP9 / A_OPUS. NOT decode():
        // under ANSI decode(bin,'UTF-8') THROWS on invalid bytes (fuzz-
        // caught — one corrupt CodecID would kill a corpus job); the
        // binary->string cast is non-validating and try_validate_utf8
        // turns invalid sequences into NULL
        ebml -> expr(
          "try_validate_utf8(cast(unhex(__av_web.cid) as string))")),
        lit(null).cast("string")))
      .withColumn("channels", coal(Seq(
        want("wav") -> col("__av_wav.ch"), want("mp3") -> col("__av_mp3.ch"),
        want("flac") -> col("__av_flac.ch"),
        want("ogg") -> col("__av_ogg.ch"), ebml -> col("__av_web.ch")),
        nullL) + ndZero)
      .withColumn("sample_rate", coal(Seq(
        want("wav") -> col("__av_wav.sr"), want("mp3") -> col("__av_mp3.sr"),
        want("flac") -> col("__av_flac.sr"),
        want("ogg") -> col("__av_ogg.sr"),
        // SamplingFrequency is an EBML float; integral for real rates
        ebml -> col("__av_web.sr").cast(LongType)),
        nullL) + ndZero)
      .withColumn("bits_per_sample", coal(Seq(
        want("wav") -> col("__av_wav.bits"),
        want("flac") -> col("__av_flac.bps")), nullL) + ndZero)
      .withColumn("width", coal(Seq(
        want("mp4") -> col("__av_mp4.w"), ebml -> col("__av_web.w")),
        nullL) + ndZero)
      .withColumn("height", coal(Seq(
        want("mp4") -> col("__av_mp4.h"), ebml -> col("__av_web.h")),
        nullL) + ndZero)
      .withColumn("duration_ms", whenChain(Seq(
        want("wav") -> (col("av_format") === "wav" && col("__av_wav.br") > 0,
          expr("(__av_wav.db * 1000) div __av_wav.br")),
        want("mp4") -> (col("av_format") === "mp4" && col("__av_mp4.ts") > 0,
          expr("(__av_mp4.dur * 1000) div __av_mp4.ts")),
        // CBR estimate: audio bytes (blob minus the ID3 tag) x 8 bits
        // over kilobits/s lands directly in milliseconds
        want("mp3") -> (col("av_format") === "mp3" &&
          col("__av_mp3.kbps") > 0,
          expr(s"""((octet_length(`$contentCol`) - (__av_p - 1) div 2)
                  | * 8) div __av_mp3.kbps""".stripMargin)),
        want("flac") -> (col("av_format") === "flac" &&
          col("__av_flac.sr") > 0,
          expr("(__av_flac.total * 1000) div __av_flac.sr")),
        // Duration is in TICKS of TimestampScale NANOSECONDS (default
        // 1,000,000 = ms ticks when the Info omits it): ms = ticks x
        // scale / 1e6 — exact for the integral floats real muxers write
        ebml -> (col("av_format").isin("webm", "mkv") &&
          col("__av_web.dur").isNotNull,
          floor(col("__av_web.dur") *
            coalesce(col("__av_web.scale"), lit(1000000L))
              .cast("double") / lit(1000000.0d)).cast(LongType))
      ).collect { case (true, b) => b }) + ndZero)
      .drop("__av_hx", "__av_wav", "__av_mp4", "__av_p", "__av_mp3",
        "__av_flac", "__av_ogg", "__av_web")
  }

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
    * directory record), so this parser hexes BOTH a bounded head prefix
    * and a bounded TAIL suffix — never the whole blob; a 10 GiB archive
    * costs the same two windows as a 10 KiB one, and blobs never
    * shuffle.
    *
    * gzip (RFC 1952): CM byte 2 (8 = deflate -> detail), MTIME u32 LE at
    * bytes 4-7, and ISIZE — the uncompressed size MOD 2^32 by spec — in
    * the LAST four bytes (tail window; requires >= 18 total bytes).
    *
    * ZIP (APPNOTE): the EOCD record sits at EOF behind a VARIABLE-length
    * archive comment, so it is found by a reverse search over the tail
    * window (reverse(hex) + locate of the char-reversed magic finds the
    * LAST occurrence), then VALIDATED: the found record's byte alignment
    * must be even and its comment-length field must equal exactly the
    * bytes remaining after the record — a false magic inside comment
    * bytes or a mid-byte coincidence fails validation and yields NULL,
    * never garbage counts. n_entries = the total-entries u16 — EXCEPT
    * 0xFFFF, which is ZIP64's "see the ZIP64 EOCD" sentinel, not a
    * count: it yields NULL (the real count lives in a separate record
    * this bounded probe does not chase). A comment
    * longer than the tail window (or one embedding the magic bytes)
    * legitimately NULLs — the documented single-probe contract; NULL is
    * the fail-safe triage answer ("open this one the slow way").
    *
    * zstd (RFC 8878): the frame-header descriptor byte gates everything
    * — FCS field size flag (bits 7-6), single-segment (bit 5, decides
    * whether a window descriptor byte follows), dict-ID length (bits
    * 1-0) — so the frame-content-size offset is computed, not fixed;
    * flag 1's u16 stores value-256 per spec. A no-FCS frame (flag 0,
    * multi-segment) yields NULL size: the format genuinely does not
    * declare it.
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
    * never a throw; filter the INPUT before calling (parse outputs are
    * pushdown-opaque via [[ndZero]], as the other parsers). */
  def archiveMetadata(media: DataFrame, contentCol: String = "content",
                      headBytes: Int = 4096,
                      tailBytes: Int = 4096): DataFrame = {
    require(headBytes >= 16, s"headBytes must be >= 16, got $headBytes")
    require(tailBytes >= 26,
      s"tailBytes must cover EOCD + gzip trailer (26), got $tailBytes")
    Seq("format", "detail", "n_entries", "uncompressed_size", "mtime_epoch",
      "__ar_hd", "__ar_tl", "__ar_zo", "__ar_zp").foreach(c =>
      require(!media.columns.contains(c),
        s"Multimodal.archiveMetadata: media already has a '$c' column — " +
          "rename it first; archiveMetadata appends its own"))
    def hb(at: String) = // head byte
      s"""CAST(conv(substring(__ar_hd, CAST(($at) AS INT), 2), 16, 10)
         |AS BIGINT)""".stripMargin
    def hle(at: String, nBytes: Int) = { // head little-endian uint
      val parts = (nBytes - 1 to 0 by -1).map(i =>
        s"substring(__ar_hd, CAST(($at) AS INT) + ${2 * i}, 2)")
      s"CAST(conv(concat(${parts.mkString(", ")}), 16, 10) AS BIGINT)"
    }
    def tle(at: String, nBytes: Int) = { // tail little-endian uint
      val parts = (nBytes - 1 to 0 by -1).map(i =>
        s"substring(__ar_tl, CAST(($at) AS INT) + ${2 * i}, 2)")
      s"CAST(conv(concat(${parts.mkString(", ")}), 16, 10) AS BIGINT)"
    }
    val hd = col("__ar_hd")
    // ZIP EOCD: reverse-search the tail for the LAST occurrence of the
    // magic, derive its char position s, then validate alignment and the
    // comment-runs-to-EOF invariant before trusting any field.
    // '6050B405' is '504B0506' char-reversed.
    val zipFields = expr(s"""
      CASE WHEN locate('6050B405', reverse(__ar_tl)) > 0 THEN
        CASE WHEN (length(__ar_tl) - locate('6050B405', reverse(__ar_tl))
                   - 6) % 2 = 1
                  AND (${tle(s"(length(__ar_tl) - " +
                    s"locate('6050B405', reverse(__ar_tl)) - 6) + 40", 2)})
                    = (length(__ar_tl)
                       - (length(__ar_tl)
                          - locate('6050B405', reverse(__ar_tl)) - 6)
                       + 1) div 2 - 22
          THEN named_struct('n',
            nullif(${tle(s"(length(__ar_tl) - " +
              s"locate('6050B405', reverse(__ar_tl)) - 6) + 20", 2)},
              CAST(65535 AS BIGINT)))
          ELSE CAST(NULL AS STRUCT<n: BIGINT>)
        END
      ELSE CAST(NULL AS STRUCT<n: BIGINT>) END""")
    // zstd frames may be PRECEDED by a skippable frame (RFC 8878 §3.1.2:
    // magic 0x184D2A50..5F LE + u32 LE size + opaque data — metadata
    // sidecars some archivers emit). Sniffing only offset 0 mis-read
    // such files as non-zstd (r13 adversarial-sweep finding). One
    // leading skippable frame is hopped; its UNTRUSTED u32 size is
    // bounded to the head window BEFORE any INT cast (the r13 overflow
    // lesson), so a huge declared size — or a second skippable frame,
    // or a hop past the window — just fails the magic probe and the
    // blob stays NULL-format: fail-safe, never garbage.
    // bound ONCE as the nondeterministic-aliased __ar_zo column (the
    // ndZero let-binding pattern): the CASE below would otherwise inline
    // into every `format` reference and multiply through the plan — the
    // exact blow-up this file's r13 incident documented (first measured
    // here as q137 going 2.5x on the skippable-frame landing).
    val zoffSql =
      s"""(CASE WHEN substring(__ar_hd, 1, 1) = '5'
         |AND substring(__ar_hd, 3, 6) = '2A4D18'
         |AND length(__ar_hd) >= 16
         |AND ${hle("9", 4)} <= $headBytes
         |THEN 17 + 2 * (${hle("9", 4)}) ELSE 1 END)""".stripMargin
    val zoff = "CAST(__ar_zo AS BIGINT)"
    // zstd frame-header descriptor: computed FCS offset + per-flag width
    val fhd = hb(s"$zoff + 8")
    val zstdSize = {
      val fcsFlag = s"($fhd) div 64"
      val ss = s"(($fhd) div 32) % 2"
      val dlen = s"element_at(array(0, 1, 2, 4), CAST(($fhd) % 4 + 1 AS INT))"
      val fcsAt = s"($zoff + 10 + 2 * ((1 - ($ss)) + ($dlen)))"
      s"""CASE
         |WHEN ($fcsFlag) = 0 AND ($ss) = 1
         |     AND length(__ar_hd) >= ($fcsAt) + 1
         |  THEN ${hb(fcsAt)}
         |WHEN ($fcsFlag) = 1 AND length(__ar_hd) >= ($fcsAt) + 3
         |  THEN ${hle(fcsAt, 2)} + 256
         |WHEN ($fcsFlag) = 2 AND length(__ar_hd) >= ($fcsAt) + 7
         |  THEN ${hle(fcsAt, 4)}
         |WHEN ($fcsFlag) = 3 AND length(__ar_hd) >= ($fcsAt) + 15
         |     AND ${hle(s"($fcsAt) + 8", 4)} < 2147483648
         |  THEN ${hle(fcsAt, 4)} + shiftleft(${hle(s"($fcsAt) + 8", 4)}, 32)
         |ELSE CAST(NULL AS BIGINT) END""".stripMargin
    }
    media
      .withColumn("__ar_hd", hex(substring(col(contentCol), 1, headBytes)))
      .withColumn("__ar_tl",
        hex(substring(col(contentCol), -tailBytes, tailBytes)))
      .withColumn("__ar_zo", expr(zoffSql) + ndZero)
      .withColumn("format",
        when(hd.startsWith("1F8B"), "gzip")
          .when(hd.startsWith("504B0304") || hd.startsWith("504B0506"),
            "zip")
          .when(expr(
            s"substring(__ar_hd, CAST($zoff AS INT), 8)") === "28B52FFD",
            "zstd")
          .when(hd.startsWith("FD377A585A00"), "xz")
          .when(hd.startsWith("425A68") &&
            substring(hd, 7, 2).between("31", "39"), "bz2"))
      .withColumn("__ar_zp", when(col("format") === "zip", zipFields))
      .withColumn("detail",
        when(col("format") === "gzip" && expr(hb("5")) === 8, "deflate")
          .when(col("format") === "xz",
            when(substring(hd, 15, 2) === "00", "none")
              .when(substring(hd, 15, 2) === "01", "crc32")
              .when(substring(hd, 15, 2) === "04", "crc64")
              .when(substring(hd, 15, 2) === "0A", "sha256"))
          .when(col("format") === "bz2",
            concat(lit("level-"),
              (expr(hb("7")) - 48).cast(StringType))))
      .withColumn("n_entries", col("__ar_zp.n") + ndZero)
      .withColumn("uncompressed_size",
        when(col("format") === "gzip" &&
          octet_length(col(contentCol)) >= 18,
          expr(tle("length(__ar_tl) - 7", 4)))
          .when(col("format") === "zstd" &&
            expr(s"length(__ar_hd) >= $zoff + 9"),
            expr(zstdSize)) + ndZero)
      .withColumn("mtime_epoch",
        when(col("format") === "gzip" && expr("length(__ar_hd) >= 16"),
          expr(hle("9", 4))) + ndZero)
      .drop("__ar_hd", "__ar_tl", "__ar_zo", "__ar_zp")
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

  /** STUB decoder: a real implementation would parse the codec and emit
    * pixel/sample features. This fake derives a deterministic 4-dim
    * "embedding" from the content hash so downstream plumbing (schema,
    * batching, joins) is fully exercisable and reproducible. */
  object FakeDecoder {
    def decode(row: MediaRow): MediaFeatures = {
      val hex = md5hex(row.content)
      val feature = Array.tabulate(4) { j =>
        // same arithmetic as the SQL oracle: (h60(md5(bytes)#j) % 1000)/1000
        val hj = md5hex((hex + "#f" + j).getBytes("UTF-8"))
        java.lang.Long.parseLong(hj.substring(0, 15), 16) % 1000 / 1000.0
      }
      MediaFeatures(row.media_id, row.kind, row.content.length.toLong, hex, feature)
    }
  }

  private def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString

  /** Batch feature extraction: `mapPartitions` so decoder init happens once
    * per partition (the pandas-UDF batch analogue). Repartitions to
    * `parallelism` so blob batches are balanced regardless of upstream file
    * splits. */
  def extractFeatures(spark: SparkSession, media: DataFrame,
                      parallelism: Int = 0): Dataset[MediaFeatures] = {
    import spark.implicits._
    val src = (if (parallelism > 0) media.repartition(parallelism) else media)
      .select("media_id", "kind", "content").as[MediaRow]
    src.mapPartitions { it =>
      // per-partition init would go here (codec context, model weights)
      it.map(FakeDecoder.decode)
    }
  }
}
