package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.{Audio, Jpeg, Multimodal, Pdf, Png}

/** Golden tables for the media parsers, kept in
  * `src/test/resources/media_parser_goldens.tsv`.
  *
  * The `dims`, `av`, `dhash` and `afp` groups were recorded from the
  * hex/`aggregate`-fold expression parsers that preceded the one JVM
  * decoder per format, over the fixtures below: every synth family over
  * a wide id range (negative ids included), six truncations of every
  * image family, hand-built malformed and garbage blobs, and the q133
  * census aggregates over the sf0.001 documents. The `dhash/png`,
  * `dhash/jpeg`, `archive` and `pdf` groups were recorded from the code
  * paths that preceded `image_dhash`'s PNG/JPEG dispatch and the
  * `archive_metadata`, `pdf_triage` and `pdf_text` expressions: the
  * `mapPartitions` PNG/JPEG rungs, the hex/regex SQL builds and the
  * `Row`-encoder text extractor; documents 16 and 17 of
  * `pdf/text/crafted/caps` were re-recorded once the composite-font scan
  * read a string literal cut by the stream cap as string content, not
  * as dict names. Each line is `group <TAB> payload`. Small groups
  * store their rendered rows verbatim; a large group stores one line,
  * `sha256=<hex> rows=<n>`, the digest of its sorted rendered rows.
  * A rendered row is the key and the parser's output columns joined by
  * tabs, NULL as `\N`. */
object MediaGoldens {

  val resource = "/media_parser_goldens.tsv"

  val dimsCols = Seq("format", "width", "height", "orientation")
  val avCols = Seq("av_format", "codec", "channels", "sample_rate",
    "bits_per_sample", "width", "height", "duration_ms")

  def hx(s: String): Array[Byte] =
    s.grouped(2).map(b => Integer.parseInt(b, 16).toByte).toArray

  /** The id range every synth family is checked over. */
  val wideIds: Seq[Long] = (-300L to 300L) ++ (99990L to 100050L)
  val avIds: Seq[Long] = (-300L to 300L) ++ (100000L to 100050L)
  val truncIds: Seq[Long] = 0L to 40L
  val cuts: Seq[Int] = Seq(3, 7, 11, 15, 21, 33)

  def imageFamilies(ids: DataFrame): Seq[(String, DataFrame)] = Seq(
    "png_jpeg" -> Multimodal.synthImageBytes(ids, "doc_id"),
    "gif_webp" -> Multimodal.synthWebImageBytes(ids, "doc_id"),
    "bmp_ico" -> Multimodal.synthBmpIcoBytes(ids, "doc_id"),
    "tiff" -> Multimodal.synthTiffBytes(ids, "doc_id"),
    "isobmff" -> Multimodal.synthIsobmffBytes(ids, "doc_id"),
    "jpeg_exif" -> Multimodal.synthExifJpegBytes(ids, "doc_id"))

  def avFamilies(ids: DataFrame): Seq[(String, DataFrame)] = Seq(
    "wav_mp4" -> Multimodal.synthAvBytes(ids, "doc_id"),
    "mp3_flac" -> Multimodal.synthAudioBytes(ids, "doc_id"),
    "ogg" -> Multimodal.synthOggBytes(ids, "doc_id"),
    "webm_mkv" -> Multimodal.synthWebmBytes(ids, "doc_id"))

  /** Truncated prefixes of every image family: (group, frame). */
  def imageTruncations(spark: SparkSession): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val ids = truncIds.toDF("doc_id")
    for ((fam, df) <- imageFamilies(ids); cut <- cuts) yield
      s"dims/trunc/$fam/c$cut" -> df.select(
        col("media_id").cast("string").as("media_id"),
        expr(s"substring(content, 1, $cut)").as("content"))
  }

  val imageMalformed: Seq[(Long, Array[Byte])] = Seq(
    1L -> null,
    2L -> Array.empty[Byte],
    3L -> hx("FFD8FFD9"), // jpeg: immediate EOI, no SOF
    4L -> hx("FFD8FFFFFFFF"), // jpeg: fill bytes then truncation
    5L -> hx("FFD8FFE1000A457869660000AABB"), // Exif APP1, garbage TIFF
    6L -> hx("FFD8FFE1001045786966000049492A00080000"), // Exif, cut IFD
    7L -> hx("89504E470D0A1A0A0000000D49484452000001"), // png cut in IHDR
    8L -> hx("474946383961FF"), // gif cut before dims
    9L -> hx("52494646080000005745425056503858"), // webp VP8X, no payload
    10L -> hx("424D000000000000000000000000" + "0C000000" + "11002200"),
    11L -> hx("49492A00FFFFFFFF"), // tiff IFD offset far past prefix
    12L -> hx("4D4D002A00000008000100FF"), // tiff BE, entry cut mid-tag
    13L -> hx("0000010001000000"), // ico dir, no entry dims
    14L -> hx("0000001C667479706176696600000000" +
      "0000000C69737065"), // avif: ispe DECLARING size 12 (< 20)
    15L -> hx("00000010667479706D69663100000000" + "FFFFFFFF6D657461"),
    16L -> hx("000000106674797069736F6D00000000")) // isom: NOT an image

  val avMalformed: Seq[(Long, Array[Byte])] = Seq(
    1L -> null,
    2L -> Array.empty[Byte],
    3L -> hx("52"), // 'R'
    4L -> hx("52494646"), // RIFF, truncated before WAVE
    5L -> hx("5249464600000000" + "57415645"), // RIFF/WAVE, no chunks
    // RIFF/WAVE with an odd-sized junk chunk then truncated fmt
    6L -> hx("524946461C00000057415645" + "6A756E6B03000000AABBCC00" +
      "666D7420100000000100"),
    // fmt declaring size 8 (< 16): fields must NOT be read
    7L -> hx("524946462400000057415645" + "666D742008000000" +
      "01000200401F0000" + "6461746104000000AABBCCDD"),
    8L -> hx("000000086674797069736F6D"), // bare ftyp, nothing else
    // mvhd version 7 (unknown): ts/dur nulled, walk done
    9L -> hx("0000006C6674797069736F6D" + "000000146D766864" +
      "07000000" + "00" * 12),
    10L -> hx("494433040000000000"), // ID3 truncated before size end
    11L -> hx("4944330400000000000010"), // ID3 + tag, no frame
    12L -> hx("FFFB9000" + "00" * 8), // bare MPEG1 L3 frame header
    13L -> hx("FFE21000" + "00" * 8), // reserved version bits
    14L -> hx("664C6143" + "00" * 10), // fLaC truncated STREAMINFO
    15L -> hx("664C614380000022" + "12345678" + "0AC44218" + "00" * 20),
    16L -> hx("4F67675300" + "00" * 40), // OggS v0, zero segments, junk
    17L -> hx("4F67675301" + "00" * 40), // OggS bad version
    18L -> hx("1A45DFA3"), // EBML magic alone
    19L -> hx("1A45DFA3934282847765626D"), // head + DocType webm
    20L -> hx("1A45DFA39342828477656262"), // DocType 'webb' -> mkv
    // EBML: unknown-size element then Cluster
    21L -> hx("1A45DFA3FF1F43B67580"),
    // EBML: Duration f32 with sign bit (-> null duration)
    22L -> hx("1A45DFA39A18538067941549A9668E4489" + "84C2480000"),
    23L -> hx("00112233445566778899"), // garbage
    24L -> ("RIFF....WAVE".getBytes("ISO-8859-1") ++
      Array.fill(200)(0x41.toByte)))

  /** Garbage, truncated pixels, a truncated ICO directory (the clamped
    * data-dependent reads), 8-bpp palette bytes, empty, null, and a
    * valid control image. */
  def dhashMalformed(spark: SparkSession): Seq[(Long, Array[Byte])] = {
    import spark.implicits._
    val valid3 = Multimodal.synthDhashImageBytes(
      Seq(3L).toDF("doc_id"), "doc_id")
      .select($"content").as[Array[Byte]].collect().head
    Seq(
      1L -> null,
      2L -> Array.empty[Byte],
      3L -> valid3.take(100),            // truncated mid-pixel-array
      4L -> Array.fill[Byte](200)(0x42), // 8-bpp-ish garbage
      5L -> hx("00000100" + "0100" + "00" * 10 + "16000000"), // ICO dir only
      6L -> hx("00000100" + "0100" + "00" * 10 + "16000000" + "28000000"
        + "09000000"),                   // ICO DIB truncated mid-header
      7L -> hx("424D" + "00" * 60),      // BM magic, zeroed DIB
      8L -> valid3)                      // control: must decode
  }

  /** fmt declaring a non-PCM format, bits = 0, a float clip with one
    * +Inf sample, a data chunk declared longer than its payload. */
  val audioMalformed: Seq[(Long, Array[Byte])] = {
    def wavHdr(afmt: Int, bits: Int, nData: Int): String = {
      def le2(v: Int) = f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X"
      def le4(v: Int) = le2(v & 0xFFFF) + le2(v >>> 16)
      "52494646" + le4(200) + "57415645" + "666D7420" + le4(16) +
        le2(afmt) + le2(2) + le4(8000) + le4(32000) + le2(4) + le2(bits) +
        "64617461" + le4(nData)
    }
    val inf32 = "0000803F" * 70 + "0000807F" + "0000803F" * 69
    Seq(
      1L -> null, 2L -> Array.empty[Byte], 3L -> hx("52494646"),
      4L -> hx(wavHdr(1, 16, 280) + "AA" * 280),
      5L -> hx(wavHdr(2, 16, 280) + "AA" * 280), // afmt 2: not decodable
      6L -> hx(wavHdr(1, 0, 280) + "AA" * 280),  // bits 0
      7L -> hx(wavHdr(3, 32, 560) + inf32),      // float with +Inf
      8L -> hx(wavHdr(1, 16, 600) + "AA" * 100)) // declared > payload
  }

  /** The documents' ids, the input of both q133 census halves (rows and
    * summed width, and duration, per format label). */
  private def censusDocs(spark: SparkSession, sf: String): DataFrame =
    graft.sources.Sources.table(spark, sf, "documents").select("doc_id")

  type Groups = Seq[(String, Seq[String])]

  def dimsSynth(spark: SparkSession): Groups = {
    import spark.implicits._
    imageFamilies(wideIds.toDF("doc_id")).map { case (fam, df) =>
      s"dims/synth/$fam" -> Seq(digestLine(
        rows(Multimodal.imageDims(df), "media_id", dimsCols)))
    }
  }

  def dimsTrunc(spark: SparkSession): Groups =
    imageTruncations(spark).map { case (g, df) =>
      g -> Seq(digestLine(rows(Multimodal.imageDims(df), "media_id", dimsCols)))
    }

  def dimsMalformed(spark: SparkSession): Groups = {
    import spark.implicits._
    Seq("dims/malformed" -> rows(Multimodal.imageDims(
      imageMalformed.toDF("media_id", "content")), "media_id", dimsCols))
  }

  def dimsCensus(spark: SparkSession, sf: String): Groups = {
    val d = censusDocs(spark, sf)
    val img = imageFamilies(d).collect {
      case (fam, df) if fam != "jpeg_exif" => df // q133's five families
    }.reduce(_ unionByName _)
    Seq("dims/census" -> rows(Multimodal.imageDims(img)
      .groupBy("format")
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("width"), lit(0L))).as("sum_w")),
      "format", Seq("n", "sum_w")))
  }

  def avSynth(spark: SparkSession): Groups = {
    import spark.implicits._
    avFamilies(avIds.toDF("doc_id")).map { case (fam, df) =>
      s"av/synth/$fam" -> Seq(digestLine(
        rows(Multimodal.avMetadata(df), "media_id", avCols)))
    }
  }

  def avMalformedRows(spark: SparkSession): Groups = {
    import spark.implicits._
    Seq("av/malformed" -> rows(Multimodal.avMetadata(
      avMalformed.toDF("doc_id", "content")), "doc_id", avCols))
  }

  def avCensus(spark: SparkSession, sf: String): Groups = {
    val av = avFamilies(censusDocs(spark, sf)).map(_._2)
      .reduce(_ unionByName _)
    Seq("av/census" -> rows(Multimodal.avMetadata(av)
      .groupBy("av_format")
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("width"), lit(0L))).as("sum_w"),
        sum(coalesce(col("duration_ms"), lit(0L))).as("sum_dur")),
      "av_format", Seq("n", "sum_w", "sum_dur")))
  }

  def dhash(spark: SparkSession): Groups = {
    import spark.implicits._
    Seq(
      "dhash/synth" -> Seq(digestLine(rows(Multimodal.imageDhash(
        Multimodal.synthDhashImageBytes(wideIds.toDF("doc_id"), "doc_id")),
        "media_id", Seq("dhash")))),
      "dhash/malformed" -> rows(Multimodal.imageDhash(
        dhashMalformed(spark).toDF("media_id", "content")),
        "media_id", Seq("dhash")))
  }

  def audio(spark: SparkSession): Groups = {
    import spark.implicits._
    Seq(
      "afp/synth" -> Seq(digestLine(rows(Audio.audioEnergyFingerprint(
        Audio.synthWavPcmBytes(wideIds.toDF("doc_id"), "doc_id")),
        "media_id", Seq("afp")))),
      "afp/malformed" -> rows(Audio.audioEnergyFingerprint(
        audioMalformed.toDF("media_id", "content")),
        "media_id", Seq("afp")))
  }

  // ---- PNG/JPEG dHash, archive metadata, PDF triage and PDF text ----

  val archiveCols = Seq("format", "detail", "n_entries", "uncompressed_size",
    "mtime_epoch")
  val triageCols = Seq("pdf_version", "linearized", "n_pages_approx",
    "startxref", "has_eof", "encrypted")
  val textCols = Seq("pdf_text", "n_show_ops", "pdf_text_truncated",
    "pdf_composite_font")

  /** Every synth container family the header-parser fuzz feeds. */
  def fuzzFamilies(ids: DataFrame): Seq[(String, DataFrame)] =
    imageFamilies(ids) ++ avFamilies(ids) ++ Seq(
      "archive" -> Multimodal.synthArchiveBytes(ids, "doc_id"),
      "pdf" -> Pdf.synthPdfBytes(ids, "doc_id"),
      "png" -> Png.synthPngImageBytes(ids, "doc_id"),
      "jpeg" -> Jpeg.synthJpegImageBytes(ids, "doc_id"))

  /** (key, content): every `step`-th prefix of each blob (`t:<id>:<k>`)
    * and, per byte of `bytes`, the blob with that byte written at an
    * id-derived position (`c<byte>:<id>`). */
  def mutations(fam: DataFrame, bytes: Seq[String] = Seq("00", "80", "FF"),
                step: Int = 1): DataFrame = {
    val id = col("media_id")
    val truncated = fam.select(id,
        explode(sequence(lit(0), octet_length(col("content")), lit(step)))
          .as("k"))
      .join(fam, Seq("media_id"))
      .select(concat_ws(":", lit("t"), id, col("k")).as("key"),
        expr("substring(content, 1, k)").as("content"))
    val corrupted = bytes.map { b =>
      fam.select(concat_ws(":", lit("c" + b), id).as("key"),
        concat(
          expr("substring(content, 1, " +
            "pmod(media_id * 31, octet_length(content)))"),
          unhex(lit(b)),
          expr("substring(content, " +
            "pmod(media_id * 31, octet_length(content)) + 2, " +
            "2147483647)")).as("content"))
    }
    (truncated +: corrupted).reduce(_ unionAll _)
  }

  /** The ids of the header-parser fuzz. */
  val fuzzIds: Seq[Long] = 0L until 48L

  /** PNG: every prefix of a valid image, a corrupted IDAT byte, IHDR
    * patched to interlaced / 16-bit / palette-without-PLTE (CRC fixed),
    * and trailing garbage after IEND (tolerated). */
  def pngMalformed: Seq[(Long, Array[Byte])] = {
    val good = Png.synthPngBytes(7L)
    val idatAt = {
      var p = 8; var found = -1
      while (found < 0) {
        val len = java.nio.ByteBuffer.wrap(good, p, 4).getInt
        if (new String(good, p + 4, 4, "US-ASCII") == "IDAT") found = p + 8
        else p = p + 12 + len
      }
      found
    }
    val corrupt = good.clone()
    corrupt(idatAt) = (corrupt(idatAt) ^ 0x55).toByte
    def patched(at: Int, v: Int): Array[Byte] = {
      val b = good.clone(); b(at) = v.toByte
      val crc = new java.util.zip.CRC32()
      crc.update(b, 12, 4 + 13)
      java.nio.ByteBuffer.wrap(b, 12 + 17, 4).putInt(crc.getValue.toInt)
      b
    }
    (0 to good.length).map(cut => cut.toLong -> good.take(cut)) ++ Seq(
      1001L -> corrupt,
      1002L -> patched(8 + 4 + 4 + 12, 1), // interlaced
      1003L -> patched(8 + 4 + 4 + 8, 16), // 16-bit depth
      1004L -> patched(8 + 4 + 4 + 9, 3), // palette, no PLTE
      1005L -> (good ++ Array[Byte](1, 2, 3)))
  }

  /** JPEG: every 25-byte prefix of a valid image, every byte XOR 0x5A,
    * a pixel-bomb SOF (65535 x 65535) and a DHT blanked into an APP
    * marker. */
  def jpegMalformed: Seq[(Long, Array[Byte])] = {
    val good = Jpeg.synthJpegBytes(0L)
    def at(marker: Int): Int = (0 until good.length - 1).find(i =>
      (good(i) & 0xFF) == 0xFF && (good(i + 1) & 0xFF) == marker).get
    val bomb = good.clone()
    (5 to 8).foreach(k => bomb(at(0xC0) + k) = 0xFF.toByte)
    val noTables = good.clone()
    noTables(at(0xC4) + 1) = 0xE5.toByte
    (0 to good.length by 25).map(cut => cut.toLong -> good.take(cut)) ++
      good.indices.map { i =>
        val c = good.clone(); c(i) = (c(i) ^ 0x5A).toByte
        (10000L + i) -> c
      } ++ Seq(20001L -> bomb, 20002L -> noTables)
  }

  def dhashDecoded(spark: SparkSession): Groups = {
    import spark.implicits._
    val ids = wideIds.toDF("doc_id")
    Seq(
      "dhash/png/synth" -> Multimodal.imageDhash(
        Png.synthPngImageBytes(ids, "doc_id")),
      "dhash/png/malformed" -> Multimodal.imageDhash(
        pngMalformed.toDF("media_id", "content")),
      "dhash/jpeg/synth" -> Multimodal.imageDhash(
        Jpeg.synthJpegImageBytes(ids, "doc_id")),
      "dhash/jpeg/malformed" -> Multimodal.imageDhash(
        jpegMalformed.toDF("media_id", "content"))
    ).map { case (g, df) =>
      g -> Seq(digestLine(rows(df, "media_id", Seq("dhash"))))
    }
  }

  /** Synth families over the wide ids, and every fuzz family's mutations
    * at the default and the minimum bounds. */
  def archiveAndTriage(spark: SparkSession): Groups = {
    import spark.implicits._
    val ids = wideIds.toDF("doc_id")
    val synth = Seq(
      "archive/synth" -> rows(Multimodal.archiveMetadata(
        Multimodal.synthArchiveBytes(ids, "doc_id")), "media_id", archiveCols),
      "pdf/triage/synth" -> rows(Pdf.pdfTriage(
        Pdf.synthPdfBytes(ids, "doc_id")), "media_id", triageCols))
    val fuzz = fuzzFamilies(fuzzIds.toDF("doc_id")).flatMap { case (fam, df) =>
      val m = mutations(df)
      Seq(
        s"archive/fuzz/$fam/default" ->
          rows(Multimodal.archiveMetadata(m), "key", archiveCols),
        s"archive/fuzz/$fam/min" -> rows(Multimodal.archiveMetadata(m,
          headBytes = 16, tailBytes = 26), "key", archiveCols),
        s"pdf/triage/fuzz/$fam/default" ->
          rows(Pdf.pdfTriage(m), "key", triageCols),
        s"pdf/triage/fuzz/$fam/min" -> rows(Pdf.pdfTriage(m,
          headBytes = 16, tailBytes = 32), "key", triageCols))
    }
    (synth ++ fuzz).map { case (g, r) => g -> Seq(digestLine(r)) }
  }

  // ---- crafted PDF documents ----

  def zlib(s: String): Array[Byte] = zlib(s.getBytes("ISO-8859-1"))

  def zlib(bytes: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(bytes); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def latin1(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  /** A PDF of one stream object per (dict extras, data), then a trailer. */
  def pdfWith(streams: (String, Array[Byte])*): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    bo.write(latin1("%PDF-1.7\n"))
    streams.zipWithIndex.foreach { case ((dict, data), i) =>
      bo.write(latin1(s"${i + 4} 0 obj\n<< $dict /Length ${data.length} >>" +
        "\nstream\n"))
      bo.write(data)
      bo.write(latin1("\nendstream\nendobj\n"))
    }
    bo.write(latin1("trailer << /Size 9 >>\nstartxref\n1\n%%EOF\n"))
    bo.toByteArray
  }

  /** The text extractor's crafted documents by id; PdfSpec states what
    * each one must extract. */
  lazy val pdfCrafted: Map[Long, Array[Byte]] = {
    val garbage = {
      // pseudo-random bytes with unbalanced '(' and a lone '<'
      val rnd = new scala.util.Random(42)
      val g = Array.fill(4096)(rnd.nextInt(256).toByte)
      g(10) = '('; g(500) = '<'; g(3000) = '('
      g
    }
    Map(
      // 1-4: Flate inflates, raw and Flate streams concatenate, an image
      // filter is skipped, non-PDF bytes
      1L -> pdfWith("/Filter /FlateDecode" ->
        zlib("BT /F1 12 Tf (Compressed hello) Tj ET")),
      2L -> pdfWith("/Filter /FlateDecode" -> zlib("BT (part one) Tj ET"),
        "" -> latin1("BT [(part ) -200 (two)] TJ ET")),
      3L -> pdfWith("/Filter /DCTDecode" -> latin1("(fake jpeg) Tj BT ET"),
        "" -> latin1("BT (after image) Tj ET")),
      4L -> latin1("plain text, no header"),
      // 5-6: a /Length far past the data; an honest /Length whose data
      // holds the literal 'endstream'
      5L -> latin1("%PDF-1.7\n4 0 obj\n<< /Length 99999 >>\nstream\n" +
        "BT (survived the lie) Tj ET\nendstream\nendobj\n%%EOF\n"),
      6L -> pdfWith("" -> latin1("BT (real) Tj ET % endstream inside a " +
        "comment\nBT (tail) Tj ET")),
      // 7-9: cut mid-stream, a 5000-char show, a garbage Flate stream
      7L -> latin1("%PDF-1.7\n4 0 obj\n<< /Length 999 >>\nstream\n" +
        "BT (kept before the cut) Tj ET"),
      8L -> pdfWith("" -> latin1("BT (" + "x" * 5000 + ") Tj ET")),
      9L -> pdfWith("/Filter /FlateDecode" -> latin1("THIS IS NOT ZLIB"),
        "" -> latin1("BT (good) Tj ET")),
      // 10: escapes, octal, nesting, odd hex, shows outside BT..ET
      10L -> pdfWith("" -> latin1("(decoy before text object) Tj\n" +
        "BT (nest(ed) parens) Tj (oct \\101\\102\\7) Tj " +
        "(esc \\( \\) \\\\ \\n fin) Tj <48692> Tj ET\n" +
        "(decoy after) Tj")),
      // 11-17: composite-font detection and its decoys
      11L -> pdfWith("" -> latin1("BT (plain text) Tj ET")),
      12L -> latin1("%PDF-1.6\n6 0 obj\n<< /Type /Font /Subtype /Type0 " +
        "/Encoding /Identity-H >>\nendobj\n4 0 obj\n<< /Length 21 >>\n" +
        "stream\nBT (looks fine) Tj ET\nendstream\nendobj\n%%EOF\n"),
      13L -> pdfWith("/Filter /FlateDecode" ->
        zlib("<< /Subtype /Type0 /Encoding /Identity-H >>"),
        "" -> latin1("BT (also fine) Tj ET")),
      14L -> pdfWith("" -> latin1("BT <00480069006D006F006A0069> Tj ET")),
      15L -> pdfWith("" -> latin1("BT /Type01 (legit) Tj ET")),
      16L -> pdfWith("" ->
        latin1("BT (Use /Type0 with /Identity-H encoding) Tj ET")),
      17L -> pdfWith("" ->
        latin1("BT (fonts \\(see /Type0 spec\\) are fun) Tj ET")),
      // 18-19: a Flate stream inflating to binary garbage, alone and
      // after a clean Type0 declaration
      18L -> pdfWith("/Filter /FlateDecode" -> zlib(garbage),
        "" -> latin1("BT (still fine) Tj ET")),
      19L -> pdfWith("/Filter /FlateDecode" ->
        zlib(latin1(" << /Type /Font /Subtype /Type0 >> ") ++ garbage),
        "" -> latin1("BT (gone now) Tj ET")))
  }

  def pdfText(spark: SparkSession): Groups = {
    import spark.implicits._
    val ids = wideIds.toDF("doc_id")
    val text = Pdf.synthTextPdfBytes(fuzzIds.toDF("doc_id"), "doc_id")
    Seq(
      "pdf/text/synth/text" -> Seq(digestLine(rows(Pdf.extractPdfText(
        Pdf.synthTextPdfBytes(ids, "doc_id")), "media_id", textCols))),
      "pdf/text/synth/composite" -> Seq(digestLine(rows(Pdf.extractPdfText(
        Pdf.synthCompositePdfBytes(ids, "doc_id")), "media_id", textCols))),
      "pdf/text/crafted" -> rows(Pdf.extractPdfText(
        pdfCrafted.toSeq.toDF("media_id", "content")), "media_id", textCols),
      "pdf/text/crafted/caps" -> rows(Pdf.extractPdfText(
        pdfCrafted.toSeq.toDF("media_id", "content"),
        maxStreamBytes = 24, maxTextChars = 100), "media_id", textCols),
      "pdf/text/fuzz" -> Seq(digestLine(rows(Pdf.extractPdfText(
        mutations(text, Seq("00", "28", "5C"), 7), maxTextChars = 64),
        "key", textCols))))
  }

  private def cell(v: Any): String = v match {
    case null => "\\N"
    case s: String => s.flatMap {
      case '\\' => "\\\\"; case '\t' => "\\t"; case '\n' => "\\n"
      case c => c.toString
    }
    case o => o.toString
  }

  /** The sorted rendered rows of `cols` keyed by the frame's `key`. */
  def rows(df: DataFrame, key: String, cols: Seq[String]): Seq[String] =
    df.select((key +: cols).map(col): _*).collect().toSeq
      .map(r => r.toSeq.map(cell).mkString("\t")).sorted

  def sha256(lines: Seq[String]): String =
    MessageDigest.getInstance("SHA-256").digest(lines.mkString("\n")
      .getBytes(UTF_8)).map(b => f"${b & 0xFF}%02x").mkString

  /** A large group's one-line payload. */
  def digestLine(lines: Seq[String]): String =
    s"sha256=${sha256(lines)} rows=${lines.size}"

  private lazy val recorded: Map[String, Seq[String]] = load()

  /** The groups whose payload differs from the recorded one, each with a
    * few of its current rows for diagnosis. */
  def mismatches(groups: Groups): Seq[String] = groups.collect {
    case (g, got) if !recorded.get(g).contains(got) =>
      s"$g: recorded ${recorded.getOrElse(g, Nil).take(3)} got ${got.take(3)}"
  }

  /** group -> payload lines, in file order. */
  private def load(): Map[String, Seq[String]] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(resource), "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).toSeq
      .map { l => val t = l.indexOf('\t'); l.take(t) -> l.drop(t + 1) }
      .groupBy(_._1).map { case (g, ls) => g -> ls.map(_._2) }
    finally src.close()
  }
}
