package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Pdf

class PdfSpec extends SparkSpec {
  import spark.implicits._
  import MediaGoldens.{mismatches, mutations, pdfCrafted}

  private def triage(rows: (Long, String)*) =
    Pdf.pdfTriage(rows.toDF("media_id", "txt")
      .select($"media_id", $"txt".cast("binary").as("content")))
      .select($"media_id", $"pdf_version", $"linearized",
        $"n_pages_approx", $"startxref", $"has_eof", $"encrypted")
      .as[(Long, Option[String], Option[Boolean], Option[Long],
        Option[Long], Option[Boolean], Option[Boolean])]
      .collect().sortBy(_._1).toSeq

  test("pdfTriage: golden documents — precedence, decoys, truncation, " +
      "incremental updates, garbage") {
    val lin = "%PDF-1.6\n" +
      "1 0 obj\n<< /Linearized 1 /L 1234 /N 7 >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Count 99 >>\nendobj\n" + // /N wins
      "trailer\n<< /Size 9 /Root 4 0 R >>\nstartxref\n500\n%%EOF\n"
    val plain = "%PDF-1.4\n" +
      "2 0 obj\n<< /Type /Pages /Kids [] /Count 3 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page >>\nendobj\n" +
      "trailer\n<< /Size 9 /Root 4 0 R /Encrypt 5 0 R >>\n" +
      "startxref\n42\n%%EOF\n"
    // no /N, no /Count: falls back to counting /Type /Page objects,
    // and the /Type /Pages root must NOT count
    val fallback = "%PDF-2.0\n" +
      "2 0 obj\n<< /Type /Pages /Kids [] >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page >>\nendobj\n" +
      "4 0 obj\n<< /Type /Page >>\nendobj\n" +
      "trailer\n<< /Size 9 /Root 4 0 R >>\nstartxref\n7\n%%EOF\n"
    // incremental update: TWO startxref entries — the LAST is operative
    val updated = "%PDF-1.7\n" +
      "2 0 obj\n<< /Type /Pages /Count 1 >>\nendobj\n" +
      "startxref\n100\n%%EOF\n" +
      "5 0 obj\n<< /Foo 1 >>\nendobj\n" +
      "startxref\n900\n%%EOF\n"
    // truncated right after startxref: no offset, no EOF, rest parsed
    val truncated = "%PDF-1.3\n" +
      "2 0 obj\n<< /Type /Pages /Count 2 >>\nendobj\n" +
      "trailer\n<< /Size 9 /Root 4 0 R >>\nstartxref\n"
    // bad version digits: format recognized, version NULL
    val badVer = "%PDF-XY\nstartxref\n5\n%%EOF\n"
    val got = triage(
      (1L, lin), (2L, plain), (3L, fallback), (4L, updated),
      (5L, truncated), (6L, badVer), (7L, "not a pdf at all"))
    assert(got === Seq(
      (1L, Some("1.6"), Some(true), Some(7L), Some(500L), Some(true),
        Some(false)),
      (2L, Some("1.4"), Some(false), Some(3L), Some(42L), Some(true),
        Some(true)),
      (3L, Some("2.0"), Some(false), Some(2L), Some(7L), Some(true),
        Some(false)),
      (4L, Some("1.7"), Some(false), Some(1L), Some(900L), Some(true),
        Some(false)),
      (5L, Some("1.3"), Some(false), Some(2L), None, Some(false),
        Some(false)),
      (6L, None, Some(false), None, Some(5L), Some(true), Some(false)),
      (7L, None, None, None, None, None, None)))
  }

  // ---- text extraction -------------------------------------------------
  // The documents are MediaGoldens.pdfCrafted, by id.

  private def extract(ids: Long*) =
    Pdf.extractPdfText(ids.map(i => (i, pdfCrafted(i))).toDF("media_id", "content"))
      .select($"media_id", $"pdf_text", $"n_show_ops",
        $"pdf_text_truncated")
      .as[(Long, Option[String], Option[Long], Option[Boolean])]
      .collect().sortBy(_._1).toSeq

  test("extractPdfText: REAL FlateDecode streams inflate and extract; " +
      "raw streams extract; image filters and non-PDF skip") {
    assert(extract(1L, 2L, 3L, 4L) === Seq(
      (1L, Some("Compressed hello"), Some(1L), Some(false)),
      (2L, Some("part one part two"), Some(2L), Some(false)),
      (3L, Some("after image"), Some(1L), Some(false)),
      (4L, None, None, None)))
  }

  test("extractPdfText: a LYING /Length falls back to the endstream " +
      "search; compressed bytes containing 'endstream' do not cut " +
      "the stream short") {
    assert(extract(5L, 6L) === Seq(
      (5L, Some("survived the lie"), Some(1L), Some(false)),
      (6L, Some("real tail"), Some(2L), Some(false))))
  }

  test("extractPdfText: truncation marks, caps bound output, garbage " +
      "flate contributes nothing") {
    // cut mid-stream (no endstream): prefix still walks, truncated set
    assert(extract(7L) ===
      Seq((7L, Some("kept before the cut"), Some(1L), Some(true))))
    // text cap: output bounded, flag set
    val gotBig = Pdf.extractPdfText(
      Seq((8L, pdfCrafted(8L))).toDF("media_id", "content"),
      maxTextChars = 100)
      .select(length($"pdf_text"), $"pdf_text_truncated")
      .as[(Int, Boolean)].head()
    assert(gotBig === ((100, true)))
    assert(extract(9L) === Seq((9L, Some("good"), Some(1L), Some(false))))
  }

  test("extractPdfText: escape decoding, octal, nesting, hex odd-pad, " +
      "shows outside BT..ET ignored") {
    val got = extract(10L)
    // octal: \101\102 = AB, \7 = BEL(0x07); hex <48692> has an odd
    // trailing digit, padded to 0x20 -> "Hi "
    val expected = "nest(ed) parens" + " " + "oct AB\u0007" + " " +
      "esc ( ) \\ \n fin" + " " + "Hi "
    assert(got.head._2.get === expected)
    assert(got.head._3.get === 4L)
    assert(got.head._4.get === false)
  }

  private def extractComposite(ids: Long*) =
    Pdf.extractPdfText(ids.map(i => (i, pdfCrafted(i))).toDF("media_id", "content"))
      .select($"media_id", $"pdf_text", $"n_show_ops", $"pdf_composite_font")
      .as[(Long, Option[String], Option[Long], Option[Boolean])]
      .collect().sortBy(_._1).toSeq

  test("composite fonts (Type0/Identity-H) NULL the text and set the " +
      "flag — declared dicts, Flate-hidden dicts, and NUL glyph shows") {
    // 11 simple; 12 a declared Identity-H font dict; 13 the dict hidden
    // in a FlateDecode'd stream; 14 no declaration but a glyph-id hex
    // show (NUL high bytes); 15 the custom name /Type01; 16-17 the
    // markers inside show strings, which are text, not declarations
    assert(extractComposite(11L to 17L: _*) === Seq(
      (11L, Some("plain text"), Some(1L), Some(false)),
      (12L, None, Some(1L), Some(true)),
      (13L, None, Some(1L), Some(true)),
      (14L, None, Some(1L), Some(true)),
      (15L, Some("legit"), Some(1L), Some(false)),
      (16L, Some("Use /Type0 with /Identity-H encoding"), Some(1L),
        Some(false)),
      (17L, Some("fonts (see /Type0 spec) are fun"), Some(1L),
        Some(false))))
  }

  test("a stream cut inside a show string reads the cut string as " +
      "text: a /Type0 in it neither flags the doc composite nor NULLs " +
      "its text") {
    // maxStreamBytes = 24 cuts the second show right after "/Type0"
    val cut = MediaGoldens.pdfWith("" ->
      "BT (kept) Tj (see /Type0 fonts) Tj ET".getBytes("ISO-8859-1"))
    val got = Pdf.extractPdfText(
      (Seq(1L -> cut) ++ Seq(16L, 17L).map(i => i -> pdfCrafted(i)))
        .toDF("media_id", "content"), maxStreamBytes = 24)
      .select($"media_id", $"pdf_text", $"n_show_ops",
        $"pdf_text_truncated", $"pdf_composite_font")
      .as[(Long, Option[String], Option[Long], Option[Boolean],
        Option[Boolean])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("kept"), Some(1L), Some(true), Some(false)),
      (16L, None, Some(0L), Some(true), Some(false)),
      (17L, None, Some(0L), Some(true), Some(false))))
  }

  test("a Flate stream inflating to BINARY GARBAGE neither flags the " +
      "doc composite nor poisons its real text — the marker scan over " +
      "inflated bytes survives unbalanced parens and stray '<'") {
    // 18: pseudo-random bytes with unbalanced '(' and lone '<' — the
    // literal/hex skip logic's worst case. 19: a clean declaration
    // FOLLOWED by the same junk still flags — trailing garbage cannot
    // suppress it. (A declaration buried BETWEEN stray parens inside
    // pure garbage may be literal-skipped — detection there is the
    // NUL-show signal's job, the documented two-signal split.)
    assert(extractComposite(18L, 19L) === Seq(
      (18L, Some("still fine"), Some(1L), Some(false)),
      (19L, None, Some(1L), Some(true))))
  }

  test("extractPdfText matches the recorded goldens: synth families, the " +
      "crafted documents at default and tiny caps, and the fuzz") {
    val bad = mismatches(MediaGoldens.pdfText(spark))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("synthCompositePdfBytes round-trips across the corpus, negative " +
      "ids too; extraction matches the q158 id arithmetic") {
    for (docs <- Seq(
      graft.sources.Sources.table(spark, sf, "documents").select($"doc_id"),
      spark.range(-64, 0).toDF("doc_id"))) {
      val got = Pdf.extractPdfText(Pdf.synthCompositePdfBytes(docs, "doc_id"))
      val id = $"media_id"
      def m(k: Int) = pmod(id, lit(k))
      val isComposite = m(4) === 1 || m(4) === 2
      val expText = concat(lit("Doc "), id.cast("string"), lit(" plain"))
      val expOps = when(m(4) === 2, 2L).otherwise(1L)
      val bad = got.where(
        when(m(11) === 6,
          $"pdf_text".isNotNull || $"n_show_ops".isNotNull ||
            $"pdf_text_truncated".isNotNull ||
            $"pdf_composite_font".isNotNull)
          .otherwise(
            $"pdf_composite_font" =!= isComposite ||
            $"n_show_ops" =!= expOps || $"pdf_text_truncated" ||
            when(isComposite, $"pdf_text".isNotNull)
              .otherwise($"pdf_text" =!= expText)))
      assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
    }
  }

  test("synthTextPdfBytes round-trips across the corpus, negative ids " +
      "too; extraction matches the q151 id arithmetic") {
    for (docs <- Seq(
      graft.sources.Sources.table(spark, sf, "documents").select($"doc_id"),
      spark.range(-64, 0).toDF("doc_id"))) {
      val got = Pdf.extractPdfText(Pdf.synthTextPdfBytes(docs, "doc_id"))
      val id = $"media_id"
      def m(k: Int) = pmod(id, lit(k))
      val expText = concat(
        lit("Doc "), id.cast("string"), lit(" alpha"),
        when(m(3) === 1, " esc ( ) \\ fin").otherwise(""),
        when(m(3) === 2,
          concat(lit(" kern pair "), m(50).cast("string"))).otherwise(""),
        when(m(5) === 3, " Hi!").otherwise(""))
      val expOps = lit(1) +
        when(m(3) === 1 || m(3) === 2, 1).otherwise(0) +
        when(m(5) === 3, 1).otherwise(0)
      val bad = got.where(
        when(m(11) === 6,
          $"pdf_text".isNotNull || $"n_show_ops".isNotNull ||
            $"pdf_text_truncated".isNotNull)
          .otherwise($"pdf_text" =!= expText ||
            $"n_show_ops" =!= expOps || $"pdf_text_truncated"))
      assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
    }
  }

  test("PDF text extractor never throws under truncation + corruption " +
      "fuzz; caps hold") {
    val docs = graft.sources.Sources.table(spark, sf, "documents")
      .where($"doc_id" < 48).select($"doc_id")
    // every 7th prefix; NUL, '(' and '\' written mid-document
    val mutated = mutations(Pdf.synthTextPdfBytes(docs, "doc_id"),
      Seq("00", "28", "5C"), step = 7)
    val n = Pdf.extractPdfText(mutated, maxTextChars = 64)
      .where(length($"pdf_text") > 64).count()
    assert(n === 0)
  }

  test("synthPdfBytes round-trips across the corpus, negative ids too") {
    for (docs <- Seq(
      graft.sources.Sources.table(spark, sf, "documents").select($"doc_id"),
      spark.range(-64, 0).toDF("doc_id"))) {
      val got = Pdf.pdfTriage(Pdf.synthPdfBytes(docs, "doc_id"))
      val id = $"media_id"
      def m(k: Int) = pmod(id, lit(k))
      val pdfRow = m(11) =!= 6
      val bad = got.where(
        when(!pdfRow,
          $"pdf_version".isNotNull || $"linearized".isNotNull ||
            $"n_pages_approx".isNotNull || $"startxref".isNotNull ||
            $"has_eof".isNotNull || $"encrypted".isNotNull)
          .otherwise(
            $"pdf_version" =!= when(m(13) === 9, "2.0")
              .otherwise(concat(lit("1."), m(8).cast("string"))) ||
            $"linearized" =!= (m(2) === 0) ||
            $"n_pages_approx" =!= m(6) + 1 ||
            coalesce($"startxref", lit(-1L)) =!=
              when(m(7) === 2, -1L).otherwise(m(100) + 9000) ||
            $"has_eof" =!= (m(7) =!= 2) ||
            $"encrypted" =!= (m(3) === 0)))
      assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
    }
  }
}
