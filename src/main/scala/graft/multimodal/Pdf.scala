package graft.multimodal

import java.util.regex.Pattern

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{PdfText, PdfTriage}

/** PDF triage and text extraction — the two steps that decide
  * demux-vs-drop for the most common non-HTML document format in a
  * crawl and turn the keep-pile into a TEXT SOURCE, without a PDF
  * library. Both are JVM decoders exposed as native Catalyst
  * expressions (`pdf_triage` over [[parseTriage]], `pdf_text` over
  * [[extractOne]]; see [[graft.functions.MediaParse]]), and
  * [[pdfTriage]] / [[extractPdfText]] append their fields through
  * [[Multimodal.appendParsed]]: one parse per row, and a filter on a
  * parsed column stays above it.
  *
  * Triage reads version, linearization, approximate page count,
  * startxref/EOF integrity and the encryption flag from bounded HEAD and
  * TAIL windows. PDF's structural tokens are ASCII text, so each window
  * is decoded as UTF-8 (what Spark's `CAST(binary AS STRING)` does:
  * bytes inside binary streams become replacement chars, which cannot
  * affect ASCII token matches, since no ASCII byte participates in a
  * multi-byte UTF-8 sequence) and searched with `java.util.regex`. This
  * is a TRIAGE heuristic, not a parser: a token occurring inside a
  * content stream can inflate the fallback page count — documented,
  * bounded, and the reason the count column is named `n_pages_approx`.
  *
  * Field derivations:
  *  - `pdf_version` from the `%PDF-M.N` header (garbage after the dash →
  *    NULL version, format still 'pdf');
  *  - `linearized` = the head window carries a `/Linearized` dict — real
  *    linearizers put it in the first ~1 KiB by construction;
  *  - `n_pages_approx` by precedence, mirroring what real triage tools
  *    trust most: the linearization dict's `/N` (authoritative when
  *    present) → the first `/Count` in the TAIL window (the Pages-tree
  *    root rides the trailer section of most writers) → the count of
  *    `/Type /Page` objects in the head window (`(?![a-zA-Z])` so
  *    `/Pages` never counts). NULL when no source matches;
  *  - `startxref` = the LAST `startxref <offset>` in the tail
  *    (incremental updates append new ones; the last is operative);
  *  - `has_eof` = `%%EOF` present in the tail (a truncated download
  *    fails this before anything else);
  *  - `encrypted` = `/Encrypt` in the tail trailer.
  *
  * Non-PDF input keeps every column NULL; malformed/truncated PDF input
  * degrades field-by-field, never throws. */
object Pdf {

  /** Append `pdf_version`, `linearized`, `n_pages_approx`, `startxref`,
    * `has_eof` and `encrypted` ([[parseTriage]], `pdf_triage` in SQL);
    * the windows are the first `headBytes` and last `tailBytes` bytes. */
  def pdfTriage(media: DataFrame, contentCol: String = "content",
                headBytes: Int = 64 * 1024,
                tailBytes: Int = 4096): DataFrame =
    Multimodal.appendParsed(media, "Pdf.pdfTriage", "pdf_triage", contentCol,
      Seq(headBytes, tailBytes), PdfTriage.schema)

  private val VersionRe = Pattern.compile("^%PDF-([0-9]+\\.[0-9]+)")
  private val LinearizedRe = Pattern.compile("/Linearized\\b")
  private val LinearizedNRe =
    Pattern.compile("(?s)/Linearized.{0,256}?/N\\s+([0-9]{1,9})")
  private val CountRe = Pattern.compile("/Count\\s+([0-9]{1,9})")
  private val PageRe = Pattern.compile("/Type\\s*/Page(?![a-zA-Z])")
  private val StartxrefRe = Pattern.compile("startxref\\s+([0-9]{1,18})")
  private val EncryptRe = Pattern.compile("/Encrypt\\b")

  /** (pdf_version, linearized, n_pages_approx, startxref, has_eof,
    * encrypted) of one blob, the decoder behind [[pdfTriage]] and
    * `pdf_triage`; all NULL unless the blob starts with `%PDF-`. */
  def parseTriage(content: Array[Byte], headBytes: Int,
                  tailBytes: Int): Seq[Any] = {
    val n = if (content == null) 0 else content.length
    if (n < 5 || content(0) != '%' || content(1) != 'P' ||
        content(2) != 'D' || content(3) != 'F' || content(4) != '-')
      return Seq(null, null, null, null, null, null)
    val t0 = math.max(n - tailBytes, 0)
    val hd = UTF8String.fromBytes(content, 0, math.min(n, headBytes)).toString
    val tl = UTF8String.fromBytes(content, t0, n - t0).toString
    // group 1 of the first (or, with `last`, the last) match, else null
    def number(re: Pattern, s: String, last: Boolean): java.lang.Long = {
      val m = re.matcher(s)
      var v: java.lang.Long = null
      var more = m.find()
      while (more) {
        v = m.group(1).toLong
        more = last && m.find()
      }
      v
    }
    val version = {
      val m = VersionRe.matcher(hd)
      if (m.find()) m.group(1) else null
    }
    val linearized = LinearizedRe.matcher(hd).find()
    val pages = {
      val m = PageRe.matcher(hd)
      var k = 0L
      while (m.find()) k += 1
      if (k == 0) null else java.lang.Long.valueOf(k)
    }
    val nPages = Seq(
      if (linearized) number(LinearizedNRe, hd, last = false) else null,
      number(CountRe, tl, last = false), pages).find(_ != null).orNull
    Seq(version, linearized, nPages, number(StartxrefRe, tl, last = true),
      tl.contains("%%EOF"), EncryptRe.matcher(tl).find())
  }

  // ---------------------------------------------------------------------
  // Text extraction — the step past triage that makes PDFs a TEXT SOURCE
  // ---------------------------------------------------------------------

  private def isDelim(c: Char): Boolean =
    c <= ' ' || c == '(' || c == ')' || c == '<' || c == '>' ||
      c == '[' || c == ']' || c == '{' || c == '}' || c == '/' || c == '%'

  /** Parse one PDF string literal starting at `i` (the '('): nested
    * balanced parens, the full escape table (RFC-8118-era PDF 32000
    * §7.3.4.2), octal codes, line continuations. Returns (decoded,
    * positionAfterClosingParen); bytes decode as Latin-1 (no font
    * CMap handling — see extractPdfText's fidelity contract). */
  private def parseLiteral(s: String, i0: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var i = i0 + 1
    var depth = 1
    while (i < s.length && depth > 0) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '(' => sb.append('('); i += 2
          case ')' => sb.append(')'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '\n' => i += 2 // line continuation
          case '\r' =>
            i += 2; if (i < s.length && s.charAt(i) == '\n') i += 1
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0; i += 1
            while (k < 3 && i < s.length && s.charAt(i) >= '0' &&
              s.charAt(i) <= '7') { v = v * 8 + (s.charAt(i) - '0');
              i += 1; k += 1 }
            sb.append((v & 0xff).toChar)
          case other => sb.append(other); i += 2 // unknown escape: literal
        }
      } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
      else if (c == ')') {
        depth -= 1; if (depth > 0) sb.append(c); i += 1
      } else { sb.append(c); i += 1 }
    }
    (sb.toString, i)
  }

  /** Parse a hex string starting at `i` (the '<', already known not to
    * be '<<'): pairs of hex digits, odd trailing digit padded with 0,
    * whitespace ignored (PDF 32000 §7.3.4.3). */
  private def parseHex(s: String, i0: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var i = i0 + 1
    var hi = -1
    while (i < s.length && s.charAt(i) != '>') {
      val d = Character.digit(s.charAt(i), 16)
      if (d >= 0) {
        if (hi < 0) hi = d
        else { sb.append(((hi << 4) | d).toChar); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) sb.append((hi << 4).toChar) // odd digit: pad 0
    ((sb.toString), if (i < s.length) i + 1 else i)
  }

  /** Next non-whitespace token starting at or after `i` (for operator
    * lookahead): returns (token, positionAfter). */
  private def nextToken(s: String, i0: Int): (String, Int) = {
    var i = i0
    while (i < s.length && s.charAt(i) <= ' ') i += 1
    val start = i
    if (i < s.length && (s.charAt(i) == '\'' || s.charAt(i) == '"'))
      return (s.substring(i, i + 1), i + 1)
    while (i < s.length && !isDelim(s.charAt(i))) i += 1
    (s.substring(start, i), if (i == start && i < s.length) i + 1 else i)
  }

  /** Walk ONE decoded content stream for text-show operators. Shows are
    * collected only inside BT..ET text objects (a raw stream's stray
    * parens must not fabricate text). Appends to `out` (bounded by
    * `maxChars` TOTAL across the document), returns (shows appended,
    * truncated, sawGlyphIdShow) — the last true when any show string
    * contains a NUL byte, the signature of 2-byte glyph ids from an
    * Identity-H/Type0 composite font (Latin-1 TEXT never carries NUL;
    * glyph ids for ASCII-range text give 0x00 high bytes). */
  private def walkContent(s: String, out: java.lang.StringBuilder,
                          maxChars: Int): (Int, Boolean, Boolean) = {
    var i = 0
    var inBT = false
    var shows = 0
    var truncated = false
    var glyphIds = false
    def append(t: String): Boolean = {
      if (t.indexOf('\u0000') >= 0) glyphIds = true
      if (out.length() >= maxChars) { truncated = true; return false }
      if (out.length() > 0) out.append(' ')
      val room = maxChars - out.length()
      if (t.length > room) { out.append(t, 0, room); truncated = true }
      else out.append(t)
      shows += 1
      true
    }
    while (i < s.length && !truncated) {
      val c = s.charAt(i)
      if (c == '(') {
        val (lit, after) = parseLiteral(s, i)
        val (op, opEnd) = nextToken(s, after)
        if (inBT && (op == "Tj" || op == "'" || op == "\"")) {
          append(lit); i = opEnd
        } else i = after
      } else if (c == '<' &&
        (i + 1 >= s.length || s.charAt(i + 1) != '<')) {
        val (hex, after) = parseHex(s, i)
        val (op, opEnd) = nextToken(s, after)
        if (inBT && (op == "Tj" || op == "'" || op == "\"")) {
          append(hex); i = opEnd
        } else i = after
      } else if (c == '[' && inBT) {
        // candidate TJ array: concatenate its string elements
        val sb = new java.lang.StringBuilder
        var j = i + 1
        var ok = true
        while (j < s.length && s.charAt(j) != ']' && ok) {
          val cj = s.charAt(j)
          if (cj == '(') { val (l, a) = parseLiteral(s, j)
            sb.append(l); j = a }
          else if (cj == '<' &&
            (j + 1 >= s.length || s.charAt(j + 1) != '<')) {
            val (h, a) = parseHex(s, j); sb.append(h); j = a }
          else if (cj <= ' ' || cj == '-' || cj == '+' || cj == '.' ||
            (cj >= '0' && cj <= '9')) j += 1 // kerning numbers ignored
          else ok = false // not a TJ-shaped array
        }
        if (ok && j < s.length && s.charAt(j) == ']') {
          val (op, opEnd) = nextToken(s, j + 1)
          if (op == "TJ") { append(sb.toString); i = opEnd }
          else i = j + 1
        } else i += 1
      } else if (!isDelim(c) || c == '/') {
        if (c == '/') { // skip names wholesale (/Type etc.)
          i += 1
          while (i < s.length && !isDelim(s.charAt(i))) i += 1
        } else {
          val (tok, after) = nextToken(s, i)
          if (tok == "BT") inBT = true
          else if (tok == "ET") inBT = false
          i = if (after > i) after else i + 1
        }
      } else i += 1
    }
    (shows, truncated, glyphIds)
  }

  /** Bounded raw-deflate/zlib inflate; None on codec error. */
  private def inflateStream(b: Array[Byte], from: Int, until: Int,
                            maxOut: Int): Option[Array[Byte]] =
    try {
      val inf = new java.util.zip.Inflater()
      inf.setInput(b, from, until - from)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = inf.inflate(buf)
      while (n > 0 && out.size() < maxOut) {
        out.write(buf, 0, math.min(n, maxOut - out.size()))
        n = if (inf.finished() || out.size() >= maxOut) 0 else
          inf.inflate(buf)
      }
      val got = out.size()
      inf.end()
      if (got == 0) None else Some(out.toByteArray)
    } catch { case _: Exception => None }

  private def indexOf(b: Array[Byte], pat: Array[Byte], from: Int): Int = {
    var i = from
    val last = b.length - pat.length
    while (i <= last) {
      var k = 0
      while (k < pat.length && b(i + k) == pat(k)) k += 1
      if (k == pat.length) return i
      i += 1
    }
    -1
  }

  private val StreamKw = "stream".getBytes("ISO-8859-1")
  private val EndstreamKw = "endstream".getBytes("ISO-8859-1")

  /** Extract text from one PDF blob: walk its content streams in byte
    * order — `/FlateDecode` streams inflate via the JDK Inflater (the
    * dominant filter for text content), unfiltered streams read raw,
    * image/other filters are skipped — and collect BT..ET show-operator
    * strings, space-joined: (pdf_text, n_show_ops, pdf_text_truncated,
    * pdf_composite_font), the decoder behind [[extractPdfText]] and
    * `pdf_text`. All NULL for non-PDF bytes. */
  def extractOne(bytes: Array[Byte], maxStreamBytes: Int,
                 maxTextChars: Int): Seq[Any] = {
    if (bytes == null || bytes.length < 8 ||
      bytes(0) != '%' || bytes(1) != 'P' || bytes(2) != 'D' ||
      bytes(3) != 'F' || bytes(4) != '-')
      return Seq(null, null, null, null)
    val out = new java.lang.StringBuilder
    var shows = 0L
    var truncated = false
    // composite-font (Type0 / Identity-H) detection, two signals:
    // declared font dicts in the raw bytes, and glyph-id-shaped show
    // strings (NUL bytes) caught per-show in walkContent — the latter
    // covers docs whose font dicts hide inside object streams this
    // walker does not unpack
    var composite = hasCompositeFontMarker(bytes)
    var pos = 0
    var scanning = true
    while (scanning) {
      val kw = indexOf(bytes, StreamKw, pos)
      if (kw < 0) scanning = false
      else {
        // require the token boundary (else 'endstream' re-matches)
        val bounded = (kw == 0 || isDelim((bytes(kw - 1) & 0xff).toChar)) &&
          (kw + 6 >= bytes.length || bytes(kw + 6) == '\r' ||
            bytes(kw + 6) == '\n')
        if (!bounded) { pos = kw + 6 }
        else {
          // dict window: up to 512 bytes back to the object's << — but
          // cut at the last endobj/endstream so a PREVIOUS object's
          // /Filter or /Length inside the window cannot leak into this
          // stream's dict
          val dictFrom = math.max(0, kw - 512)
          val dictRaw = new String(bytes, dictFrom, kw - dictFrom,
            "ISO-8859-1")
          val cutAt = math.max(dictRaw.lastIndexOf("endstream"),
            dictRaw.lastIndexOf("endobj"))
          val dict = if (cutAt >= 0)
            dictRaw.substring(cutAt) else dictRaw
          val isFlate = dict.contains("/FlateDecode")
          val otherFilter = !isFlate && dict.contains("/Filter")
          var dataFrom = kw + 6
          if (dataFrom < bytes.length && bytes(dataFrom) == '\r')
            dataFrom += 1
          if (dataFrom < bytes.length && bytes(dataFrom) == '\n')
            dataFrom += 1
          // prefer the dict's /Length when it lands on an endstream
          // token (±2 bytes of EOL): compressed DATA can contain the
          // byte string 'endstream' by chance, and a naive search would
          // cut the stream short there. Fall back to the search when
          // /Length is absent or lies (both happen in the wild).
          val declared = {
            val m = java.util.regex.Pattern
              .compile("/Length\\s+(\\d{1,9})").matcher(dict)
            if (m.find()) m.group(1).toLong else -1L
          }
          val byLen: Int =
            if (declared >= 0 && dataFrom + declared + 9 <=
              bytes.length.toLong) {
              val cand = (dataFrom + declared).toInt
              val hit = (0 to 2).find(d =>
                cand + d + EndstreamKw.length <= bytes.length &&
                  indexOf(bytes, EndstreamKw, cand + d) == cand + d)
              hit.map(_ => cand).getOrElse(-1)
            } else -1
          val end =
            if (byLen >= 0) indexOf(bytes, EndstreamKw, byLen)
            else indexOf(bytes, EndstreamKw, dataFrom)
          val dataUntil =
            if (byLen >= 0) byLen
            else if (end >= 0) end
            else { truncated = true; bytes.length }
          if (!otherFilter) {
            val capped = math.min(dataUntil, dataFrom + maxStreamBytes)
            if (capped < dataUntil) truncated = true
            val content: Option[String] =
              if (isFlate)
                inflateStream(bytes, dataFrom, capped, maxStreamBytes)
                  .map(new String(_, "ISO-8859-1"))
              else if (capped > dataFrom)
                Some(new String(bytes, dataFrom, capped - dataFrom,
                  "ISO-8859-1"))
              else None
            content.foreach { cs =>
              // a font dict living inside this (possibly Flate'd)
              // stream counts as a declaration too
              if (!composite && containsCompositeFontMarker(cs))
                composite = true
              val (n, t, g) = walkContent(cs, out, maxTextChars)
              shows += n
              truncated ||= t
              composite ||= g
            }
          }
          pos = if (end >= 0) end + EndstreamKw.length else bytes.length
          if (pos >= bytes.length) scanning = false
        }
      }
    }
    // the honest contract: glyph-id shows are NOT text — without the
    // font's CMap the byte codes are meaningless, and emitting them
    // would poison every downstream text stage with mojibake. The doc
    // is flagged and its text NULLed (show accounting survives), the
    // same malformed→NULL discipline as the HTTP br/zstd seam.
    Seq(if (shows > 0 && !composite) out.toString else null,
      shows, truncated, composite)
  }

  /** Does the RAW pdf carry a composite-font declaration? Checks
    * `/Identity-H` / `/Identity-V` (CMap names used only by Type0
    * fonts) and `/Type0` followed by a delimiter (so a custom name
    * like /Type01 cannot false-positive). */
  private def hasCompositeFontMarker(bytes: Array[Byte]): Boolean =
    containsCompositeFontMarker(new String(bytes, "ISO-8859-1"))

  /** Marker scan that SKIPS string literals `(...)` and hex strings
    * `<...>`: a font declaration is a NAME in a dict, never string
    * content, so a simple-font doc whose visible TEXT merely mentions
    * '/Type0' or '/Identity-H' (documentation about PDF fonts) must
    * not get its whole pdf_text NULLed as a false-positive composite.
    * Skips are capped (4096 chars) so a stray '(' / '<' inside
    * compressed binary cannot swallow a genuine declaration further
    * on, but a literal still open at the end of the input within the
    * cap is string content to the end (a stream cut mid-show must not
    * expose its text as dict names); '<<' opens a dict, not a hex
    * string, and is scanned through.
    * The per-show NUL-byte signal in walkContent stays the behavioral
    * detector for docs whose dicts hide in unpacked object streams. */
  private def containsCompositeFontMarker(s: String): Boolean = {
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '(') {
        // literal string: balanced parens, backslash escapes
        var depth = 1
        var j = i + 1
        val cap = math.min(n, i + 1 + 4096)
        while (j < cap && depth > 0) {
          val cj = s.charAt(j)
          if (cj == '\\') j += 2
          else {
            if (cj == '(') depth += 1
            else if (cj == ')') depth -= 1
            j += 1
          }
        }
        // unbalanced: a literal cut by the end of the input (a capped
        // stream, a truncated download) is string content to the end;
        // one that only hit the cap is a stray '(' and is scanned through
        i = if (depth == 0 || j >= n) j else i + 1
      } else if (c == '<') {
        if (i + 1 < n && s.charAt(i + 1) == '<') i += 2 // dict open
        else {
          val e = s.indexOf('>', i + 1)
          i = if (e >= 0 && e <= i + 1 + 4096) e + 1 else i + 1
        }
      } else if (c == '/') {
        if (s.startsWith("/Identity-H", i) ||
          s.startsWith("/Identity-V", i)) {
          val after = i + 11
          if (after >= n || isDelim(s.charAt(after))) return true
          i = after
        } else if (s.startsWith("/Type0", i)) {
          val after = i + 6
          if (after >= n || isDelim(s.charAt(after))) return true
          i = after
        } else i += 1
      } else i += 1
    }
    false
  }

  /** Append `pdf_text` (space-joined show strings), `n_show_ops`,
    * `pdf_text_truncated`, and `pdf_composite_font` for each PDF blob
    * ([[extractOne]], `pdf_text` in SQL) — the step that turns
    * [[pdfTriage]]'s keep-pile into a TEXT SOURCE feeding the same
    * funnel as HTML. Fidelity contract (documented,
    * honest): bytes decode as Latin-1 — custom font encodings /
    * ToUnicode CMaps are NOT resolved (that needs font tables; the
    * dominant WinAnsi/Standard-encoded Latin text extracts correctly,
    * symbolic single-byte fonts extract as their byte codes). A doc
    * using COMPOSITE fonts (Type0/Identity-H — 2-byte glyph ids,
    * detected by declaration or by NUL bytes in a show string) gets
    * `pdf_text` NULL and `pdf_composite_font` true instead of glyph-id
    * mojibake: the shows are byte-meaningless without the font's CMap,
    * and the malformed→NULL contract every parser here keeps beats a
    * poisoned text column (show counts still report, so corpus
    * accounting sees the doc). Text in image-filtered (DCTDecode etc.)
    * streams is skipped; non-PDF rows keep all four columns NULL. Both
    * caps bound task memory per blob. */
  def extractPdfText(df: DataFrame, contentCol: String = "content",
                     maxStreamBytes: Int = 1 << 20,
                     maxTextChars: Int = 1 << 20): DataFrame =
    Multimodal.appendParsed(df, "Pdf.extractPdfText", "pdf_text", contentCol,
      Seq(maxStreamBytes, maxTextChars), PdfText.schema)

  /** Deterministic TEXT-bearing PDF exhibit bytes from an id column —
    * the test/demo source for [[extractPdfText]] (compressed variants
    * are JVM-built in PdfSpec; expressions cannot deflate). Each PDF
    * carries an UNFILTERED content stream showing `(Doc {id} alpha) Tj`
    * inside BT..ET, plus id-cycled extras: an escape exhibit
    * `(esc \( \) \\ fin) Tj` (pmod 3 = 1), a TJ array with kerning
    * numbers whose strings concatenate (pmod 3 = 2), a HEX string show
    * `<486921> Tj` = 'Hi!' (pmod 5 = 3), a DECOY literal outside any
    * BT..ET that must NOT extract (pmod 4 = 0), a /FlateDecode stream
    * of garbage bytes that must contribute nothing (pmod 7 = 5), and a
    * non-PDF garbage row (pmod 11 = 6) keeping every column NULL. The
    * q151 oracle rebuilds the expected text as id arithmetic. */
  def synthTextPdfBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    def m(k: Int) = pmod(id, lit(k))
    val nl = "\n"
    val show1 = concat(lit("BT /F1 12 Tf (Doc "), id.cast("string"),
      lit(" alpha) Tj ET" + nl))
    val showEsc = when(m(3) === 1,
      "BT (esc \\( \\) \\\\ fin) Tj ET" + nl).otherwise("")
    val showTj = when(m(3) === 2, concat(
      lit("BT [(kern ) -250 (pair "), m(50).cast("string"),
      lit(")] TJ ET" + nl))).otherwise("")
    val showHex = when(m(5) === 3, "BT <486921> Tj ET" + nl).otherwise("")
    val decoy = when(m(4) === 0,
      "(decoy outside text object) Tj" + nl).otherwise("")
    val content = concat(decoy, show1, showEsc, showTj, showHex)
    val contentObj = concat(
      lit("4 0 obj" + nl + "<< /Length "),
      octet_length(content).cast("string"),
      lit(" >>" + nl + "stream" + nl), content,
      lit("endstream" + nl + "endobj" + nl))
    // a Flate-MARKED stream of garbage: inflate fails, contributes 0
    val badFlate = when(m(7) === 5,
      "5 0 obj" + nl + "<< /Filter /FlateDecode /Length 9 >>" + nl +
        "stream" + nl + "NOTZLIB!!" + nl + "endstream" + nl +
        "endobj" + nl).otherwise("")
    val full = concat(
      lit("%PDF-1.4" + nl),
      lit("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj" + nl),
      contentObj, badFlate,
      lit("trailer << /Size 9 >>" + nl + "startxref" + nl + "9999" + nl +
        "%%EOF" + nl))
    val body = when(m(11) === 6, lit("GARBAGE NOT A PDF")).otherwise(full)
    docs.select(id.as("media_id"), body.cast("binary").as("content"))
  }

  /** Deterministic composite-font PDF exhibits from an id column — the
    * test/demo source for [[extractPdfText]]'s composite-font contract
    * (q158): a plain simple-font doc (text extracts, flag false); a doc
    * DECLARING `/Subtype /Type0` + `/Identity-H` (pmod 4 = 1 — text
    * NULL, flag true, even though its simple show would otherwise
    * extract: without per-show font attribution the whole doc's text is
    * untrustworthy); a doc with an UNDECLARED glyph-id hex show
    * carrying NUL high bytes (pmod 4 = 2 — the per-show NUL signal must
    * flag it, the object-stream-hidden-font case); and a non-PDF
    * garbage row (pmod 11 = 6) keeping every column NULL. The q158
    * oracle rebuilds all fields as id arithmetic. */
  def synthCompositePdfBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    def m(k: Int) = pmod(id, lit(k))
    val nl = "\n"
    val show1 = concat(lit("BT /F1 12 Tf (Doc "), id.cast("string"),
      lit(" plain) Tj ET" + nl))
    val glyphShow = when(m(4) === 2,
      "BT /F2 10 Tf <00480069> Tj ET" + nl).otherwise("")
    val content = concat(show1, glyphShow)
    val contentObj = concat(
      lit("4 0 obj" + nl + "<< /Length "),
      octet_length(content).cast("string"),
      lit(" >>" + nl + "stream" + nl), content,
      lit("endstream" + nl + "endobj" + nl))
    val fontObj = when(m(4) === 1,
      "6 0 obj" + nl + "<< /Type /Font /Subtype /Type0 /BaseFont " +
        "/Fake /Encoding /Identity-H >>" + nl + "endobj" + nl)
      .otherwise("")
    val full = concat(
      lit("%PDF-1.6" + nl),
      lit("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj" + nl),
      fontObj, contentObj,
      lit("trailer << /Size 9 >>" + nl + "startxref" + nl + "9999" +
        nl + "%%EOF" + nl))
    val body = when(m(11) === 6, lit("GARBAGE NOT A PDF")).otherwise(full)
    docs.select(id.as("media_id"), body.cast("binary").as("content"))
  }

  /** Deterministic PDF exhibit bytes from an id column — the test/demo
    * source for [[pdfTriage]], id-varied across the whole surface:
    * version 1.(id%8) or 2.0 (pmod 13 = 9); linearized with an
    * authoritative /N (pmod 2 = 0) vs not; a Pages-tree /Count that is
    * OMITTED on pmod 5 = 4 rows so the /Type /Page object-count fallback
    * is exercised (the ever-present `/Type /Pages` root is the decoy the
    * `(?![a-zA-Z])` guard exists for); an /Encrypt trailer entry
    * (pmod 3 = 0); a TRUNCATION trap (pmod 7 = 2) that cuts right after
    * `startxref\n` — version/pages still parse, startxref NULLs, has_eof
    * false; and a non-PDF garbage row (pmod 11 = 6) that must keep every
    * column NULL. The q143 oracle recomputes all fields as ground-truth
    * id arithmetic. */
  def synthPdfBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    def m(k: Int) = pmod(id, lit(k))
    val ver = when(m(13) === 9, "2.0")
      .otherwise(concat(lit("1."), m(8).cast("string")))
    val n = (m(6) + 1).cast("int") // 1..6 pages
    val lin = when(m(2) === 0, concat(
      lit("1 0 obj\n<< /Linearized 1 /L 5000 /N "), n.cast("string"),
      lit(" /H [500 200] >>\nendobj\n"))).otherwise("")
    val pagesRoot = concat(
      lit("2 0 obj\n<< /Type /Pages /Kids [3 0 R] "),
      when(m(5) === 4, "").otherwise(
        concat(lit("/Count "), n.cast("string"), lit(" "))),
      lit(">>\nendobj\n"))
    // repeat with a COLUMN count needs the SQL form (the Scala helper
    // only takes a literal Int)
    val pageObjs = expr(
      s"""repeat('3 0 obj\\n<< /Type /Page /Parent 2 0 R >>\\nendobj\\n',
         |CAST(pmod(`$idCol`, 6) + 1 AS INT))""".stripMargin)
    val trailer = concat(
      lit("trailer\n<< /Size 9 /Root 4 0 R"),
      when(m(3) === 0, " /Encrypt 5 0 R").otherwise(""),
      lit(" >>\nstartxref\n"))
    val sx = (m(100) + 9000).cast("string")
    val full = concat(
      lit("%PDF-"), ver, lit("\n"), lin, pagesRoot, pageObjs, trailer,
      when(m(7) === 2, "").otherwise(concat(sx, lit("\n%%EOF\n"))))
    val body = when(m(11) === 6, lit("GARBAGE NOT A PDF")).otherwise(full)
    docs.select(id.as("media_id"), body.cast("binary").as("content"))
  }
}
