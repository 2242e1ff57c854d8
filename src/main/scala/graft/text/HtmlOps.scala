package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML → text extraction — the step between WARC payloads
  * ([[graft.sources.Warc]]) and every text operator (dedup, quality,
  * langid): strip markup, decode entities, collapse whitespace, all as
  * built-in expressions (no UDF, no parser library), evaluated at scan
  * speed with nothing leaving the row.
  *
  * Pipeline (order is load-bearing):
  *  1. comments out (`<!-- -->`, dotall; an UNTERMINATED `<!--` strips to
  *     end-of-document — the browser behavior, and the fail-safe: a
  *     truncated crawl page never leaks half a comment into the text);
  *  2. script/style/noscript/template elements WITH their content out
  *     (case-insensitive; an unterminated opener strips to end — same
  *     rationale);
  *  3. CDATA sections unwrapped (content joins the text stream and is
  *     processed further — markup-looking bytes inside it get stripped;
  *     this is text EXTRACTION for dedup/quality scoring, not an XML
  *     round-trip);
  *  4. tags out, each replaced by one space. The tag regex is
  *     QUOTE-AWARE — `<[!/?a-zA-Z](?:[^>"']|"[^"]*"|'[^']*')*>` — so an
  *     attribute value containing '>' (`<p title="a>b">`) never leaks
  *     into the text, and '<' opens a tag only before a name/bang/
  *     slash/question char (the browser tokenizer rule), so a stray
  *     "1 < 2" stays literal text instead of swallowing everything
  *     through the next real tag. Every tag becomes a space: inline-tag word joins
  *     ("<b>x</b>y") split — acceptable for curation signals, documented
  *     as not-a-renderer;
  *  5. entities decoded in ONE pass (split on '&', rebuild) — single-pass
  *     is correctness, not style: decoded characters must never re-form
  *     entities with adjacent text ("&#38;lt;" is the literal text
  *     "&lt;", which a naive decode-numeric-then-named chain turns into
  *     '<'). Named: amp/lt/gt/quot/apos/nbsp (nbsp → plain space);
  *     numeric: decimal and hex for codes 32..126 (the cross-engine-safe
  *     printable range — Spark's chr() is mod-256 ASCII, so codepoints
  *     past it are LEFT ENCODED rather than silently mangled);
  *  6. whitespace collapsed to single spaces, ends trimmed.
  *
  * Malformed input yields degraded text, never a throw — the corpus
  * contract. Appends `outCol`; the input column is untouched. */
object HtmlOps {

  /** Append `outCol` = the visible text of `htmlCol`. */
  def htmlToText(df: DataFrame, htmlCol: String,
                 outCol: String = "text_extracted"): DataFrame = {
    Seq(outCol, "__h0", "__h_parts").foreach(c =>
      require(!df.columns.contains(c),
        s"HtmlOps.htmlToText: df already has a '$c' column — rename it " +
          "first; htmlToText appends its own"))
    val h = col(htmlCol).cast("string")
    // 1-4: markup removal (comments, script-ish elements, CDATA, tags).
    // DataFrame-API regexp_replace on purpose: the patterns stay Scala
    // string literals with ONE escaping layer, not SQL literals with two.
    val noComments = regexp_replace(regexp_replace(h,
      "(?s)<!--.*?-->", " "),
      "(?s)<!--.*$", " ")
    val noScripts = regexp_replace(regexp_replace(noComments,
      "(?is)<(script|style|noscript|template)\\b[^>]*>.*?</\\1\\s*>", " "),
      "(?is)<(script|style|noscript|template)\\b.*$", " ")
    val noCdata = regexp_replace(noScripts,
      "(?s)<!\\[CDATA\\[(.*?)\\]\\]>", "$1")
    // '<' opens a tag only before a name/bang/slash/question char — the
    // browser tokenizer rule; without it "1 < 2 and <b>x" eats from the
    // stray '<' through the NEXT tag's '>' and swallows real text
    val noTags = regexp_replace(noCdata,
      "(?s)<[!/?a-zA-Z](?:[^>\"']|\"[^\"]*\"|'[^']*')*>", " ")
    // 5: one-pass entity decode — split on '&' (limit -1 keeps trailing
    // empties so a text ending in '&' survives), decode each piece's
    // prefix, rebuild. Single forward pass: rebuilt output is never
    // rescanned, so decoded '&'/'<'/'>' cannot re-form entities.
    val decoded = df
      .withColumn("__h0", noTags)
      .withColumn("__h_parts", split(col("__h0"), "&", -1))
      .withColumn(outCol, expr(
        """concat(element_at(__h_parts, 1),
          |  aggregate(slice(__h_parts, 2, greatest(size(__h_parts) - 1, 0)),
          |    '',
          |    (acc, p) -> acc || CASE
          |      WHEN startswith(p, 'amp;')  THEN '&' || substring(p, 5)
          |      WHEN startswith(p, 'lt;')   THEN '<' || substring(p, 4)
          |      WHEN startswith(p, 'gt;')   THEN '>' || substring(p, 4)
          |      WHEN startswith(p, 'quot;') THEN '"' || substring(p, 6)
          |      WHEN startswith(p, 'apos;') THEN '\'' || substring(p, 6)
          |      WHEN startswith(p, 'nbsp;') THEN ' ' || substring(p, 6)
          |      WHEN p rlike '^#[0-9]{1,7};'
          |           AND CAST(regexp_extract(p, '^#([0-9]{1,7});', 1)
          |             AS BIGINT) BETWEEN 32 AND 126
          |        THEN chr(CAST(regexp_extract(p, '^#([0-9]{1,7});', 1)
          |               AS BIGINT))
          |          || substring(p,
          |               length(regexp_extract(p, '^#([0-9]{1,7});', 1)) + 3)
          |      WHEN p rlike '^#[xX][0-9a-fA-F]{1,6};'
          |           AND conv(regexp_extract(p,
          |             '^#[xX]([0-9a-fA-F]{1,6});', 1), 16, 10)
          |             BETWEEN 32 AND 126
          |        THEN chr(CAST(conv(regexp_extract(p,
          |               '^#[xX]([0-9a-fA-F]{1,6});', 1), 16, 10) AS BIGINT))
          |          || substring(p, length(regexp_extract(p,
          |               '^#[xX]([0-9a-fA-F]{1,6});', 1)) + 4)
          |      ELSE '&' || p END,
          |    s -> s))""".stripMargin))
    // 6: whitespace collapse + trim
    decoded
      .withColumn(outCol,
        trim(regexp_replace(col(outCol), "\\s+", " ")))
      .drop("__h0", "__h_parts")
  }

  /** Main-content extraction — the step PAST [[htmlToText]] a training
    * corpus actually needs: naive tag stripping keeps nav bars, link
    * farms, footers and cookie banners, and at corpus scale that
    * boilerplate dominates n-gram statistics and dedup keys. The
    * readability/trafilatura-class heuristic, expression-only: segment
    * the page into BLOCKS at block-level tag boundaries, score each
    * block by visible-text length and LINK DENSITY (anchor text / total
    * text), keep the content-like blocks, then run the normal
    * [[htmlToText]] pipeline over what survives — so entity decoding
    * and whitespace rules stay identical to the plain extractor.
    *
    * A block survives when its collapsed visible text is at least 20
    * characters AND its link density is at most 0.4. Nav bars and
    * sidebars die by density, copyright lines and bare headings by
    * length — both documented trade-offs of every density-based extractor
    * (a genuinely short first paragraph dies too, and `<br>` is a
    * boundary, so a poem of short `<br>`-separated lines fragments below
    * the length floor). Comments/
    * scripts/styles are stripped BEFORE segmentation so script text can
    * never score as content. */
  def extractMainText(df: DataFrame, htmlCol: String,
                      outCol: String = "main_text"): DataFrame = {
    Seq(outCol, "__mc_html").foreach(c =>
      require(!df.columns.contains(c),
        s"HtmlOps.extractMainText: df already has a '$c' column — rename " +
          "it first; extractMainText appends its own"))
    val h = col(htmlCol).cast("string")
    val noScripts = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(h,
        "(?s)<!--.*?-->", " "),
      "(?s)<!--.*$", " "),
      "(?is)<(script|style|noscript|template)\\b[^>]*>.*?</\\1\\s*>", " "),
      "(?is)<(script|style|noscript|template)\\b.*$", " ")
    val blockBoundary = "(?i)</?(?:p|div|article|section|main|li|ul|ol|" +
      "h[1-6]|table|thead|tbody|tr|td|th|nav|header|footer|aside|" +
      "blockquote|form|br)\\b[^>]*>"
    // per-block score inside ONE filter lambda: anchor text vs the rest
    val kept = filter(split(noScripts, blockBoundary), b => {
      val linkTxt = regexp_replace(
        array_join(expr_extract_links(b), " "),
        "(?s)<[^>]*>", " ")
      val nonLinkTxt = regexp_replace(regexp_replace(b,
        "(?is)<a\\b[^>]*>.*?</a\\s*>", " "),
        "(?s)<[^>]*>", " ")
      val linkLen = length(trim(regexp_replace(linkTxt, "\\s+", " ")))
      val textLen = length(trim(regexp_replace(nonLinkTxt, "\\s+", " ")))
      val total = linkLen + textLen
      total >= MinBlockChars &&
        linkLen.cast("double") <= lit(MaxLinkDensity) * total
    })
    htmlToText(
      df.withColumn("__mc_html", array_join(kept, " ")),
      "__mc_html", outCol)
      .drop("__mc_html")
  }

  /** [[extractMainText]]'s block thresholds: the least visible text a
    * block keeps, and the largest share of it that may be anchor text. */
  private val MinBlockChars = 20
  private val MaxLinkDensity = 0.4

  /** Anchor-text capture for [[extractMainText]]'s density score. */
  private def expr_extract_links(b: Column): Column =
    regexp_extract_all(b, lit("(?is)<a\\b[^>]*>(.*?)</a\\s*>"), lit(1))

  /** Deterministic HTML exhibit pages from an id column — the test/demo
    * source for [[htmlToText]], mined with every trap the extractor
    * exists for: a style and a script whose bodies contain MARKUP that
    * must not leak; a comment containing tags; an attribute value
    * containing '>' (quote-aware tag regex or it leaks); a CDATA section
    * (pmod 4 = 1) whose content must join the text; named and numeric
    * (decimal + hex) entities including the cascade trap `&amp;#60;`
    * which must render as the literal text `&#60;`, never '<'; an
    * UNTERMINATED comment (pmod 11 = 5) or script (pmod 13 = 7) at the
    * tail that must strip to end-of-document. The q141 oracle rebuilds
    * the expected text as ground-truth id arithmetic. */
  /** Deterministic boilerplate-heavy pages from an id column — the
    * test/demo source for [[extractMainText]]: a title and heading that
    * die by LENGTH, a nav bar and a link-farm sidebar that die by
    * DENSITY (their absolute text is above the length floor — only the
    * density rule removes them), two real content paragraphs that survive (the
    * second with an inline link below the density threshold, proving
    * density is a ratio, not a link ban), and a short footer. The q148
    * oracle rebuilds the expected extracted text as id arithmetic. */
  def synthBoilerplatePage(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    def m(k: Int) = pmod(id, lit(k))
    val page = concat(
      lit("<html><head><title>T"), id.cast("string"),
      lit("</title></head><body>\n" +
        "<nav><a href=\"/l1\">Linkone</a> <a href=\"/l2\">Linktwo</a> " +
        "<a href=\"/l3\">Linkthree</a> menu</nav>\n" +
        "<h1>Doc "), id.cast("string"),
      lit("</h1>\n<p>Main content "), id.cast("string"),
      lit(" "), lit("w" * 30),
      lit(" alpha beta &amp; gamma.</p>\n" +
        "<p>Second part "), m(50).cast("string"),
      lit(" has <a href=\"/x\">one link</a> plus "), lit("y" * 20),
      lit(" trailing words.</p>\n" +
        "<div><a href=\"/s1\">Sideone</a> <a href=\"/s2\">Sidetwo</a> " +
        "<a href=\"/s3\">Sidethree</a> more</div>\n" +
        "<footer>(c) 2026</footer>\n</body></html>"))
    docs.select(id.as("media_id"), page.as("html"))
  }

  def synthHtml(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    def m(k: Int) = pmod(id, lit(k))
    val body = concat(
      lit("<!DOCTYPE html>\n<html>\n<head><title>T"), id.cast("string"),
      lit("</title>\n<style>body { color: red; } /* <p>no</p> */</style>\n" +
        "<script>var x = \"<b>not text</b>\";</script>\n" +
        "</head>\n<body>\n" +
        "<!-- commented out: <h1>nope</h1> -->\n" +
        "<h1>Doc "), id.cast("string"),
      lit("</h1>\n<p class=\"c"), m(7).cast("string"),
      lit("\" title=\"a>b\">Para "), m(100).cast("string"),
      lit(" &amp; more &#65;&#x42; &amp;#60; literal</p>\n"),
      when(m(4) === 1,
        concat(lit("<![CDATA[cd"), m(9).cast("string"),
          lit(" data]]>\n"))).otherwise(""),
      lit("<p>word"), m(50).cast("string"), lit("&nbsp;tail</p>\n"),
      lit("</body></html>"),
      when(m(11) === 5, "\n<!-- dangling comment <p>gone")
        .otherwise(""),
      when(m(13) === 7, "\n<script>var y = 1;").otherwise(""))
    docs.select(id.as("media_id"), body.as("html"))
  }
}
