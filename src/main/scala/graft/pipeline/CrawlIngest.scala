package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.sources.{Http, Warc}
import graft.text.{HtmlOps, UnicodeOps}

/** The composed crawl-ingestion chain as ONE reusable stage: WARC blobs →
  * records ([[Warc.explodeWarcBlobs]]) → HTTP de-framing + decompression
  * ([[Http.parseHttpResponses]]) → charset-correct body text
  * ([[Http.withBodyText]]) → visible text ([[HtmlOps.htmlToText]]) →
  * Unicode normalization ([[UnicodeOps.normalizeText]]). Every stage is a
  * narrow map-side transform, so the WHOLE chain is exchange-free and —
  * load-bearing for the streaming twin — STATELESS per blob: the same
  * function body runs unchanged over a batch DataFrame or a streaming
  * one (q144 aggregates the batch output; StreamingSpec proves the
  * stream run emits bit-identical rows). A record that fails any stage
  * degrades to NULL text and KEEPS its row — corpus accounting needs the
  * failure visible, not dropped. */
object CrawlIngest {

  /** The record-level chain: takes an already-split WARC record frame
    * (any key columns + target_uri + payload) and yields per-record
    * text — shared by the blob path ([[crawlText]]) and the FILE path
    * ([[graft.sources.Warc.warcRecords]] output, the shape a real
    * multi-segment dump ingests through; SCALING.md records its MB/s
    * on generated segments). */
  def crawlTextFromRecords(records: DataFrame,
                           keyCols: Seq[String]): DataFrame = {
    val base = records.select(
      (keyCols.map(col) :+ col("target_uri") :+ col("payload")): _*)
    val http = Http.withBodyText(Http.parseHttpResponses(base))
    UnicodeOps.normalizeText(
      HtmlOps.htmlToText(http, "body_text", "text_extracted"),
      "text_extracted", "text")
      .select((keyCols.map(col) ++ Seq(col("target_uri"),
        col("http_status"), col("content_type"), col("charset_source"),
        col("text"))): _*)
  }

  /** One row per WARC record: (idCol, rec_idx, target_uri, http_status,
    * content_type, charset_source, text). */
  def crawlText(blobs: DataFrame, idCol: String = "media_id",
                contentCol: String = "content"): DataFrame =
    crawlTextFromRecords(
      Warc.explodeWarcBlobs(blobs, idCol, contentCol),
      Seq(idCol, "rec_idx"))

  /** Deterministic crawl-dump exhibit blobs from an id column — one WARC
    * response record per id whose payload is a full HTTP message
    * (chunked framing on even ids, split at an id-derived point;
    * Content-Length identity on odd) carrying a [[HtmlOps.synthHtml]]
    * page. The q144 oracle needs no framing model because de-framing
    * must reconstruct the page byte-exact. */
  def synthCrawlBlobs(docs: DataFrame, idCol: String): DataFrame = {
    val pages = HtmlOps.synthHtml(docs, idCol)
    val html = col("html")
    val id = col("media_id")
    val cut = (pmod(id, lit(50)) + 10).cast("int")
    // all lengths are OCTET counts: the chunk-size lines, Content-Length
    // and WARC Content-Length frame BYTES on the wire, and while
    // synthHtml is pure ASCII today (chars == bytes), any future
    // non-ASCII in the synth page must not silently corrupt the framing
    // these exhibits exist to prove. The chunk SPLIT is by characters
    // (substr) — legal, chunk boundaries may fall anywhere — but each
    // chunk's declared size is the byte length of that exact substring.
    val chunk1 = html.substr(lit(1), cut)
    val chunk2 = html.substr(cut + 1, length(html))
    val httpMsg = when(pmod(id, lit(2)) === 0,
      concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n"),
        lower(hex(octet_length(chunk1))), lit("\r\n"), chunk1,
        lit("\r\n"),
        lower(hex(octet_length(chunk2))), lit("\r\n"),
        chunk2, lit("\r\n0\r\n\r\n")))
      .otherwise(concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Content-Length: "),
        octet_length(html).cast(StringType), lit("\r\n\r\n"), html))
    pages.select(id.as("media_id"),
      concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: http://crawl"),
        pmod(id, lit(20)).cast(StringType),
        lit("-site.com/p\r\nContent-Length: "),
        octet_length(httpMsg).cast(StringType),
        lit("\r\n\r\n"), httpMsg, lit("\r\n\r\n"))
        .cast(BinaryType).as("content"))
  }
}
