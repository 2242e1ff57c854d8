package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, InputStream}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

/** WARC (Web ARChive, ISO 28500) record extraction — the missing FIRST
  * step of a 100 TB crawl-curation pipeline: split a WARC / WARC.gz dump
  * into one row per record (warc_type, target_uri, record_id,
  * content_length, payload), feeding the URL canonicalization
  * ([[graft.text.UrlOps]]) and text-analysis stages downstream.
  *
  * Record grammar (ISO 28500 §4): a version line (`WARC/1.0`; 0.17 / 1.1
  * accepted), CRLF-terminated `Name: value` header lines (names
  * case-INsensitive), an empty line, exactly `Content-Length` payload
  * bytes, then two CRLFs. Headers are ASCII; payloads are ARBITRARY BYTES
  * (an HTTP response, an image, anything crawled) — which is why this is
  * a `mapPartitions`-class streaming parser over an `InputStream`, not an
  * expression fold: record-IO over multi-GiB binary streams is the one
  * place imperative per-partition code is the right Spark shape (the same
  * category as the codec stubs in [[graft.multimodal.Multimodal]]).
  *
  * Malformed-input contract (the corpus-scale fail-safe the expression
  * parsers also honor): a bad version line, an overlong/unterminated
  * header line, a missing/invalid Content-Length, a payload that hits
  * EOF early, or a wrong inter-record trailer STOPS the walk for that
  * stream — records already parsed are emitted, nothing throws. WARC has
  * no resync marker ("WARC/" can occur inside any payload), so stopping
  * is the only honest recovery; a crawl job filters the short files by
  * comparing record counts against the manifest.
  *
  * Memory bounds at scale: payloads are capped at `maxPayloadBytes`
  * (excess is SKIPPED, not buffered; `payload_truncated` marks the row),
  * header lines at 8 KiB, so one task never holds more than one bounded
  * record regardless of what a 1 GiB segment file contains.
  */
object Warc {

  /** One parsed record, before a source id (path / media_id) is attached.
    * `offset` is the byte offset of the record's version line within the
    * UNCOMPRESSED stream — for `.warc.gz` that is the logical offset, the
    * one a downstream range-read of the uncompressed dump would use. */
  private[graft] final case class Parsed(
      recIdx: Long, offset: Long, warcType: String, targetUri: String,
      recordId: String, contentLength: Long, payload: Array[Byte],
      payloadTruncated: Boolean)

  final case class FileRecord(
      path: String, rec_idx: Long, offset: Long, warc_type: String,
      target_uri: String, record_id: String, content_length: Long,
      payload: Array[Byte], payload_truncated: Boolean)

  final case class BlobRecord(
      media_id: Long, rec_idx: Long, offset: Long, warc_type: String,
      target_uri: String, record_id: String, content_length: Long,
      payload: Array[Byte], payload_truncated: Boolean)

  private val MaxHeaderLine = 8192

  /** Stream-parse records until EOF or the first malformed structure.
    * Single forward pass, one bounded record buffered at a time; closes
    * `in` when exhausted (flatMap consumes each file's iterator fully
    * before opening the next, so at most one stream is open per task). */
  private[graft] def parseStream(in: InputStream,
                                 maxPayloadBytes: Int): Iterator[Parsed] =
    new scala.collection.AbstractIterator[Parsed] {
      private val buf = new BufferedInputStream(in, 64 * 1024)
      private var pos = 0L
      private var idx = 0L
      private var pending: Parsed = null
      private var finished = false

      /** One CRLF line as ISO-8859-1 (headers are spec-ASCII); None on
        * clean EOF before any byte, on EOF mid-line, or past the length
        * bound — either way the walk stops (nothing after is trusted). */
      private def readLine(): Option[String] = {
        val sb = new java.lang.StringBuilder
        var b = buf.read()
        while (b >= 0 && b != '\n') {
          pos += 1
          sb.append(b.toChar)
          if (sb.length > MaxHeaderLine) return None
          b = buf.read()
        }
        if (b < 0) return None // clean EOF (empty) or EOF mid-line
        pos += 1 // the '\n'
        val s = sb.toString
        Some(if (s.endsWith("\r")) s.substring(0, s.length - 1) else s)
      }

      private def readPayload(clen: Long): Option[(Array[Byte], Boolean)] = {
        val keep = math.min(clen, maxPayloadBytes.toLong).toInt
        val out = new Array[Byte](keep)
        var got = 0
        while (got < keep) {
          val n = buf.read(out, got, keep - got)
          if (n < 0) return None // truncated payload: drop the record
          got += n
        }
        var toSkip = clen - keep
        val trash = if (toSkip > 0) new Array[Byte](64 * 1024) else null
        while (toSkip > 0) {
          val n = buf.read(trash, 0, math.min(toSkip, trash.length.toLong).toInt)
          if (n < 0) return None
          toSkip -= n
        }
        pos += clen
        Some((out, clen > keep))
      }

      /** One parse step. DECOMPRESSION exceptions are a DATA property
        * here, not a code failure: the JDK gzip stream throws
        * ZipException (rather than returning EOF) on a corrupt CRC
        * trailer / damaged next-member header and EOFException on a
        * truncated member mid-read — and one damaged .warc.gz segment
        * must cost its own tail, not the Spark task (with retries, the
        * whole job). Records fully parsed before the throw are kept:
        * deflate output is self-terminating, so bytes already delivered
        * are sound even when the trailer check later fails. Any OTHER
        * IOException — a transient storage-layer read failure on the
        * Hadoop file path — PROPAGATES and fails the task: a flaky
        * HDFS/S3 read must trigger a retry, not silently truncate a
        * segment's tail as if it were EOF. Skips are logged so a
        * damaged segment is visible in executor logs, same as the
        * warcRecords gzip-header path. */
      private def advance(): Unit = {
        if (finished) return
        try advanceUnsafe()
        catch {
          case e @ (_: java.util.zip.ZipException |
                    _: java.io.EOFException) =>
            finished = true
            System.err.println(
              s"[warc] damaged gzip data at uncompressed offset $pos: " +
                s"$e — keeping $idx records, dropping the stream tail")
            try buf.close() catch { case _: Exception => () }
        }
      }

      private def advanceUnsafe(): Unit = {
        val offset = pos
        readLine() match {
          case Some(v) if v.startsWith("WARC/") => ()
          case _ => // clean EOF, EOF mid-line, or a non-WARC line: stop
            finished = true; buf.close(); return
        }
        var wtype: String = null
        var uri: String = null
        var rid: String = null
        var clen = -1L
        var headerOk = false
        var line = readLine()
        while (line.isDefined && !headerOk) {
          val l = line.get
          if (l.isEmpty) headerOk = true
          else {
            val i = l.indexOf(':')
            if (i > 0) {
              val k = l.substring(0, i).trim.toLowerCase
              val value = l.substring(i + 1).trim
              k match {
                case "warc-type"       => wtype = value
                case "warc-target-uri" => uri = value
                case "warc-record-id"  => rid = value
                case "content-length" =>
                  clen = try value.toLong catch { case _: Exception => -1L }
                case _ => ()
              }
            }
            line = readLine()
          }
        }
        if (!headerOk || clen < 0) { finished = true; buf.close(); return }
        readPayload(clen) match {
          case None => finished = true; buf.close(); return
          case Some((payload, truncated)) =>
            pending = Parsed(idx, offset, wtype, uri, rid, clen, payload,
              truncated)
            idx += 1
            // inter-record trailer: two CRLFs. A mismatch means the next
            // "record" would start mid-bytes — emit this one, then stop.
            val t = new Array[Byte](4)
            var got = 0
            var eof = false
            while (got < 4 && !eof) {
              val n = buf.read(t, got, 4 - got)
              if (n < 0) eof = true else got += n
            }
            if (got == 4 && t(0) == '\r' && t(1) == '\n' &&
                t(2) == '\r' && t(3) == '\n') pos += 4
            else { finished = true; buf.close() }
        }
      }

      override def hasNext: Boolean = {
        if (pending == null && !finished) advance()
        pending != null
      }
      override def next(): Parsed = {
        if (!hasNext) throw new NoSuchElementException("WARC iterator")
        val r = pending; pending = null; r
      }
    }

  private def open(bytes: Array[Byte], maxPayloadBytes: Int)
      : Iterator[Parsed] = {
    val raw = new ByteArrayInputStream(bytes)
    // the GZIPInputStream CONSTRUCTOR throws on a damaged post-magic
    // header (unsupported method byte, bad flags) — a blob that sniffs
    // as gzip but isn't yields zero records, never a dead task
    val in: Option[InputStream] =
      if (bytes.length >= 2 && bytes(0) == 0x1f.toByte &&
        bytes(1) == 0x8b.toByte)
        try Some(new GZIPInputStream(raw, 64 * 1024))
        catch { case _: java.io.IOException => None }
      else Some(raw)
    in.map(parseStream(_, maxPayloadBytes)).getOrElse(Iterator.empty)
  }

  /** Split a directory of `.warc` / `.warc.gz` segment files into record
    * rows. The driver lists PATHS only (a 100 TB crawl is ~100k segment
    * names — KiB-scale); bytes stream inside tasks via the Hadoop
    * FileSystem, so no file is ever materialized whole. WARC.gz is not
    * splittable (no block index), so the unit of parallelism is the FILE
    * — the standard crawl-job shape (Common Crawl ships ~64k ~1 GiB
    * segments per monthly crawl precisely so file-level parallelism
    * saturates any cluster): one partition per file, at most
    * `defaultParallelism` partitions. `.gz` members concatenate
    * transparently (JDK GZIPInputStream reads record-per-member archives
    * end to end). */
  def warcRecords(spark: SparkSession, dir: String,
                  maxPayloadBytes: Int = 1 << 20): DataFrame = {
    require(maxPayloadBytes > 0, s"maxPayloadBytes: $maxPayloadBytes")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf.value)
    // RECURSIVE listing: real dumps nest segments under date/segment
    // subdirectories; still paths-only on the driver
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (f.isFile && (n.endsWith(".warc") || n.endsWith(".warc.gz")))
        buf += f.getPath.toString
    }
    val files = buf.sorted.toSeq
    require(files.nonEmpty, s"no .warc/.warc.gz files under $dir")
    import spark.implicits._
    val n = math.max(1, math.min(files.length,
      spark.sparkContext.defaultParallelism))
    val bc = spark.sparkContext.broadcast(conf)
    spark.createDataset(files).repartition(n)
      .mapPartitions { paths =>
        val hc = bc.value.value
        paths.flatMap { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          val raw = path.getFileSystem(hc).open(path)
          val in: InputStream =
            if (p.endsWith(".gz"))
              try new GZIPInputStream(raw, 64 * 1024)
              catch { case e: java.io.IOException =>
                // damaged gzip header: this FILE is lost (zero records,
                // same contract as a bad blob), not the task
                try raw.close() catch { case _: Exception => () }
                System.err.println(s"[warc] skipping damaged gzip $p: $e")
                new ByteArrayInputStream(Array.emptyByteArray)
              }
            else raw
          // parseStream closes `in` when it exhausts the file, but a
          // consumer that stops EARLY (a LIMIT query, take(n)) abandons
          // the iterator mid-file — without this listener that leaks one
          // open Hadoop stream per unfinished file until executor GC.
          // close() is idempotent on these streams, so the exhausted
          // path double-closing is harmless.
          Option(org.apache.spark.TaskContext.get()).foreach(tc =>
            tc.addTaskCompletionListener[Unit] { _ =>
              try in.close() catch { case _: Exception => () }
            })
          parseStream(in, maxPayloadBytes).map(r =>
            FileRecord(p, r.recIdx, r.offset, r.warcType, r.targetUri,
              r.recordId, r.contentLength, r.payload, r.payloadTruncated))
        }
      }.toDF()
  }

  /** Split WARC blobs already in a table (id, binary content) into record
    * rows — the oracle-checkable twin of [[warcRecords]] and the shape a
    * warc-in-parquet lake uses. Gzip is sniffed per blob (1F 8B). Rows
    * never shuffle: the flatMap is a narrow map-side explode. */
  def explodeWarcBlobs(df: DataFrame, idCol: String = "media_id",
                       contentCol: String = "content",
                       maxPayloadBytes: Int = 1 << 20): DataFrame = {
    require(maxPayloadBytes > 0, s"maxPayloadBytes: $maxPayloadBytes")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(contentCol).cast(BinaryType))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        if (bytes == null) Iterator.empty
        else open(bytes, maxPayloadBytes).map(r =>
          BlobRecord(id, r.recIdx, r.offset, r.warcType, r.targetUri,
            r.recordId, r.contentLength, r.payload, r.payloadTruncated))
      }.toDF()
  }

  /** Strict BOM-stripping UTF-8 decode; null on any malformed byte
    * (REPORT mode — the ANSI-decode-throws trap stays out of the plan,
    * and a binary-stuffed "conversion" record cannot poison downstream
    * text stages with replacement-char mojibake). */
  private def utf8OrNull(b: Array[Byte]): String = {
    if (b == null) return null
    val skip = if (b.length >= 3 && b(0) == 0xEF.toByte &&
      b(1) == 0xBB.toByte && b(2) == 0xBF.toByte) 3 else 0
    try java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      .decode(java.nio.ByteBuffer.wrap(b, skip, b.length - skip))
      .toString
    catch { case _: java.nio.charset.CharacterCodingException => null }
  }

  /** WET view over parsed records — the Common Crawl sidecar shape
    * users reach for FIRST (pre-extracted text, no HTML parsing):
    * keep only `conversion` records (WARC-Type of a WET text member;
    * `warcinfo` prologues and response/request records drop) and expose
    * them as (passthrough-minus-payload, url, wet_text). `url` is the
    * record's WARC-Target-URI; `wet_text` is the payload decoded as
    * strict UTF-8 with an optional BOM stripped — the WET spec's
    * encoding — and NULL when the bytes are not valid UTF-8 (the
    * malformed→NULL contract; content_length still reports, so corpus
    * accounting sees the member). Works on either [[warcRecords]]
    * (path-keyed) or [[explodeWarcBlobs]] (id-keyed) output: a narrow
    * map, text never shuffles. */
  def wetDocs(records: DataFrame, uriCol: String = "target_uri",
              typeCol: String = "warc_type",
              payloadCol: String = "payload"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{StructField, StructType}
    Seq(uriCol, typeCol, payloadCol).foreach(c =>
      require(records.columns.contains(c),
        s"Warc.wetDocs: records is missing the '$c' column"))
    Seq("url", "wet_text").foreach(c =>
      require(!records.columns.contains(c),
        s"Warc.wetDocs: records already has a '$c' column — rename it " +
          "first; wetDocs appends its own"))
    val pi = records.schema.fieldIndex(payloadCol)
    val ui = records.schema.fieldIndex(uriCol)
    val keepIdx = records.schema.fields.indices.filter(_ != pi)
    val outSchema = StructType(
      keepIdx.map(records.schema.fields(_)) ++ Seq(
        StructField("url", StringType),
        StructField("wet_text", StringType)))
    records.where(col(typeCol) === "conversion")
      .map({ r =>
        Row.fromSeq(keepIdx.map(r.get) ++ Seq(
          r.getAs[String](ui),
          utf8OrNull(r.getAs[Array[Byte]](pi))))
      })(Encoders.row(outSchema))
  }

  /** Deterministic WET exhibit blobs from an id column — the test/demo
    * source for [[wetDocs]] (gz parity is WarcSpec's, like q140's
    * source). Each blob is the WET file shape: a `warcinfo` prologue
    * (no Target-URI — must NOT surface as a doc), then 1-2 `conversion`
    * records with id-derived URLs and ASCII text. Variants: pmod 9 = 4
    * appends one 0xFF byte to the text (invalid UTF-8 → wet_text NULL,
    * content_length still counts it); pmod 13 = 5 prefixes a UTF-8 BOM
    * (stripped from wet_text, counted in content_length); pmod 11 = 3
    * is a garbage first line (zero records); pmod 7 = 0 appends a
    * truncated trailing record (dropped). The q168 oracle rebuilds
    * url/text/length as id arithmetic. */
  def synthWetBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    def m(k: Int) = pmod(id, lit(k))
    val crlf = "\r\n"
    def bin(c: org.apache.spark.sql.Column) = c.cast(BinaryType)
    val info = {
      val payload = lit("software: graft-wet 1.0")
      concat(bin(concat(
        lit("WARC/1.0" + crlf),
        lit("WARC-Type: warcinfo" + crlf),
        lit("WARC-Record-ID: <urn:uuid:"), id.cast(StringType),
        lit("-info>" + crlf),
        lit("Content-Length: "), octet_length(payload).cast(StringType),
        lit(crlf), lit(crlf))), bin(payload), bin(lit(crlf + crlf)))
    }
    def conv(k: Int): org.apache.spark.sql.Column = {
      val text = concat(lit(s"Doc "), id.cast(StringType),
        lit(s" text $k "),
        repeat(lit("w"), (pmod(id * 5 + lit(k), lit(40)) + 5).cast("int")))
      val payload = concat(
        when(m(13) === 5, unhex(lit("EFBBBF")))
          .otherwise(bin(lit(""))),
        bin(text),
        when(m(9) === 4, unhex(lit("FF"))).otherwise(bin(lit(""))))
      concat(bin(concat(
        lit("WARC/1.0" + crlf),
        lit("WARC-Type: conversion" + crlf),
        lit("WARC-Target-URI: http://wet"), m(100).cast(StringType),
        lit(s".org/d$k" + crlf),
        lit("WARC-Record-ID: <urn:uuid:"), id.cast(StringType),
        lit(s"-$k>" + crlf),
        lit("Content-Length: "), octet_length(payload).cast(StringType),
        lit(crlf), lit(crlf))), payload, bin(lit(crlf + crlf)))
    }
    val body = concat(
      when(m(11) === 3, bin(lit("GARBAGE" + crlf))).otherwise(bin(lit(""))),
      info,
      conv(0),
      when(m(3) >= 1, conv(1)).otherwise(bin(lit(""))),
      when(m(7) === 0, bin(lit(
        "WARC/1.0" + crlf + "WARC-Type: conversion" + crlf + "Content-Le")))
        .otherwise(bin(lit(""))))
    docs.select(id.as("media_id"), body.as("content"))
  }

  /** Deterministic WARC exhibit blobs from an id column — the test/demo
    * source for [[explodeWarcBlobs]] (no crawl dumps ship with this repo),
    * id-varied so the bulk oracle exercises the whole surface: 1-3
    * records per blob (response/request/metadata cycling), id-derived
    * URIs and payload lengths, a LOWERCASE `content-length` header on
    * pmod 5 = 2 ids (same byte length — offsets unchanged — so the oracle
    * needs no case branch, but a case-sensitive parser NULLs), a
    * TRUNCATED trailing record on pmod 7 = 0 ids (complete records still
    * emitted, the tail dropped), and a GARBAGE first line on pmod 11 = 3
    * ids (zero records — WARC has no resync marker). Payloads are ASCII
    * so the DuckDB oracle rebuilds them character-exact. */
  def synthWarcBytes(docs: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    def m(k: Int) = pmod(id, lit(k))
    val crlf = "\r\n"
    def rec(k: Int): org.apache.spark.sql.Column = {
      val wtype = k % 3 match {
        case 0 => "response"
        case 1 => "request"
        case _ => "metadata"
      }
      val payload = concat(lit("P"),
        repeat(lit("x"), (pmod(id * 7 + lit(k), lit(50)) + 10).cast("int")))
      val clName = // same length either way: offsets don't branch
        when(m(5) === 2, "content-length").otherwise("Content-Length")
      concat(
        lit("WARC/1.0" + crlf),
        lit("WARC-Type: " + wtype + crlf),
        lit("WARC-Record-ID: <urn:uuid:"), id.cast(StringType),
        lit("-" + k + ">" + crlf),
        lit("WARC-Target-URI: http://site"), m(100).cast(StringType),
        lit(".com/p" + k + crlf),
        clName, lit(": "), octet_length(payload).cast(StringType),
        lit(crlf),
        lit(crlf), payload, lit(crlf + crlf))
    }
    val body = concat(
      when(m(11) === 3, "GARBAGE" + crlf).otherwise(""),
      rec(0),
      when(m(3) >= 1, rec(1)).otherwise(""),
      when(m(3) >= 2, rec(2)).otherwise(""),
      when(m(7) === 0,
        "WARC/1.0" + crlf + "WARC-Type: response" + crlf + "Content-Le")
        .otherwise(""))
    docs.select(id.as("media_id"), body.cast(BinaryType).as("content"))
  }
}
