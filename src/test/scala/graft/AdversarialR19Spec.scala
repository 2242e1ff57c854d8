package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.multimodal.{Audio, Multimodal, Png}
import graft.sources.Http

/** The standing adversarial tradition (r15→r18): this round's sweep
  * targets the r18 stack — zstd dictionary-ID frames, PNG palette
  * range + IDAT re-chunking, WAV fmt-extension and chunk ordering,
  * bloom saturation — plus astral-plane safety for the new r19 char
  * shingles. Each case is a behavior the family contracts promise
  * (NULL-not-throw, order-independence, no-false-negative) on inputs
  * the happy-path exhibits never produce. */
class AdversarialR19Spec extends SparkSpec {
  import spark.implicits._

  private val crlf = "\r\n"
  private def msg(head: String, body: Array[Byte]): Array[Byte] =
    head.getBytes("ISO-8859-1") ++ body

  private def httpBody(payload: Array[Byte]): Option[String] =
    Http.parseHttpResponses(
      Seq((1L, payload)).toDF("media_id", "payload"))
      .select($"body".cast("string")).as[Option[String]].collect().head

  test("zstd DICTIONARY-ID frame: a structurally valid frame that names " +
      "an external dictionary NULLs the body (no dict is loaded) with " +
      "headers surviving — never a throw, never garbage output") {
    val plain = com.github.luben.zstd.Zstd.compress(
      ("dictionary frame body " * 4).getBytes("US-ASCII"))
    val fhd = plain(4) & 0xFF
    // small single-segment frames: no window descriptor, DID field
    // directly after the FHD byte — the test's insertion point
    assert((fhd & 0x20) != 0, "expected single-segment frame")
    assert((fhd & 0x03) == 0, "expected no DID on the plain frame")
    val withDid = new Array[Byte](plain.length + 1)
    System.arraycopy(plain, 0, withDid, 0, 5)
    withDid(4) = (fhd | 0x01).toByte // 1-byte dictionary id
    withDid(5) = 0x7B                // the id itself
    System.arraycopy(plain, 5, withDid, 6, plain.length - 5)
    val m = msg("HTTP/1.1 200 OK" + crlf +
      "Content-Encoding: zstd" + crlf + crlf, withDid)
    val row = Http.parseHttpResponses(
      Seq((1L, m)).toDF("media_id", "payload"))
      .select($"http_status", $"content_encoding", $"body").head()
    assert(row.getInt(0) === 200)
    assert(row.getString(1) === "zstd")
    assert(row.isNullAt(2), "dictionary frame must NULL, not decode")
  }

  test("zstd THREE-frame concatenation with a skippable frame in the " +
      "middle decodes as the concatenation of the data frames") {
    def z(s: String): Array[Byte] =
      com.github.luben.zstd.Zstd.compress(s.getBytes("US-ASCII"))
    val f1 = z("first ")
    val f2 = z("second ")
    val f3 = z("third")
    // skippable frame: magic 0x184D2A5x LE + 4-byte size + payload
    val skip = Array[Byte](0x52, 0x2A, 0x4D, 0x18, 3, 0, 0, 0,
      0xAA.toByte, 0xBB.toByte, 0xCC.toByte)
    val m = msg("HTTP/1.1 200 OK" + crlf +
      "Content-Encoding: zstd" + crlf + crlf,
      f1 ++ f2 ++ skip ++ f3)
    assert(httpBody(m) === Some("first second third"))
  }

  test("PNG palette index PAST the PLTE is malformed -> NULL, and an " +
      "in-range identity palette still decodes") {
    // hand-build a 9x8 color-type-3 PNG with a 2-entry palette and a
    // pixel index of 5
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length)
      bb.put(typ.getBytes("US-ASCII")); bb.put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      val o = new java.io.ByteArrayOutputStream()
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](4096)
      while (!d.finished()) o.write(buf, 0, d.deflate(buf))
      d.end(); o.toByteArray
    }
    def palettePng(maxIdx: Int, paletteEntries: Int): Array[Byte] = {
      val w = 9; val h = 8
      val raw = new Array[Byte]((w + 1) * h)
      for (y <- 0 until h; x <- 0 until w)
        raw(y * (w + 1) + 1 + x) = ((x + y) % (maxIdx + 1)).toByte
      val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte)
      val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(8.toByte).put(3.toByte).put(0.toByte).put(0.toByte)
        .put(0.toByte).array()
      sig ++ chunk("IHDR", ihdr) ++
        chunk("PLTE", Array.tabulate(paletteEntries * 3)(i =>
          (i / 3 * 40).toByte)) ++
        chunk("IDAT", deflate(raw)) ++
        chunk("IEND", Array.emptyByteArray)
    }
    def dh(b: Array[Byte]): Option[Long] =
      Multimodal.imageDhash(Seq((1L, b)).toDF("media_id", "content"))
        .select($"dhash").as[Option[Long]].collect().head
    assert(dh(palettePng(maxIdx = 5, paletteEntries = 6)).isDefined)
    assert(dh(palettePng(maxIdx = 5, paletteEntries = 2)).isEmpty,
      "index 5 with a 2-entry PLTE must NULL")
  }

  test("PNG multi-IDAT reassembly is split-point-INDEPENDENT: the same " +
      "image re-chunked with the zlib stream cut at every byte " +
      "boundary (including mid-filter-byte) hashes identically") {
    val whole = Png.synthPngBytes(7L) // single-IDAT id (7 % 4 != 2)
    def dh(b: Array[Byte]): Option[Long] =
      Multimodal.imageDhash(Seq((1L, b)).toDF("media_id", "content"))
        .select($"dhash").as[Option[Long]].collect().head
    val base = dh(whole)
    assert(base.isDefined)
    // locate the single IDAT chunk
    def u32(b: Array[Byte], at: Int): Int =
      ((b(at) & 0xFF) << 24) | ((b(at + 1) & 0xFF) << 16) |
        ((b(at + 2) & 0xFF) << 8) | (b(at + 3) & 0xFF)
    val idatAt = (8 until whole.length - 8).find(i =>
      whole(i + 4) == 'I' && whole(i + 5) == 'D' && whole(i + 6) == 'A' &&
        whole(i + 7) == 'T').get
    val dataLen = u32(whole, idatAt)
    val data = whole.slice(idatAt + 8, idatAt + 8 + dataLen)
    val before = whole.take(idatAt)
    val after = whole.drop(idatAt + 12 + dataLen)
    def chunk(typ: String, d: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + d.length)
      bb.putInt(d.length)
      bb.put(typ.getBytes("US-ASCII")); bb.put(d)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(d)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    for (cut <- 0 to dataLen) {
      val split = before ++ chunk("IDAT", data.take(cut)) ++
        chunk("IDAT", data.drop(cut)) ++ after
      assert(dh(split) === base, s"split at $cut diverged")
    }
  }

  test("WAV fmt-EXTENSION sizes parse (18-byte cbSize=0, oversized " +
      "extension), WAVE_FORMAT_EXTENSIBLE NULLs, and data-before-fmt " +
      "chunk ordering fingerprints identically") {
    val good = Audio.synthWavPcmBytes(Seq(3L).toDF("doc_id"), "doc_id")
      .select($"content").as[Array[Byte]].collect().head
    def fp(b: Array[Byte]): Option[Long] =
      Audio.audioEnergyFingerprint(
        Seq((1L, b)).toDF("media_id", "content"))
        .select($"afp").as[Option[Long]].collect().head
    val base = fp(good)
    assert(base.isDefined)
    // fmt chunk starts at byte 12; grow it to 18 bytes (cbSize = 0)
    def withFmtSize(extra: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(good, 0, 16)
      // patch fmt ckSize (LE at offset 16)
      val newSize = 16 + extra
      out.write(Array[Byte]((newSize & 0xFF).toByte,
        ((newSize >> 8) & 0xFF).toByte, 0, 0))
      out.write(good, 20, 16) // the 16 standard fmt bytes
      out.write(new Array[Byte](extra + (extra % 2))) // extension + pad
      out.write(good, 36, good.length - 36) // rest (data chunk...)
      // patch RIFF size (LE at offset 4)
      val b = out.toByteArray
      val riff = (good.length - 8) + extra + (extra % 2)
      b(4) = (riff & 0xFF).toByte; b(5) = ((riff >> 8) & 0xFF).toByte
      b(6) = ((riff >> 16) & 0xFF).toByte; b(7) = (riff >> 24).toByte
      b
    }
    assert(fp(withFmtSize(2)) === base, "cbSize=0 18-byte fmt")
    assert(fp(withFmtSize(24)) === base, "40-byte extension fmt")
    // WAVE_FORMAT_EXTENSIBLE (0xFFFE): outside the documented subset
    val ext = withFmtSize(24)
    ext(20) = 0xFE.toByte; ext(21) = 0xFF.toByte
    assert(fp(ext).isEmpty, "extensible format must NULL")
    // data chunk BEFORE fmt: same chunks, swapped order
    val fmtChunk = good.slice(12, 36) // 8 header + 16 body
    val dataChunk = good.slice(36, good.length)
    val swapped = good.take(12) ++ dataChunk ++ fmtChunk
    assert(fp(swapped) === base, "data-before-fmt must parse identically")
  }

  test("bloom screen at bitsPerShingle=2 SATURATES to flag-almost-" +
      "everything — yet still has NO false negatives and the screened " +
      "decontamination stays EXACT-equal (the trade degrades, the " +
      "answer never does)") {
    val docs = graft.sources.Sources.table(spark, sf, "documents")
      .select($"doc_id", $"text")
    val train = docs.where($"doc_id" < 300)
    val eval_ = docs.where($"doc_id" >= 300 && $"doc_id" < 340)
      .unionByName(docs.where($"doc_id" < 300 && $"doc_id" % 60 === 0)
        .select(($"doc_id" + 900000).as("doc_id"), $"text"))
    val exact = graft.dedup.Dedup.contamination(train, eval_,
      "doc_id", "text").select($"train_id").distinct()
      .as[Long].collect().toSet
    assert(exact.nonEmpty)
    val bloom = graft.dedup.Dedup.contaminationBloom(train, eval_,
      "doc_id", "text", bitsPerShingle = 2)
      .select($"doc_id", $"bloom_contaminated")
      .as[(Long, Boolean)].collect().toMap
    for (id <- exact)
      assert(bloom(id), s"false negative at saturation on $id")
    val clean = bloom.keySet -- exact
    val fp = clean.count(bloom(_)).toDouble / math.max(1, clean.size)
    assert(fp > 0.5, s"2 bits/shingle should saturate; fp=$fp")
    val screened = graft.dedup.Dedup.decontaminateBloom(train, eval_,
      "doc_id", "text", 3, 1, bitsPerShingle = 2)
      .select($"doc_id").as[Long].collect().toSet
    val exactSurvivors = graft.dedup.Dedup.decontaminate(train, eval_,
      "doc_id", "text", 3, 1)
      .select($"doc_id").as[Long].collect().toSet
    assert(screened === exactSurvivors)
  }

  test("char shingles on ASTRAL-plane text: Spark and the gram walk " +
      "count CODE POINTS, so emoji/plane-1 scripts gram cleanly (no " +
      "surrogate-pair splitting)") {
    // four astral code points (math fraktur) + one BMP char
    val t = "𝔞𝔟𝔠𝔡z"
    val sh = graft.dedup.Dedup.charShingles(
      Seq((1L, t)).toDF("doc_id", "text"), "doc_id", "text", 2)
      .select($"shingle").as[String].collect().sorted
    // 5 code points -> 4 bigrams, each one a valid 2-code-point string
    assert(sh.length === 4)
    for (s <- sh)
      assert(Character.codePointCount(s, 0, s.length) === 2,
        s"gram '$s' is not two code points")
  }
}
