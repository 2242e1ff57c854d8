package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.sources.Sources
import graft.text.TextOps

/** Semantics specs for the training-data operators (dedup / similarity /
  * text / multimodal) beyond the oracle hash-match. */
class TrainingDataSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Sources.table(spark, sf, "documents")

  test("exact dedup groups planted duplicates under one fingerprint") {
    val planted = docs.select("doc_id", "text").where($"doc_id" % 10 === 0)
      .withColumn("doc_id", $"doc_id" + 100000)
    val g = Dedup.exactGroups(
      docs.select("doc_id", "text").unionByName(planted), "doc_id", "text")
    assert(g.where($"n_dups" === 2).count() === planted.count())
    // keeper is always the original id
    assert(g.where($"n_dups" === 2 && $"keep_id" >= 100000).count() === 0)
  }

  /** docs 0-99 plus a planted near-duplicate of doc 8 (one appended token)
    * under id 9999 — a controlled near-dup independent of the sf's data. */
  private lazy val withPlantedNearDup = {
    val base = docs.select("doc_id", "text").where($"doc_id" < 100)
    val nearDup = base.where($"doc_id" === 8)
      .select(lit(9999L).as("doc_id"), concat($"text", lit(" extra")).as("text"))
    base.unionByName(nearDup)
  }

  test("minhash-LSH surfaces the planted near-duplicate pair") {
    val cand = Dedup.minhashLsh(withPlantedNearDup, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((8L, 9999L)),
      s"expected (8,9999) in candidates, got ${cand.take(20)}")
  }

  test("ngram jaccard scores the planted near-dup ~1.0, respects threshold") {
    val j = Dedup.ngramJaccard(withPlantedNearDup, "doc_id", "text", 3, 0.2)
    val top = j.where($"id_a" === 8 && $"id_b" === 9999)
      .select("jaccard").as[Double].collect()
    assert(top.nonEmpty && top.head > 0.9, s"got ${top.toSeq}")
    assert(j.where($"jaccard" < 0.2).count() === 0)
  }

  test("incrementalLshDedup: index hits, within-batch first-wins, novel keeps") {
    val existing = docs.select("doc_id", "text").where($"doc_id" < 100)
    val index = Dedup.lshBands(Dedup.minhashWide(
      Dedup.shingles(existing, "doc_id", "text", 3), "doc_id", 16),
      "doc_id", 16, 4)
    // batch: an exact copy of index doc 8 (id 1001), two copies of one
    // NOVEL text (ids 1002 < 1003), and genuinely new docs 100-149
    val novel = docs.select("doc_id", "text")
      .where($"doc_id" >= 100 && $"doc_id" < 150)
    val copyOf8 = existing.where($"doc_id" === 8)
      .select(lit(1001L).as("doc_id"), $"text")
    // the twin text is synthetic so its shingles are disjoint from the
    // corpus — it can only collide with itself (a real doc might share
    // enough shingles with an indexed doc at the permissive 16/4 setting)
    val twin = Seq(1002L, 1003L).toDF("doc_id")
      .withColumn("text", lit("zq wv xk pl mn oq rr st uu vv ww yy"))
    val batch = novel.unionByName(copyOf8).unionByName(twin)
    def decisions(bcast: Boolean) = Dedup.incrementalLshDedup(
      index, batch, "doc_id", "text", 3, 16, 4,
      broadcastDelta = bcast, probeParts = 0)
      .as[(Long, Option[Long], Option[Long], Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val d = decisions(bcast = true)
    assert(d(1001L)._2 === Some(8L) && !d(1001L)._4) // index hit
    assert(d(1002L)._2.isEmpty && d(1002L)._4)       // first twin keeps
    assert(d(1003L)._3 === Some(1002L) && !d(1003L)._4) // second drops
    assert(d.size === batch.count())
    // the shuffle-join fallback decides identically
    assert(decisions(bcast = false) === d)
  }

  test("contamination flags the planted eval leak with full coverage") {
    // eval doc 9999 is doc 8 plus one appended token: every one of its
    // interior trigrams except the last two also occurs in train doc 8,
    // so coverage is high; an unrelated eval doc must not hit doc 8
    val train = docs.select("doc_id", "text").where($"doc_id" < 100)
    val evalSet = withPlantedNearDup.where($"doc_id" === 9999)
    val hits = Dedup.contamination(train, evalSet, "doc_id", "text", 3, 5)
    val row = hits.where($"train_id" === 8 && $"eval_id" === 9999)
      .select("eval_coverage").as[Double].collect()
    assert(row.nonEmpty && row.head > 0.8, s"got ${row.toSeq}")
    // self-contained sanity: a disjoint-vocabulary eval doc flags nothing
    val clean = Seq((1L, "zzqx wvut ponm lkjh gfds")).toDF("doc_id", "text")
    assert(Dedup.contamination(train, clean, "doc_id", "text", 3, 1).isEmpty)
  }

  test("decontaminate drops exactly the contaminated train docs, keeps columns") {
    // doc 8 is the planted leak (see the contamination test); every other
    // train doc — including ones too short to shingle — must survive with
    // its full row intact
    val train = docs.select("doc_id", "text", "source").where($"doc_id" < 100)
      .unionByName(Seq((98765L, "ab", "tiny")).toDF("doc_id", "text", "source"))
    val evalSet = withPlantedNearDup.where($"doc_id" === 9999)
      .select("doc_id", "text").withColumn("source", lit("eval"))
    val kept = Dedup.decontaminate(train, evalSet, "doc_id", "text", 3, 5)
    assert(kept.columns.toSeq === Seq("doc_id", "text", "source"))
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(!keptIds.contains(8L))
    assert(keptIds.contains(98765L)) // sub-shingle doc passes through
    // removal == detection, exactly: the dropped set is the distinct
    // train side of the contamination hits (doc 8 plus its planted
    // near-dup copies in the fixture, which share its trigrams)
    val flagged = Dedup.contamination(train, evalSet, "doc_id", "text", 3, 5)
      .select("train_id").as[Long].collect().toSet
    assert(flagged.contains(8L) && flagged.size > 1)
    val allIds = train.select("doc_id").as[Long].collect().toSet
    assert(keptIds === allIds -- flagged)
  }

  test("simhash of near-identical docs has small hamming distance") {
    val sh = Dedup.simhash(
      withPlantedNearDup.where($"doc_id".isin(8, 9999, 50)), "doc_id", "text", 16)
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(8L), sh(9999L)) <= 3)  // near-dups: close signatures
    assert(hamming(sh(8L), sh(50L)) >= 1)    // unrelated: differ
  }

  test("brute-force ANN: rank 1 neighbor has the max cosine (exactness)") {
    val e = Sources.table(spark, sf, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val topk = Similarity.bruteForceTopK(e.where($"id" < 2), e, 5)
    assert(topk.groupBy("query_id").count().where($"count" =!= 5).count() === 0)
    // verify rank-1 equals exhaustive argmax for query 0
    val sims = e.where($"id" =!= 0).crossJoin(
        e.where($"id" === 0).select($"vec".as("qv")))
      .select($"id", Similarity.cosine($"qv", $"vec").as("s"))
      .orderBy($"s".desc, $"id".asc).limit(1)
      .as[(Long, Double)].collect().head
    val got = topk.where($"query_id" === 0 && $"rank" === 1)
      .select("neighbor_id").as[Long].collect().head
    assert(got === sims._1)
  }

  test("LSH ANN returns only same-bucket neighbors (recall/cost trade)") {
    val e = Sources.table(spark, sf, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .withColumn("bucket", Similarity.signBucket($"vec", 6))
    val topk = Similarity.lshTopK(
      e.select("id", "vec").where($"id" < 5), e.select("id", "vec"), 3, 6)
    val buckets = e.select($"id", $"bucket").as[(Long, Long)].collect().toMap
    topk.select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .foreach { case (q, n) => assert(buckets(q) === buckets(n)) }
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el perro de la casa que ladra los dias"),
      (3L, "der hund und die katze das ist gut")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.langId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "en", 2L -> "es", 3L -> "de"))
  }

  test("winnow fingerprint: tail append only shrinks the min; md5 flips") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val edited = base + "appended tail words here"
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val r = df.select($"doc_id",
      TextOps.fingerprintMd5($"text").as("fp"),
      TextOps.winnowFingerprint($"text", 8).as("w"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(r(0)._2 !== r(1)._2) // md5 differs on any edit
    // edited's windows are a superset of base's -> min can only decrease
    assert(r(1)._3 <= r(0)._3)
    // identical docs share the fingerprint exactly
    val dup = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
      .select(TextOps.winnowFingerprint($"text", 8).as("w"))
      .as[Long].collect()
    assert(dup(0) === dup(1))
  }

  test("imageDims: golden PNG/JPEG headers, segment walk, malformed -> NULL") {
    // GOLDEN bytes assembled against the container specs (not the synth
    // generator, so a construct/parse-symmetric bug can't cancel out):
    // PNG IHDR carries width then height as big-endian u32 at bytes
    // 16/20; JPEG SOF payload carries [len][precision][HEIGHT][WIDTH].
    val png = "89504E470D0A1A0A" + "0000000D" + "49484452" +
      "00000001" + "00000002" + "0806000000" + "1F15C489" // w=1 h=2
    val jpeg = "FFD8" +
      "FFE000104A46494600010100000100010000" + // APP0/JFIF, len 16
      "FFDB0043" + "0001020304" + "00" * 60 +  // DQT, len 0x43 = 67
      "FFC2001108" + "0140" + "00F0" +         // SOF2 h=320 w=240
      "03012200021101031101" + "FFD9"
    val truncated = "FFD8FFE0"    // walk runs off the end -> NULL dims
    val garbage = "DEADBEEF"      // unknown container -> NULL format
    // spec-legal FF fill bytes before a marker (B.1.1.2: "any marker may
    // optionally be preceded by any number of fill bytes"), and a
    // non-baseline SOF9 (arithmetic-coded extended sequential) — both
    // shapes a naive FFC0-only fixed walk mis-parses
    val padded = "FFD8" + "FFFF" + "FFE000104A46494600010100000100010000" +
      "FF" + "FFC9001108" + "0007" + "0005" + "03012200021101031101" + "FFD9"
    val media = Seq((1L, png), (2L, jpeg), (3L, truncated), (4L, garbage),
        (5L, padded))
      .toDF("media_id", "hx")
      .select($"media_id", unhex($"hx").as("content"))
    val got = Multimodal.imageDims(media)
      .select($"media_id", $"format", $"width", $"height")
      .as[(Long, Option[String], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("png"), Some(1L), Some(2L)),
      (2L, Some("jpeg"), Some(240L), Some(320L)),
      (3L, Some("jpeg"), None, None),
      (4L, None, None, None),
      (5L, Some("jpeg"), Some(5L), Some(7L)))) // fill bytes hopped, SOF9 read
    // appending onto existing width/height metadata is refused, never
    // silently overwritten (the family's reserved-column guard)
    intercept[IllegalArgumentException] {
      Multimodal.imageDims(media.withColumn("width", lit(1)))
    }
  }

  test("imageDims: golden GIF/WebP headers, LE byte order, malformed -> NULL") {
    // GOLDEN bytes hand-assembled against the container specs — NOT the
    // synth generator, so a generator+parser pair that both get the
    // little-endian byte swaps wrong cannot round-trip its way past this.
    // 300x200 GIF: 300 = 0x012C stored LE '2C01', 200 = 0xC8 -> 'C800'
    val gif = "474946383961" + "2C01" + "C800" + "F70000" + "3B"
    // 176x144 VP8: width LE 'B000'; HEIGHT field carries a scale hint in
    // its top 2 bits (144 | 1<<14 = 0x4090, LE '9040') which the parser
    // must mask off — a raw u16 read returns 16528
    val vp8 = "52494646" + "16000000" + "57454250" + "56503820" +
      "0A000000" + "9C0100" + "9D012A" + "B000" + "9040"
    // 2x3 VP8L: packed u32 = (2-1) | ((3-1)<<14) = 0x8001, LE '01800000'
    val vp8l = "52494646" + "11000000" + "57454250" + "5650384C" +
      "05000000" + "2F" + "01800000"
    // 16384x1 VP8X (a canvas WIDER than VP8's 14-bit limit — the case the
    // extended container exists for): w-1 = 16383 = 0x003FFF LE 'FF3F00'
    val vp8x = "52494646" + "16000000" + "57454250" + "56503858" +
      "0A000000" + "00" + "000000" + "FF3F00" + "000000"
    // malformed: VP8 chunk without the 9D012A start code; GIF truncated
    // before its height field (partial-byte reads must NULL, not invent)
    val noStart = "52494646" + "16000000" + "57454250" + "56503820" +
      "0A000000" + "9C0100" + "AAAAAA" + "B000" + "9000"
    val shortGif = "474946383961" + "2C01" + "C8"
    val media = Seq((1L, gif), (2L, vp8), (3L, vp8l), (4L, vp8x),
        (5L, noStart), (6L, shortGif))
      .toDF("media_id", "hx")
      .select($"media_id", unhex($"hx").as("content"))
    val got = Multimodal.imageDims(media)
      .select($"media_id", $"format", $"width", $"height")
      .as[(Long, Option[String], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("gif"), Some(300L), Some(200L)),
      (2L, Some("webp"), Some(176L), Some(144L)),
      (3L, Some("webp"), Some(2L), Some(3L)),
      (4L, Some("webp"), Some(16384L), Some(1L)),
      (5L, Some("webp"), None, None),
      (6L, Some("gif"), None, None)))
  }

  test("imageDims round-trips synthWebImageBytes across the corpus") {
    // every synthesized GIF/WebP parses back to the id-derived dims, over
    // all five container variants (pmod(id, 5) mix)
    val parsed = Multimodal.imageDims(
      Multimodal.synthWebImageBytes(docs, "doc_id"))
    val bad = parsed.where(
      $"width" =!= (lit(16) + $"media_id" % 1024) ||
      $"height" =!= (lit(16) + ($"media_id" * 7) % 768) ||
      !$"format".isin("gif", "webp") ||
      $"width".isNull || $"height".isNull)
    assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
    // both formats and all three webp chunk layouts present
    val fmts = parsed.groupBy("format").count().as[(String, Long)]
      .collect().toMap
    assert(fmts.keySet === Set("gif", "webp") && fmts.values.forall(_ > 0))
  }

  test("imageDims: golden BMP/ICO headers, sign/zero traps, malformed -> NULL") {
    // GOLDEN bytes hand-assembled against the BMP/ICO layouts (not the
    // synth generator — a symmetric construct/parse bug can't cancel).
    // 2x2 24-bit BITMAPINFOHEADER
    val bmpInfo = "424D" + "46000000" + "00000000" + "36000000" +
      "28000000" + "02000000" + "02000000" + "0100" + "1800" + ("00" * 20)
    // top-down DIB: stored height -2 (FEFFFFFF LE) -> magnitude 2
    val bmpTopDown = "424D" + "46000000" + "00000000" + "36000000" +
      "28000000" + "02000000" + "FEFFFFFF" + "0100" + "1800" + ("00" * 20)
    // legacy 12-byte CORE header: u16 dims 3x4 — an INFO-offset i32 read
    // would splice the height's bytes into the width
    val bmpCore = "424D" + "22000000" + "00000000" + "1A000000" +
      "0C000000" + "0300" + "0400" + "0100" + "1800"
    // truncated before the DIB size field -> NULL dims, 'bmp' retained
    val bmpCut = "424D" + "1E000000" + "00000000" + "36000000" + "28"
    // single-entry ICO: width byte 0 = 256, height 16
    val ico256 = "0000" + "0100" + "0100" + "00" + "10" + "00" + "00" +
      "0100" + "2000" + "10000000" + "16000000" + ("AB" * 16)
    // entry count 0: the count gate must reject (NULL format) — an
    // all-zero-ish prefix is not an icon
    val icoCount0 = "0000" + "0100" + "0000" + "20" + "20"
    // sig + count but truncated before the dims -> 'ico', NULL dims
    val icoCut = "0000" + "0100" + "0100"
    // sign-bit-set WIDTH is malformed (only height legitimately goes
    // negative) -> NULL width, height still parses
    val bmpNegW = "424D" + "46000000" + "00000000" + "36000000" +
      "28000000" + "FFFFFFFF" + "02000000" + "0100" + "1800" + ("00" * 20)
    val media = Seq((1L, bmpInfo), (2L, bmpTopDown), (3L, bmpCore),
        (4L, bmpCut), (5L, ico256), (6L, icoCount0), (7L, icoCut),
        (8L, bmpNegW))
      .toDF("media_id", "hx")
      .select($"media_id", unhex($"hx").as("content"))
    val got = Multimodal.imageDims(media)
      .select($"media_id", $"format", $"width", $"height")
      .as[(Long, Option[String], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("bmp"), Some(2L), Some(2L)),
      (2L, Some("bmp"), Some(2L), Some(2L)),
      (3L, Some("bmp"), Some(3L), Some(4L)),
      (4L, Some("bmp"), None, None),
      (5L, Some("ico"), Some(256L), Some(16L)),
      (6L, None, None, None),
      (7L, Some("ico"), None, None),
      (8L, Some("bmp"), None, Some(2L))))
  }

  test("imageDims round-trips synthBmpIcoBytes across the corpus") {
    val parsed = Multimodal.imageDims(
      Multimodal.synthBmpIcoBytes(docs, "doc_id"))
    val id = $"media_id"
    val hid = floor(id / lit(2)).cast("long")
    val isBmp = pmod(id, lit(2)) === 0
    val bad = parsed.where(
      ($"format" =!= when(isBmp, "bmp").otherwise("ico")) ||
      (isBmp && ($"width" =!= (lit(16) + pmod(hid, lit(1024))) ||
        $"height" =!= (lit(16) + pmod(hid * 7, lit(768))))) ||
      (!isBmp && ($"width" =!= (lit(1) + pmod(hid * 51, lit(256))) ||
        $"height" =!= (lit(1) + pmod(hid * 29, lit(256))))) ||
      $"width".isNull || $"height".isNull)
    assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
    // the 256->0 ICO wrap and both BMP layouts actually occur in the mix
    import org.apache.spark.sql.functions.countDistinct
    val variety = parsed.agg(
      countDistinct(when(isBmp, pmod(hid, lit(3)))).as("layouts"),
      org.apache.spark.sql.functions.sum(
        when(!isBmp && $"width" === 256, 1L).otherwise(0L)).as("wraps")
    ).as[(Long, Long)].head()
    assert(variety._1 === 3L && variety._2 >= 1L, variety)
  }

  test("imageDims: golden TIFF headers, endian/SHORT-alignment traps, " +
      "malformed -> NULL") {
    // GOLDEN bytes hand-assembled against TIFF 6.0 (not the synth
    // generator). Minimal LE: IFD at 8, two SHORT entries, 320x240
    val tiffLE = "49492A00" + "08000000" + "0200" +
      "0001" + "0300" + "01000000" + "4001" + "0000" +
      "0101" + "0300" + "01000000" + "F000" + "0000" +
      "00000000"
    // BE twin: the SHORT values sit in the FIRST two bytes of the value
    // field — a right-aligned-u32 reader gets 0x01400000 = 20971520
    val tiffBE = "4D4D002A" + "00000008" + "0002" +
      "0100" + "0003" + "00000001" + "0140" + "0000" +
      "0101" + "0003" + "00000001" + "00F0" + "0000" +
      "00000000"
    // BE with LONG height + a leading tag-254 entry + IFD after 4 filler
    // bytes (offset 12): exercises gap, ascending tags, mixed types
    val tiffBEGap = "4D4D002A" + "0000000C" + "AABBCCDD" + "0003" +
      "00FE" + "0004" + "00000001" + "00000000" +
      "0100" + "0003" + "00000001" + "0140" + "0000" +
      "0101" + "0004" + "00000001" + "000000F0" +
      "00000000"
    // u32-max IFD offset: the BIGINT bounds guard must NULL, not throw
    val tiffHugeOff = "49492A00" + "FFFFFFFF" + "AABB"
    // count says 2 but the file ends after the width entry: width
    // parses, height stays NULL
    val tiffCut = "49492A00" + "08000000" + "0200" +
      "0001" + "0300" + "01000000" + "4001" + "0000"
    // tag 256 with a spec-illegal RATIONAL type -> width NULL; height ok
    val tiffBadType = "49492A00" + "08000000" + "0200" +
      "0001" + "0500" + "01000000" + "4001" + "0000" +
      "0101" + "0300" + "01000000" + "F000" + "0000" +
      "00000000"
    val media = Seq((1L, tiffLE), (2L, tiffBE), (3L, tiffBEGap),
        (4L, tiffHugeOff), (5L, tiffCut), (6L, tiffBadType))
      .toDF("media_id", "hx")
      .select($"media_id", unhex($"hx").as("content"))
    val got = Multimodal.imageDims(media)
      .select($"media_id", $"format", $"width", $"height")
      .as[(Long, Option[String], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("tiff"), Some(320L), Some(240L)),
      (2L, Some("tiff"), Some(320L), Some(240L)),
      (3L, Some("tiff"), Some(320L), Some(240L)),
      (4L, Some("tiff"), None, None),
      (5L, Some("tiff"), Some(320L), None),
      (6L, Some("tiff"), None, Some(240L))))
  }

  test("imageDims round-trips synthTiffBytes across the corpus") {
    val parsed = Multimodal.imageDims(
      Multimodal.synthTiffBytes(docs, "doc_id"))
    val id = $"media_id"
    val hid = floor(id / lit(2)).cast("long")
    val bad = parsed.where(
      $"format" =!= "tiff" ||
      $"width" =!= (lit(16) + pmod(hid, lit(1024))) ||
      $"height" =!= (lit(16) + pmod(hid * 7, lit(768))) ||
      $"width".isNull || $"height".isNull)
    assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
    // both endiannesses, all three type mixes, both entry counts occur
    import org.apache.spark.sql.functions.countDistinct
    val variety = parsed.agg(
      countDistinct(pmod(id, lit(2))).as("endians"),
      countDistinct(pmod(hid, lit(3))).as("mixes"),
      countDistinct(pmod(hid, lit(2))).as("counts")
    ).as[(Long, Long, Long)].head()
    assert(variety === ((2L, 3L, 2L)), variety)
  }

  test("imageDims: golden EXIF orientation, endian/transpose/absent traps") {
    // GOLDEN bytes hand-assembled against EXIF 2.x / TIFF 6.0. Shared
    // tail: COM-free, SOF0 with coded dims 320x240, EOI.
    val sof = "FFC00011" + "08" + "00F0" + "0140" +
      "03012200021101031101" + "FFD9"
    // big-endian EXIF, orientation 6 (phone portrait): DISPLAY dims must
    // swap to 240x320 while the SOF still codes 320x240
    val exifMM6 = "FFD8" + "FFE1" + "0022" + "457869660000" +
      "4D4D002A" + "00000008" + "0001" +
      "0112" + "0003" + "00000001" + "0006" + "0000" + "00000000" + sof
    // little-endian EXIF, orientation 1: no swap
    val exifII1 = "FFD8" + "FFE1" + "0022" + "457869660000" +
      "49492A00" + "08000000" + "0100" +
      "1201" + "0300" + "01000000" + "0100" + "0000" + "00000000" + sof
    // EXIF present but no tag 274 (XResolution instead) -> NULL, no swap
    val exifNo274 = "FFD8" + "FFE1" + "0022" + "457869660000" +
      "4D4D002A" + "00000008" + "0001" +
      "011A" + "0005" + "00000001" + "00000000" + "00000000" + sof
    // APP1 that is XMP, not Exif: must be hopped without recording
    val xmpApp1 = "FFD8" + "FFE1" + "0008" + "687474703A2F" + sof
    // Exif signature but the embedded TIFF truncated mid-header: the
    // orientation scan reads into the NEXT segment and must NULL out
    val exifCut = "FFD8" + "FFE1" + "000C" + "457869660000" +
      "4D4D002A" + sof
    // stored orientation 0 (spec-invalid) -> NULL, no swap
    val exifZero = "FFD8" + "FFE1" + "0022" + "457869660000" +
      "4D4D002A" + "00000008" + "0001" +
      "0112" + "0003" + "00000001" + "0000" + "0000" + "00000000" + sof
    val media = Seq((1L, exifMM6), (2L, exifII1), (3L, exifNo274),
        (4L, xmpApp1), (5L, exifCut), (6L, exifZero))
      .toDF("media_id", "hx")
      .select($"media_id", unhex($"hx").as("content"))
    val got = Multimodal.imageDims(media)
      .select($"media_id", $"format", $"orientation", $"width", $"height")
      .as[(Long, Option[String], Option[Long], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("jpeg"), Some(6L), Some(240L), Some(320L)),
      (2L, Some("jpeg"), Some(1L), Some(320L), Some(240L)),
      (3L, Some("jpeg"), None, Some(320L), Some(240L)),
      (4L, Some("jpeg"), None, Some(320L), Some(240L)),
      (5L, Some("jpeg"), None, Some(320L), Some(240L)),
      (6L, Some("jpeg"), None, Some(320L), Some(240L))))
  }

  test("imageDims round-trips synthExifJpegBytes across the corpus") {
    val parsed = Multimodal.imageDims(
      Multimodal.synthExifJpegBytes(docs, "doc_id"))
    val id = $"media_id"
    val hid = floor(id / lit(2)).cast("long")
    val orient = lit(1) + pmod(hid, lit(8))
    val cw = lit(16) + pmod(id, lit(1024))
    val ch = lit(16) + pmod(id * 7, lit(768))
    val bad = parsed.where(
      $"format" =!= "jpeg" || $"orientation" =!= orient ||
      $"width" =!= when(orient >= 5, ch).otherwise(cw) ||
      $"height" =!= when(orient >= 5, cw).otherwise(ch) ||
      $"orientation".isNull || $"width".isNull)
    assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
    // both endiannesses and all eight orientations occur
    import org.apache.spark.sql.functions.countDistinct
    val variety = parsed.agg(
      countDistinct(pmod(id, lit(2))).as("endians"),
      countDistinct($"orientation").as("orients"))
      .as[(Long, Long)].head()
    assert(variety === ((2L, 8L)), variety)
  }

  test("imageDims: golden AVIF/HEIC headers, nested-box descent, " +
      "largesize hop, malformed -> NULL") {
    // GOLDEN bytes hand-assembled against ISO-BMFF / HEIF layouts (not
    // the synth generator — a symmetric construct/parse bug can't
    // cancel). The dims live in an ispe full-box nested
    // meta > iprp > ipco; only a walk that DESCENDS into containers
    // reaches them.
    val ftypAvif = "00000014" + "66747970" + "61766966" + "00000000" +
      "6D696631"
    val ispe = (w: String, h: String) =>
      "00000014" + "69737065" + "00000000" + w + h
    def meta(w: String, h: String) = // minimal: meta{iprp{ipco{ispe}}}
      "00000030" + "6D657461" + "00000000" +
        "00000024" + "69707270" +
        "0000001C" + "6970636F" + ispe(w, h)
    // 1: minimal AVIF, 100 x 50
    val avifMin = ftypAvif + meta("00000064", "00000032")
    // 2: HEIC with every decoy on the path — variable free box before
    // meta, hdlr child before iprp, pixi property before ispe (the
    // generator layout, hand-assembled), 300 x 200
    val heicFull = "00000014" + "66747970" + "68656963" + "00000000" +
      "6D696631" +
      "0000000B" + "66726565" + "AABBCC" +
      "00000061" + "6D657461" + "00000000" +
        "00000021" + "68646C72" + "00000000" + "00000000" + "70696374" +
          ("00" * 12) + "00" +
        "00000034" + "69707270" +
          "0000002C" + "6970636F" +
            "00000010" + "70697869" + "00000000" + "03" + "080808" +
            ispe("0000012C", "000000C8")
    // 3: brand-agnostic mif1 major -> 'heif', 10 x 20
    val mif1 = "00000014" + "66747970" + "6D696631" + "00000000" +
      "6D696631" + meta("0000000A", "00000014")
    // 4: size==1 free box hopped via its u64 largesize (17 bytes),
    // then the minimal meta, 7 x 9
    val largesize = ftypAvif +
      "00000001" + "66726565" + "0000000000000011" + "AA" +
      meta("00000007", "00000009")
    // 5: truncated inside the container chain -> 'avif' kept, NULL dims
    val truncMeta = avifMin.substring(0, 96)
    // 6: truncated 3 bytes into the ispe payload -> NULL dims (the
    // ispe-specific length gate, not the generic pos guard)
    val truncIspe = avifMin.substring(0, 130)
    // 7: a non-image brand is NOT claimed (it is avMetadata's mp4)
    val isom = "00000014" + "66747970" + "69736F6D" + "00000000" +
      "6D703432"
    // 8: size-0 box ("to EOF") stops the walk -> NULL dims
    val sizeZero = ftypAvif + "00000000" + "66726565"
    // 9: an ispe DECLARING size 16 (payload short of the dims) is NOT
    // read — without the declared-size gate its "width" would be its own
    // trailing bytes (0x63 = 99) and its "height" the NEXT box's size
    // field (0x14 = 20); the walk hops it and the valid ispe after wins,
    // 640 x 480
    val badIspe = "00000010" + "69737065" + "00000000" + "00000063"
    val undersizedThenValid = ftypAvif +
      "00000040" + "6D657461" + "00000000" +
        "00000034" + "69707270" +
          "0000002C" + "6970636F" + badIspe +
            ispe("00000280", "000001E0")
    // 10: the undersized ispe is the ONLY property -> hop runs off the
    // end -> NULL dims (never the garbage read)
    val undersizedOnly = ftypAvif +
      "0000002C" + "6D657461" + "00000000" +
        "00000020" + "69707270" +
          "00000018" + "6970636F" + badIspe
    // 11: a 256-byte ftyp (long compatible-brand list) starts with
    // 00 00 01 00 — byte-identical to ICO's magic. The sniff must read
    // bytes 4-7 ('ftyp') and claim avif, not ico (whose le-width at
    // byte 6 would be garbage); the walk hops the full 256 bytes to the
    // meta, 33 x 44
    val longFtyp = "00000100" + "66747970" + "61766966" + "00000000" +
      ("6D696631" * 60) + meta("00000021", "0000002C")
    val media = Seq((1L, avifMin), (2L, heicFull), (3L, mif1),
        (4L, largesize), (5L, truncMeta), (6L, truncIspe), (7L, isom),
        (8L, sizeZero), (9L, undersizedThenValid), (10L, undersizedOnly),
        (11L, longFtyp))
      .toDF("media_id", "hx")
      .select($"media_id", unhex($"hx").as("content"))
    val got = Multimodal.imageDims(media)
      .select($"media_id", $"format", $"width", $"height")
      .as[(Long, Option[String], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("avif"), Some(100L), Some(50L)),
      (2L, Some("heic"), Some(300L), Some(200L)),
      (3L, Some("heif"), Some(10L), Some(20L)),
      (4L, Some("avif"), Some(7L), Some(9L)),
      (5L, Some("avif"), None, None),
      (6L, Some("avif"), None, None),
      (7L, None, None, None),
      (8L, Some("avif"), None, None),
      (9L, Some("avif"), Some(640L), Some(480L)),
      (10L, Some("avif"), None, None),
      (11L, Some("avif"), Some(33L), Some(44L))))
  }

  test("imageDims round-trips synthIsobmffBytes across the corpus") {
    // every synthesized AVIF/HEIC parses back to the id-derived dims —
    // through the variable-length free box, the hdlr decoy and the pixi
    // decoy, where any fixed-offset read produces garbage
    val parsed = Multimodal.imageDims(
      Multimodal.synthIsobmffBytes(docs, "doc_id"))
    val id = $"media_id"
    val hid = floor(id / lit(2)).cast("long")
    val bad = parsed.where(
      $"format" =!= when(pmod(id, lit(2)) === 0, "avif")
        .otherwise("heic") ||
      $"width" =!= (lit(16) + pmod(hid, lit(1024))) ||
      $"height" =!= (lit(16) + pmod(hid * 7, lit(768))) ||
      $"width".isNull || $"height".isNull)
    assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
    val fmts = parsed.groupBy("format").count().as[(String, Long)]
      .collect().toMap
    assert(fmts.keySet === Set("avif", "heic") && fmts.values.forall(_ > 0))
  }

  test("avMetadata: golden WAV/MP4 headers, chunk padding, malformed -> NULL") {
    // GOLDEN bytes hand-assembled against RIFF/ISO-BMFF specs (not the
    // synth generator — a symmetric construct/parse bug can't cancel).
    // Canonical 44.1kHz stereo 16-bit PCM: 44100 = 0xAC44 LE '44AC0000',
    // byte rate 176400 = 0x02B110 LE '10B10200', data 88200 -> 500 ms
    val wav1 = "52494646" + "24000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0200" + "44AC0000" + "10B10200" +
      "0400" + "1000" + "64617461" + "88580100"
    // odd-sized LIST chunk (3 bytes + pad) BEFORE fmt: a walk that forgets
    // RIFF word alignment desyncs here and never finds fmt
    val wav2 = "52494646" + "30000000" + "57415645" +
      "4C495354" + "03000000" + "AABBCC" + "00" +
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" + "803E0000" +
      "0200" + "1000" + "64617461" + "803E0000"
    // fmt but no data chunk: channels parse, duration must NULL
    val wav3 = "52494646" + "1C000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" + "803E0000" +
      "0200" + "1000"
    // mvhd v0: timescale 1000 = 0x3E8, duration 7500 = 0x1D4C -> 7500 ms
    // (no trak: duration parses, video dims stay NULL)
    val mp4v0 = "00000010" + "66747970" + "69736F6D" + "00000200" +
      "00000074" + "6D6F6F76" +
      "0000006C" + "6D766864" + "00000000" + "00000000" + "00000000" +
      "000003E8" + "00001D4C" + ("00" * 80)
    // skip box before moov + mvhd v1 (u64 creation/modification widen the
    // layout): timescale 90000, duration u64 450000 -> 5000 ms
    val mp4v1 = "00000010" + "66747970" + "69736F6D" + "00000200" +
      "00000009" + "736B6970" + "AA" +
      "00000080" + "6D6F6F76" +
      "00000078" + "6D766864" + "01000000" + ("00" * 16) +
      "00015F90" + "000000000006DDD0" + ("00" * 80)
    // unity transform matrix shared by the tkhd exhibits
    val matrix = "00010000" + "00000000" + "00000000" +
      "00000000" + "00010000" + "00000000" +
      "00000000" + "00000000" + "40000000"
    // moov{mvhd v0 + trak{tkhd v0}}: 640x360 as 16.16 fixed point
    // (0x02800000 / 0x01680000) at tkhd payload bytes 76/80
    val mp4v0t = "00000010" + "66747970" + "69736F6D" + "00000200" +
      "000000D8" + "6D6F6F76" +
      "0000006C" + "6D766864" + "00000000" + "00000000" + "00000000" +
      "000003E8" + "00001D4C" + ("00" * 80) +
      "00000064" + "7472616B" +
      "0000005C" + "746B6864" + "00000007" + "00000000" + "00000000" +
      "00000001" + "00000000" + "00001D4C" + ("00" * 8) + ("00" * 8) +
      matrix + "02800000" + "01680000"
    // moov{mvhd v1 + trak{tkhd v1}}: 1920x1080; the v1 widening moves the
    // dims to payload bytes 88/92 — a v0-offset read lands in the matrix
    val mp4v1t = "00000010" + "66747970" + "69736F6D" + "00000200" +
      "000000F0" + "6D6F6F76" +
      "00000078" + "6D766864" + "01000000" + ("00" * 16) +
      "00015F90" + "000000000006DDD0" + ("00" * 80) +
      "00000070" + "7472616B" +
      "00000068" + "746B6864" + "01000007" + ("00" * 16) +
      "00000001" + "00000000" + "000000000006DDD0" + ("00" * 8) +
      ("00" * 8) + matrix + "07800000" + "04380000"
    // ftyp alone: format detected, walk runs off -> NULL duration
    val mp4Short = "00000010" + "66747970" + "69736F6D" + "00000200"
    // a zero-size box (size-to-EOF) stops the walk as malformed
    val mp4Zero = "00000010" + "66747970" + "69736F6D" + "00000200" +
      "00000000" + "66726565"
    // fmt chunk TRUNCATED mid-payload (8 of 16 bytes): the length guard
    // must NULL every field — a partial-bytes read would invent a
    // plausible sample rate from half a field
    val wavCut = "52494646" + "12000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000"
    // untrusted u32 chunk size pushes the walk position past Int.MaxValue:
    // the bounds guard must compare in BIGINT and NULL out — an INT cast
    // there throws under ANSI and one such file kills the corpus job
    val wavHuge = "52494646" + "FFFFFFFF" + "57415645" +
      "4A554E4B" + "FFFFFFFF" + "AABB"
    val mp4Huge = "00000010" + "66747970" + "69736F6D" + "00000200" +
      "7FFFFFFF" + "6D646174" + "AABB"
    // fmt declaring size 8 (< the 16-byte PCM core): fields at fixed
    // offsets would read into the NEXT chunk's bytes — must NULL instead
    val wavSmallFmt = "52494646" + "24000000" + "57415645" +
      "666D7420" + "08000000" + "0100" + "0100" + "401F0000" +
      "64617461" + "803E0000"
    // size==1 box: u64 BE largesize (24 = 8 hdr + 8 largesize + 8 payload)
    // must be HOPPED, not treated as malformed — moov after it parses
    val mp4Large = "00000010" + "66747970" + "69736F6D" + "00000200" +
      "00000001" + "66726565" + "0000000000000018" + ("00" * 8) +
      "00000074" + "6D6F6F76" +
      "0000006C" + "6D766864" + "00000000" + "00000000" + "00000000" +
      "000003E8" + "00001D4C" + ("00" * 80)
    // largesize with a nonzero high u32 (>4 GiB box, the non-faststart
    // mdat shape): extends past any header prefix -> walk ends, NULL
    val mp4LargeHi = "00000010" + "66747970" + "69736F6D" + "00000200" +
      "00000001" + "6D646174" + "0000000100000000" + "AABB"
    // 90deg rotation matrix (a=0, b=1.0, c=-1.0, d=0): coded 640x360 must
    // be emitted as DISPLAY 360x640 — phone portrait video stores exactly
    // this shape and a resolution filter wants the display dims
    val rotM = "00000000" + "00010000" + "00000000" +
      "FFFF0000" + "00000000" + "00000000" +
      "00000000" + "00000000" + "40000000"
    val mp4v0r = "00000010" + "66747970" + "69736F6D" + "00000200" +
      "000000D8" + "6D6F6F76" +
      "0000006C" + "6D766864" + "00000000" + "00000000" + "00000000" +
      "000003E8" + "00001D4C" + ("00" * 80) +
      "00000064" + "7472616B" +
      "0000005C" + "746B6864" + "00000007" + "00000000" + "00000000" +
      "00000001" + "00000000" + "00001D4C" + ("00" * 8) + ("00" * 8) +
      rotM + "02800000" + "01680000"
    val mp4v1r = "00000010" + "66747970" + "69736F6D" + "00000200" +
      "000000F0" + "6D6F6F76" +
      "00000078" + "6D766864" + "01000000" + ("00" * 16) +
      "00015F90" + "000000000006DDD0" + ("00" * 80) +
      "00000070" + "7472616B" +
      "00000068" + "746B6864" + "01000007" + ("00" * 16) +
      "00000001" + "00000000" + "000000000006DDD0" + ("00" * 8) +
      ("00" * 8) + rotM + "07800000" + "04380000"
    val media = Seq((1L, wav1), (2L, wav2), (3L, wav3), (4L, mp4v0),
        (5L, mp4v1), (6L, mp4Short), (7L, mp4Zero), (8L, wavCut),
        (9L, mp4v0t), (10L, mp4v1t), (11L, wavHuge), (12L, mp4Huge),
        (13L, wavSmallFmt), (14L, mp4Large), (15L, mp4LargeHi),
        (16L, mp4v0r), (17L, mp4v1r))
      .toDF("media_id", "hx")
      .select($"media_id", unhex($"hx").as("content"))
    val got = Multimodal.avMetadata(media)
      .select($"media_id", $"av_format", $"channels", $"sample_rate",
        $"bits_per_sample", $"width", $"height", $"duration_ms")
      .as[(Long, Option[String], Option[Long], Option[Long], Option[Long],
        Option[Long], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("wav"), Some(2L), Some(44100L), Some(16L), None, None, Some(500L)),
      (2L, Some("wav"), Some(1L), Some(8000L), Some(16L), None, None, Some(1000L)),
      (3L, Some("wav"), Some(1L), Some(8000L), Some(16L), None, None, None),
      (4L, Some("mp4"), None, None, None, None, None, Some(7500L)),
      (5L, Some("mp4"), None, None, None, None, None, Some(5000L)),
      (6L, Some("mp4"), None, None, None, None, None, None),
      (7L, Some("mp4"), None, None, None, None, None, None),
      (8L, Some("wav"), None, None, None, None, None, None),
      (9L, Some("mp4"), None, None, None, Some(640L), Some(360L), Some(7500L)),
      (10L, Some("mp4"), None, None, None, Some(1920L), Some(1080L), Some(5000L)),
      (11L, Some("wav"), None, None, None, None, None, None),
      (12L, Some("mp4"), None, None, None, None, None, None),
      (13L, Some("wav"), None, None, None, None, None, None),
      (14L, Some("mp4"), None, None, None, None, None, Some(7500L)),
      (15L, Some("mp4"), None, None, None, None, None, None),
      (16L, Some("mp4"), None, None, None, Some(360L), Some(640L), Some(7500L)),
      (17L, Some("mp4"), None, None, None, Some(1080L), Some(1920L), Some(5000L))))
    // reserved-column guard, same family contract as imageDims
    intercept[IllegalArgumentException] {
      Multimodal.avMetadata(media.withColumn("duration_ms", lit(1)))
    }
    // the parse is scan-side: no Exchange — blobs never shuffle
    val plan = Multimodal.avMetadata(media)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("avMetadata round-trips synthAvBytes across the corpus") {
    val parsed = Multimodal.avMetadata(
      Multimodal.synthAvBytes(docs, "doc_id"))
    val id = $"media_id"
    val isWav = pmod(id, lit(2)) === 0
    val ch = when(pmod(id, lit(4)) === 0, 1L).otherwise(2L)
    val sr = lit(8000) + pmod(id, lit(8)) * 1000
    val db = lit(1000) + pmod(id * 13, lit(9000))
    val ts = lit(600) + pmod(id, lit(10)) * 100
    val dur = lit(3000) + pmod(id * 11, lit(60000))
    // duration: exact integer floor-div twin of the parser's `div`
    val durBad = parsed
      .withColumn("want",
        when(isWav, floor((db * 1000) / (sr * ch * 2)))
          .otherwise(floor((dur * 1000) / ts)))
      .where($"duration_ms" =!= $"want" || $"duration_ms".isNull)
    assert(durBad.isEmpty, durBad.limit(5).collect().mkString("; "))
    val fieldBad = parsed.where(
      ($"av_format" =!= when(isWav, "wav").otherwise("mp4")) ||
      (isWav && ($"channels" =!= ch || $"sample_rate" =!= sr ||
        $"bits_per_sample" =!= 16L ||
        $"width".isNotNull || $"height".isNotNull)) ||
      (!isWav && ($"channels".isNotNull || $"sample_rate".isNotNull ||
        $"bits_per_sample".isNotNull ||
        $"width" =!= (lit(16) + pmod(id, lit(1024))) ||
        $"height" =!= (lit(16) + pmod(id * 7, lit(768))))))
    assert(fieldBad.isEmpty, fieldBad.limit(5).collect().mkString("; "))
  }

  test("avMetadata: golden MP3/FLAC headers, syncsafe/reserved/trunc -> NULL") {
    // GOLDEN bytes hand-assembled against the MPEG-1/2 audio and FLAC
    // specs (not the synth generator — a symmetric construct/parse bug
    // can't cancel).
    // Bare canonical frame: FF FB 90 00 = MPEG1 Layer III, 128 kbps,
    // 44.1 kHz, stereo; 156 payload bytes -> 160 audio bytes ->
    // 160*8/128 = 10 ms
    val mp3Bare = "FFFB9000" + ("AB" * 156)
    // ID3v2 tag of 130 body bytes: syncsafe 130 = <0,0,1,2> — a plain-u28
    // reader would land 126 bytes short of the frame; frame: MPEG2.5
    // (E3), 160 kbps (index 14, v2/v2.5 table), 8 kHz (index 2), mono
    // (C0); 96 payload bytes -> 100 audio bytes -> 100*8/160 = 5 ms
    val mp3Tagged = "494433" + "0300" + "00" + "00000102" + ("00" * 130) +
      "FFE3E8C0" + ("CD" * 96)
    // syncsafe size byte with the high bit set: malformed -> NULL fields,
    // 'mp3' format retained
    val mp3SyncBad = "494433" + "0400" + "00" + "00000080" + ("00" * 16)
    // reserved MPEG version bits (01) -> NULL fields
    val mp3VerBad = "FFEB9000" + ("AB" * 32)
    // bitrate index 15 (reserved) -> NULL fields
    val mp3BrBad = "FFFBF000" + ("AB" * 32)
    // sample-rate index 3 (reserved) -> NULL fields
    val mp3SrBad = "FFFB9C00" + ("AB" * 32)
    // ID3 tag size (70000, syncsafe <0,4,34,112>) larger than the hexed
    // prefix: the first frame is out of reach — octet_length is
    // whole-blob but __av_p derives from the PREFIX, so the length guard
    // must NULL the fields, not read past the hex or throw
    val mp3TagHuge = "494433" + "0400" + "00" + "00042270" + ("00" * 64)
    // FLAC with a 36-bit total-samples value (2^35): the u32-pair split —
    // u32a packs sr 44100 | ch-1 1 | bps-1 15 | total_hi 8 = 0x0AC442F8,
    // u32b = 0
    val flac36 = "664C6143" + "80" + "000022" + "1000" + "1000" +
      "000000" + "000000" + "0AC442F8" + "00000000" + ("00" * 16)
    // truncated STREAMINFO -> NULL fields, 'flac' retained
    val flacCut = "664C6143" + "80" + "0000"
    // first metadata block not STREAMINFO (type 4; the spec requires
    // STREAMINFO first, so this is defensive) -> NULL fields
    val flacWrongBlock = "664C6143" + "84" + "000022" + "1000" + "1000" +
      "000000" + "000000" + "0AC442F8" + "00000000" + ("00" * 16)
    val media = Seq((1L, mp3Bare), (2L, mp3Tagged), (3L, mp3SyncBad),
        (4L, mp3VerBad), (5L, mp3BrBad), (6L, mp3SrBad), (7L, mp3TagHuge),
        (8L, flac36), (9L, flacCut), (10L, flacWrongBlock))
      .toDF("media_id", "hx")
      .select($"media_id", unhex($"hx").as("content"))
    val got = Multimodal.avMetadata(media)
      .select($"media_id", $"av_format", $"channels", $"sample_rate",
        $"bits_per_sample", $"duration_ms")
      .as[(Long, Option[String], Option[Long], Option[Long], Option[Long],
        Option[Long])]
      .collect().sortBy(_._1).toSeq
    val flacDur = (1L << 35) * 1000 / 44100 // exact Long floor-div twin
    assert(got === Seq(
      (1L, Some("mp3"), Some(2L), Some(44100L), None, Some(10L)),
      (2L, Some("mp3"), Some(1L), Some(8000L), None, Some(5L)),
      (3L, Some("mp3"), None, None, None, None),
      (4L, Some("mp3"), None, None, None, None),
      (5L, Some("mp3"), None, None, None, None),
      (6L, Some("mp3"), None, None, None, None),
      (7L, Some("mp3"), None, None, None, None),
      (8L, Some("flac"), Some(2L), Some(44100L), Some(16L), Some(flacDur)),
      (9L, Some("flac"), None, None, None, None),
      (10L, Some("flac"), None, None, None, None)))
  }

  test("avMetadata: golden Ogg Opus/Vorbis headers, version/codec/trunc -> NULL") {
    // GOLDEN bytes hand-assembled against RFC 3533 (Ogg) + RFC 7845
    // (Opus) + the Vorbis I spec. Page front: OggS, version 0, BOS flag,
    // granule(8), serial(4), seq(4), crc(4) = 26 bytes, then the
    // segment-count byte and the variable lacing table the payload
    // offset must skip.
    val front1 = "4F676753" + "00" + "02" + ("00" * 8) + "01000000" +
      ("00" * 8) + "01" + "13" // 1 lacing value
    // stereo Opus, stored input rate 48000 (0xBB80 LE)
    val opusGold = front1 + "4F70757348656164" + "01" + "02" + "3801" +
      "80BB0000" + "0000" + "00"
    // 2-segment table: a fixed payload offset lands 1 byte short here
    val front2 = "4F676753" + "00" + "02" + ("00" * 8) + "02000000" +
      ("00" * 8) + "02" + "AA00"
    val vorbGold = front2 + "01" + "766F72626973" + "00000000" + "02" +
      "44AC0000" + ("00" * 12) + "B8" + "01" // stereo, 44100
    // stream-structure version != 0 -> NULL fields, 'ogg' retained
    val oggVerBad = "4F676753" + "01" + "02" + ("00" * 8) + "01000000" +
      ("00" * 8) + "01" + "13" + "4F70757348656164" + "01" + "02" +
      "3801" + "80BB0000" + "0000" + "00"
    // unknown first-packet codec -> NULL fields
    val oggUnknown = front1 + "DEADBEEF" + ("00" * 28)
    // truncated before the segment table -> NULL fields
    val oggCut = "4F676753" + "00"
    val media = Seq((1L, opusGold), (2L, vorbGold), (3L, oggVerBad),
        (4L, oggUnknown), (5L, oggCut))
      .toDF("media_id", "hx")
      .select($"media_id", unhex($"hx").as("content"))
    val got = Multimodal.avMetadata(media)
      .select($"media_id", $"av_format", $"codec", $"channels",
        $"sample_rate", $"duration_ms")
      .as[(Long, Option[String], Option[String], Option[Long], Option[Long],
        Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("ogg"), Some("opus"), Some(2L), Some(48000L), None),
      (2L, Some("ogg"), Some("vorbis"), Some(2L), Some(44100L), None),
      (3L, Some("ogg"), None, None, None, None),
      (4L, Some("ogg"), None, None, None, None),
      (5L, Some("ogg"), None, None, None, None)))
  }

  test("avMetadata: golden WebM/Matroska EBML, varint sizes, float decode, " +
      "malformed -> NULL") {
    // GOLDEN bytes hand-assembled against the EBML RFC 8794 + Matroska
    // element registry (not the synth generator — a symmetric
    // construct/parse bug can't cancel). Every field sits behind
    // variable-length varints; floats are IEEE 754 BE.
    // 1: minimal webm video — DocType 'webm', known-size boxes, f32
    // Duration 1500 ticks, TimestampScale 1e6, V_VP9 640x480
    val headWebm = "1A45DFA3" + "87" + "4282" + "84" + "7765626D"
    val segUnk = "18538067" + "01FFFFFFFFFFFFFF"
    val infoTsDur = "1549A966" + "8F" +
      "2AD7B1" + "84" + "000F4240" +
      "4489" + "84" + "44BB8000" // 1500.0f
    val tracksVideo = "1654AE6B" + "93" +
      "AE" + "91" +
        "86" + "85" + "565F565039" + // V_VP9
        "E0" + "88" + "B0" + "82" + "0280" + "BA" + "82" + "01E0"
    val cluster = "1F43B675" + "81" + "00"
    val webmGold = headWebm + segUnk + infoTsDur + tracksVideo + cluster
    // 2: matroska audio — 8-byte DocType, SeekHead + Void decoys, Info
    // with a 2-BYTE size varint (writers pad size fields), Duration as
    // f64 2500.0 with NO TimestampScale (default 1e6), A_OPUS 6ch 48kHz
    val headMkv = "1A45DFA3" + "8B" + "4282" + "88" + "6D6174726F736B61"
    val mkvGold = headMkv + segUnk +
      "114D9B74" + "82" + "AABB" + // SeekHead (generic 4-byte-id hop)
      "EC" + "83" + "CCDDEE" + // Void
      "1549A966" + "400B" + "4489" + "88" + "40A3880000000000" +
      "1654AE6B" + "98" +
        "AE" + "96" +
          "D7" + "81" + "01" + // TrackNumber (generic 1-byte-id hop)
          "86" + "86" + "415F4F505553" + // A_OPUS
          "E1" + "89" + "B5" + "84" + "473B8000" + "9F" + "81" + "06" +
      cluster
    // 3: an unknown-size element outside the descend set stops the walk
    // KEEPING fields found so far (dur yes, tracks never reached)
    val unkStop = headWebm + segUnk + infoTsDur +
      "EC" + "01FFFFFFFFFFFFFF" + tracksVideo
    // 4: Duration = +inf (0x7F800000) -> NULL duration, walk continues
    // to the tracks (dims still parsed)
    val infInfo = "1549A966" + "8F" +
      "2AD7B1" + "84" + "000F4240" + "4489" + "84" + "7F800000"
    val infDur = headWebm + segUnk + infInfo + tracksVideo + cluster
    // 5: truncated mid-TrackEntry -> dur kept, dims/codec NULL
    val truncTracks = (headWebm + segUnk + infoTsDur + tracksVideo)
      .dropRight(24)
    // 6: Cluster before Tracks (live-stream layout) -> dur kept
    val clusterFirst = headWebm + segUnk + infoTsDur + cluster + tracksVideo
    // 7: EBML head without DocType -> generic 'mkv'
    val noDocType = "1A45DFA3" + "84" + "4286" + "81" + "01" +
      segUnk + infoTsDur + cluster
    // 8: UNKNOWN-SIZE on a nested descend container too (live remuxes
    // write unknown-size Info/Tracks below the unknown-size Segment) —
    // descent never trusts a container's size, so every field parses
    val infoUnk = "1549A966" + "01FFFFFFFFFFFFFF" +
      "2AD7B1" + "84" + "000F4240" + "4489" + "84" + "44BB8000"
    val nestedUnk = headWebm + segUnk + infoUnk + tracksVideo + cluster
    val media = Seq((1L, webmGold), (2L, mkvGold), (3L, unkStop),
        (4L, infDur), (5L, truncTracks), (6L, clusterFirst), (7L, noDocType),
        (8L, nestedUnk))
      .toDF("media_id", "hx")
      .select($"media_id", unhex($"hx").as("content"))
    val got = Multimodal.avMetadata(media)
      .select($"media_id", $"av_format", $"codec", $"channels",
        $"sample_rate", $"width", $"height", $"duration_ms")
      .as[(Long, Option[String], Option[String], Option[Long], Option[Long],
        Option[Long], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("webm"), Some("V_VP9"), None, None, Some(640L), Some(480L),
        Some(1500L)),
      (2L, Some("mkv"), Some("A_OPUS"), Some(6L), Some(48000L), None, None,
        Some(2500L)),
      (3L, Some("webm"), None, None, None, None, None, Some(1500L)),
      (4L, Some("webm"), Some("V_VP9"), None, None, Some(640L), Some(480L),
        None),
      (5L, Some("webm"), None, None, None, None, None, Some(1500L)),
      (6L, Some("webm"), None, None, None, None, None, Some(1500L)),
      (7L, Some("mkv"), None, None, None, None, None, Some(1500L)),
      (8L, Some("webm"), Some("V_VP9"), None, None, Some(640L), Some(480L),
        Some(1500L))))
  }

  test("avMetadata round-trips synthWebmBytes across the corpus") {
    // every synthesized EBML container parses back to the id-derived
    // fields — through the Void decoy, the 1-vs-2-byte Info size varint,
    // f32-vs-f64 Duration, present-vs-default TimestampScale and
    // known-vs-unknown Segment size, all of which vary with the id
    val parsed = Multimodal.avMetadata(
      Multimodal.synthWebmBytes(docs, "doc_id"))
    val id = $"media_id"
    val hid = floor(id / lit(2)).cast("long")
    val even = pmod(id, lit(2)) === 0
    val bad = parsed.where(
      $"av_format" =!= when(even, "webm").otherwise("mkv") ||
      $"codec" =!= when(even, "V_VP9").otherwise("A_OPUS") ||
      $"duration_ms" =!= (lit(1000) + pmod(hid * 13, lit(9000))) ||
      when(even,
        $"width" =!= (lit(16) + pmod(hid, lit(1024))) ||
        $"height" =!= (lit(16) + pmod(hid * 7, lit(768))) ||
        $"channels".isNotNull || $"sample_rate".isNotNull)
        .otherwise(
          $"channels" =!= (lit(1) + pmod(hid, lit(8))) ||
          $"sample_rate" =!= (lit(8000) + pmod(hid, lit(8)) * 1000) ||
          $"width".isNotNull || $"height".isNotNull) ||
      $"bits_per_sample".isNotNull)
    assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
    // the variant axes all occur in the mix
    import org.apache.spark.sql.functions.countDistinct
    val variety = Multimodal.synthWebmBytes(docs, "doc_id")
      .select(floor($"media_id" / lit(2)).cast("long").as("hid"))
      .agg(countDistinct(pmod($"hid", lit(2))),
        countDistinct(pmod($"hid", lit(3))),
        countDistinct(pmod($"hid", lit(4))),
        countDistinct(pmod($"hid", lit(5))))
      .as[(Long, Long, Long, Long)].head()
    assert(variety === ((2L, 3L, 4L, 5L)), variety)
  }

  test("archiveMetadata: golden gzip/zip/zstd/xz/bz2, EOCD reverse search, " +
      "fake-magic comment -> NULL") {
    // GOLDEN bytes hand-assembled against RFC 1952 (gzip), APPNOTE
    // (ZIP), RFC 8878 (zstd) — not the synth generator. The tail-window
    // reads (gzip ISIZE, ZIP EOCD behind a variable comment) are the
    // machinery under test.
    // 1: gzip, mtime 1700000000, ISIZE 12345
    val gz = "1F8B" + "08" + "00" + "00F15365" + "00" + "03" +
      "AABB" + "11223344" + "39300000"
    // 2: gzip with a non-deflate CM byte -> detail NULL, fields kept
    val gzOdd = "1F8B" + "05" + "00" + "00F15365" + "00" + "03" +
      "AABB" + "11223344" + "39300000"
    // 3: header-only gzip (no trailer reachable) -> size NULL
    val gzShort = "1F8B" + "08" + "00" + "00F15365" + "00" + "03"
    // 4: one STORED member + 5-byte comment 'HELLO' — the EOCD is NOT the
    // last 22 bytes; only the reverse search + comment-length validation
    // find it
    val zLocal = "504B0304" + "1400" + "0000" + "0000" + "0000" + "0000" +
      "00000000" + "04000000" + "04000000" + "0400" + "0000" +
      "66696C30" + "44415441"
    val zCentral = "504B0102" + "1400" + "1400" + "0000" + "0000" +
      "0000" + "0000" + "00000000" + "04000000" + "04000000" + "0400" +
      "0000" + "0000" + "0000" + "0000" + "00000000" + "00000000" +
      "66696C30"
    val zip1 = zLocal + zCentral + "504B0506" + "0000" + "0000" +
      "0100" + "0100" + "32000000" + "26000000" + "0500" + "48454C4C4F"
    // 5: the 22-byte comment EMBEDS a fake EOCD magic — the reverse
    // search finds the fake (it is the LAST occurrence), its clen field
    // (0xFFFF) fails the comment-runs-to-EOF validation, and the result
    // is NULL, never the fake's garbage counts (single-probe contract)
    val zipFake = zLocal + zCentral + "504B0506" + "0000" + "0000" +
      "0100" + "0100" + "32000000" + "26000000" + "1600" +
      "504B0506" + ("FF" * 18)
    // 6: empty zip = bare EOCD, zero entries, no comment
    val zipEmpty = "504B0506" + "0000" + "0000" + "0000" + "0000" +
      "00000000" + "00000000" + "0000"
    // 6b (id 16): a ZIP64 archive stores 0xFFFF in the u16 counts as a
    // "see the ZIP64 EOCD" sentinel — reporting 65535 as a real count
    // would be wrong; NULL instead
    val zip64 = "504B0506" + "0000" + "0000" + "FFFF" + "FFFF" +
      "FFFFFFFF" + "FFFFFFFF" + "0000"
    // 7-10: zstd FCS widths — u8 (123), u16+256 (1000), u32 (100000),
    // u64 (5000000000, exercises the two-u32 compose); 11: no FCS
    // declared (flag 0, multi-segment) -> NULL by spec; 12: truncated FCS
    val zstd8 = "28B52FFD" + "20" + "7B" + "CAFE"
    val zstd16 = "28B52FFD" + "61" + "AB" + "E802" + "CAFE"
    val zstd32 = "28B52FFD" + "A0" + "A0860100" + "CAFE"
    val zstd64 = "28B52FFD" + "E0" + "00F2052A01000000" + "CAFE"
    val zstdNone = "28B52FFD" + "00" + "58" + "CAFE"
    val zstdCut = "28B52FFD" + "A0" + "A086"
    // 13: xz crc64; 14: bz2 level 9; 15: bz2 with a non-digit level byte
    // is NOT claimed
    val xz = "FD377A585A00" + "00" + "04" + "CAFE"
    val bz = "425A68" + "39" + "CAFE"
    val bzBad = "425A68" + "41" + "CAFE"
    // 17: a SKIPPABLE frame (0x184D2A5E LE + u32 size 3 + 3 opaque
    // bytes) before the real zstd frame — must hop and read the FCS;
    // 18: skippable declaring a size past the head window -> NULL
    // format (hop refused, fail-safe); 19: skippable frame ONLY (no
    // zstd frame after) -> NULL format
    val zstdSkip = "5E2A4D18" + "03000000" + "ABCDEF" +
      "28B52FFD" + "20" + "7B" + "CAFE"
    val zstdSkipHuge = "5E2A4D18" + "FFFFFF7F" + "ABCDEF" +
      "28B52FFD" + "20" + "7B" + "CAFE"
    val zstdSkipOnly = "502A4D18" + "03000000" + "ABCDEF"
    // 20: the EOCD record STRADDLES the tail window — a 4100-byte
    // comment pushes the magic before the default 4096-byte window, so
    // the reverse search sees only comment bytes: n_entries NULL (the
    // honest answer at this window size), never a mis-aligned garbage
    // read, format still 'zip' from the head magic
    val zipStraddle = zLocal + zCentral + "504B0506" + "0000" + "0000" +
      "0100" + "0100" + "32000000" + "26000000" + "0410" + ("00" * 4100)
    val media = Seq((1L, gz), (2L, gzOdd), (3L, gzShort), (4L, zip1),
        (5L, zipFake), (6L, zipEmpty), (7L, zstd8), (8L, zstd16),
        (9L, zstd32), (10L, zstd64), (11L, zstdNone), (12L, zstdCut),
        (13L, xz), (14L, bz), (15L, bzBad), (16L, zip64),
        (17L, zstdSkip), (18L, zstdSkipHuge), (19L, zstdSkipOnly),
        (20L, zipStraddle))
      .toDF("media_id", "hx")
      .select($"media_id", unhex($"hx").as("content"))
    val got = Multimodal.archiveMetadata(media)
      .select($"media_id", $"format", $"detail", $"n_entries",
        $"uncompressed_size", $"mtime_epoch")
      .as[(Long, Option[String], Option[String], Option[Long], Option[Long],
        Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("gzip"), Some("deflate"), None, Some(12345L),
        Some(1700000000L)),
      (2L, Some("gzip"), None, None, Some(12345L), Some(1700000000L)),
      (3L, Some("gzip"), Some("deflate"), None, None, Some(1700000000L)),
      (4L, Some("zip"), None, Some(1L), None, None),
      (5L, Some("zip"), None, None, None, None),
      (6L, Some("zip"), None, Some(0L), None, None),
      (7L, Some("zstd"), None, None, Some(123L), None),
      (8L, Some("zstd"), None, None, Some(1000L), None),
      (9L, Some("zstd"), None, None, Some(100000L), None),
      (10L, Some("zstd"), None, None, Some(5000000000L), None),
      (11L, Some("zstd"), None, None, None, None),
      (12L, Some("zstd"), None, None, None, None),
      (13L, Some("xz"), Some("crc64"), None, None, None),
      (14L, Some("bz2"), Some("level-9"), None, None, None),
      (15L, None, None, None, None, None),
      (16L, Some("zip"), None, None, None, None),
      (17L, Some("zstd"), None, None, Some(123L), None),
      (18L, None, None, None, None, None),
      (19L, None, None, None, None, None),
      (20L, Some("zip"), None, None, None, None)))
  }

  test("archiveMetadata round-trips synthArchiveBytes across the corpus") {
    val parsed = Multimodal.archiveMetadata(
      Multimodal.synthArchiveBytes(docs, "doc_id"))
    val id = $"media_id"
    val hid = floor(id / lit(5)).cast("long")
    val v = pmod(id, lit(5))
    val sub = pmod(hid, lit(4))
    val bad = parsed.where(
      $"format" =!= when(v === 0, "gzip").when(v === 1, "zip")
        .when(v === 2, "zstd").when(v === 3, "xz").otherwise("bz2") ||
      when(v === 0,
        $"detail" =!= "deflate" ||
        $"uncompressed_size" =!= (lit(1000) + pmod(hid * 13, lit(9000))) ||
        $"mtime_epoch" =!= (lit(1600000000L) + pmod(hid * 7, lit(100000))) ||
        $"n_entries".isNotNull)
        .when(v === 1,
          $"n_entries" =!= (lit(1) + pmod(hid, lit(4))) ||
          $"detail".isNotNull || $"uncompressed_size".isNotNull)
        .when(v === 2,
          when(sub === 0, $"uncompressed_size" =!= pmod(hid, lit(256)))
            .when(sub === 1,
              $"uncompressed_size" =!= (lit(256) + pmod(hid, lit(60000))))
            .when(sub === 2, $"uncompressed_size" =!=
              (lit(70000) + pmod(hid * 11, lit(1000000))))
            .otherwise($"uncompressed_size".isNotNull) ||
          $"detail".isNotNull || $"n_entries".isNotNull)
        .when(v === 3,
          $"detail" =!= when(pmod(hid, lit(3)) === 0, "crc32")
            .when(pmod(hid, lit(3)) === 1, "crc64").otherwise("sha256") ||
          $"uncompressed_size".isNotNull)
        .otherwise(
          $"detail" =!= concat(lit("level-"),
            (lit(1) + pmod(hid, lit(9))).cast("string")) ||
          $"uncompressed_size".isNotNull))
    assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
    // every family and every zstd FCS shape occurs in the mix
    import org.apache.spark.sql.functions.countDistinct
    val variety = parsed
      .agg(countDistinct($"format"),
        countDistinct(when(pmod(id, lit(5)) === 2,
          pmod(floor(id / lit(5)).cast("long"), lit(4)))))
      .as[(Long, Long)].head()
    assert(variety === ((5L, 4L)), variety)
  }

  test("canonicalizeUrls: golden URLs — case, default ports, tracking " +
      "params, sort, fragment, PSL heuristic, malformed -> NULL") {
    val urls = Seq(
      // scheme+host lowercase, PATH CASE KEPT, http:80 stripped,
      // tracking stripped, params sorted, fragment dropped
      (1L, "http://www.Example.COM:80/Path?utm_source=x&b=2&a=1#frag"),
      // https with an explicit :80 is NOT the default — kept; empty
      // path normalizes to '/'; co.uk is a multi-label public suffix
      (2L, "HTTPS://site.co.uk:80?q=1"),
      // deep subdomain chain -> last-two-label registrable domain
      (3L, "https://a.b.deep.example.org/x"),
      // single-label host is its own domain
      (4L, "http://localhost/x"),
      // every param tracking -> no '?' in the canonical form
      (5L, "http://h.io:8080/p?fbclid=z"),
      // unparseable -> NULL everything, never a throw (ANSI parse_url
      // would raise INVALID_URL here)
      (6L, "ht tp://bad url"),
      // no path, no query
      (7L, "https://example.com"),
      // digit run overflows BIGINT — java.net.URI's registry-authority
      // fallback accepts this, so an ANSI CAST would crash the job;
      // port must come back NULL (and be absent from the canonical form)
      (8L, "http://x:99999999999999999999/p"),
      // parseable but impossible on the wire (>65535) — also NULL
      (9L, "http://x:99999/p"),
      // RFC 3986 6.2.2.1: percent triplets normalize to UPPERCASE hex —
      // in the path, and in query params BEFORE the sort (a stray '%'
      // that encodes nothing already fails java.net.URI, so the NULL
      // path covers it)
      (10L, "http://a.com/P%2fx?b=%2f&a=1"),
      // IRI-form host: java.net.URI rejects non-ASCII authorities, so
      // without the idn_encode_host pre-pass every column NULLs; the
      // canonical host is the punycode A-label (case-folded by nameprep)
      (11L, "http://M\u00dcNCHEN.de/x"),
      // IDN behind userinfo + port: only the host is encoded
      (12L, "https://u@m\u00fcller.io:8080/p"))
      .toDF("url_id", "url")
    val got = graft.text.UrlOps.canonicalizeUrls(urls)
      .select($"url_id", $"url_host", $"url_port", $"registrable_domain",
        $"canonical_url")
      .as[(Long, Option[String], Option[Long], Option[String],
        Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, Some("www.example.com"), Some(80L), Some("example.com"),
        Some("http://www.example.com/Path?a=1&b=2")),
      (2L, Some("site.co.uk"), Some(80L), Some("site.co.uk"),
        Some("https://site.co.uk:80/?q=1")),
      (3L, Some("a.b.deep.example.org"), None, Some("example.org"),
        Some("https://a.b.deep.example.org/x")),
      (4L, Some("localhost"), None, Some("localhost"),
        Some("http://localhost/x")),
      (5L, Some("h.io"), Some(8080L), Some("h.io"),
        Some("http://h.io:8080/p")),
      (6L, None, None, None, None),
      (7L, Some("example.com"), None, Some("example.com"),
        Some("https://example.com/")),
      // over-Long digit run: registry-based authority, so HOST is NULL
      // too — the whole row degrades to NULL instead of throwing
      (8L, None, None, None, None),
      // >65535: host parses, the impossible port is dropped
      (9L, Some("x"), None, Some("x"), Some("http://x/p")),
      (10L, Some("a.com"), None, Some("a.com"),
        Some("http://a.com/P%2Fx?a=1&b=%2F")),
      (11L, Some("xn--mnchen-3ya.de"), None, Some("xn--mnchen-3ya.de"),
        Some("http://xn--mnchen-3ya.de/x")),
      (12L, Some("xn--mller-kva.io"), Some(8080L), Some("xn--mller-kva.io"),
        Some("https://xn--mller-kva.io:8080/p"))))
  }

  test("canonicalizeUrls round-trips synthUrls across the corpus") {
    val parsed = graft.text.UrlOps.canonicalizeUrls(
      graft.text.UrlOps.synthUrls(docs, "doc_id"))
    val id = $"url_id"
    def m(k: Int) = pmod(id, lit(k))
    val core = concat(lit("site"), pmod(id, lit(100)).cast("string"))
    val tld = when(m(4) === 0, "com").when(m(4) === 1, "org")
      .when(m(4) === 2, "co.uk").otherwise("io")
    val host = concat(
      when(m(3) === 0, "").when(m(3) === 1, "www.").otherwise("a.b."),
      core, lit("."), tld)
    val canon = concat(
      when(m(2) === 0, "http").otherwise("https"), lit("://"), host,
      when(m(6) === 0, when(m(2) === 0, "").otherwise(":80"))
        .when(m(6) === 1, ":8080").otherwise(""),
      when(m(7) === 0, "/").otherwise(
        concat(lit("/p"), pmod(id, lit(50)).cast("string"),
          when(m(9) === 4, "%2F").otherwise(""))),
      concat(lit("?a=1&q="), pmod(id, lit(30)).cast("string")))
    val domain = concat(core, lit("."), tld)
    val bad = parsed.where(
      $"canonical_url" =!= canon || $"registrable_domain" =!= domain ||
      $"url_host" =!= host ||
      $"canonical_url".isNull || $"registrable_domain".isNull)
    assert(bad.isEmpty,
      bad.select("url_id", "url", "canonical_url", "registrable_domain")
        .limit(5).collect().mkString("; "))
  }

  test("avMetadata round-trips synthOggBytes across the corpus") {
    val parsed = Multimodal.avMetadata(
      Multimodal.synthOggBytes(docs, "doc_id"))
    val id = $"media_id"
    val hid = floor(id / lit(2)).cast("long")
    val bad = parsed.where(
      $"av_format" =!= "ogg" ||
      $"codec" =!= when(pmod(id, lit(2)) === 0, "opus").otherwise("vorbis") ||
      $"channels" =!= (lit(1) + pmod(hid, lit(8))) ||
      $"sample_rate" =!= (lit(8000) + pmod(hid, lit(8)) * 5000) ||
      $"duration_ms".isNotNull || $"bits_per_sample".isNotNull ||
      $"width".isNotNull || $"height".isNotNull)
    assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
    // all three segment-table lengths occur in the mix
    import org.apache.spark.sql.functions.countDistinct
    assert(parsed.agg(countDistinct(pmod(hid, lit(3))))
      .head().getLong(0) === 3L)
  }

  test("avMetadata round-trips synthAudioBytes across the corpus") {
    val parsed = Multimodal.avMetadata(
      Multimodal.synthAudioBytes(docs, "doc_id"))
    val id = $"media_id"
    val hid = floor(id / lit(2)).cast("long")
    val isMp3 = pmod(id, lit(2)) === 0
    val v = when(pmod(hid, lit(3)) === 0, 3L)
      .when(pmod(hid, lit(3)) === 1, 2L).otherwise(0L)
    val bi = (lit(1) + pmod(hid * 5, lit(14))).cast("int")
    val si1 = (pmod(hid * 7, lit(3)) + 1).cast("int")
    val kbps = when(v === 3, element_at(
        typedlit(Seq(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
          256, 320)), bi))
      .otherwise(element_at(
        typedlit(Seq(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
          160)), bi))
    val sr = when(v === 3, element_at(typedlit(Seq(44100, 48000, 32000)), si1))
      .when(v === 2, element_at(typedlit(Seq(22050, 24000, 16000)), si1))
      .otherwise(element_at(typedlit(Seq(11025, 12000, 8000)), si1))
    val ch = when(pmod(hid, lit(4)) === 3, 1L).otherwise(2L)
    val audioN = lit(50) + pmod(hid * 13, lit(200))
    val fsr = lit(8000) + pmod(hid, lit(8)) * 1000
    val fch = lit(1) + pmod(hid, lit(8))
    val fbps = lit(8) + pmod(hid, lit(3)) * 8
    val ftotal = pmod(hid * 17, lit(8)) * lit(4294967296L) +
      lit(100000) + pmod(hid * 13, lit(1000000))
    val bad = parsed.where(
      ($"av_format" =!= when(isMp3, "mp3").otherwise("flac")) ||
      (isMp3 && ($"channels" =!= ch || $"sample_rate" =!= sr ||
        $"bits_per_sample".isNotNull ||
        $"duration_ms" =!= floor((audioN + 4) * 8 / kbps))) ||
      (!isMp3 && ($"channels" =!= fch || $"sample_rate" =!= fsr ||
        $"bits_per_sample" =!= fbps ||
        $"duration_ms" =!= floor(ftotal * 1000 / fsr))))
    assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
    // every MPEG version / both kbps tables / all 4 channel modes and
    // the nonzero total_hi split all actually occur in the mix
    import org.apache.spark.sql.functions.countDistinct
    val variety = parsed.agg(
      countDistinct(when(isMp3, pmod(hid, lit(3)))).as("vers"),
      countDistinct(when(isMp3, pmod(hid, lit(4)))).as("cms"),
      countDistinct(when(!isMp3, pmod(hid * 17, lit(8)))).as("this")
    ).as[(Long, Long, Long)].head()
    assert(variety === ((3L, 4L, 8L)), variety)
  }

  test("header parsers never throw under exhaustive truncation + " +
      "corruption fuzz") {
    // EVERY prefix length of every synth container family, plus byte
    // corruptions at id-derived positions, through EVERY parser (cross-
    // format: WAV bytes through imageDims find its weak sniffs too).
    // Under ANSI mode any unguarded CAST / element_at / partial-field
    // read is a job-killing throw — this fuzz is the standing regression
    // net for the class that produced the r12 WAV truncation bug and the
    // r13 INT-overflow-on-huge-chunk-size bug. It asserts ONLY the
    // contract fuzz can check: every input row yields exactly one output
    // row and no expression throws; field correctness is the golden and
    // round-trip tests' job.
    val base = docs.where($"doc_id" < 48).select($"doc_id")
    // force full evaluation of every parsed column (a bare count would
    // let column pruning skip the parse expressions entirely)
    def force(df: org.apache.spark.sql.DataFrame): Long = {
      val r = df.agg(count(lit(1)),
        sum(hash(df.columns.map(col): _*)).cast("long")).head()
      r.getLong(0)
    }
    // every prefix, plus 00/80/FF written at an id-derived position
    for ((_, fam) <- MediaGoldens.fuzzFamilies(base)) {
      val mutated = MediaGoldens.mutations(fam)
      val nIn = mutated.count()
      // default bounds AND tiny bounds that force every walk off the
      // read prefix mid-structure
      assert(force(Multimodal.imageDims(mutated)) === nIn)
      assert(force(Multimodal.imageDims(mutated, headerBytes = 32)) === nIn)
      assert(force(Multimodal.imageDhash(mutated)) === nIn)
      assert(force(Multimodal.imageDhash(mutated, maxBytes = 128)) === nIn)
      assert(force(Multimodal.avMetadata(mutated)) === nIn)
      assert(force(Multimodal.avMetadata(mutated, headerBytes = 64)) === nIn)
      assert(force(Multimodal.archiveMetadata(mutated)) === nIn)
      assert(force(Multimodal.archiveMetadata(mutated,
        headBytes = 16, tailBytes = 26)) === nIn)
      assert(force(graft.multimodal.Pdf.pdfTriage(mutated)) === nIn)
      assert(force(graft.multimodal.Pdf.pdfTriage(mutated,
        headBytes = 16, tailBytes = 32)) === nIn)
    }
  }

  test("archiveMetadata and pdfTriage match the recorded goldens: synth " +
      "families, and every fuzz mutation at default and minimum bounds") {
    val bad = MediaGoldens.mismatches(MediaGoldens.archiveAndTriage(spark))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("asBinaryMedia assigns a kind to negative ids: pmod, not %") {
    val media = Multimodal.asBinaryMedia(
      (-6L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      "doc_id", "text")
    val kinds = media.select($"media_id", $"kind").as[(Long, String)]
      .collect().toMap
    val cycle = Seq("image", "audio", "video")
    assert(kinds === (-6L to 5L).map(i =>
      i -> cycle((((i % 3) + 3) % 3).toInt)).toMap)
  }

  test("synth generators produce parseable containers at NEGATIVE ids") {
    // the pmod / floor-div idiom exists so a negative-id corpus derives
    // the same bytes on both engines; a stray '%' or truncating division
    // would produce negative residues whose hex() is 16 chars wide and
    // silently truncates inside lpad, yielding NULL fields only at
    // negative ids — this pins every family end-to-end there
    val neg = spark.range(-64, 0).toDF("doc_id")
    def bad(df: org.apache.spark.sql.DataFrame,
            cond: org.apache.spark.sql.Column) = {
      val b = df.where(!cond || cond.isNull)
      assert(b.isEmpty, b.limit(3).collect().mkString("; "))
    }
    bad(Multimodal.imageDims(Multimodal.synthImageBytes(neg, "doc_id")),
      $"format".isin("png", "jpeg") && $"width".isNotNull &&
        $"height".isNotNull)
    bad(Multimodal.imageDims(Multimodal.synthWebImageBytes(neg, "doc_id")),
      $"format".isin("gif", "webp") && $"width".isNotNull &&
        $"height".isNotNull)
    bad(Multimodal.imageDims(Multimodal.synthBmpIcoBytes(neg, "doc_id")),
      $"format".isin("bmp", "ico") && $"width".isNotNull &&
        $"height".isNotNull)
    bad(Multimodal.imageDims(Multimodal.synthTiffBytes(neg, "doc_id")),
      $"format" === "tiff" && $"width".isNotNull && $"height".isNotNull)
    bad(Multimodal.imageDims(Multimodal.synthExifJpegBytes(neg, "doc_id")),
      $"format" === "jpeg" && $"orientation".isNotNull &&
        $"width".isNotNull && $"height".isNotNull)
    bad(Multimodal.imageDims(Multimodal.synthIsobmffBytes(neg, "doc_id")),
      $"format".isin("avif", "heic") && $"width".isNotNull &&
        $"height".isNotNull)
    bad(Multimodal.avMetadata(Multimodal.synthAvBytes(neg, "doc_id")),
      $"av_format".isin("wav", "mp4") && $"duration_ms".isNotNull)
    bad(Multimodal.avMetadata(Multimodal.synthAudioBytes(neg, "doc_id")),
      $"av_format".isin("mp3", "flac") && $"channels".isNotNull &&
        $"sample_rate".isNotNull && $"duration_ms".isNotNull)
    bad(Multimodal.avMetadata(Multimodal.synthOggBytes(neg, "doc_id")),
      $"av_format" === "ogg" && $"codec".isNotNull &&
        $"channels".isNotNull && $"sample_rate".isNotNull)
    bad(Multimodal.avMetadata(Multimodal.synthWebmBytes(neg, "doc_id")),
      $"av_format".isin("webm", "mkv") && $"codec".isNotNull &&
        $"duration_ms".isNotNull)
    bad(Multimodal.archiveMetadata(Multimodal.synthArchiveBytes(neg,
        "doc_id")),
      $"format".isin("gzip", "zip", "zstd", "xz", "bz2"))
  }

  test("imageDims: bounded header prefix, no shuffle in the plan") {
    val media = Multimodal.synthImageBytes(docs, "doc_id")
    // a prefix too short to reach the JPEG SOF fails safe to NULL dims
    // (PNG's 24-byte IHDR still parses at the 32-byte minimum bound)
    val truncated = Multimodal.imageDims(media, headerBytes = 32)
      .select($"media_id", $"format", $"width")
      .as[(Long, String, Option[Long])].collect()
    assert(truncated.forall { case (id, fmt, w) =>
      if (fmt == "png") w.isDefined else w.isEmpty })
    assert(truncated.exists(_._2 == "jpeg")) // the fail-safe side exercised
    // the whole parse is scan-side — no Exchange anywhere in the plan
    // (blobs must never shuffle)
    val plan = Multimodal.imageDims(media)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    // same contract for the archive parser (its TAIL window included)
    val arPlan = Multimodal.archiveMetadata(
        Multimodal.synthArchiveBytes(docs, "doc_id"))
      .queryExecution.executedPlan.toString
    assert(!arPlan.contains("Exchange"), arPlan.take(2000))
  }

  test("imageDims round-trips synthImageBytes across the corpus") {
    // every synthesized container parses back to the id-derived
    // dimensions — including the JPEGs whose variable-length COM segment
    // shifts the SOF0, where a fixed-offset read would produce garbage
    val parsed = Multimodal.imageDims(
      Multimodal.synthImageBytes(docs, "doc_id"))
    val bad = parsed.where(
      $"width" =!= (lit(16) + $"media_id" % 1024) ||
      $"height" =!= (lit(16) + ($"media_id" * 7) % 768) ||
      $"format" =!= when($"media_id" % 2 === 0, "png").otherwise("jpeg") ||
      $"width".isNull || $"height".isNull)
    assert(bad.isEmpty, bad.limit(5).collect().mkString("; "))
  }
}
