package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

class ImageDhashSpec extends SparkSpec {
  import spark.implicits._

  private def hashes(ids: Long*): Map[Long, Option[Long]] =
    Multimodal.imageDhash(Multimodal.synthDhashImageBytes(
      ids.toDF("doc_id"), "doc_id"))
      .select($"media_id", $"dhash")
      .as[(Long, Option[Long])].collect().toMap

  test("cross-container content identity: ids congruent mod 256 render " +
      "the same pixels in DIFFERENT layouts (24bpp bottom-up BMP, " +
      "32bpp top-down BMP, ICO) and must hash identically") {
    // all ≡ 0 mod 256 (identical pixels), hitting all three variants:
    // 0 -> pmod 3 = 0 (bmp24), 256 -> 1 (top-down bmp32), 1280 -> 2
    // (ico; 512 would be ico too but 512 ≡ 6 mod 11 is the garbage row)
    val h = hashes(0L, 256L, 1280L, 5L)
    assert(h(0L).isDefined)
    assert(h(0L) === h(256L), "bmp24 vs top-down bmp32 diverged")
    assert(h(0L) === h(1280L), "bmp vs ico diverged")
    assert(h(0L) !== h(5L), "different pixels must differ")
  }

  test("planted one-pixel near-dup lands within Hamming 1 of its " +
      "source; unrelated images sit far away; banding finds the plant") {
    val h = hashes(40L, 41L, 43L)  // 41 = plant of 40; 43 unrelated
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(40L).get, h(41L).get) <= 1)
    assert(ham(h(40L).get, h(43L).get) > 8)
    val sigs = Multimodal.imageDhash(Multimodal.synthDhashImageBytes(
      Seq(40L, 41L, 43L).toDF("doc_id"), "doc_id"))
      .select($"media_id".as("id"), $"dhash".as("simhash"))
    val pairs = graft.dedup.Dedup.simhashBandedDups(sigs, "id", 64, 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((40L, 41L)))
  }

  test("malformed inputs NULL, never throw: garbage bytes, truncated " +
      "pixel arrays, unsupported bpp, and NULL rows never reach banding") {
    val h = hashes(6L)  // pmod(6, 11) = 6 -> garbage bytes
    assert(h(6L).isEmpty)
    // truncate a valid image mid-pixel-array: dhash must go NULL
    val truncated = Multimodal.synthDhashImageBytes(
      Seq(3L).toDF("doc_id"), "doc_id")
      .select($"media_id", expr("substring(content, 1, 100)").as("content"))
    val ht = Multimodal.imageDhash(truncated)
      .select($"dhash").collect().head
    assert(ht.isNullAt(0))
    // an 8-bpp palette BMP is undecodable here: NULL, not garbage
    val pal = Seq((9L, Array.fill[Byte](200)(0x42))).toDF("media_id", "content")
    assert(Multimodal.imageDhash(pal).select($"dhash")
      .collect().head.isNullAt(0))
    // NULL-hash rows joined into banding produce no pairs (null keys
    // drop from the equi-join — no filter needed upstream)
    val sigs = Multimodal.imageDhash(Multimodal.synthDhashImageBytes(
      Seq(6L, 17L).toDF("doc_id"), "doc_id"))
      .select($"media_id".as("id"), $"dhash".as("simhash"))
    assert(graft.dedup.Dedup.simhashBandedDups(sigs, "id", 64, 2)
      .count() === 0)
  }

  test("dHash matches the recorded goldens across all three layouts, " +
      "plants, garbage, truncation and malformed headers") {
    // the wide id range covers every pmod class: 24bpp bottom-up BMP,
    // 32bpp top-down BMP, single-image ICO, near-dup plants, garbage
    val bad = MediaGoldens.mismatches(MediaGoldens.dhash(spark))
    assert(bad.isEmpty, bad.mkString("\n"))
    val hashes = Multimodal.imageDhash(Multimodal.synthDhashImageBytes(
        MediaGoldens.wideIds.toDF("doc_id"), "doc_id"))
      .select($"dhash").as[Option[Long]].collect()
    assert(hashes.count(_.isDefined) > 400, "fixture must mostly decode")
  }

  test("PNG and JPEG dHash match the goldens recorded from the former " +
      "per-format decode rungs: synth families and malformed sets") {
    val bad = MediaGoldens.mismatches(MediaGoldens.dhashDecoded(spark))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("64-bit banding chunks use UNSIGNED shifts: a signature with the " +
      "sign bit set pairs with its 1-bit neighbor and never throws") {
    // MinValue vs 0 differ ONLY in the sign bit (hamming 1): with a
    // signed `>>` the top chunk would smear to all-ones and the join
    // key would still match, but the smeared cv of MinValue|1 vs
    // MinValue would break — unsigned shifts make all three pair up
    val sigs = Seq((1L, Long.MinValue), (2L, Long.MinValue | 1L),
      (3L, 0L)).toDF("id", "simhash")
    val got = graft.dedup.Dedup.simhashBandedDups(sigs, "id", 64, 2)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 2)))
    // bits=64 with maxHamming=0 would need one 64-wide mask: refused
    intercept[IllegalArgumentException] {
      graft.dedup.Dedup.simhashBandedDups(sigs, "id", 64, 0)
    }
  }
}
