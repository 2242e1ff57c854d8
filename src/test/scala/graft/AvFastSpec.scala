package graft

import graft.multimodal.Multimodal

/** avMetadata (decoded by `AvFast.parse`) must be bit-compatible
  * with the expression parser it replaced, whose output on these
  * fixtures is recorded in the golden table ([[MediaGoldens]]): the same
  * 8 appended columns on every synth family, adversarial ids and
  * malformed blobs, and the same q133 census. */
class AvFastSpec extends SparkSpec {
  import MediaGoldens._

  private def check(groups: Groups): Unit = {
    val bad = mismatches(groups)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("parity on all four synth families across a wide id range " +
      "(negatives = adversarial per repo convention)") {
    check(avSynth(spark))
  }

  test("parity on malformed/truncated/garbage blobs and prefix edges") {
    check(avMalformedRows(spark))
  }

  test("q133 census A/V half aggregates as recorded over the real corpus " +
      "bytes") {
    check(avCensus(spark, sf))
  }

  test("u64 values at or above 2^63 read as NULL, never wrap or throw: " +
      "mvhd v1 duration, ISO-BMFF largesize, EBML integer leaf") {
    import spark.implicits._
    def mvhd1(dur: String) = // ftyp, then mvhd v1 with timescale 1000
      "000000106674797069736F6D00000000" + "000000786D766864" +
        "01000000" + "00" * 16 + "000003E8" + dur + "00" * 80
    // EBML head (DocType webm), then Segment > Tracks > TrackEntry >
    // Video, each with an unknown size, then a PixelWidth leaf
    val ebml = "1A45DFA3" + "8B" + "4282" + "84" + "7765626D" +
      "18538067" + "FF" + "1654AE6B" + "FF" + "AE" + "FF" + "E0" + "FF"
    val avif = "00000014" + "66747970" + "61766966" + "00000000" + "6D696631"
    val ispe = "00000014" + "69737065" + "00000000" + "00000280" + "000001E0"
    val largeFree = "00000001" + "66726565" + "8000000000000000"
    val media = Seq(
      1L -> mvhd1("8000000000000000"), // 2^63
      2L -> mvhd1("FFFFFFFFFFFFFFFF"), // 2^64 - 1
      3L -> mvhd1("0020C49BA5E353F8"), // < 2^63, but x 1000 overflows
      4L -> mvhd1("0000000000002710"), // control: 10 s
      5L -> ("000000106674797069736F6D00000000" + largeFree + "00" * 8),
      6L -> (ebml + "B0" + "88" + "8000000000000000"), // width 2^63
      7L -> (ebml + "B0" + "88" + "0000000000000280"), // control: 640
      8L -> (avif + largeFree + ispe), // the walk ends before the ispe
      9L -> (avif + ispe)               // control: 640 x 480
    ).map { case (k, h) => k -> hx(h) }.toDF("media_id", "content")
    val av = Multimodal.avMetadata(media.where($"media_id" <= 7L))
      .select($"media_id", $"av_format", $"width", $"duration_ms")
      .as[(Long, Option[String], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(av === Seq(
      (1L, Some("mp4"), None, None),
      (2L, Some("mp4"), None, None),
      (3L, Some("mp4"), None, None),
      (4L, Some("mp4"), None, Some(10000L)),
      (5L, Some("mp4"), None, None),
      (6L, Some("webm"), None, None),
      (7L, Some("webm"), Some(640L), None)))
    val dims = Multimodal.imageDims(media.where($"media_id" >= 8L))
      .select($"media_id", $"format", $"width", $"height")
      .as[(Long, Option[String], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(dims === Seq((8L, Some("avif"), None, None),
      (9L, Some("avif"), Some(640L), Some(480L))))
  }
}
