package graft

/** imageDims (decoded by `Multimodal.parseImageDims`) must be
  * bit-compatible with the expression parser it replaced, whose output
  * on these fixtures is recorded in the golden table ([[MediaGoldens]]):
  * the same format label, dims and orientation on every synth family,
  * truncation and malformed header, and the same q133 census. */
class ImageDimsFastSpec extends SparkSpec {
  import MediaGoldens._

  private def check(groups: Groups): Unit = {
    val bad = mismatches(groups)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("parity on all five synth families across a wide id range") {
    check(dimsSynth(spark)) // the five plus the EXIF-tagged JPEGs
  }

  test("parity on truncations of every family (the clamped-read paths)") {
    check(dimsTrunc(spark))
  }

  test("parity on malformed headers") {
    check(dimsMalformed(spark))
  }

  test("q133 census image half aggregates as recorded") {
    check(dimsCensus(spark, sf))
  }
}
