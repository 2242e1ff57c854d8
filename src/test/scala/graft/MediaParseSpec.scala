package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Rand

import graft.functions.{IdnEncodeHost, MediaParse, NfcNormalize, RobotsPathMatch}
import graft.multimodal.{Audio, Multimodal, Pdf}

/** The blob parsers as native SQL functions, the plans that predicates
  * on their parsed columns produce, and function registration. */
class MediaParseSpec extends SparkSpec {
  import spark.implicits._

  private def ids(xs: Long*): DataFrame = xs.toDF("doc_id")

  test("image_dims, image_dhash, av_metadata and audio_fingerprint " +
      "resolve from spark.sql after register and agree with the " +
      "DataFrame API") {
    MediaParse.register(spark)
    val media = Seq(
      Multimodal.synthImageBytes(ids(2L), "doc_id"),
      Multimodal.synthDhashImageBytes(ids(3L), "doc_id"),
      Multimodal.synthAvBytes(ids(4L), "doc_id"),
      Audio.synthWavPcmBytes(ids(10L), "doc_id")).reduce(_ unionByName _)
    media.createOrReplaceTempView("media_parse_spec")
    val viaSql = spark.sql(
      """SELECT media_id, image_dims(content).width AS width,
        |       image_dhash(content) AS dh,
        |       av_metadata(content).duration_ms AS duration_ms,
        |       audio_fingerprint(content) AS fp
        |FROM media_parse_spec""".stripMargin)
      .selectExpr("media_id", "width", "dh.dhash", "duration_ms", "fp.afp")
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    def api(parsed: DataFrame, field: String): Map[Long, Option[Long]] =
      parsed.select($"media_id", parsed(field))
        .as[(Long, Option[Long])].collect().toMap
    val (w, dh, dur, fp) = (api(Multimodal.imageDims(media), "width"),
      api(Multimodal.imageDhash(media), "dhash"),
      api(Multimodal.avMetadata(media), "duration_ms"),
      api(Audio.audioEnergyFingerprint(media), "afp"))
    val viaApi = viaSql.map(_._1).map(id => (id, w(id), dh(id), dur(id), fp(id)))
    assert(viaSql === viaApi)
    // every parser produced its field on its own blob
    assert(viaSql.map(r => (r._1, r._2.isDefined, r._3.isDefined,
        r._4.isDefined, r._5.isDefined)) === Seq(
      (2L, true, false, false, false), (3L, true, true, false, false),
      (4L, false, false, true, false), (10L, false, false, true, true)))
    // optional trailing bounds: literals only
    val short = spark.sql("SELECT image_dims(content, 16, 32).format AS f " +
      "FROM media_parse_spec WHERE media_id = 2").as[String].collect()
    assert(short.toSeq === Seq("png"))
    intercept[Exception] {
      spark.sql("SELECT image_dims(content, media_id) FROM media_parse_spec")
        .collect()
    }
  }

  test("predicates on parsed columns plan in under 2 s and carry no rand " +
      "barrier: a q167-shaped dHash banding and a resolution filter") {
    val docs = (0L until 64L).toDF("doc_id")
    def q167: DataFrame = graft.dedup.Dedup.simhashBandedDups(
      Multimodal.imageDhash(Multimodal.synthDhashImageBytes(docs, "doc_id"))
        .where($"dhash".isNotNull)
        .select($"media_id".as("id"), $"dhash".as("simhash")),
      "id", 64, 2)
    def wide: DataFrame = Multimodal.imageDims(
        Multimodal.synthBmpIcoBytes(docs, "doc_id"))
      .where($"width" > 100)
    for ((label, build) <- Seq("q167" -> (() => q167), "width" -> (() => wide))) {
      build().queryExecution.executedPlan // warm the planner once
      val df = build()
      val t0 = System.nanoTime()
      df.queryExecution.executedPlan
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 2.0, s"$label planned in $secs s")
      val plan = df.queryExecution.optimizedPlan
      assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[Rand]))),
        s"$label: rand in the optimized plan\n$plan")
      assert(df.count() > 0, label)
    }
    // the resolution filter stays above the parse: one decode per row
    val parses = wide.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case e: MediaParse => e }))
    assert(parses.size === 1, wide.queryExecution.optimizedPlan)
  }

  test("archive_metadata, pdf_triage and pdf_text resolve from spark.sql " +
      "after register and agree with the DataFrame API") {
    MediaParse.register(spark)
    val media = Seq(
      Multimodal.synthArchiveBytes(ids(0L, 1L, 2L), "doc_id"),
      Pdf.synthPdfBytes(ids(10L), "doc_id"),
      Pdf.synthTextPdfBytes(ids(20L), "doc_id")).reduce(_ unionByName _)
    media.createOrReplaceTempView("media_parse_spec_docs")
    val fields = Seq("format", "n_entries", "uncompressed_size",
      "n_pages_approx", "startxref", "pdf_text", "n_show_ops")
    val viaSql = spark.sql(
      """SELECT media_id, archive_metadata(content, 4096, 4096) AS a,
        |       pdf_triage(content) AS t, pdf_text(content, 65536) AS x
        |FROM media_parse_spec_docs""".stripMargin)
      .selectExpr("media_id", "a.format", "a.n_entries",
        "a.uncompressed_size", "t.n_pages_approx", "t.startxref",
        "x.pdf_text", "x.n_show_ops")
    val viaApi = Pdf.extractPdfText(Pdf.pdfTriage(
        Multimodal.archiveMetadata(media)), maxStreamBytes = 65536)
      .select("media_id", fields: _*)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    assert(rows(viaSql) === rows(viaApi))
    // every parser produced its fields on its own blob
    val got = rows(viaSql).map(r => r.head -> r.tail.map(_ != null)).toMap
    assert(got(0L) === Seq(true, false, true, false, false, false, false))
    assert(got(1L) === Seq(true, true, false, false, false, false, false))
    assert(got(10L) === Seq(false, false, false, true, true, false, true))
    assert(got(20L) === Seq(false, false, false, false, true, true, true))
  }

  test("filters on archiveMetadata and pdfTriage columns plan with no " +
      "rand barrier and exactly one parse") {
    // a Range, not a local Seq: the optimizer cannot fold the plan away
    val docs = spark.range(0, 64).toDF("doc_id")
    for (df <- Seq(
        Multimodal.archiveMetadata(
          Multimodal.synthArchiveBytes(docs, "doc_id"))
          .where($"format" === "zip"),
        Pdf.pdfTriage(Pdf.synthPdfBytes(docs, "doc_id"))
          .where($"n_pages_approx" > 1))) {
      val plan = df.queryExecution.optimizedPlan
      assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[Rand]))),
        s"rand in the optimized plan\n$plan")
      val parses = plan.flatMap(_.expressions.flatMap(
        _.collect { case e: MediaParse => e }))
      assert(parses.size === 1, plan)
      assert(df.count() > 0, plan)
    }
  }

  test("registering a function twice keeps the first registration") {
    // each registration stores a new ExpressionInfo (the builder itself
    // may be one cached lambda instance), so identity tells them apart
    val registry = spark.sessionState.functionRegistry
    for ((name, register) <- Seq[(String, () => Unit)](
        "nfc_normalize" -> (() => NfcNormalize.register(spark)),
        "idn_encode_host" -> (() => IdnEncodeHost.register(spark)),
        "robots_path_match" -> (() => RobotsPathMatch.register(spark)),
        "pdf_text" -> (() => MediaParse.register(spark)))) {
      register()
      val first = registry.lookupFunction(FunctionIdentifier(name))
      assert(first.isDefined, name)
      register()
      assert(registry.lookupFunction(FunctionIdentifier(name))
        .exists(_ eq first.get), s"$name was registered again")
    }
  }
}
