package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Rand

import graft.functions.MediaParse
import graft.multimodal.{Audio, Multimodal}

/** The four media parsers as native SQL functions, and the plans that
  * predicates on their parsed columns produce. */
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
}
