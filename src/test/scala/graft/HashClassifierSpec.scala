package graft

import org.apache.spark.sql.functions._

import graft.text.HashClassifier

class HashClassifierSpec extends SparkSpec {
  import spark.implicits._

  test("scoreText: vocab hits, OOV hash buckets, exact integer sums, " +
      "empty/NULL text, plan exchange-free") {
    val df = Seq(
      (1L, "fast fast slow"),             // 800+800-800 = 800, n=3
      (2L, "  Fast\tSLOW "),              // case/whitespace: 800-800=0
      (3L, "zzzunknownzzz"),              // pure OOV: hash bucket
      (4L, ""),                           // empty -> NULLs
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = HashClassifier.scoreText(df, "text",
      HashClassifier.demoVocab)
    val got = out.select($"doc_id", $"n_tokens", $"milli_sum",
      $"cls_score", $"cls_label")
      .as[(Long, Long, Option[Long], Option[Double], Option[Boolean])]
      .collect().sortBy(_._1).toSeq
    assert(got(0) === ((1L, 3L, Some(800L), Some(800.0 / 3000.0),
      Some(true))))
    assert(got(1) === ((2L, 2L, Some(0L), Some(0.0), Some(false))))
    // OOV weight is the documented md5 arithmetic, in [-100, 100]
    val oov = got(2)._3.get
    assert(oov === HashClassifier.oovMilli("zzzunknownzzz") && oov.abs <= 100)
    assert(got(3) === ((4L, 0L, None, None, None)))
    assert(got(4) === ((5L, 0L, None, None, None)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // threshold shifts the label, not the score
    val strict = HashClassifier.scoreText(df, "text",
      HashClassifier.demoVocab, threshold = 0.5)
      .where($"doc_id" === 1L).select($"cls_label").as[Boolean].head()
    assert(!strict) // 0.267 < 0.5
    intercept[IllegalArgumentException] {
      HashClassifier.scoreText(df.withColumnRenamed("text", "cls_score")
        .withColumnRenamed("doc_id", "text"), "text", Map("a" -> 1))
    }
  }

  test("milli_sum is order-free and exactly reproducible across " +
      "repartitionings") {
    val docs = graft.sources.Sources.table(spark, sf, "documents")
      .select("doc_id", "text").where($"doc_id" < 200)
    def run(df: org.apache.spark.sql.DataFrame) =
      HashClassifier.scoreText(df, "text", HashClassifier.demoVocab)
        .select($"doc_id", $"milli_sum", $"cls_score")
        .as[(Long, Option[Long], Option[Double])].collect().toSet
    assert(run(docs) === run(docs.repartition(13)))
  }

  test("fitLogistic: hand-replayed epochs on a tiny corpus; trained " +
      "weights separate the classes and feed scoreText unchanged") {
    // two docs, one token each, N=2, labels by parity:
    //   'good' labeled 1 (y=1000), 'bad' labeled 0 (y=0)
    // epoch 1: z=0 -> p=500; err(good)=+500, err(bad)=-500
    //   G(good)=+500, G(bad)=-500; Δ = floorDiv(64·±500, 2000) = ±16
    // epoch 2: z=±16 -> p = 500 + floorDiv(±16,4) = 504/496
    //   err = ±496 -> Δ = floorDiv(64·±496, 2000) = 15 / -16 (floor!)
    //   w = 31 / -32 — the asymmetry IS floor division, pinned here
    // epoch 3: z=31/-32 -> p = 507 / 500+floorDiv(-32,4)=492
    //   err = 493/-492 -> Δ = floorDiv(64·493,2000)=15 /
    //     floorDiv(64·-492,2000)=floorDiv(-31488,2000)=-16
    //   w = 46 / -48
    val tiny = Seq((0L, "good"), (1L, "bad")).toDF("doc_id", "text")
      .select((pmod($"doc_id", lit(2)) === 0).as("label"), $"text")
    val w = HashClassifier.fitLogistic(tiny, "text", "label", epochs = 3)
      .as[(String, Int)].collect().toMap
    assert(w === Map("good" -> 46, "bad" -> -48))
    // NULL labels are unlabeled rows: dropped from training, never a
    // task failure, and never silently treated as the negative class
    val withNull = Seq((0L, "good"), (1L, "bad")).toDF("doc_id", "text")
      .select((pmod($"doc_id", lit(2)) === 0).as("label"), $"text")
      .unionByName(Seq("unlabeled noise").toDF("text")
        .select(lit(null).cast("boolean").as("label"), $"text"))
    val w2 = HashClassifier.fitLogistic(withNull, "text", "label",
      epochs = 3).as[(String, Int)].collect().toMap
    assert(w2 === w, "a NULL-label row must not change the fit")
    // the trained table feeds scoreText UNCHANGED and separates classes
    val vocab = w.map { case (t, v) => t -> v.toInt }
    val scored = HashClassifier.scoreText(
      Seq((1L, "good good"), (2L, "bad")).toDF("id", "text"),
      "text", vocab)
      .select($"id", $"cls_label").as[(Long, Boolean)]
      .collect().toMap
    assert(scored === Map(1L -> true, 2L -> false))
  }

  test("fitLogistic adversarial edges: all-one-label corpora saturate " +
      "toward that class without failing; whitespace-only docs drop " +
      "from N; a corpus of ONLY empty docs refuses loudly") {
    // all labels true: epoch 1 has z=0 -> p=500 -> err=+500 for every
    // doc, so every token's weight moves positive and stays there
    val allPos = Seq("good stuff", "more good", "stuff more")
      .toDF("text").select(lit(true).as("label"), $"text")
    val w = HashClassifier.fitLogistic(allPos, "text", "label", epochs = 3)
      .as[(String, Int)].collect().toMap
    assert(w.nonEmpty && w.values.forall(_ > 0))
    val scored = HashClassifier.scoreText(
      Seq((1L, "good stuff more")).toDF("id", "text"), "text", w)
      .select($"cls_label").as[Boolean].collect().head
    assert(scored, "an all-positive fit must score its corpus positive")
    // a whitespace-only doc contributes no tokens and must not change
    // N (the gradient denominator) — adding it leaves the fit identical
    val base = Seq((true, "good stuff"), (false, "bad junk"))
      .toDF("label", "text")
    val withBlank = base.unionByName(
      Seq((true, "   \t  ")).toDF("label", "text"))
    def fit(df: org.apache.spark.sql.DataFrame) =
      HashClassifier.fitLogistic(df, "text", "label", epochs = 2)
        .as[(String, Int)].collect().sortBy(_._1).toSeq
    assert(fit(withBlank) === fit(base))
    // only empty docs: nothing to train on — loud, not a NaN fit, and
    // the refusal leaves no cached docs in the session
    val before = cacheEntries
    intercept[IllegalArgumentException] {
      HashClassifier.fitLogistic(
        Seq((true, "  "), (false, "")).toDF("label", "text"),
        "text", "label")
    }
    assert(cacheEntries <= before,
      s"fitLogistic left ${cacheEntries - before} cache entries")
  }

  test("fitLogistic is deterministic across repartitionings and " +
      "epoch-monotone on a separable corpus") {
    val docs = graft.sources.Sources.table(spark, sf, "documents")
      .select((pmod($"doc_id", lit(2)) === 0).as("label"), $"text")
      .where(length(trim($"text")) > 0)
    def run(df: org.apache.spark.sql.DataFrame, e: Int) =
      HashClassifier.fitLogistic(df, "text", "label", epochs = e)
        .as[(String, Int)].collect().sortBy(_._1).toSeq
    val base = run(docs, 2)
    assert(base === run(docs.repartition(17), 2))
    assert(base.nonEmpty)
  }
}
