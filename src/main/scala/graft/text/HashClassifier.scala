package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** fastText-shaped linear text classifier SCORING — the corpus-scale
  * filter stage (quality, toxicity, language-register) every curation
  * pipeline runs between heuristic scoring and selection: a model
  * trained offline reduces, at inference time, to a weight lookup per
  * token plus a mean — embarrassingly parallel, and the only shared
  * state is the weight table.
  *
  * Numerics are EXACT by construction: weights are integer
  * milli-units, the per-doc accumulator is a BIGINT sum (order-free,
  * no float drift), and the score divides once at the end —
  * `score = milli_sum / (1000 · n_tokens)` — so Spark and any replay
  * engine agree bit-for-bit (the repo-wide double-determinism
  * discipline; summing doubles would be association-order-dependent).
  *
  * Out-of-vocabulary tokens get a HASH-BUCKET weight — here derived
  * from the token's md5 (engine-portable) and scaled small, standing
  * in for the trained OOV-bucket row a production model ships. That
  * keeps the operator's shape honest: every token contributes, exactly
  * like the hashing-trick models it mirrors.
  *
  * Scale shape: the vocab is `sc.broadcast` (one copy per executor —
  * production vocab is 100k-2M rows, ~10-100 MB; inlining it as a
  * literal map EXPRESSION would put the whole table in the plan, the
  * q133/EBML plan-size lesson, and closure capture would re-ship it
  * per task). The scoring pass is a narrow typed map: text never
  * shuffles, no exchange anywhere (spec-pinned). */
object HashClassifier {

  /** 60-bit md5-derived token hash — identical to TextOps.hash64 /
    * the DuckDB `('0x'||substr(md5(t),1,15))::BIGINT` replay. */
  private def tokenHash(t: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.take(8).map(b => f"${b & 0xff}%02x").mkString // 16 chars
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** OOV milli-weight: ±100 milli-units from the hash — small relative
    * to vocab weights, deterministic, engine-replayable. */
  private[graft] def oovMilli(t: String): Long =
    tokenHash(t) % 201L - 100L // hash is nonneg => plain % == pmod

  /** Append `n_tokens`, `milli_sum`, `cls_score`, `cls_label` for
    * `textCol`, scoring whitespace tokens of lower(trim(text)) against
    * `vocabMilli` (token -> integer milli-weight; OOV falls to the
    * hash bucket). Empty/NULL text scores NULL. */
  def scoreText(df: DataFrame, textCol: String,
                vocabMilli: Map[String, Int],
                threshold: Double = 0.0): DataFrame = {
    require(vocabMilli.nonEmpty, "empty vocabulary")
    import org.apache.spark.sql.{Encoders, Row}
    Seq("n_tokens", "milli_sum", "cls_score", "cls_label").foreach(c =>
      require(!df.columns.contains(c),
        s"HashClassifier.scoreText: df already has a '$c' column"))
    val ti = df.schema.fieldIndex(textCol)
    require(df.schema(ti).dataType == StringType,
      s"$textCol must be STRING, got ${df.schema(ti).dataType}")
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(vocabMilli)
    val outSchema = StructType(df.schema.fields.toSeq ++ Seq(
      StructField("n_tokens", LongType),
      StructField("milli_sum", LongType),
      StructField("cls_score", DoubleType),
      StructField("cls_label", BooleanType)))
    df.map({ r =>
      val text = r.getAs[String](ti)
      val toks =
        if (text == null) Array.empty[String]
        else text.trim.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty)
        Row.fromSeq(r.toSeq ++ Seq(0L, null, null, null))
      else {
        var sum = 0L
        val vocab = bc.value
        toks.foreach { t =>
          sum += vocab.get(t).map(_.toLong).getOrElse(oovMilli(t))
        }
        val score = sum.toDouble / (1000.0 * toks.length)
        Row.fromSeq(r.toSeq ++ Seq(toks.length.toLong, sum, score,
          Boolean.box(score > threshold)))
      }
    })(Encoders.row(outSchema))
  }

  /** TRAIN the linear classifier [[scoreText]] scores — distributed
    * logistic fit over labeled documents, closing the loop so the
    * weight table is derivable from YOUR corpus rather than shipped
    * from elsewhere (the learnMerges-for-classification analogue).
    *
    * Model and numerics, all INTEGER milli-units for cross-engine
    * replayability (the repo's double-determinism discipline — no
    * transcendental exp() whose last ULP differs between engines):
    * per-doc logit `z_milli = Σ w[t]` over token INSTANCES; prediction
    * by the HARD sigmoid `p_milli = clamp(500 + floorDiv(z_milli, 4),
    * 0, 1000)` (the piecewise-linear σ̂(x) = clip(0.5 + x/4, 0, 1)
    * quantized trainers use); error `err = y·1000 − p_milli`; per-epoch
    * full-batch update `w'[t] = w[t] + floorDiv(lrNum·G_t, 1000·N)`
    * with `G_t = Σ_docs err·count_t` and N the non-empty doc count.
    *
    * Scale shape, per epoch: weights BROADCAST (vocab-bounded, the
    * scoreText shape); ONE narrow flatMap computes each doc's error
    * under the current weights and emits (token, err) instances; ONE
    * groupBy(token) exchange with map-side combine carries the
    * gradient; the summed gradient is vocab-bounded and collects to
    * the driver for the update (the justified centroid-collect, same
    * category as learnMerges' argmax). Text never shuffles; epochs are
    * round-bounded like the BPE/CC loops.
    *
    * Returns (token, milli_weight: INT) for every token seen in the
    * corpus — collect to a Map[String, Int] and it feeds [[scoreText]]
    * UNCHANGED (tokenization here matches scoreText's exactly). Each
    * epoch moves a weight by at most lrNum·max_per_doc_count(t) — Int
    * overflows only past ~2.1e9 accumulated milli-units, unreachable
    * for sane (epochs, lrNum); `toIntExact` asserts the bound loudly
    * rather than narrowing silently. */
  def fitLogistic(df: DataFrame, textCol: String, labelCol: String,
                  epochs: Int = 3, lrNum: Long = 64): DataFrame = {
    require(epochs >= 1 && epochs <= 64, s"epochs: $epochs")
    require(lrNum >= 1 && lrNum <= 100000, s"lrNum: $lrNum")
    val ti = df.schema.fieldIndex(textCol)
    require(df.schema(ti).dataType == StringType,
      s"$textCol must be STRING, got ${df.schema(ti).dataType}")
    val spark = df.sparkSession
    import spark.implicits._
    val docs = df
      .select(col(labelCol).cast(BooleanType).as("y"),
        col(textCol).cast(StringType).as("text"))
      // an UNLABELED row cannot contribute a gradient — drop it here
      // (the non-nullable Boolean decode below would otherwise fail
      // the task on the first NULL label, the opposite of the
      // malformed-input contract every operator here keeps)
      .where(col("y").isNotNull)
      .as[(Boolean, String)]
      .map { case (y, text) =>
        val toks =
          if (text == null) Array.empty[String]
          else text.trim.toLowerCase(java.util.Locale.ROOT)
            .split("\\s+").filter(_.nonEmpty)
        (if (y) 1000L else 0L, toks.toSeq)
      }
      .toDF("y", "toks")
      .where(size(col("toks")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // unpersist in finally: the empty-corpus require (or a failed epoch)
    // must not leave the cached docs in the session
    val weights = try {
      val n = docs.count()
      require(n > 0, "fitLogistic: no non-empty documents to train on")
      var w = Map.empty[String, Long]
      for (_ <- 1 to epochs) {
        val bc = spark.sparkContext.broadcast(w)
        val grad = docs.as[(Long, Seq[String])]
          .flatMap { case (y, toks) =>
            val wm = bc.value
            var z = 0L
            toks.foreach(t => z += wm.getOrElse(t, 0L))
            val p = math.max(0L,
              math.min(1000L, 500L + Math.floorDiv(z, 4L)))
            val err = y - p
            toks.iterator.map(t => (t, err))
          }
          .toDF("tok", "err")
          .groupBy("tok").agg(sum("err").as("g"))
          .as[(String, Long)]
          .collect() // vocab-bounded by construction
        w = grad.map { case (t, gt) =>
          t -> (w.getOrElse(t, 0L) +
            Math.floorDiv(lrNum * gt, 1000L * n))
        }.toMap
        bc.destroy()
      }
      w
    } finally docs.unpersist()
    weights.toSeq.map { case (t, v) => (t, Math.toIntExact(v)) }
      .toDF("token", "milli_weight").orderBy("token")
  }

  /** The demo vocabulary over the synth corpus's actual token space —
    * the weights q154's oracle inlines as a VALUES table. */
  val demoVocab: Map[String, Int] = Map(
    "fast" -> 800, "slow" -> -800, "small" -> -200, "big" -> 350,
    "query" -> 400, "table" -> 150, "join" -> 300, "window" -> 250,
    "stream" -> 450, "batch" -> 100, "data" -> 50, "value" -> -50,
    "row" -> -100, "scan" -> -300, "filter" -> 200, "merge" -> 275,
    "spark" -> 600, "hash" -> 125, "column" -> 175, "agg" -> -150,
    "key" -> 25, "part" -> -75, "order" -> 90, "the" -> 0)
}
