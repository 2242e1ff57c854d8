package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus-trained bigram language-model scoring — the perplexity-proxy
  * quality signal web-scale curation pipelines use (CCNet-style: train a
  * small LM on the corpus, keep documents whose tokens the model finds
  * predictable; a high mean negative-log-likelihood flags boilerplate,
  * gibberish and encoding damage). The model here is an add-one-smoothed
  * bigram LM trained on the SAME corpus being scored — one lazy DAG, no
  * driver round-trip for the "training" pass. Reference analogue: none —
  * beyond-reference operator.
  *
  * SCALE DESIGN. Bigrams are formed INSIDE the scan projection
  * (zip_with over the token array — no positional window, no shuffle of
  * raw tokens), then every exchange is bounded by DISTINCT keys:
  *   1. groupBy(doc, bigram) — map-side partial agg collapses repeated
  *      bigrams per doc before the exchange; downstream rows are
  *      (id, bigram, tf), never the text;
  *   2. corpus bigram counts re-aggregate THAT table by bigram
  *      (vocab²-bounded, in practice far smaller);
  *   3. unigram context counts are vocab-bounded;
  *   4. vocab size joins back as a broadcast single-row aggregate.
  * A skewed bigram ("of the") concentrates its post-aggregation rows on
  * one partition, but per-key row count is bounded by |docs| — the same
  * bound every term-partitioned stage in this package lives with.
  *
  * EXACTNESS AT THE ORACLE BOUNDARY: same micro-unit scheme as [[Bm25]]
  * — per-bigram NLL is rounded to integer micro-units (x 1e6, BIGINT)
  * BEFORE the tf-weighting and per-doc sum, so totals are exact integer
  * arithmetic on both engines and ln()'s cross-engine ulps are confined
  * to the (rounded) per-bigram value.
  */
object NgramLm {

  /** "w1 w2" bigram strings from a token array (needs >= 2 tokens). */
  private def bigramsOf(toks: Column): Column =
    zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat_ws(" ", a, b))

  /** (doc_id, bigram, tf): per-document distinct-bigram counts — the
    * table every downstream exchange in [[bigramNll]] is bounded by
    * (map-side partial agg collapses repeats before the shuffle). */
  private def docBigramTf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(bigramsOf(col("toks"))).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("tf"))

  /** Per-document bigram NLL under the corpus-trained add-one model:
    * (doc_id, n_bigrams, nll_micro_sum, mean_nll), one row per document
    * with at least 2 tokens. p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)
    * where c(w1) is w1's corpus unigram count and V the unigram vocab
    * size; per-bigram nll_micro = round(-ln(p) * 1e6) as BIGINT;
    * mean_nll = (nll_micro_sum / n_bigrams) / 1e6. */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val docBg = docBigramTf(docs, idCol, textCol)
    val bgCount = docBg.groupBy("bigram").agg(sum(col("tf")).as("c_bg"))
    val uni = base.select(explode(col("toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c_w1"))
    val vocab = uni.agg(count(lit(1)).as("v_size"))
    docBg
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(bgCount, "bigram")
      .join(uni, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("nll_micro",
        round(-log((col("c_bg") + lit(1.0)) / (col("c_w1") + col("v_size")))
          * lit(1000000.0), 0).cast(LongType) * col("tf"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("nll_micro")).as("nll_micro_sum"))
      .withColumn("mean_nll",
        (col("nll_micro_sum").cast("double") / col("n_bigrams"))
          / lit(1000000.0))
      .select("doc_id", "n_bigrams", "nll_micro_sum", "mean_nll")
  }
}
