package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.text.TextOps

/** Deterministic per-key downsampling: keep at most k rows per key, chosen
  * by a stable 60-bit content-hash order — "cap documents per domain", the
  * standard anti-head-domination step in web-scale training corpora.
  *
  * Unlike `TABLESAMPLE`/`rand()` sampling this is reproducible across runs,
  * engines, and partitionings (the hash is a pure function of the row id),
  * so a re-run of the pipeline selects the same sample. Cost: one shuffle
  * on the key + per-partition sort, the same shape as any groupwise top-k;
  * rank never exceeds k per key, so AQE handles moderate key skew, and a
  * pathological head key can reuse the salted-agg pattern.
  */
object Downsample {

  /** Deterministic train/val/test assignment (80/10/10) from a stable hash
    * of the row id — the ONE definition both q68 (split accounting) and
    * q85 (curation funnel) use, so the two can never silently diverge. */
  def splitLabel(id: Column): Column = {
    val bucket = pmod(
      TextOps.hash64(concat(lit("split#"), id.cast(StringType))), lit(100))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  /** Leakage-safe train/val/test split: assignment keyed on a duplicate
    * EQUIVALENCE-CLASS key instead of the document id, so near-identical
    * documents can never straddle the train/eval boundary — the standard
    * eval-contamination failure an id-keyed split (q68) cannot prevent
    * (two near-dup docs hash to independent buckets, and one lands in
    * train while its twin lands in test).
    *
    * `components` is any (id, component) equivalence map: the output of
    * [[graft.dedup.Dedup.connectedComponents]] over near-dup pairs for
    * the general case, or a content fingerprint (id, md5(text)) for the
    * exact-dup-only case at scan speed. Docs absent from the map are
    * singletons and fall back to their own id as the key, so on a
    * dup-free corpus this operator reproduces [[splitLabel]]'s
    * assignment EXACTLY (same "split#" hash arithmetic) — adopting it
    * re-splits nothing that wasn't in a duplicate group.
    *
    * SCALE SHAPE. One left join against a label table sized by the
    * number of near-dup documents (typically a few percent of the
    * corpus; the md5-fingerprint form labels everything but carries two
    * hashes per doc, never text). No broadcast hint on purpose — same
    * rationale as survivors: AQE broadcasts the label table when it
    * fits and falls back to a shuffled join when the dup set is itself
    * at cluster scale. The split expression is map-side on top. */
  def leakageSafeSplit(docs: DataFrame, components: DataFrame,
                       idCol: String): DataFrame = {
    require(!docs.columns.contains("split"),
      "Downsample.leakageSafeSplit: docs already has a 'split' column — " +
        "rename it first; leakageSafeSplit appends its own")
    val labels = components.select(col("id").as(idCol),
      col("component").cast(StringType).as("__split_key"))
    docs.join(labels, Seq(idCol), "left")
      .withColumn("split",
        splitLabel(coalesce(col("__split_key"), col(idCol).cast(StringType))))
      .drop("__split_key")
  }

  /** Deterministic per-stratum Bernoulli sampling — corpus MIXING: "keep
    * 80% of web, 30% of forums, 100% of wiki" as one map-side predicate.
    * Membership is a pure function of the row id (hash bucket in [0,10000)
    * vs the stratum's rate in basis points), so the mix is reproducible
    * across runs/engines/partitionings and REFINABLE: lowering a rate
    * yields a strict subset of the previous sample (the kept buckets are a
    * prefix). Strata absent from `bps` default to 0 (dropped) — an
    * explicit mix is a whitelist. Zero shuffle; at 100 TB this is a scan-
    * speed filter that composes with pushdown. */
  def mixByWeight(df: DataFrame, strataCol: String, idCol: String,
                  bps: Map[String, Int]): DataFrame = {
    bps.values.foreach(r => require(r >= 0 && r <= 10000,
      s"rate must be basis points in [0, 10000], got $r"))
    val bucket = pmod(
      TextOps.hash64(concat(lit("mix#"), col(idCol).cast(StringType))),
      lit(10000))
    val rate = bps.foldLeft(lit(0)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, r).otherwise(acc)
    }
    df.where(bucket < rate)
  }

  /** Cap rows per `keyCol` at k, ordered by hash of `idCol` (id as the
    * final tiebreak makes the selection total and deterministic). Output
    * keeps all input columns plus `sample_rank` in [1, k].
    *
    * Skew note: the `sample_rank <= k` filter triggers Spark's
    * InferWindowGroupLimit, which inserts a Partial WindowGroupLimit BELOW
    * the shuffle — every map partition pre-prunes to its local top-k per
    * key, so a hot key ships at most k rows per map partition and the
    * final per-key sort sees <= k x #partitions rows, never the whole
    * group. Measured against a bounded-aggregate alternative at sf0.1:
    * identical shuffle bytes, window ~1.6x faster (codegen'd vs udaf
    * object path). See SCALING.md "Top-k-per-key: window vs aggregate". */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, k: Int): DataFrame = {
    val h = TextOps.hash64(concat(lit("cap#"), col(idCol).cast(StringType)))
    val w = Window.partitionBy(col(keyCol)).orderBy(h.asc, col(idCol).asc)
    df.withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
  }

  /** Budget-constrained corpus selection: keep the BEST documents until a
    * global cost budget is exhausted — "curate the top-quality N tokens
    * for pretraining" as one deterministic operator. Rows are totally
    * ordered by (`scoreCol` desc, `idCol` asc); the output is the maximal
    * prefix of that order whose running `costCol` sum stays <= `budget`,
    * with two appended columns: `sel_rank` (1-based global rank) and
    * `cum_cost` (running cost INCLUDING the row). Rows with a NULL score
    * or cost are unrankable/uncostable and excluded (same rationale as
    * the quality filters: engines disagree on NULL placement under DESC,
    * so NULL must never reach the ORDER BY). Costs are expected
    * nonnegative (token counts); a negative cost makes "cum <= budget" no
    * longer a prefix, though cum_cost itself stays exact.
    *
    * SCALE SHAPE — an exact global running sum with NO single-partition
    * window and NO physical-partition arithmetic (both documented traps:
    * one task sorts the corpus / AQE desyncs `spark_partition_id` between
    * consumers, see [[graft.operators.Packing.deterministicShuffle]]).
    * Same data-derived two-level pattern, generalized from md5-prefix
    * ranges to SCORE ranges: approxQuantile cut points split the score
    * domain into `buckets` contiguous ranges; a keyed window computes
    * rank + running cost within each bucket; the per-bucket (count, cost)
    * totals — at most `buckets` rows — take a single-task running sum
    * into global offsets and broadcast back. CORRECTNESS DOES NOT DEPEND
    * ON CUT PLACEMENT: any score→bucket map that is monotone in the sort
    * key yields the same global order (strictly-higher scores can never
    * land in a later bucket, and equal scores share a bucket), so the
    * approximate quantiles — and their run-to-run merge nondeterminism —
    * affect only load balance. The adversarial case is a corpus where one
    * score value dominates: its ties form one bucket and one task sorts
    * them (by id) — real quality scores are near-continuous, and such a
    * corpus has bigger problems than this operator. Cost: one extra
    * scan for the quantile sketch + one for the offsets aggregate, both
    * pruned to (id, score, cost) — scan-speed passes at 100 TB; the main
    * pass is one exchange on the bucket key.
    *
    * The bucket key is SINGLE-REFERENCE arithmetic (grid lookup, see
    * [[scoreBucket]]), never a cuts-array lambda: a lambda that captures
    * the score column re-evaluates the caller's full score EXPRESSION
    * once per cut element after CollapseProject inlines it on the
    * column-pruned offsets branch — measured 14 s vs 0.5 s at sf0.1 for
    * a regex-heavy quality score (64 cuts = 64 regex passes per row).
    *
    * The quantile sketch, the offsets aggregate and the main pass each
    * read `df`: a caller whose score expression is expensive (regex
    * quality scores) passes a [[graft.Graft.snap]] of its scored
    * projection, so the corpus is scored once (q120). */
  def selectWithinBudget(df: DataFrame, idCol: String, scoreCol: String,
                         costCol: String, budget: Long,
                         buckets: Int = 64): DataFrame = {
    require(budget >= 0, s"budget must be nonnegative, got $budget")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536], got $buckets")
    Seq("sel_rank", "cum_cost").foreach(c => require(!df.columns.contains(c),
      s"Downsample.selectWithinBudget: df already has a '$c' column — " +
        "rename it first; selectWithinBudget appends its own"))
    val scored = df.where(col(scoreCol).isNotNull && col(costCol).isNotNull &&
      !isnan(col(scoreCol).cast("double")))
    val bucketed = scored.withColumn("__bsel_bucket",
      scoreBucket(scored, scoreCol, buckets))
    val withinW = Window.partitionBy("__bsel_bucket")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val offW = Window.orderBy("__bsel_bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("__bsel_bucket")
      .agg(count(lit(1)).as("__bsel_cnt"),
        sum(col(costCol).cast(LongType)).as("__bsel_tot"))
      .withColumn("__bsel_rank_off", coalesce(sum("__bsel_cnt").over(offW), lit(0L)))
      .withColumn("__bsel_cost_off", coalesce(sum("__bsel_tot").over(offW), lit(0L)))
      .select("__bsel_bucket", "__bsel_rank_off", "__bsel_cost_off")
    bucketed
      .withColumn("__bsel_rank", row_number().over(withinW).cast(LongType))
      // explicit ROWS frame: ids make the order total, but the default
      // RANGE frame would sum peer rows if a caller ever passed a
      // non-unique id — fail toward the window semantics we mean
      .withColumn("__bsel_cum", sum(col(costCol).cast(LongType)).over(
        withinW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offsets), Seq("__bsel_bucket"))
      .withColumn("sel_rank", col("__bsel_rank_off") + col("__bsel_rank"))
      .withColumn("cum_cost", col("__bsel_cost_off") + col("__bsel_cum"))
      .where(col("cum_cost") <= budget)
      .drop("__bsel_bucket", "__bsel_rank", "__bsel_cum",
        "__bsel_rank_off", "__bsel_cost_off")
  }

  /** Monotone score→bucket key for the two-level exact-rank operators
    * ([[selectWithinBudget]], [[topFractionPerKey]]): HIGHER scores map to
    * LOWER-or-equal buckets, equal scores share a bucket — the only two
    * properties global-order correctness needs; everything else is load
    * balance. Runs one approxQuantile sketch (probabilities 0 and 1 ride
    * along for the exact min/max the sketch keeps anyway), then snaps the
    * quantile cuts to a 4096-cell uniform value grid: bucket =
    * lookup[cell(score)] where lookup[c] = #cuts above the cell's lower
    * edge (non-increasing in c) and cell = clamped
    * floor((score-min)/width) (non-decreasing in score).
    *
    * WHY a grid lookup and not `filter(cuts, c -> c > score)`: the score
    * column is usually a computed EXPRESSION (regex-heavy quality
    * scores), and on any branch that prunes the score passthrough —
    * the offsets aggregate — CollapseProject inlines the expression into
    * its single syntactic reference; inside a lambda that reference is
    * evaluated once PER ARRAY ELEMENT, turning 64 cuts into 64 full
    * score evaluations per row (measured 14 s vs 0.5 s at sf0.1). Here
    * `score` appears exactly once, in plain codegen'd arithmetic, so
    * inlining is harmless by construction. The snap costs balance only:
    * two scores in one 1/4096 value cell land in one bucket even when a
    * cut falls between them — for the snap to degrade balance at all,
    * an entire bucket's worth of mass must sit inside one cell, i.e.
    * the distribution is already so concentrated that quantile cuts
    * couldn't have split it either (ties). NaN scores must be filtered
    * by the caller alongside NULLs: NaN's sort position is
    * engine-specific, so it must never reach the ORDER BY. */
  private def scoreBucket(scored: DataFrame, scoreCol: String,
                          buckets: Int): Column = {
    if (buckets == 1) return lit(0)
    val qs = scored.stat.approxQuantile(scoreCol,
      0.0 +: (1 until buckets).map(_.toDouble / buckets).toArray :+ 1.0, 0.01)
    if (qs.isEmpty) return lit(0) // empty input: any constant is monotone
    val mn = qs.head
    val mx = qs.last
    val cuts = qs.slice(1, buckets).filter(!_.isNaN).distinct.sorted
    if (cuts.isEmpty || !(mx > mn)) return lit(0) // constant-score corpus
    val cells = 4096
    val w = (mx - mn) / cells
    val lookup: Array[Int] =
      Array.tabulate(cells)(c => cuts.count(_ > mn + c * w))
    element_at(typedlit(lookup),
      least(greatest(floor((col(scoreCol).cast("double") - mn) / w),
        lit(0.0)), lit((cells - 1).toDouble)).cast("int") + 1)
  }

  /** Per-key PROPORTIONAL quality gate: keep the top `fracBp`/10000 of
    * each key's rows, best-first by (`scoreCol` desc, `idCol` asc) — the
    * "keep the best 30% of every source/domain" curation rule, the
    * fraction-shaped complement of [[capPerKey]]'s absolute cap. The
    * per-key quota is ceil(n_key * fracBp / 10000) in EXACT integer
    * arithmetic (fracBp is basis points like [[mixByWeight]]: a double
    * fraction times a trillion-row group is not exactly replayable across
    * engines; n*bp stays inside Long), so every non-empty key keeps at
    * least one row whenever fracBp > 0. NULL scores are excluded before
    * ranking (the usual cross-engine NULL-under-DESC rationale); a NULL
    * key is a normal group. Appends `quality_rank` (1-based within key).
    *
    * SCALE SHAPE — [[capPerKey]]'s window can't be reused here: its
    * static `rank <= k` filter is what lets WindowGroupLimit pre-prune
    * map-side, but a fraction quota is data-dependent, so a plain
    * per-key window would sort each key's ENTIRE group in one task —
    * the hot-key trap for few-key corpora (10 sources at 100 TB = 10
    * tasks). Instead this reuses [[selectWithinBudget]]'s two-level
    * machinery with the key prepended: global approxQuantile score cuts
    * (monotone per key, so cut placement affects only balance, never
    * order), a window keyed by (key, bucket) — parallelism keys x
    * buckets — and a (key, bucket) count table turned into per-key rank
    * offsets + quotas by a window over ~buckets rows per key. The
    * offsets join is left UNHINTED: AQE broadcasts it while keys x
    * buckets is small; at 10M keys a forced broadcast would OOM the
    * driver, and the SMJ fallback reuses the (key, bucket) partitioning
    * the main branch already has.
    *
    * As in [[selectWithinBudget]], the three passes each read `df`: snap
    * an expensive scored projection before the call (q122). */
  def topFractionPerKey(df: DataFrame, keyCol: String, idCol: String,
                        scoreCol: String, fracBp: Int,
                        buckets: Int = 64): DataFrame = {
    require(fracBp >= 0 && fracBp <= 10000,
      s"fracBp must be basis points in [0, 10000], got $fracBp")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536], got $buckets")
    require(!df.columns.contains("quality_rank"),
      "Downsample.topFractionPerKey: df already has a 'quality_rank' " +
        "column — rename it first; topFractionPerKey appends its own")
    val scored = df.where(col(scoreCol).isNotNull &&
      !isnan(col(scoreCol).cast("double")))
    val bucketed = scored.withColumn("__tf_bucket",
      scoreBucket(scored, scoreCol, buckets))
    val withinW = Window.partitionBy(col(keyCol), col("__tf_bucket"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val offW = Window.partitionBy(col(keyCol)).orderBy("__tf_bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col(keyCol), col("__tf_bucket"))
      .agg(count(lit(1)).as("__tf_cnt"))
      .withColumn("__tf_off", coalesce(sum("__tf_cnt").over(offW), lit(0L)))
      .withColumn("__tf_n",
        sum("__tf_cnt").over(Window.partitionBy(col(keyCol))))
      // exact ceil-div on longs: `div` is integer division in Spark SQL
      // (a bare `/` would detour through double and lose exactness past
      // 2^53 — reachable at n_key ~ 1e12 rows x 10000 bp)
      .withColumn("__tf_quota",
        expr(s"(__tf_n * $fracBp + 9999) div 10000"))
      .select(col(keyCol).as("__tf_key"), col("__tf_bucket").as("__tf_b"),
        col("__tf_off"), col("__tf_quota"))
    bucketed
      .withColumn("__tf_rank", row_number().over(withinW).cast(LongType))
      // null-safe join keys: a NULL key is a legitimate window partition
      // above, so the offsets lookup must not drop its rows
      .join(offsets, col(keyCol) <=> col("__tf_key") &&
        col("__tf_bucket") <=> col("__tf_b"))
      .withColumn("quality_rank", col("__tf_off") + col("__tf_rank"))
      .where(col("quality_rank") <= col("__tf_quota"))
      .drop("__tf_bucket", "__tf_rank", "__tf_key", "__tf_b",
        "__tf_off", "__tf_quota")
  }

  /** DSIR-style deterministic importance resampling: keep each row with
    * probability proportional to an integer weight (e.g. a BM25 or
    * TF-IDF micro-unit relevance score) — the "sample the web corpus
    * toward a target domain" step, where [[mixByWeight]]'s per-stratum
    * constant rate becomes a per-DOCUMENT continuous rate.
    *
    * rate_bp = (weight * maxBps) div max(weight)  — the row with the
    * maximum weight is kept with probability maxBps/10000 (1.0 at the
    * default), everything else proportionally below it. Membership is
    * hash-bucket vs rate, a pure function of the row id, so the sample
    * is reproducible across runs/engines/partitionings and REFINABLE
    * (lowering maxBps yields a strict subset: kept buckets are a
    * prefix). ALL-INTEGER arithmetic (BIGINT multiply + floor division,
    * exact in any engine; weight * maxBps overflow fails loudly under
    * this project's ANSI mode rather than wrapping); no floating point
    * anywhere, so a DuckDB oracle replays it hash-for-hash. Weights must
    * be nonnegative — a negative weight yields a negative rate and the
    * row is never kept, same as weight 0.
    *
    * The max(weight) rides in as a broadcast single-row aggregate —
    * one extra pass over the weight column, zero shuffle of the rows
    * themselves; the filter stays scan-speed. Output: input columns +
    * rate_bp, kept rows only. */
  def importanceSample(df: DataFrame, idCol: String, weightCol: String,
                       maxBps: Int = 10000): DataFrame = {
    require(maxBps >= 0 && maxBps <= 10000,
      s"maxBps must be basis points in [0, 10000], got $maxBps")
    val maxW = df.agg(max(col(weightCol).cast(LongType)).as("__max_w"))
    val bucket = pmod(
      TextOps.hash64(concat(lit("imp#"), col(idCol).cast(StringType))),
      lit(10000))
    df.crossJoin(broadcast(maxW))
      .withColumn("rate_bp",
        expr(s"(CAST(`$weightCol` AS BIGINT) * $maxBps) div __max_w"))
      .where(bucket < col("rate_bp"))
      .drop("__max_w")
  }
}
