package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Graft
import graft.text.TextOps

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. (Embedding-cosine near-dup lives in
  * graft.similarity.Similarity.)
  *
  * SCALE DESIGN. Exact dedup is a hash-groupBy: one shuffle on a 128-bit
  * content hash, never on the document text (bytes shuffled = 8+16 per doc,
  * not the doc). MinHash/LSH follows the standard shingle -> K minhashes ->
  * B bands pipeline: candidate generation is a self-join on (band,
  * signature) buckets — documents only meet if they collide in a band, so
  * the join fan-out is bounded by bucket sizes, not |docs|^2. SimHash is a
  * pure map-side signature (one shuffle to group bit-votes per doc).
  * Pairwise n-gram Jaccard is intentionally restricted to candidate pairs
  * (from LSH or a caller-provided blocking key): the all-pairs form exists
  * for oracle-checkable sizes only.
  */
object Dedup {

  /** Exact duplicate groups by content hash: one row per distinct content
    * with the keeper id (min) and the duplicate count. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct word n-gram shingles per document: (id, shingle). Distinct
    * is PER DOCUMENT, so it is computed map-side with `array_distinct`
    * before the explode — zero shuffle (the previous `.distinct()` after
    * the explode shuffled every shingle of the corpus globally to dedupe
    * a key set that never crosses documents: the id is in the key).
    *
    * The token array is materialized ONCE per row in a projection before
    * the gram lambda: composing `TextOps.tokens` directly into the
    * `slice` lambda inlines the regex split into the generator, re-running
    * tokenization of the whole document per gram — O(tokens²) regex work
    * per doc (measured 3-5 s for 234k shingles at sf0.1; ~0.3 s with the
    * projection).
    *
    * PRECONDITION: `idCol` is a key — one row per document. The map-side
    * dedup cannot collapse shingles across duplicate ROWS of the same id
    * (the removed global `.distinct()` silently could), and downstream
    * consumers (ngramJaccard sizes, contamination's eval_shingles) would
    * double-count. Duplicate-CONTENT docs under distinct ids are of course
    * fine — finding those is this module's job.
    *
    * The precondition is ENFORCED when `graft.dedup.checkIds=true` on the
    * session (debug mode): one extra aggregation pass fails loudly on the
    * first duplicated id. Default is off — a condition the upstream load
    * already guarantees shouldn't cost a pass per call; flip it on when
    * wiring a NEW source. See [[requireUniqueIds]] for what the probe
    * actually costs at 100 TB — less than the word "extra pass" suggests. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    requireUniqueIds(docs, idCol, "Dedup.shingles",
      "shingle counts downstream would double-count")
    val toks = col("__shingle_toks")
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__shingle_toks"))
      .where(size(toks) >= n) // sequence(1, k<1) counts down — guard
      .select(col(idCol), explode(array_distinct(grams)).as("shingle"))
  }

  /** CHARACTER-n-gram shingles — the standard fallback for UNSEGMENTED
    * scripts, where [[shingles]]' whitespace tokenization is blind: a
    * CJK or Thai document collapses to one whole-line "token", so
    * word-shingle MinHash/Jaccard/contamination see either nothing
    * (fewer than n tokens → no shingles at all) or a single
    * all-or-nothing hash. Here the gram is `n` consecutive CHARACTERS
    * of the normalized text (lowercased, trimmed, whitespace runs
    * collapsed to one space — so segmentation differences inside mixed
    * text do not shift every downstream gram). Output shape is
    * IDENTICAL to [[shingles]] — (idCol, shingle), distinct per doc —
    * so every consumer ([[minhashWide]], [[minhash]], the banding
    * pipeline, [[contamination]]'s `shingler` hook) composes unchanged.
    *
    * SCALE SHAPE: same as [[shingles]] — a map-side explode (one HOF,
    * plan O(1) in document length), no shuffle of its own; a doc of L
    * chars emits ≤ L−n+1 grams of n chars before the distinct. Typical
    * n: 5 for CJK dedup (the ~word-bigram information equivalent),
    * matching the 3-word default's granularity. */
  def charShingles(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    require(n >= 1, s"n: $n")
    requireUniqueIds(docs, idCol, "Dedup.charShingles",
      "shingle counts downstream would double-count")
    val txt = col("__cshingle_txt")
    docs
      .select(col(idCol),
        regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
          .as("__cshingle_txt"))
      .where(length(txt) >= n) // sequence(1, k<1) counts down — guard
      .select(col(idCol), explode(array_distinct(transform(
        sequence(lit(1), length(txt) - (n - 1)),
        i => txt.substr(i, lit(n))))).as("shingle"))
  }

  /** Fraction of non-whitespace characters in UNSEGMENTED scripts (CJK
    * unified ideographs + extension A + compatibility, hiragana,
    * katakana, Thai — scripts written without word spaces; Hangul is
    * deliberately absent: Korean is whitespace-segmented and word
    * shingles work). The [[shinglesAuto]] routing signal; NULL-safe
    * (empty/whitespace-only text → 0.0). */
  def unsegmentedRatio(text: Column): Column = {
    val t = regexp_replace(text, "\\s", "")
    val unseg = length(regexp_replace(t,
      "[^\\u3040-\\u30FF\\u3400-\\u4DBF\\u4E00-\\u9FFF" +
        "\\uF900-\\uFAFF\\u0E00-\\u0E7F]",
      ""))
    when(length(t) > 0, unseg.cast("double") / length(t)).otherwise(0.0)
  }

  /** Script-aware shingle router: per document, CHARACTER `charN`-grams
    * ([[charShingles]]) when [[unsegmentedRatio]] ≥ `threshold`, word
    * `wordN`-grams ([[shingles]]) otherwise — ONE map-side pass, the
    * choice is a per-row `when` over the two gram arrays, no second
    * scan and no union of branches. Same (idCol, shingle) output shape;
    * drop-in for [[minhashWide]] and (via the `shingler` hook) for
    * [[contamination]]/[[decontaminate]], giving word-blind scripts
    * real dedup/contamination coverage without changing the Latin
    * path's grams (threshold 0.3 keeps mostly-Latin docs with quoted
    * CJK on word grams). A mixed PAIR (same content, one segmented one
    * not) still routes both sides the same way because the ratio is
    * content-derived. */
  def shinglesAuto(docs: DataFrame, idCol: String, textCol: String,
                   wordN: Int = 3, charN: Int = 5,
                   threshold: Double = 0.3): DataFrame = {
    require(wordN >= 1 && charN >= 1, s"wordN: $wordN charN: $charN")
    requireUniqueIds(docs, idCol, "Dedup.shinglesAuto",
      "shingle counts downstream would double-count")
    val txt = col("__ashingle_txt")
    val toks = col("__ashingle_toks")
    val wordGrams = when(size(toks) >= wordN, array_distinct(transform(
      sequence(lit(1), size(toks) - (wordN - 1)),
      i => concat_ws(" ", slice(toks, i, lit(wordN))))))
      .otherwise(array().cast("array<string>"))
    val charGrams = when(length(txt) >= charN, array_distinct(transform(
      sequence(lit(1), length(txt) - (charN - 1)),
      i => txt.substr(i, lit(charN)))))
      .otherwise(array().cast("array<string>"))
    docs
      .select(col(idCol),
        regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
          .as("__ashingle_txt"),
        graft.text.TextOps.tokens(col(textCol)).as("__ashingle_toks"),
        (unsegmentedRatio(col(textCol)) >= threshold).as("__ashingle_cjk"))
      .select(col(idCol), explode(
        when(col("__ashingle_cjk"), charGrams).otherwise(wordGrams))
        .as("shingle"))
  }

  /** The `graft.dedup.checkIds` debug probe shared by the whole family
    * (and by [[graft.delta.Incremental.snapshotDiff]] and the rehearsal/
    * pipeline tools — `op` is the caller's fully-qualified name for the
    * error message): fail loudly on the first duplicated `idCol` value.
    *
    * COST CONTRACT (what turning the flag on at 100 TB actually costs).
    * The probe is a separate job BEFORE the operator's own, but it is NOT
    * a second full scan of the corpus: the plan touches only `idCol`, so
    * over a parquet/ORC source column pruning reads just the id column's
    * pages — single-digit GB per trillion rows, typically 1-2% of a text
    * corpus's bytes (measured in the SCALING.md rehearsal row: 0.27 s
    * against survivors' 3.6 s at sf1.0 — ~7% of ONE family operator, and
    * the ReadSchema pins `struct<doc_id:bigint>`, no text column). Two
    * caveats keep that honest: (a) if
    * `docs` is a COMPUTED frame rather than a source read, pruning stops
    * at whatever upstream work feeds the id — probe the source-backed
    * frame, not the post-transform one, when the transform is the
    * expensive part; (b) the limit(1) short-circuits result TRANSFER,
    * not the aggregation — a clean corpus pays the full groupBy. The
    * aggregate is partial/map-side combined, so the shuffle carries one
    * (id, count) row per map-side-distinct id. Pipelines that chain
    * several family operators over ONE corpus should verify once
    * (`requireUniqueIds` directly, or the first operator with the flag
    * on) and unset the flag for the rest — the probe re-proves the same
    * invariant each time; nothing in between can invalidate it. */
  def requireUniqueIds(df: DataFrame, idCol: String, op: String,
                       consequence: String): Unit = {
    if (df.sparkSession.conf.getOption("graft.dedup.checkIds")
          .exists(_.toBoolean)) {
      val dup = df.groupBy(col(idCol)).count()
        .where(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"$op precondition violated: idCol '$idCol' is not unique " +
          s"(e.g. ${dup.head.get(0)} appears ${dup.head.getLong(1)} " +
          s"times); $consequence")
    }
  }

  /** 2^56 — the minhash family's modulus (see [[minhashWide]]). */
  private val M56 = 1L << 56

  /** MinHash signatures, wide format: ONE row per doc with `numHashes`
    * columns mh0..mhK-1. The hash family is Kirsch–Mitzenmacher double
    * hashing off a single md5: two independent 56-bit values ha/hb (hex
    * chars 1–14 and 17–30 of the digest), h_i = (ha + i·hb) mod 2^56.
    * K-M gives the family the independence minhash banding needs at the
    * cost of ONE digest per shingle — the per-seed form (md5 of
    * shingle#seed) pays `numHashes` digests per shingle AND multiplies the
    * shingle table by `numHashes` before its aggregation shuffle. Here the
    * group-by carries one row per shingle and partial-aggregates all K
    * mins map-side, so the shuffle is |docs|-bounded (K longs per doc).
    * 56-bit halves (not 60) keep ha + 15·hb < 2^60 — exact in a signed 64
    * in BOTH engines, so the DuckDB oracle replays the arithmetic
    * verbatim with no overflow divergence. */
  def minhashWide(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val base = sh
      .withColumn("__md5", md5(col("shingle")))
      .select(col(idCol),
        conv(substring(col("__md5"), 1, 14), 16, 10).cast(LongType).as("ha"),
        conv(substring(col("__md5"), 17, 14), 16, 10).cast(LongType).as("hb"))
    val mins = (0 until numHashes).map { i =>
      min((col("ha") + lit(i.toLong) * col("hb")) % lit(M56)).as(s"mh$i")
    }
    base.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** MinHash signatures, exploded exhibit format (id, seed, minhash) —
    * the oracle-friendly shape (q31). Same family as [[minhashWide]];
    * unpivoted with `stack`, so there is exactly one implementation of
    * the hash family. */
  def minhash(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val pairs = (0 until numHashes).map(i => s"$i, mh$i").mkString(", ")
    // backtick-quote idCol: a name that is not a bare SQL identifier
    // (space, dot, keyword) must parse as ONE column reference here,
    // like the col(idCol) references everywhere else in this module
    minhashWide(sh, idCol, numHashes)
      .selectExpr(s"`${idCol.replace("`", "``")}`",
        s"stack($numHashes, $pairs) AS (seed, minhash)")
  }

  /** LSH band signatures from the wide minhash table: band b's signature
    * is the '|'-join of its `rows` consecutive minhashes — a PROJECTION
    * plus a docs-sized explode, replacing the former per-(id, band)
    * aggregation shuffle over the exploded signature table.
    * Output: (id, band, sig). */
  def lshBands(wide: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|",
          (b * rows until (b + 1) * rows).map(i => col(s"mh$i")): _*).as("sig"))
    }
    wide.select(col(idCol), explode(array(bandCols: _*)).as("__bs"))
      .select(col(idCol), col("__bs.band").as("band"), col("__bs.sig").as("sig"))
  }

  /** Resolve a `probeParts` pair-join parallelism-pin setting: `-1` = pin
    * at the session's configured shuffle parallelism (the scale default),
    * `0` = skip the pin entirely, `n > 0` = pin at exactly n partitions.
    *
    * WHY `0` EXISTS: the pin buys quadratic-output parallelism at the cost
    * of one extra exchange per join side. On a corpus that costs a fixed
    * few hundred ms and wins back minutes; on an exhibit-sized input
    * (hundreds of docs — oracle suites, candidate rechecks) the fan-out
    * fits in one task anyway and the exchanges are pure overhead
    * (measured: ~0.4 s added on top of q91's 2.58 s r6 anchor). Callers that KNOW the
    * input is small pass 0; the default stays scale-safe because only the
    * caller can know — the operator would need an extra counting pass. */
  private[graft] def resolvePin(df: DataFrame, probeParts: Int): Option[Int] =
    if (probeParts == 0) None
    else if (probeParts > 0) Some(probeParts)
    else Some(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Candidate near-duplicate pairs: docs sharing any LSH band bucket.
    * The band frame pins its parallelism with an explicit-count
    * repartition on the id (same rationale and same placement as
    * [[simhashBandedDups]]: a band table is kilobytes per thousand docs,
    * so AQE coalesces its exchange to ~1 partition, but on a dup-heavy
    * corpus the join output is quadratic in bucket sizes — the operator,
    * not the input bytes, knows the fan-out; id-hash, not band-hash, so
    * one hot bucket cannot serialize its whole fan-out into one task).
    *
    * PLAN DEPENDENCY: the pin survives only while the self-join is planned
    * as a broadcast hash join (the band table under the broadcast
    * threshold, the common case since it is kilobytes per thousand docs) —
    * a sort-merge plan re-exchanges BOTH sides by the join key (band, sig)
    * and discards the (id, band) distribution. That fallback is still
    * parallel (the SMJ exchange is sized by the session parallelism), but
    * it hash-partitions by bucket key, so one saturated bucket serializes
    * its quadratic fan-out into one task — the exact skew the pin exists
    * to avoid (see simhashBandedDups' measured 2.5x join-key-pin
    * counterfactual). If a corpus pushes the band table past the broadcast
    * threshold, do NOT force the broadcast (an over-threshold broadcast
    * OOMs the executors): the sort-merge plan's hot buckets are split by
    * AQE's skew join (SCALING.md, "Key skew"; `SkewJoinSpec`), with no
    * second join shape here.
    *
    * `probeParts`: see [[resolvePin]] — exhibit-size callers pass 0. */
  def lshCandidates(bandsDf: DataFrame, idCol: String,
                    probeParts: Int = -1): DataFrame = {
    // (id, band) — unique per band row; id alone matches the upstream
    // minhash aggregate's partitioning and the repartition would be
    // elided as redundant (see simhashBandedDups)
    val pinned = resolvePin(bandsDf, probeParts) match {
      case Some(n) => bandsDf.repartition(n, col(idCol), col("band"))
      case None => bandsDf
    }
    val a = pinned.select(col("band"), col("sig"), col(idCol).as("id_a"))
    val b = pinned.select(col("band"), col("sig"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "sig"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Full MinHash-LSH pipeline: shingle -> minhash -> bands -> candidates.
    * The band table feeds BOTH sides of the candidate self-join and Catalyst
    * does not reuse non-identical exchange subtrees, so each side recomputes
    * the shingle explode + two aggregations. That is deliberate: caching the
    * band table was measured a net LOSS below ~100k docs, where recompute
    * beats cache I/O, and an internal cache would be session-owned (not
    * reachable from the result, so nothing could unpersist it). */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
                 probeParts: Int = -1): DataFrame = {
    val sh = shingles(docs, idCol, textCol, shingleN)
    lshCandidates(lshBands(minhashWide(sh, idCol, numHashes), idCol,
      numHashes, bands), idCol, probeParts)
  }

  /** Incremental (delta) dedup: keep/drop DECISIONS for a new batch of
    * documents against an already-deduplicated corpus, touching the corpus
    * only through its persisted LSH band-signature index — never its text.
    * THE operation a 100 TB pipeline runs daily: re-shingling the whole
    * corpus to admit a 0.1% delta would cost 1000× the work of the delta;
    * here the corpus contributes one scan of an (id, band, sig) parquet
    * index (kilobytes per thousand docs) and zero shuffle.
    *
    * `indexBands` is the existing corpus's band table — the [[lshBands]]
    * output, built with the SAME (shingleN, numHashes, bands) parameters
    * (production: written once at corpus build, appended as batches are
    * admitted). `incoming` is the delta (idCol, textCol).
    *
    * Decision rule — the streaming first-seen-wins rule restated as a
    * batch: an incoming doc is dropped iff it shares a band bucket with
    * (a) any indexed doc, or (b) any SMALLER-id doc of its own batch.
    * (b) is greedy-by-id rather than full connected components: it is the
    * decision an accreting signature store makes (every seen signature
    * enters the index whether or not its text was kept), it needs no
    * iteration, and transitive chains within one delta still collapse —
    * if a~b and b~c share buckets, b and c both see a smaller collider.
    * Batches where full group structure matters run [[connectedComponents]]
    * + [[survivors]] over the batch instead; this operator is the fast
    * admission gate.
    *
    * Output: one row per incoming doc —
    * (idCol, `dup_of_index` = min colliding indexed id or null,
    * `dup_of_batch` = min smaller colliding batch id or null,
    * `keep` = both null).
    *
    * SCALE SHAPE. The delta band table is BROADCAST at the vs-index join
    * (`broadcastDelta`, default true): the index side — the unbounded,
    * corpus-sized relation — is consumed at scan speed with no exchange,
    * and the collision output is bounded by |delta collisions|, never by
    * index bucket sizes squared (the index side of a bucket meets only
    * the delta's members of that bucket). A delta too large for the
    * broadcast frame (rare: deltas are small by definition — a band table
    * is ~100 bytes/doc, so the default 8 GB frame holds ~10M-doc deltas
    * after which you'd split the batch) sets `broadcastDelta = false` for
    * a shuffle join on (band, sig); the within-batch self-join reuses
    * [[lshCandidates]] with its id pin (`probeParts`), and AQE's skew
    * join splits a hot bucket (SCALING.md, "Key skew").
    *
    * PRECONDITIONS (both inherited from [[shingles]], enforced there under
    * `graft.dedup.checkIds`): `incoming`'s idCol is unique — the output is
    * one DECISION per incoming doc — and incoming ids are DISJOINT from
    * the index's (delta ids are new by construction in any accreting
    * store; a reused id would make its dup_of_index self-referential). */
  def incrementalLshDedup(indexBands: DataFrame, incoming: DataFrame,
                          idCol: String, textCol: String, shingleN: Int = 3,
                          numHashes: Int = 16, bands: Int = 4,
                          broadcastDelta: Boolean = true,
                          probeParts: Int = -1): DataFrame = {
    val newBands = lshBands(
      minhashWide(shingles(incoming, idCol, textCol, shingleN), idCol, numHashes),
      idCol, numHashes, bands)
    incrementalLshDedupFromBands(indexBands, newBands,
      incoming.select(col(idCol)), idCol, broadcastDelta, probeParts)
  }

  /** [[incrementalLshDedup]] with the delta's band table precomputed —
    * the form callers that ALSO need the band table use (the streaming
    * admission sink appends it to the index after deciding, so computing
    * it twice would double the delta's shingle+minhash cost; see
    * [[graft.streaming.EventStreams.processDedupAdmissionBatch]]).
    * `incomingIds` must be the FULL incoming batch's id set, one row per
    * incoming doc — NOT `newBands`' distinct ids: a doc shorter than
    * shingleN tokens produces no bands yet still needs its decision row
    * (it collides with nothing, so it comes out keep=true via the left
    * joins; deriving incomingIds from the band table would silently drop
    * such docs from the output, violating one-decision-per-doc). Same
    * decision rule, preconditions and scale shape as
    * [[incrementalLshDedup]]. */
  def incrementalLshDedupFromBands(indexBands: DataFrame, newBands: DataFrame,
                                   incomingIds: DataFrame, idCol: String,
                                   broadcastDelta: Boolean = true,
                                   probeParts: Int = -1): DataFrame = {
    val delta0 = newBands.select(col("band"), col("sig"), col(idCol).as("__new_id"))
    val delta = if (broadcastDelta) broadcast(delta0) else delta0
    val vsIndex = indexBands
      .select(col("band"), col("sig"), col(idCol).as("__idx_id"))
      .join(delta, Seq("band", "sig"))
      .groupBy(col("__new_id")).agg(min(col("__idx_id")).as("dup_of_index"))
    val within = lshCandidates(newBands, idCol, probeParts)
      .groupBy(col("id_b").as("__new_id"))
      .agg(min(col("id_a")).as("dup_of_batch"))
    incomingIds
      .join(vsIndex, col(idCol) === vsIndex("__new_id"), "left")
      .drop("__new_id")
      .join(within, col(idCol) === within("__new_id"), "left")
      .drop("__new_id")
      .select(col(idCol), col("dup_of_index"), col("dup_of_batch"),
        (col("dup_of_index").isNull && col("dup_of_batch").isNull).as("keep"))
  }

  /** SimHash signature (default 16 bits for oracle-checkable size; up to 60
    * supported by the 60-bit token hash). Every token votes +1/-1 per bit;
    * the signature sets bits with positive vote sums.
    *
    * SIZE `bits` WITH THE CORPUS: signature bits must grow with
    * log2(corpus size) or the signature space saturates and candidate
    * pairs stop measuring document similarity — measured at the sf1.0
    * rehearsal (SCALING.md): 16-bit sigs over 50k docs produced 18.9×
    * the pairs of a 10×-smaller corpus (super-linear), while 32-bit sigs
    * at the same maxHamming put the same corpus back on a linear pair
    * curve with 21× fewer pairs and 7.8× less wall-clock. 16-bit is an
    * exhibit/oracle size; use 32–60 bits in production. */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("h", TextOps.hash64(col("tok")))
    // One groupBy with `bits` partial-aggregated vote columns, signature
    // as a projection — NOT an explode of every token row by `bits`
    // followed by a per-(id, bit) aggregation and a second per-id shuffle:
    // that shape multiplies the token table 32x at production signature
    // width before its shuffle (240M rows at the 150k-doc rehearsal).
    // Output is bit-identical (same votes, same thresholds), so the
    // all-pairs DuckDB oracles replay it unchanged. h >= 0 so % is safe.
    val votes = (0 until bits).map { b =>
      sum(expr(s"((h >> $b) % 2) * 2 - 1").cast(LongType)).as(s"__v$b")
    }
    tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until bits).map(b =>
          when(col(s"__v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-duplicate pairs: signatures within `maxHamming` bits.
    * Pair generation over SIGNATURES (one long per doc), not text — the
    * payoff of the simhash reduction: a 100 TB corpus compares 8-byte
    * values. ALL-PAIRS: verification-size inputs only (oracle suites,
    * candidate rechecks). The scale path is [[simhashBandedDups]], which
    * computes the identical result through pigeonhole blocking. */
  def simhashNearDups(sigs: DataFrame, idCol: String,
                      maxHamming: Int): DataFrame = {
    val a = sigs.select(col(idCol).as("id_a"), col("simhash").as("sig_a"))
    val b = sigs.select(col(idCol).as("id_b"), col("simhash").as("sig_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(expr("sig_a ^ sig_b")))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Banded simhash near-duplicate pairs — the 100 TB path, exact same
    * result as [[simhashNearDups]] (no recall loss, unlike MinHash-LSH):
    * split the `bits`-bit signature into `maxHamming + 1` contiguous
    * chunks; two signatures within Hamming distance d <= maxHamming differ
    * in at most d chunks, so by pigeonhole they agree EXACTLY on at least
    * one chunk. Candidates are therefore an equi-join on (chunk_idx,
    * chunk_value) — fan-out bounded by chunk-bucket sizes, never |docs|²
    * — deduped (a pair can collide on several chunks), then Hamming-
    * verified on the 8-byte signatures. Each doc contributes maxHamming+1
    * rows of (int, long, long) to the join — the blocking table is ~25x
    * smaller than the raw text at typical document sizes.
    *
    * Chunk widths are BALANCED (floor(bits/chunks), remainder spread over
    * the low chunks), never a uniform ceil width: ceil-width chunking
    * leaves the last chunk empty whenever chunks*ceil > bits (e.g.
    * bits=16, maxHamming=4 -> width 4 puts chunk 4 at bits 16..19 — zero
    * for EVERY signature, one universal bucket, all-pairs blow-up).
    *
    * `probeParts`: see [[resolvePin]] — exhibit-size callers pass 0.
    *
    * The id pin below assumes the self-join broadcasts one chunk side; a
    * chunk table too big to broadcast falls back to a sort-merge join
    * that re-exchanges BOTH sides by (ci, cv) — only chunks·2^width
    * distinct keys, and the saturated buckets are exactly the hot ones.
    * That fallback leaves hot buckets to AQE's skew join, as
    * [[lshCandidates]] does (SCALING.md, "Key skew"). */
  def simhashBandedDups(sigs: DataFrame, idCol: String, bits: Int,
                        maxHamming: Int, probeParts: Int = -1): DataFrame = {
    val chunks = maxHamming + 1
    require(bits > 0 && bits <= 64 && chunks <= bits,
      "need at least one signature bit per chunk")
    require(bits < 64 || chunks >= 2,
      "a full-64-bit signature needs >= 2 chunks (one 64-wide mask " +
        "does not fit a signed long)")
    val widths = Array.tabulate(chunks)(i =>
      bits / chunks + (if (i < bits % chunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    // UNSIGNED shift: a 64-bit signature (imageDhash) is a signed long
    // whose top bit is data — `>>` would smear the sign across every
    // high chunk; for the <= 60-bit callers the two shifts agree
    val chunkCols = (0 until chunks).map { i =>
      struct(lit(i).as("ci"),
        expr(s"shiftrightunsigned(simhash, ${offsets(i)}) " +
          s"& ${(1L << widths(i)) - 1}").as("cv"))
    }
    // Pin the signature frame's parallelism with an explicit-count
    // repartition on the id (REPARTITION_BY_NUM — AQE honors
    // user-specified counts; the id is unique, so no skew). Without it,
    // AQE coalesces the upstream signature exchange by its INPUT bytes —
    // ~1 MB for 50k 8-byte signatures — to ONE partition, and since the
    // chunk explode, broadcast-probe and pair dedup all fuse into that
    // exchange's reduce stage, the join's OUTPUT (53M pairs at the
    // sf1.0 16-bit rehearsal) materializes single-threaded: measured
    // 147 s starved vs 29 s pinned (on par with coalescing disabled).
    // Pair-generating joins are exactly the shape AQE mis-sizes: output
    // explodes relative to input bytes, and only the operator knows
    // that. Pinning HERE (not the exploded chunk frame) keeps the
    // explode+probe+pair-dedup fusion in one stage: a chunk-level
    // round-robin was measured 1.5x worse (it splits the fused stage),
    // and a (ci, cv) join-key repartition 2.5x worse (only
    // chunks·2^width distinct keys — 64 at 16-bit/maxHamming 3 — and
    // the saturated buckets are precisely the hot ones, so each
    // bucket's quadratic fan-out serializes into one task). The count
    // is the session's configured shuffle parallelism, so cluster
    // deployments keep their setting.
    // (id, simhash), not id alone: the upstream signature aggregate is
    // already hash-partitioned by id, so a same-key repartition is
    // recognized as redundant and ELIDED — and the pin silently vanishes
    // (measured: right back to the coalesced 147 s). The composite key is
    // still unique per row, so the distribution stays uniform.
    val pinnedSigs = resolvePin(sigs, probeParts) match {
      case Some(n) => sigs.repartition(n, col(idCol), col("simhash"))
      case None => sigs
    }
    val chunked = pinnedSigs
      .select(col(idCol), col("simhash"),
        explode(array(chunkCols: _*)).as("c"))
      .select(col(idCol), col("simhash"),
        col("c.ci").as("ci"), col("c.cv").as("cv"))
    val a = chunked.select(col("ci"), col("cv"), col(idCol).as("id_a"),
      col("simhash").as("sig_a"))
    val b = chunked.select(col("ci"), col("cv"), col(idCol).as("id_b"),
      col("simhash").as("sig_b"))
    a.join(b, Seq("ci", "cv"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", bit_count(expr("sig_a ^ sig_b")))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Read one observed metric after its query's action has completed.
    * Observation metrics are delivered by an ASYNC QueryExecutionListener a
    * moment after the action returns; `Observation.get` blocks for them
    * with NO timeout, so bound the wait (if a future Spark routed
    * checkpoint() outside tracked executions, metrics would never arrive)
    * and fail loudly instead of hanging — same fail-don't-guess stance as
    * the maxIter cap. A `sum` over zero rows observes null: an empty label
    * table has zero changed labels, so null maps to 0. */
  private def observedCount(obs: Observation, key: String): Long = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.DurationInt
    val m =
      try Await.result(
        Future(obs.get)(scala.concurrent.ExecutionContext.global), 60.seconds)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(
            s"observed metric '$key' not delivered within 60s — " +
              "checkpoint() no longer runs as a tracked SQL execution on " +
              "this Spark version")
      }
    m(key) match {
      case null      => 0L
      case n: Number => n.longValue
    }
  }

  /** Connected components over candidate pairs: assigns every node the
    * MINIMUM id reachable in its component — the step every dedup pipeline
    * needs between candidate PAIRS (minhashLsh / simhashBandedDups /
    * fuzzyPairs output) and "keep one document per duplicate GROUP": pairs
    * (a,b),(b,c) must collapse to one group {a,b,c} even though (a,c) was
    * never emitted.
    *
    * Per round, every node takes the min of its own and its neighbors'
    * labels (one equi-join + one groupBy(min), both map-side-partial-
    * friendly), then POINTER-JUMPS: label <- label(label), a self-join
    * that halves the remaining propagation distance — so convergence is
    * O(log diameter) rounds, not O(diameter) (a 1M-link chain resolves in
    * ~20 rounds). Each round ends in a [[graft.Graft.snap]]: iterative lineage
    * otherwise grows with every round and Catalyst re-plans the whole
    * history — measured on a 256-node graph, rounds slowed 1.3s -> 4s+ by
    * round 4 without truncation, and stayed flat with it. The driver-side
    * loop reads ONE number per round — the exact changed-labels count,
    * collected DURING the checkpoint job as a CollectMetrics observation
    * (`Dataset.observe`), so each round is a single Spark job with no
    * separate convergence-probe scan — the kmeansLite pattern of bounded
    * driver work, at one pass over the labels per round.
    *
    * Reliable mode is the session conf `graft.checkpoint.reliable=true`
    * that every [[graft.Graft.snap]] reads — the 1000-executor production
    * mode: each round's label table goes through a RELIABLE checkpoint to
    * `spark.sparkContext.checkpointDir` (HDFS/object store on a cluster)
    * instead of executor-local blocks, so losing an executor
    * mid-iteration cannot kill the lineage — local checkpoint blocks have
    * no replicas and a truncated-lineage frame cannot be recomputed. The
    * round structure is identical; checkpoint FILES are cleaned by the
    * ContextCleaner when `spark.cleaner.referenceTracking.cleanCheckpoints
    * =true` (the explicit per-round freeing below only manages in-memory
    * blocks, which reliable checkpoints don't create).
    *
    * `onRound`: opt-in convergence telemetry — called once per completed
    * round with (round number starting at 1, labels changed this round).
    * A healthy graph's curve drops geometrically (pointer jumping); a
    * skewed or adversarial graph shows up as a long flat tail — a CURVE
    * the operator surfaces long before the maxIter timeout would. Free:
    * the exact count is observed during the round's checkpoint job either
    * way (CorpusOpsSpec pins the curve of a chain graph).
    *
    * TWO-TIER STRATEGY (r20). Graphs whose pair count is at most
    * `graft.cc.unionFindMaxEdges` (session conf, default 4,000,000; 0
    * disables) and whose ids are LONGs run a SINGLE-JOB partition-local
    * union-find instead of the round loop: each task union-finds its
    * local edges and emits one (node, root) star edge per distinct node
    * (union-by-min, so a root is always the minimum id seen — the exact
    * label convention of the loop), the stars — at most one row per
    * distinct node, the "boundary edges" of the partition-local pass —
    * are shuffled to ONE task whose union-find resolves global
    * connectivity, and the result goes through the same snapshot as the
    * loop's final table. Exactness: a union-by-min forest's root IS the
    * component minimum, and the union of per-partition stars preserves
    * connectivity (every local edge is represented by two star edges
    * sharing the local root), so labels are bit-equal to the loop's —
    * CorpusOpsSpec asserts that on chains/merges/self-pairs with the
    * threshold forced both ways. Why it is the right shape below the
    * threshold: the loop costs one Spark job per round plus the seed
    * snapshot (per-round job latency dominates small graphs — measured
    * ~0.45 s/round at local[32] with 3 rounds typical), while the fast
    * path is one count + one two-stage job. Why the threshold: the
    * final merge task holds one LongMap entry per distinct node, so the
    * conf bounds single-task memory (4M pairs <= 8M nodes, ~256 MB
    * worst case transient) — a corpus-scale graph above it takes the
    * per-round-checkpointed loop whose memory is partitioned. maxIter
    * and onRound apply to the loop only: the fast path is exact in one
    * pass (no rounds happen, so there is no curve to report). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          onRound: Option[(Int, Long) => Unit] = None): DataFrame = {
    val ufMaxEdges = pairs.sparkSession.conf
      .get("graft.cc.unionFindMaxEdges", "4000000").toLong
    val longIds = pairs.schema("id_a").dataType == LongType &&
      pairs.schema("id_b").dataType == LongType
    val srcDst = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    if (ufMaxEdges <= 0 || !longIds)
      return ccPointerJump(srcDst, maxIter, onRound, () => ())
    // one materialization of the (possibly expensive) upstream pair
    // pipeline serves both the size probe and whichever tier runs; the
    // pointer-jump tier builds its symmetrized edge set from this cache
    // and frees it as soon as that edge set is materialized
    val raw = srcDst
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs =
      try raw.count()
      catch { case t: Throwable => raw.unpersist(false); throw t }
    if (nPairs <= ufMaxEdges) {
      try {
        import pairs.sparkSession.implicits._
        Graft.snap(raw.as[(Long, Long)]
          .mapPartitions(CcUnionFind.collapse _)
          .repartition(1)
          .mapPartitions(CcUnionFind.collapse _)
          .toDF("id", "component"))
      } finally raw.unpersist(false)
    } else
      ccPointerJump(raw, maxIter, onRound,
        () => { raw.unpersist(false); () })
  }

  /** The per-round-checkpointed pointer-jumping loop — the corpus-scale
    * tier of [[connectedComponents]] (see its scaladoc for the round
    * structure, observation-based convergence and memory discipline).
    * `srcDst` is the directed (src, dst) pair frame; symmetrization,
    * distinct and the edge cache happen here. `onEdgesMaterialized` runs
    * once the edge cache is materialized — the caller uses it to free
    * its upstream pair cache, which nothing below reads again. */
  private def ccPointerJump(srcDst: DataFrame, maxIter: Int,
                            onRound: Option[(Int, Long) => Unit],
                            onEdgesMaterialized: () => Unit): DataFrame = {
    val edges = srcDst
      .unionByName(srcDst.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sc = srcDst.sparkSession.sparkContext
    // eager localCheckpoint blocks are only freed when the JVM GCs the
    // dropped Dataset and ContextCleaner notices — across ~20 rounds that
    // accumulates up to 20 label-table snapshots in executor storage,
    // evicting the edges cache on exactly the large graphs this operator
    // targets. Track each round's newly-persisted RDD ids and free round
    // r-1's explicitly once round r no longer reads it.
    def persistedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def freeIds(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    // materialize the edges cache BEFORE the first snapshot: persist() only
    // registers the RDD at first materialization, so without this count the
    // edges cache would register DURING the initial label checkpoint job,
    // land in that round's id set, and get freed after round 1 — every
    // later round would then recompute the union+distinct from the pairs
    // input. (The id-set diffing assumes this loop is the only code
    // persisting RDDs on the session during the rounds.)
    edges.count()
    onEdgesMaterialized()
    val before0 = persistedIds
    // seed labels with min(id, neighbors) instead of id: same single
    // shuffle as the distinct() it replaces (groupBy on src), but the
    // trivial first hop is folded into initialization — a flat component
    // (pair/star, the common dup-group shape) is already labeled with its
    // min after the seed, saving one full join+checkpoint round. The
    // pointer-jumping invariant holds: the seed label is a node id in the
    // same component with label(seed) <= seed.
    try {
      var labels = Graft.snap(edges.groupBy(col("src"))
        .agg(min(col("dst")).as("nmin"))
        .select(col("src").as("id"), least(col("src"), col("nmin")).as("label")))
      var prevIds = persistedIds -- before0
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        val nbrMin = edges
          .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(min(col("label")).as("nlabel"))
        // carry the pre-round label as `prev` so convergence detection is a
        // per-row comparison inside this round's plan, not a join against
        // the previous snapshot; the observation below consumes it and the
        // final projection prunes it before the checkpoint
        val stepped = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("label").as("prev"),
            least(col("label"), coalesce(col("nlabel"), col("label")))
              .as("label"))
        // pointer jumping: a label is always a node id, and that node's own
        // label is <= it (labels only shrink toward the component min), so
        // label(label(x)) short-circuits half the remaining chain
        val before = persistedIds
        // the exact changed-labels count rides the checkpoint job itself as
        // a CollectMetrics observation (map-side partial sum, no extra pass)
        // instead of a second job scanning the snapshot — one job per round,
        // and `prev` gets pruned above the metrics node so the checkpointed
        // table is (id, label) only, ~1/3 fewer bytes per round at scale
        val obs = Observation(s"cc_round_${iter + 1}")
        val next = Graft.snap(stepped
          .join(stepped.select(col("id").as("jid"), col("label").as("jlabel")),
            stepped("label") === col("jid"), "left")
          .select(stepped("id"), stepped("prev"),
            coalesce(col("jlabel"), stepped("label")).as("label"))
          .observe(obs, sum(when(col("label") < col("prev"), 1L).otherwise(0L))
            .as("changed"))
          .select(col("id"), col("label")))
        val nextIds = persistedIds -- before
        val changed = observedCount(obs, "changed")
        onRound.foreach(_(iter + 1, changed))
        freeIds(prevIds) // round r-1's snapshot: no longer referenced
        prevIds = nextIds
        labels = next
        converged = changed == 0
        iter += 1
      }
      // fail loudly, never return partially-merged components: an
      // unconverged label table looks exactly like a converged one (same
      // schema, plausible groups) and silently under-merges duplicates
      // downstream. Pointer jumping converges in O(log2 diameter) rounds,
      // so hitting the cap means the cap is wrong, not the graph.
      if (!converged) {
        freeIds(prevIds) // nothing returns the final snapshot — free it
        throw new IllegalArgumentException(
          s"connectedComponents: not converged after maxIter=$maxIter rounds; " +
            "rounds needed ~ log2(largest component diameter) — raise maxIter")
      }
      // the final round's snapshot backs the returned frame; its blocks
      // live as long as that frame (see Graft.snap)
      labels.select(col("id"), col("label").as("component"))
    } finally edges.unpersist()
  }

  /** INCREMENTAL connected-components maintenance — update a persisted
    * label table with a delta batch of new edges WITHOUT recomputing CC
    * over the full corpus graph (the r17 gap: admitted deltas never
    * updated component labels, forcing a full recompute per snapshot).
    *
    * Works because edges only ever ACCRETE in a dedup store (merges,
    * never splits) and a converged label table is a star graph: every
    * node points straight at its component min. So the delta reduces to
    * a graph over COMPONENT REPRESENTATIVES — map each delta endpoint
    * through the persisted labels (left join; unseen ids keep
    * themselves), drop the edges that collapse inside one component,
    * and run [[connectedComponents]] on what is left. That reduced
    * graph has one node per TOUCHED component plus the genuinely new
    * ids, so rounds are bounded by log2(the DELTA's merge-chain
    * diameter), not the corpus diameter, and each round's shuffle is
    * delta-sized. The final relabel is one join of the persisted table
    * against the (touched-component → new-min) map — delta-sized, AQE
    * broadcasts it — plus a union of the new ids; untouched rows pass
    * through unchanged.
    *
    * The component-min label convention is preserved exactly: the min
    * over a merged component equals the min over its representatives
    * (each old label IS its component's min id), so the output is
    * BIT-EQUAL to a full recompute over (old ∪ delta) edges —
    * DedupSpec asserts that across a 3-batch sequence.
    *
    * `prevLabels` is (id, component) as [[connectedComponents]] returns
    * it; `deltaPairs` is (id_a, id_b) — SELF-pairs are allowed: an
    * (x, x) edge over a known id is a no-op and over a new id yields a
    * singleton component, exactly as [[connectedComponents]] treats it.
    * Returns the updated full table. */
  def connectedComponentsIncremental(prevLabels: DataFrame,
                                     deltaPairs: DataFrame,
                                     maxIter: Int = 25,
                                     onRound: Option[(Int, Long) => Unit] = None): DataFrame = {
    val lbl = prevLabels.select(col("id"), col("component"))
    // the three delta-sized frames below are each EAGERLY MATERIALIZED
    // (Graft.snap — reliable in production, executor-local otherwise):
    // every one of them is referenced from several places in the final
    // plan (the emptiness probe, connectedComponents' edges union, the
    // fresh/self-only splits, the returned union), and without
    // truncation Catalyst INLINES the whole upstream subtree at every
    // reference — measured on q178 (delta = a full minhash-banding
    // pipeline): 302 Exchanges / 280 parquet scans in one final plan,
    // the corpus label table re-scanned per reference. With the snaps:
    // the delta subtree runs once, the corpus is scanned once for the
    // lookup slice (plus once for the relabel output — irreducible),
    // and everything downstream is joins of delta-sized checkpoints.
    // NOTE (graft.checkpoint.reliable=true): each batch writes three reliable
    // checkpoints whose FILES outlive the job unless
    // spark.cleaner.referenceTracking.cleanCheckpoints=true — a
    // long-running maintenance loop MUST set it (or sweep the
    // checkpoint dir itself) or the dir grows without bound, exactly
    // as the per-round CC checkpoints already imply (r20 advisor).
    val delta = Graft.snap(deltaPairs.select(col("id_a"), col("id_b")))
    // label lookup WITHOUT a corpus shuffle: semi-join the corpus-sized
    // label table down to the delta's endpoint ids first — the id set
    // is delta-sized so AQE broadcasts it and the corpus side is
    // SCANNED once (column-pruned to two longs) but never shuffled —
    // then left-join the delta against that delta-sized slice (AQE
    // broadcasts it too). The previous shape left-joined the delta
    // directly against the full label table, which shuffles the corpus
    // per batch unless labels happen to be bucketed on id.
    val deltaIds = delta.select(col("id_a").as("id"))
      .unionByName(delta.select(col("id_b").as("id")))
      .distinct()
    val touched = Graft.snap(lbl.join(deltaIds, Seq("id"), "left_semi"))
    val mapped = Graft.snap(delta
      .join(touched.select(col("id").as("id_a"), col("component").as("__la")),
        Seq("id_a"), "left")
      .join(touched.select(col("id").as("id_b"), col("component").as("__lb")),
        Seq("id_b"), "left"))
    val reduced = mapped
      .select(coalesce(col("__la"), col("id_a")).as("id_a"),
        coalesce(col("__lb"), col("id_b")).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
    // genuinely NEW ids, derived from the delta's own null-lookups —
    // delta-sized, so the fresh-node split below is a delta×delta semi
    // join, never a join against the corpus-sized label table (an
    // anti-join against lbl would shuffle — or worse, hash — the whole
    // corpus for a delta-sized result)
    val newIds = mapped
      .select(when(col("__la").isNull, col("id_a")).as("id"))
      .unionByName(mapped
        .select(when(col("__lb").isNull, col("id_b")).as("id")))
      .where(col("id").isNotNull)
      .distinct()
    // all delta edges inside existing components: nothing merges, so
    // the persisted table — plus any new ids, which in this branch are
    // necessarily SELF-pair-only (a non-self edge touching a new id
    // always survives into `reduced`: the new endpoint keeps itself and
    // can never equal an existing component representative) and become
    // singletons, matching connectedComponents on an (x, x) edge — IS
    // the answer. The emptiness probe is a filter over the `mapped`
    // checkpoint — delta-sized, zero corpus work (the one corpus scan
    // already happened when `touched` materialized).
    if (reduced.isEmpty)
      return lbl.unionByName(
        newIds.select(col("id"), col("id").as("component")))
    val merged = connectedComponents(reduced, maxIter, onRound)
    // (touched representative -> merged min); representatives are node
    // ids present in prevLabels, new ids are the semi-join complement
    val remap = merged
      .select(col("id").as("component"), col("component").as("__newc"))
    val updated = lbl
      .join(remap, Seq("component"), "left")
      .select(col("id"),
        coalesce(col("__newc"), col("component")).as("component"))
    val fresh = merged
      .join(newIds, Seq("id"), "left_semi")
      .select(col("id"), col("component"))
    // a new id whose every delta edge was a SELF-pair never entered the
    // reduced graph (the self-loop collapses), so it is absent from
    // `merged` — emit it as its own singleton component, matching what
    // connectedComponents does with an (x, x) edge. Both sides of the
    // anti join are delta-sized.
    val selfOnly = newIds
      .join(merged.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    updated.unionByName(fresh).unionByName(selfOnly)
  }

  /** Canonical-survivor selection — the step that turns duplicate GROUPS
    * into a keep/drop DECISION per document, i.e. the actual output a
    * dedup sweep ships. Given the corpus and the near-dup pair edges,
    * returns every input row plus `component` (the duplicate-group label;
    * a document's own id when it has no duplicates) and `keep` (true for
    * exactly one representative per group, chosen by the caller's
    * `prefer` ordering with ascending id as the deterministic tiebreak).
    *
    * SCALE SHAPE. The expensive part — the per-group sort behind
    * row_number — runs ONLY over documents that are in a duplicate group
    * (an inner join with the component labels, whose row count is the
    * number of near-dup documents, typically a few percent of the
    * corpus). The untouched majority takes the anti-join branch against
    * the same two-longs-per-near-dup-doc label table, then passes through
    * at scan speed with keep=true. Nothing ever sorts or shuffles the
    * full corpus on `component`. No broadcast hint on purpose: AQE
    * broadcasts the label table when it fits and falls back to a shuffled
    * join when the dup set itself is at cluster scale — forcing the hint
    * would OOM exactly there.
    *
    * PRECONDITIONS: (1) `docs` must not already carry a `component` or
    * `keep` column — the label join would be ambiguous / withColumn would
    * clobber the caller's data; enforced unconditionally (schema-only
    * check, free). (2) `idCol` is a key — one row per document; a
    * duplicated id lands the same doc in its group twice and row_number
    * elects one keeper per ROW, not per doc. (3) `prefer` must be a
    * DETERMINISTIC ordering — enforced unconditionally via an
    * analysis-only probe (free): a rand()-shaped preference re-elects
    * keepers on task retry, silently violating exactly-one-keeper on
    * exactly the clusters this targets. Like [[shingles]], (2) is
    * enforced only when `graft.dedup.checkIds=true` on the session (an
    * unconditional uniqueness shuffle per call would tax every pipeline
    * for a condition the upstream load already guarantees). */
  def survivors(docs: DataFrame, pairs: DataFrame, idCol: String,
                prefer: Seq[Column] = Nil, maxIter: Int = 25): DataFrame = {
    for (reserved <- Seq("component", "keep"))
      require(!docs.columns.contains(reserved),
        s"Dedup.survivors: docs already has a '$reserved' column — rename " +
          "it first; survivors appends its own")
    // `prefer` must be DETERMINISTIC: row_number over a nondeterministic
    // ordering (rand(), monotonically_increasing_id, ...) elects a
    // DIFFERENT keeper on task retry / stage replay — the exactly-one-
    // keeper contract silently breaks under exactly the cluster
    // conditions this operator targets, and the drift is invisible
    // (schema and counts look right). Resolved through an analyzed probe
    // plan because Spark 4's public Column no longer exposes its
    // expression; the probe sorts an EMPTY relation with docs' schema
    // (plus the appended `component`), so any nondeterministic expression
    // anywhere in the analyzed plan can only come from `prefer` — this
    // also survives the analyzer's PullOutNondeterministic rewrite, which
    // hides rand() from the Sort node itself by materializing it below.
    // Analysis-only; nothing executes.
    if (prefer.nonEmpty) {
      val spark = docs.sparkSession
      val dummy = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(docs.schema.fields :+
          org.apache.spark.sql.types.StructField("component",
            org.apache.spark.sql.types.LongType)))
      val probe = dummy.sort(prefer: _*).queryExecution.analyzed
      val nondet = probe.collect { case node => node.expressions }
        .flatten.exists(!_.deterministic)
      require(!nondet,
        "Dedup.survivors: nondeterministic `prefer` ordering — keeper " +
          "election must be stable across task retries; derive preference " +
          "from row content (length, hash) instead of rand()")
    }
    requireUniqueIds(docs, idCol, "Dedup.survivors",
      "keep would elect one keeper per row, not per document")
    val labels = connectedComponents(pairs, maxIter)
      .withColumnRenamed("id", idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(prefer :+ col(idCol).asc: _*)
    val grouped = docs.join(labels, Seq(idCol))
      .withColumn("keep", row_number().over(w) === lit(1))
    val singletons = docs
      .join(labels.select(col(idCol)), Seq(idCol), "left_anti")
      .withColumn("component", col(idCol))
      .withColumn("keep", lit(true))
    grouped.unionByName(singletons)
  }

  /** Eval-set contamination detection (n-gram decontamination): flag
    * training documents sharing at least `minOverlap` distinct word
    * n-gram shingles with any eval/benchmark document — the standard
    * test-set-leakage sweep run before LLM training. Output one row per
    * contaminated (train_id, eval_id) pair with the overlap count and
    * `eval_coverage` = overlap / |eval doc's shingles| (1.0 = the whole
    * eval doc appears in the training doc).
    *
    * SCALE SHAPE. The asymmetry is the design: eval sets are thousands of
    * docs while the training corpus is the 100 TB side, so the eval
    * shingle table is broadcast and the train side never shuffles its
    * shingles — shingling is a map-side explode, the contamination join is
    * a broadcast hash join at scan speed, and the only shuffle carries
    * (train_id, eval_id) hit pairs, bounded by actual matches, not by
    * corpus size. Same-document duplicate shingles are already collapsed
    * by [[shingles]], so `n_overlap` counts DISTINCT shared n-grams. */
  def contamination(train: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, n: Int = 3,
                    minOverlap: Int = 1,
                    shingler: (DataFrame, String, String, Int) => DataFrame =
                      shingles): DataFrame = {
    // `shingler` swaps the gram definition for BOTH sides — pass
    // [[charShingles]] for an unsegmented-script eval set, or a
    // [[shinglesAuto]] closure for mixed corpora; the join/broadcast
    // shape is gram-agnostic
    val tr = shingler(train, idCol, textCol, n)
      .withColumnRenamed(idCol, "train_id")
    // per-eval-doc shingle total rides INSIDE the broadcast frame (small-
    // side window) so the eval set is shingled and broadcast exactly once;
    // a separate size table would cost a second shingling pass + broadcast
    // + join (measured 4.5 s -> this shape on the bench corpus)
    val ev = shingler(evalDocs, idCol, textCol, n)
      .withColumnRenamed(idCol, "eval_id")
      .withColumn("eval_shingles",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("eval_id"))))
    tr.join(broadcast(ev), Seq("shingle"))
      // eval_shingles is constant per eval_id — grouping by it is free and
      // saves the join-back for the denominator
      .groupBy(col("train_id"), col("eval_id"), col("eval_shingles"))
      .agg(count(lit(1)).as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
      .select(col("train_id"), col("eval_id"), col("n_overlap"),
        (col("n_overlap") / col("eval_shingles")).as("eval_coverage"))
  }

  /** Bit positions the bloom screen sets and tests per shingle (k; see
    * [[contaminationBloom]] for the false-positive rate it gives). */
  private val BloomHashes = 8

  /** BLOOM-FILTER contamination screen — the 100 TB-shaped variant of
    * [[contamination]]: instead of broadcasting the eval set's shingle
    * STRINGS (8+ bytes each plus hash-table overhead) and joining, the
    * eval shingles compress into a `bitsPerShingle`-bits-per-entry
    * bloom bitmap (4 bytes/shingle at the default) that ships ONCE per
    * executor as a broadcast variable, and the probe is a scan:
    * shingles explode, the md5 double-hash runs in codegen, one JVM
    * probe function tests k = 8 bit positions against the
    * broadcast bitmap, and non-hits drop BEFORE any exchange — the
    * corpus never shuffles; only the FLAGGED ids (≈ true contamination
    * + ~0.2% FP) reach the distinct + the broadcast join-back.
    *
    * MEASURED TRADE (sf1.0, 45k docs / 2.35M shingles, local[16]):
    * the screen scans at ~2× the exact broadcast join's wall
    * (20.7 s vs 10.8 s min-of-3) — md5-per-shingle beats a murmur
    * hash-relation probe on footprint, not CPU. Its regime is the
    * eval set the exact join CANNOT broadcast: the bitmap is ~8×
    * smaller than a broadcast hash relation over the same shingles
    * (4 bytes vs 30+ bytes each), join-free, and FP-tunable — use
    * [[contamination]]/[[decontaminate]] whenever the eval relation
    * broadcasts comfortably, this screen when it does not.
    *
    * Bloom semantics, so NO FALSE NEGATIVES (every exactly-
    * contaminated doc is flagged — the spec pins it against
    * [[contamination]]) and a bounded false-positive rate. SIZE FOR
    * THE DOC, NOT THE SHINGLE: a doc is falsely flagged if ANY of its
    * shingles trips, so per-doc FP ≈ shingles/doc × per-shingle FP —
    * the defaults (r = 32 bits/shingle, k = 8 hashes → per-shingle
    * (1−e^(−k/r))^k ≈ 6e-6) hold a ~300-shingle doc under 0.2% FP,
    * where a naive 10-bit/1% filter would flag nearly every long doc.
    * The intended deployment is a SCREEN: bloom-flag at scan speed,
    * then run the exact [[contamination]] join only over the flagged
    * sliver.
    *
    * Hashing is Kirsch-Mitzenmacher double hashing off ONE md5 per
    * shingle — pos_i = (h1 + i·h2) mod m with h1/h2 the md5's two
    * 56-bit halves (the minhash family's exact scheme, overflow-safe:
    * h1 + 15·h2 < 2^60) — because the probe's md5 count IS the scan
    * cost: a naive per-index seeded hash ran k md5s per shingle and
    * measured 4× SLOWER than the exact broadcast join at 50k docs;
    * K-M runs one. Deterministic, so a replay engine reproduces every
    * bit — the bloom verdict itself is oracle-checkable (q179), not
    * just its recall. Two bounded driver actions by design: the
    * eval-shingle count (sizes the bitmap) and the word-table collect
    * (words = n·bitsPerShingle/64 longs — eval-bounded, never
    * corpus-bounded).
    *
    * Returns train's idCol + `bloom_contaminated` for every train doc
    * (docs with < n tokens cannot be contaminated → false). */
  def contaminationBloom(train: DataFrame, evalDocs: DataFrame,
                         idCol: String, textCol: String, n: Int = 3,
                         bitsPerShingle: Int = 32,
                         maxBitmapBytes: Long = 64L << 20): DataFrame = {
    val flagged = bloomFlaggedIds(train, evalDocs, idCol, textCol, n,
      bitsPerShingle, maxBitmapBytes)
      .withColumn("__cb_hit", lit(true))
    train
      .join(flagged, Seq(idCol), "left")
      .withColumn("bloom_contaminated",
        coalesce(col("__cb_hit"), lit(false)))
      .drop("__cb_hit")
  }

  /** The screen's core: DISTINCT train ids whose shingle set trips the
    * eval bloom bitmap — shared by [[contaminationBloom]] (which joins
    * the flags back onto every train row) and [[decontaminateBloom]]
    * (which only needs the flagged sliver: going through the join-back
    * + re-filter cost an extra corpus scan and join per call, r19). */
  private def bloomFlaggedIds(train: DataFrame, evalDocs: DataFrame,
                              idCol: String, textCol: String, n: Int,
                              bitsPerShingle: Int,
                              maxBitmapBytes: Long): DataFrame = {
    require(n >= 1, s"n: $n")
    require(bitsPerShingle >= 2 && bitsPerShingle <= 64,
      s"bitsPerShingle: $bitsPerShingle")
    require(maxBitmapBytes >= 8, s"maxBitmapBytes: $maxBitmapBytes")
    Seq("bloom_contaminated", "__cb_hit", "__cb_toks", "__cb_sh").foreach(c =>
      require(!train.columns.contains(c),
        s"Dedup.contaminationBloom: train already has a '$c' column — " +
          "rename it first"))
    // the eval shingle set feeds TWO driver actions (the count that
    // sizes the bitmap, then the word-table collect) — persist it
    // across them (eval-bounded by contract) instead of shingling and
    // distinct-ing the eval set twice (r19)
    val evalSh = shingles(evalDocs, idCol, textCol, n)
      .select(col("shingle")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // unpersist in finally: if the bitmap-ceiling require (or the collect)
    // throws, the cached eval shingle set must not leak into the session
    // block cache (r20 advisor fix)
    val (bitmap, words) = try {
      val nSh = evalSh.count()
      val w = math.max(1L, (nSh * bitsPerShingle + 63) / 64)
      // the bitmap ships once per executor as a broadcast variable —
      // sized bitsPerShingle × |eval shingles|, eval-bounded by design,
      // but a 100M-shingle eval set at the defaults is still a ~400 MB
      // driver+executor-resident array. Fail LOUDLY here, naming the
      // fallback, instead of OOMing the driver mid-build.
      require(w * 8 <= maxBitmapBytes,
        s"Dedup.contaminationBloom: eval set has $nSh distinct shingles " +
          s"-> a ${w * 8}-byte bloom bitmap, over the " +
          s"$maxBitmapBytes-byte ceiling (maxBitmapBytes). Shrink the " +
          "eval set / lower bitsPerShingle, raise maxBitmapBytes " +
          "deliberately, or use the exact path (Dedup.contamination / " +
          "Dedup.decontaminate), whose eval side is a broadcast join " +
          "with no single-bitmap bottleneck.")
      val mB = w * 64L
      def posC(sh: Column, i: Int): Column = {
        val h1 = conv(substring(md5(sh), 1, 14), 16, 10).cast(LongType)
        val h2 = conv(substring(md5(sh), 17, 14), 16, 10).cast(LongType)
        pmod(h1 + lit(i.toLong) * h2, lit(mB))
      }
      val wordRows = evalSh
        .select(explode(array((0 until BloomHashes)
          .map(i => posC(col("shingle"), i)): _*)).as("p"))
        .groupBy(floor(col("p") / 64).cast(IntegerType).as("w"))
        .agg(expr(
          "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))")
          .as("bits"))
        .collect()
      val bm = new Array[Long](w.toInt)
      wordRows.foreach(r => bm(r.getInt(0)) = r.getLong(1))
      (bm, w)
    } finally evalSh.unpersist()
    val mBits = words * 64L
    // THE HASH IS CODEGEN-SHAPED ON PURPOSE: a first cut evaluated the
    // whole test as nested higher-order lambdas over the token array —
    // zero shuffles, but lambda bodies run INTERPRETED outside
    // whole-stage codegen and the scan measured ~5× slower than the
    // exact broadcast join at 50k docs. Exploding the shingles keeps
    // the per-shingle md5 inside codegen, and the early `where` means
    // the only rows that ever reach an exchange are the FLAGGED ones —
    // the corpus itself still never shuffles.
    //
    // The BITMAP ships once per executor as a BROADCAST VARIABLE
    // (torrent blocks), and the k-position test is one JVM function
    // over the shingle's md5 hex reading it. The previous shape embedded
    // the bitmap as a typedLit array INSIDE the plan — i.e. inside every
    // task binary of every stage of the query ("Broadcasting large task
    // binary with size 1.5–2.3 MiB" across the bloom family), serialized
    // and deserialized per task rather than per executor, and capped by
    // what the scheduler tolerates as a literal (r20, guide §5).
    //
    // The probe takes the md5 ONCE as its single argument and parses
    // both 56-bit halves itself (hex chars 1-14 and 17-30), so the md5
    // runs once per shingle with no optimizer barrier: two column
    // arguments would each inline their own md5 under project collapse
    // (measured 9 s at k=1 vs 43 s at k=8 on 2.35M shingles when the md5
    // was repeated per position). 14 hex digits fit a long, so the parse
    // is bit-identical to the bitmap build's conv(substring(md5, ..),
    // 16, 10), and p_i = pmod(h1 + i·h2, mBits) with h1 + 15·h2 < 2^60
    // (no overflow) — CorpusOpsSpec pins the screen against the exact
    // path. The broadcast itself is freed by the ContextCleaner when the
    // UDF's closure is GC'd.
    val bmB = train.sparkSession.sparkContext.broadcast(bitmap)
    val kH = BloomHashes
    val mB = mBits
    val probe = udf((md5Hex: String) => {
      val h1 = java.lang.Long.parseLong(md5Hex.substring(0, 14), 16)
      val h2 = java.lang.Long.parseLong(md5Hex.substring(16, 30), 16)
      val bm = bmB.value
      var i = 0
      var all = true
      while (all && i < kH) {
        val p = (h1 + i.toLong * h2) % mB
        all = (bm((p >>> 6).toInt) & (1L << (p & 63L))) != 0L
        i += 1
      }
      all
    })
    val toks = graft.text.TextOps.tokens(col(textCol))
    val grams = transform(
      sequence(lit(1), size(col("__cb_toks")) - (n - 1)),
      j => concat_ws(" ", slice(col("__cb_toks"), j, lit(n))))
    train
      .select(col(idCol), toks.as("__cb_toks"))
      .where(size(col("__cb_toks")) >= n)
      .select(col(idCol), explode(grams).as("__cb_sh"))
      .where(probe(md5(col("__cb_sh"))))
      .select(col(idCol))
      .distinct()
  }

  /** SCREENED decontamination — [[contaminationBloom]] composed into
    * the removal step: bloom-flag the corpus at scan speed (zero
    * joins), run the exact [[contamination]] join ONLY over the
    * flagged sliver (flag rate ≈ true contamination + ~0.2% FP at the
    * defaults), then anti-join the exact hits out. Because the bloom
    * has NO false negatives at any `minOverlap` (≥ minOverlap shared
    * shingles implies ≥ 1 shared shingle implies flagged), the
    * survivors are IDENTICAL to [[decontaminate]]'s — CorpusOpsSpec
    * pins the equivalence — while the corpus-wide work drops from a
    * shingle-explode + broadcast join on every doc to one narrow
    * expression scan. The eval set is shingled twice (bitmap build +
    * exact join on the sliver) — eval-bounded, the cheap side. */
  def decontaminateBloom(train: DataFrame, evalDocs: DataFrame,
                         idCol: String, textCol: String, n: Int = 3,
                         minOverlap: Int = 1,
                         bitsPerShingle: Int = 32,
                         maxBitmapBytes: Long = 64L << 20): DataFrame = {
    // the flagged-id sliver comes straight from the screen's core —
    // routing through contaminationBloom's full output (a corpus-wide
    // left join) and re-filtering it cost an extra corpus scan + join
    // for rows this composition immediately discards (r19)
    val flagged = bloomFlaggedIds(train, evalDocs, idCol, textCol, n,
      bitsPerShingle, maxBitmapBytes)
    val sliver = train.join(flagged, Seq(idCol), "left_semi")
    val hits = contamination(sliver, evalDocs, idCol, textCol, n,
      minOverlap)
      .select(col("train_id").as(idCol)).distinct()
    train.join(hits, Seq(idCol), "left_anti")
  }

  /** Decontaminated training set — the removal step [[contamination]]
    * detection exists for: drop every training document that shares at
    * least `minOverlap` distinct n-gram shingles with ANY eval/benchmark
    * document, return the survivors with all their columns. Train docs
    * too short to shingle (< n tokens) cannot be contaminated and pass
    * through.
    *
    * SCALE SHAPE: contamination's broadcast-eval pipeline (train shingles
    * never shuffle; the hit table is bounded by matches) plus one LEFT
    * ANTI join of the training corpus against the DISTINCT contaminated
    * ids — a frame bounded by |contaminated docs|, which AQE broadcasts
    * in the realistic case (decontamination removes a sliver, not the
    * corpus); the SMJ fallback costs the corpus one exchange on id. */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, n: Int = 3,
                    minOverlap: Int = 1): DataFrame = {
    val hits = contamination(train, evalDocs, idCol, textCol, n, minOverlap)
      .select(col("train_id").as(idCol)).distinct()
    train.join(hits, Seq(idCol), "left_anti")
  }

  /** Blocked fuzzy matching (entity resolution): equi-join on a blocking
    * key, pairwise edit distance ONLY inside blocks — the scalable shape
    * for fuzzy joins, where the blocking key (prefix, phonetic code, LSH
    * bucket) bounds the quadratic stage exactly like LSH bounds MinHash
    * candidate generation. Cost is Σ block², never n².
    *
    * Blocking keys are low-cardinality BY DESIGN (a first-letter block is
    * 26 values; phonetic codes a few thousand), so under a shuffle join a
    * hot block lands its quadratic fan-out on one task; AQE's skew join
    * splits it (SCALING.md, "Key skew"). */
  def fuzzyPairs(df: DataFrame, idCol: String, nameCol: String,
                 block: Column, maxDist: Int): DataFrame = {
    val withBlock = df.select(col(idCol).as("id"), col(nameCol).as("name"),
      block.as("block"))
    val a = withBlock.select(col("id").as("id_a"), col("name").as("name_a"),
      col("block"))
    val b = withBlock.select(col("id").as("id_b"), col("name").as("name_b"),
      col("block"))
    a.join(b, Seq("block"))
      .where(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Shared tail of the exact pairwise shingle-overlap operators:
    * (id_a, id_b, inter, na, nb) over DISTINCT shingles of an
    * already-shingled (id, shingle) frame. Inherits shingles' one-row-
    * per-id PRECONDITION: a duplicated id inflates both `inter` and the
    * sizes, silently skewing every derived score. Set
    * graft.dedup.checkIds=true to enforce. */
  private def shingleOverlap(sh: DataFrame, idCol: String): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(idCol).as("id_a"), col("shingle"))
    val b = sh.select(col(idCol).as("id_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("na")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("nb")), Seq("id_b"))
  }

  /** Pairwise Jaccard from an ALREADY-SHINGLED frame — the
    * gram-agnostic core of [[ngramJaccard]], reusable with
    * [[charShingles]]/[[shinglesAuto]] output. Same all-pairs caveat
    * as [[ngramJaccard]]: the shingle self-join is Σ per-shingle-
    * frequency² — candidate-restrict or sample the input at scale
    * (LSH banding is the scale path; this is the exact referee). */
  def jaccardFromShingles(sh: DataFrame, idCol: String,
                          minJaccard: Double): DataFrame =
    shingleOverlap(sh, idCol)
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "inter", "jaccard")

  /** Exact pairwise n-gram Jaccard over candidate or sampled docs.
    * inter/union on DISTINCT shingles; `minJaccard` filters output. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, minJaccard: Double): DataFrame =
    jaccardFromShingles(shingles(docs, idCol, textCol, n), idCol, minJaccard)

  /** Cross-document repeated-SPAN detection — the span-level analogue of
    * suffix-array substring dedup ("Deduplicating Training Data Makes
    * Language Models Better" finds verbatim passages repeated across a
    * corpus; a suffix array is inherently single-machine, so the
    * distributed form rasterizes the problem into fixed-width token
    * windows). Emits every MAXIMAL run of consecutive `window`-token
    * slices whose content appears verbatim in MORE THAN ONE document:
    * (id, span_start, span_end, n_windows), positions 1-based in tokens.
    * A repeated passage of L >= window tokens surfaces as a span of
    * exactly L tokens (L - window + 1 windows); passages shorter than
    * `window` are invisible by design — `window` IS the minimum match
    * length, exactly the suffix-array method's min-length knob.
    *
    * Doc-level dedup (exact/minhash/simhash) cannot see these: two
    * documents sharing one boilerplate paragraph are nowhere near any
    * whole-doc similarity threshold, yet the paragraph is still
    * memorization fuel. Within-doc self-repetition is deliberately NOT
    * flagged (that is [[graft.text.Repetition]]'s job): a window counts
    * as duplicated only when it occurs in >= 2 DISTINCT documents,
    * decided by min(id) <> max(id) — one aggregate with map-side
    * partials, no distinct-count and no collect_list (a boilerplate
    * window shared by millions of docs partial-aggregates to one row per
    * map task; a per-hash id list would be a driver-killing hot key).
    *
    * SCALE SHAPE. ONE pass over the corpus, two exchanges, all rows
    * fixed-width: (1) the windows table — (id, pos, 112-bit hash as two
    * md5-derived 56-bit longs, the minhashWide halves, replayable
    * exactly in the oracle), ~|corpus tokens| rows of 24 bytes, document
    * text never moves — shuffles ONCE on (ha, hb) and a windowed
    * min/max-of-id over the hash decides cross-doc in place. The
    * measured alternative (groupBy the hash, join the duplicated set
    * back) evaluates the windows subtree TWICE — the corpus is scanned,
    * tokenized, and hashed once per branch, which at 100 TB doubles the
    * dominant cost (and was 2.3x slower wall-clock at sf0.1: 2.7 s vs
    * 1.2 s warm); caching the windows table instead would persist a
    * tokens-sized intermediate. A boilerplate window shared by millions
    * of docs makes a hot sort key, but the per-partition external sort
    * is bounded by the hot KEY's rows (24 bytes each, spillable), never
    * the corpus; (2) the per-doc islands Window (pos - row_number),
    * which partitions by doc id over only the FLAGGED windows —
    * corpus-parallel, each partition sorts only that doc's duplicated
    * positions — and the final span aggregate reuses its partitioning
    * (doc id is a prefix of the grouping key; plan-pinned in the spec).
    * Inherits shingles' one-row-per-id
    * PRECONDITION, and violating it fails SILENTLY in both directions:
    * two rows under one id can never flag each other (min(id) = max(id)),
    * and when either row matches a third document the islands stage
    * interleaves both rows' positions into garbled spans. Enforced under
    * graft.dedup.checkIds like [[survivors]]. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    requireUniqueIds(docs, idCol, "Dedup.duplicateSpans",
      "every window of a duplicated row would count as cross-document")
    val wins = spanWindows(docs, idCol, textCol, window)
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ha"), col("hb"))
    val islands = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    wins
      .withColumn("__cross",
        min(col(idCol)).over(byHash) =!= max(col(idCol)).over(byHash))
      .where(col("__cross")).drop("__cross")
      .withColumn("__grp", col("pos") - row_number().over(islands))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(window - 1).cast(LongType)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .drop("__grp")
  }

  /** Shared head of [[duplicateSpans]] / [[removeDuplicateSpans]]: one row
    * per `window`-token slice — (id, pos, ha, hb), pos 1-based, the md5 of
    * the space-joined slice split into two 56-bit longs (exactly
    * replayable in the oracle). One struct per position; the token array
    * is projected once per row before the lambda (the shingles lesson:
    * composing tokenization into the generator is O(tokens^2) regex). */
  private def spanWindows(docs: DataFrame, idCol: String, textCol: String,
                          window: Int): DataFrame = {
    val toks = col("__span_toks")
    docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__span_toks"))
      .where(size(toks) >= window) // sequence(1, k<1) counts down — guard
      .select(col(idCol), explode(transform(
          sequence(lit(1), size(toks) - (window - 1)),
          i => struct(i.cast(LongType).as("pos"),
            md5(concat_ws(" ", slice(toks, i, lit(window)))).as("h"))))
        .as("w"))
      .select(col(idCol), col("w.pos").as("pos"),
        conv(substring(col("w.h"), 1, 14), 16, 10).cast(LongType).as("ha"),
        conv(substring(col("w.h"), 17, 14), 16, 10).cast(LongType).as("hb"))
  }

  /** Duplicate-span REMOVAL — the rewrite step detection
    * ([[duplicateSpans]]) exists to feed: emit the corpus with every
    * non-canonical duplicated run excised. A token is removed iff it is
    * covered by some `window`-token slice whose content occurs in >= 2
    * distinct documents AND this document is not the slice's canonical
    * occurrence (min id over the hash — first-seen-wins, deterministic)
    * AND no slice covering it has THIS document as its canonical
    * (CANONICAL-WINS on overlap): when a removal window overlaps a window
    * the doc is canonical for — e.g. window=3, doc1="p q r",
    * doc2="p q r s", doc3="q r s": doc2 is non-canonical for "p q r" but
    * canonical for "q r s", and the two windows share positions 2..3 —
    * the overlapped tokens are KEPT, so the canonical occurrence of every
    * duplicated passage survives intact. Without the keep-side test the
    * overlap would excise doc2's "q r" while doc3's copy is also removed,
    * deleting ALL corpus-wide copies of "q r s" — silent training-data
    * loss. Guarantee: AT LEAST one copy of every duplicated passage
    * survives corpus-wide, and for non-overlapping windows exactly one;
    * overlapping windows with distinct canonicals may leave a second
    * PARTIAL copy standing (the conservative direction for training data
    * — cf. the splice-residual convergence probe in SCALING.md, the same
    * "one pass may leave detectable residue" caveat class). "Deduplicating
    * Training Data Makes Language Models Better" removal semantics, on the
    * same rasterized fixed-width windows as duplicateSpans. Output:
    * (id, text_clean, n_tokens, n_removed) — text_clean is the kept token
    * stream re-joined on single spaces, i.e. WHITESPACE-NORMALIZED AND
    * LOWERCASED (the [[graft.text.TextOps.tokens]] form the whole dedup
    * family operates on), and documents with no removals pass through in
    * that same normalized form so the output column is uniform. Docs
    * shorter than `window` tokens can contain no removable slice and pass
    * through whole.
    *
    * SCALE SHAPE. The detection head is duplicateSpans' O(tokens)
    * hash-exchange pipeline (text bytes never enter it). The removal tail
    * adds: the per-doc islands merge (flagged rows only), a per-doc
    * collect_list of DISJOINT-region spans (bounded by the doc's
    * duplicated-region count, never its tokens — a fully-duplicated doc
    * collapses to ONE span), and one left join of the corpus against that
    * span table — AQE broadcasts it while |duplicated docs| is small, and
    * the SMJ fallback is the corpus's single text exchange, the floor
    * cost of an operator that rewrites every row anyway. Reassembly is
    * map-side array HOFs (positions tagged by transform, coverage test by
    * exists over the span array — O(tokens x regions) per row), codegen'd,
    * no UDFs. Inherits shingles' one-row-per-id PRECONDITION (enforced
    * under graft.dedup.checkIds): a duplicated id would both self-flag
    * and garble the islands merge. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    requireUniqueIds(docs, idCol, "Dedup.removeDuplicateSpans",
      "a duplicated id would both self-flag and garble the islands merge")
    val wins = spanWindows(docs, idCol, textCol, window)
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ha"), col("hb"))
    // islands per (doc, side): removal windows and canonical-keep windows
    // island independently, so one duplicated window set yields BOTH span
    // tables from a single corpus pass (collect_list drops the nulls the
    // `when` leaves on the other side — no second windows branch, no join
    // of the corpus against itself).
    val islands = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("__iscanon")).orderBy(col("pos"))
    val emptySpans = array().cast("array<struct<s:bigint,e:bigint>>")
    val spanTbl = wins
      .withColumn("__canon", min(col(idCol)).over(byHash))
      .withColumn("__maxid", max(col(idCol)).over(byHash))
      .where(col("__canon") =!= col("__maxid"))
      .withColumn("__iscanon", col(idCol) === col("__canon"))
      .withColumn("__grp", col("pos") - row_number().over(islands))
      .groupBy(col(idCol), col("__iscanon"), col("__grp"))
      .agg(min(col("pos")).as("s"),
        (max(col("pos")) + lit(window - 1).cast(LongType)).as("e"))
      .groupBy(col(idCol))
      .agg(
        collect_list(when(!col("__iscanon"), struct(col("s"), col("e"))))
          .as("__rm_spans"),
        collect_list(when(col("__iscanon"), struct(col("s"), col("e"))))
          .as("__keep_spans"))
    docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .join(spanTbl, Seq(idCol), "left_outer")
      .withColumn("__rm", coalesce(col("__rm_spans"), emptySpans))
      .withColumn("__keep", coalesce(col("__keep_spans"), emptySpans))
      .withColumn("__kept", filter(
        transform(col("__toks"), (t, i) =>
          struct((i + 1).cast(LongType).as("p"), t.as("tk"))),
        x => !exists(col("__rm"), sp =>
          x.getField("p") >= sp.getField("s") &&
            x.getField("p") <= sp.getField("e")) ||
          exists(col("__keep"), sp =>
            x.getField("p") >= sp.getField("s") &&
              x.getField("p") <= sp.getField("e"))))
      .select(col(idCol),
        concat_ws(" ", transform(col("__kept"), _.getField("tk")))
          .as("text_clean"),
        size(col("__toks")).cast(LongType).as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).cast(LongType)
          .as("n_removed"))
  }

  /** Exact pairwise n-gram CONTAINMENT — inter / |smaller doc's shingles|.
    * The one-sided score symmetric Jaccard structurally misses: a short
    * document wholly quoted inside a long one has containment ~1 but
    * Jaccard ~ |short|/|long| (arbitrarily small), so a Jaccard-gated
    * dedup keeps the redundant quote. Same candidate-bounded pipeline and
    * cost shape as [[ngramJaccard]]; run it on LSH/blocked candidates at
    * corpus scale, never all-pairs. */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minContainment: Double): DataFrame =
    shingleOverlap(shingles(docs, idCol, textCol, n), idCol)
      .withColumn("containment",
        col("inter") / least(col("na"), col("nb")))
      .where(col("containment") >= minContainment)
      .select("id_a", "id_b", "inter", "containment")

  /** Cross-SOURCE overlap matrix: for every pair of strata (sources,
    * crawls, dumps), the count of shared distinct word n-gram shingles
    * plus Jaccard and containment over the strata's shingle VOCABULARIES
    * — the "is crawl B a mirror/subset of crawl A" report a curator runs
    * before mixing sources ([[mixByWeight]]-style weights are wrong when
    * two sources are 90% the same bytes; doc-level dedup sees the
    * duplicate documents but not the aggregate answer). Containment near
    * 1.0 with Jaccard well below it flags a strict-subset source.
    *
    * Output: (stratum_a, stratum_b, inter, jaccard, containment), one
    * row per unordered stratum pair with inter >= 1, `stratum_a <
    * stratum_b`. NULL strata are dropped (no deterministic pair order);
    * duplicate doc rows are harmless — vocabulary is a DISTINCT set per
    * stratum, so this operator has NO one-row-per-id precondition, the
    * only member of the family without it.
    *
    * SCALE SHAPE. Shingles are hashed to 60 bits map-side
    * (`hashShingles`, default true) BEFORE the distinct, so the one real
    * exchange carries (stratum, 8-byte key) rows — never shingle
    * strings; the follow-on self-join fans out at most |strata| rows per
    * key, so its output is bounded by distinct-shingles x strata², with
    * strata counted in the tens, not the billions. Hashing trades exact
    * counts for a ~n²/2^61 birthday error — immaterial for a mixing
    * decision and exactly replayable cross-engine (the [[TextOps.hash64]]
    * md5 arithmetic); pass `hashShingles = false` for exact
    * string-keyed counts when the vocabulary fits the wire (tests pin
    * both paths equal on collision-free corpora).
    *
    * EAGER: the (stratum, key) vocabulary is a [[graft.Graft.snap]],
    * so the call itself runs one job, and the self-join's two branches
    * and the size aggregate read that one materialization. Unlike the
    * pair-join family, materializing wins here even on SMALL corpora —
    * the recomputed subtree is the full tokenize+explode+distinct, 3x
    * per call (measured at 5k docs/sf0.1: 2.66 s recomputed vs 2.10 s
    * materialized once). */
  def sourceOverlapMatrix(docs: DataFrame, textCol: String,
                          strataCol: String, n: Int,
                          hashShingles: Boolean = true): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = col("__ov_toks")
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    val keyed = docs
      .where(col(strataCol).isNotNull)
      .select(col(strataCol).as("__ov_stratum"),
        TextOps.tokens(col(textCol)).as("__ov_toks"))
      .where(size(toks) >= n)
      .select(col("__ov_stratum"), explode(array_distinct(grams)).as("__ov_sh"))
      .select(col("__ov_stratum"),
        (if (hashShingles) TextOps.hash64(col("__ov_sh"))
         else col("__ov_sh")).as("__ov_k"))
      .distinct()
    val vocab = Graft.snap(keyed)
    val sizes = vocab.groupBy(col("__ov_stratum")).agg(count(lit(1)).as("n_sh"))
    val inter = vocab.select(col("__ov_stratum").as("stratum_a"), col("__ov_k"))
      .join(vocab.select(col("__ov_stratum").as("stratum_b"), col("__ov_k")),
        Seq("__ov_k"))
      .where(col("stratum_a") < col("stratum_b"))
      .groupBy(col("stratum_a"), col("stratum_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("__ov_stratum").as("stratum_a"),
        col("n_sh").as("__ov_na")), Seq("stratum_a"))
      .join(sizes.select(col("__ov_stratum").as("stratum_b"),
        col("n_sh").as("__ov_nb")), Seq("stratum_b"))
      .select(col("stratum_a"), col("stratum_b"), col("inter"),
        (col("inter") / (col("__ov_na") + col("__ov_nb") - col("inter")))
          .as("jaccard"),
        (col("inter") / least(col("__ov_na"), col("__ov_nb")))
          .as("containment"))
  }
}

/** Partition-local union-find for [[Dedup.connectedComponents]]'s
  * small-graph tier. Serializable: instances of the `collapse` lambda
  * ship inside mapPartitions task closures.
  *
  * `collapse` folds one partition's (a, b) edges into a union-find
  * forest with UNION-BY-MIN (the larger root is attached under the
  * smaller, so a root is always the minimum id of its set — exactly the
  * component-min label convention) plus full path compression on find,
  * and emits one (node, root) star edge per distinct node seen. The
  * output is closed under re-collapsing: feeding the stars of several
  * partitions into another `collapse` yields the union-find of their
  * combined edge sets, because each local edge (a, b) is represented by
  * the two stars (a, r) and (b, r) through the shared local root r.
  * Self-pairs (x, x) register x and emit (x, x) — a singleton, matching
  * the round loop's treatment. Memory: one LongMap entry per distinct
  * node in the partition; the caller bounds the single merged partition
  * via `graft.cc.unionFindMaxEdges`. */
private[dedup] object CcUnionFind extends Serializable {
  def collapse(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val nxt = parent(c); parent.update(c, r); c = nxt }
      r
    }
    while (it.hasNext) {
      val (a, b) = it.next()
      if (!parent.contains(a)) parent.update(a, a)
      if (!parent.contains(b)) parent.update(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent.update(rb, ra)
      else if (rb < ra) parent.update(ra, rb)
    }
    // keys are snapshotted before the finds: path compression mutates the
    // map, and LongMap iteration order is not stable under writes
    parent.keysIterator.toArray.iterator.map(k => (k, find(k)))
  }
}
