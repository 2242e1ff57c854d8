package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline: a broadcast of the (small)
  * query set against the full corpus — one map-side pass over the corpus, a
  * per-query top-k via window rank. At 100 TB the scale path is the
  * LSH-bucketed variant: corpus and queries are bucketed by sign-bit
  * signatures (random-hyperplane LSH, here axis hyperplanes for engine-
  * portable determinism), so each query only scans its bucket — the join is
  * an equi-join on the bucket key, shuffle bounded by bucket sizes. An IVF
  * variant would replace the signature with a learned centroid id; the
  * plumbing (bucket join + in-bucket rank) is identical.
  *
  * All arithmetic is element-order-sequential double accumulation so DuckDB
  * oracles reproduce results bit-for-bit before the 4-decimal rounding.
  */
object Similarity {

  /** Sequential-fold dot product with per-element double casts. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (double). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * `queries`/`corpus`: (id, vec). Self-matches excluded.
    * Norms are precomputed per ROW (not per pair): with |Q| queries each
    * corpus vector would otherwise fold its own norm |Q| times. Bit-for-bit
    * identical result — a vector's norm doesn't depend on the pair. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("id").as("query_id"), col("vec").as("qv"),
      norm(col("vec")).as("qn")))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      norm(col("vec")).as("cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Axis-hyperplane LSH bucket signature: one bit per leading dimension's
    * sign. Deterministic and engine-portable (sign of a float is exact). */
  def signBucket(vec: Column, bitsN: Int): Column =
    (0 until bitsN).map { i =>
      when(get(vec, lit(i)) > 0f, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k: only candidates in the query's LSH bucket are
    * scored. Recall < 1.0 by construction; bucket count 2^bits trades
    * recall for per-query work. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, bitsN: Int = 6): DataFrame = {
    val q = broadcast(queries.select(col("id").as("query_id"), col("vec").as("qv"),
      norm(col("vec")).as("qn"), signBucket(col("vec"), bitsN).as("bucket")))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      norm(col("vec")).as("cn"), signBucket(col("vec"), bitsN).as("bucket"))
    val scored = q.join(c, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** IVF assignment: nearest centroid (by cosine, centroid-id tiebreak) for
    * every vector. `centroids`: (cid, vec) — in production the output of a
    * k-means job; any deterministic centroid table works. Broadcast
    * centroids x corpus scan: one map-side pass + a per-vector top-1 window.
    *
    * Why a window and not `groupBy(id).agg(max(struct(sim, -cid, cid)))`:
    * the "N x k shuffle amplification" a top-1 window suggests does NOT
    * happen on Spark 3.5+/4 — `InferWindowGroupLimit` turns the `rn = 1`
    * filter into a paired WindowGroupLimit (Partial below the exchange,
    * Final above), so each map partition pre-prunes to ONE row per id
    * before any data moves; the shuffle carries <=N rows either way.
    * Measured (sf0.1, q60, 16 cores): identical shuffle bytes (34.1 kB vs
    * 35.4 kB) and the window is ~1.6x faster wall-clock — the struct-max
    * aggregate loses whole-stage codegen (struct buffers force
    * SortAggregate) while the window path stays codegen'd. See
    * SCALING.md "Top-k-per-key: window vs aggregate (measured)". */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame): DataFrame =
    ivfAssignN(vecs, centroids, 1).select(col("id"), col("cid"))

  /** Top-`nprobe` centroid assignments per vector: (id, cid, probe) with
    * probe = 1..nprobe in decreasing-similarity order. The rn <= nprobe
    * filter still triggers InferWindowGroupLimit, so each map partition
    * pre-prunes to nprobe rows per id before the shuffle (see [[ivfAssign]]
    * scaladoc for the window-vs-aggregate measurement). */
  def ivfAssignN(vecs: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val c = broadcast(centroids.select(col("cid"), col("vec").as("cv"),
      norm(col("vec")).as("cn")))
    val v = vecs.select(col("id"), col("vec"), norm(col("vec")).as("vn"))
    val w = Window.partitionBy("id")
      .orderBy(col("csim").desc, col("cid").asc)
    v.join(c, lit(true))
      .withColumn("csim", dot(col("vec"), col("cv")) / (col("vn") * col("cn")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= nprobe)
      .select(col("id"), col("cid"), col("rn").as("probe"))
  }

  /** IVF-flat top-k search: each query scans the inverted lists of its
    * `nprobe` nearest centroids — expected nprobe*corpus/K work per query.
    * The 100 TB layout stores the corpus partitioned (or bucketed) by
    * `cid`, so a probe is a partition-pruned scan, not a shuffle.
    *
    * nprobe is THE recall knob of IVF search: a true neighbor whose home
    * list differs from the query's nearest centroid (it sits just across a
    * Voronoi boundary) is invisible at nprobe=1 and reachable the moment
    * its centroid enters the query's probe set. Corpus vectors stay
    * assigned to exactly ONE list (rank-1, the IVF index invariant), so
    * each (query, neighbor) candidate appears at most once — the union of
    * probed lists needs no dedup before the final rank. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int = 1): DataFrame = {
    val corpusAssigned = corpus.join(ivfAssign(corpus, centroids), Seq("id"))
      .select(col("id").as("neighbor_id"), col("vec").as("cv2"),
        norm(col("vec")).as("cn2"), col("cid"))
    val queriesAssigned = broadcast(
      queries.join(ivfAssignN(queries, centroids, nprobe), Seq("id"))
        .select(col("id").as("query_id"), col("vec").as("qv"),
          norm(col("vec")).as("qn"), col("cid")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    queriesAssigned.join(corpusAssigned, Seq("cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("qv"), col("cv2")) / (col("qn") * col("cn2")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Uniform scalar quantization of an embedding to `levels` integer codes
    * (int8-style compression: 4x smaller than float32, the standard storage
    * format for 100 TB embedding corpora). Range is per-vector [min,max];
    * codes are exact integers, so results are engine-portable with no float
    * summation anywhere. `floor` (not `round`) keeps the half-boundary
    * behavior identical across engines; `least` absorbs the x == max case
    * where (x-lo)/scale lands on `levels` up to float error. A constant
    * vector (hi == lo) maps to all-zero codes — the division lives inside
    * the guarded CaseWhen branch, which Spark evaluates lazily. */
  def quantizeUniform(vec: Column, levels: Int = 256): Column = {
    val lo = array_min(vec).cast(DoubleType)
    val hi = array_max(vec).cast(DoubleType)
    val scale = (hi - lo) / lit((levels - 1).toDouble)
    transform(vec, x =>
      when(hi > lo,
        least(lit((levels - 1).toLong), floor((x.cast(DoubleType) - lo) / scale)))
        .otherwise(lit(0L)))
  }

  /** Spherical k-means-lite: learn IVF centroids with a few Lloyd rounds —
    * normalize, assign by cosine (reusing [[ivfAssign]]), recenter on the
    * member mean, re-normalize. Sum-of-cosines is monotone non-decreasing
    * round over round (up to float noise), so a handful of iterations gives
    * usable inverted lists; production would run to convergence the same
    * way. Seeds are the k vectors with the smallest id-hash — deterministic
    * and partition-independent. Each round is one broadcast-assign pass +
    * one posexplode groupBy (shuffle carries (cid, pos, partial-mean), i.e.
    * k x dims rows after map-side partials, regardless of corpus size).
    * Empty clusters drop out (k shrinks) rather than being re-seeded.
    *
    * Returns (cid, vec) with unit-norm double vectors, ready for
    * [[ivfAssign]]/[[ivfTopK]]. */
  def kmeansLite(vecs: DataFrame, k: Int, iters: Int = 3): DataFrame = {
    import graft.text.TextOps
    val spark = vecs.sparkSession
    import spark.implicits._
    // cache the normalized corpus: every round's assign + recenter pass
    // scans it, and without the cache each round would re-execute the
    // source scan and all prior rounds' lineage
    val unit = {
      val n = norm(col("vec"))
      vecs.select(col("id"), col("vec"), n.as("n"))
        .where(col("n") > 0)
        .select(col("id"),
          transform(col("vec"), x => x.cast(DoubleType) / col("n")).as("vec"))
    }.cache()
    // centroids are k x dims — driver-size by construction. Materializing
    // them each round truncates the lineage (round r's plan would otherwise
    // embed rounds 1..r-1) and makes the returned frame a LocalRelation
    // independent of the cached corpus.
    def materialize(df: DataFrame): DataFrame =
      df.as[(Long, Seq[Double])].collect().toSeq.toDF("cid", "vec")
    try {
      var centroids = materialize(unit
        .withColumn("h", TextOps.hash64(concat(lit("km#"), col("id").cast(StringType))))
        .orderBy("h", "id").limit(k)
        .select(col("id").as("cid"), col("vec")))
      for (_ <- 1 to iters) {
        val assigned = ivfAssign(unit, centroids)
        val mean = unit.join(assigned, Seq("id"))
          .select(col("cid"), posexplode(col("vec")).as(Seq("pos", "x")))
          .groupBy("cid", "pos").agg(avg(col("x")).as("m"))
          .groupBy("cid")
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cid"), transform(col("pm"), p => p.getField("m")).as("vec"))
        val n = norm(col("vec"))
        centroids = materialize(mean.select(col("cid"), col("vec"), n.as("n"))
          .where(col("n") > 0)
          .select(col("cid"), transform(col("vec"), x => x / col("n")).as("vec")))
      }
      centroids
    } finally unit.unpersist()
  }

  /** Embedding-cosine near-duplicate pairs above a threshold (the
    * embedding-space cousin of MinHash dedup). All-pairs within the given
    * frame — verification-size inputs only (oracle suites, candidate
    * rechecks). The scale path is [[lshNearDupPairs]]. */
  def cosineNearDups(vecs: DataFrame, threshold: Double): DataFrame = {
    val a = vecs.select(col("id").as("id_a"), col("vec").as("va"),
      norm(col("vec")).as("na"))
    val b = vecs.select(col("id").as("id_b"), col("vec").as("vb"),
      norm(col("vec")).as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("sim") > threshold)
      .select("id_a", "id_b", "sim")
  }

  /** SemDeDup-style clustered semantic near-duplicate pairs: assign every
    * vector to its nearest centroid ([[ivfAssign]] — broadcast centroids,
    * one map-side pass), generate candidate pairs ONLY within a cluster,
    * keep pairs with cosine > `threshold`. Output: (cid, id_a, id_b, sim).
    *
    * This is the third member of the near-dup family and the one that
    * scales past [[lshNearDupPairs]]' Hamming horizon: sign-LSH banding
    * finds pairs that are nearly identical (tiny Hamming distance), while
    * clustering finds pairs that are merely SEMANTICALLY redundant (same
    * Voronoi cell, cosine above a looser bar) — the SemDeDup recipe for
    * pruning paraphrase-level duplication from web-scale corpora. Pair
    * fan-out is Σ cluster-size², controlled by k (production: k ~
    * corpus/1000, so clusters stay a few thousand vectors — the paper's
    * operating point; the within-cluster join is then embarrassingly
    * parallel across clusters). The approximation boundary is explicit:
    * a near-dup pair STRADDLING a Voronoi boundary is invisible
    * (SemDeDupSpec pins one), the price of never comparing across
    * clusters.
    *
    * Scale shape: the cluster join shuffles (cid, id, vec, norm) rows
    * hash-partitioned by cid — vectors move ONCE; with k ≫ partitions
    * the per-partition load balances over cluster-size skew. `probeParts`
    * pins the pair-join parallelism against AQE's input-bytes coalescing
    * (see [[graft.dedup.Dedup.simhashBandedDups]]'s measured rationale;
    * 0 = skip, for exhibit-sized calls where the extra exchange is pure
    * overhead). Both join sides re-derive the assignment (Spark reuses no
    * self-join subtrees) — two broadcast-assign scans, each map-side. */
  def clusteredNearDups(vecs: DataFrame, centroids: DataFrame,
                        threshold: Double, probeParts: Int = -1): DataFrame = {
    val assigned = vecs.join(ivfAssign(vecs, centroids), Seq("id"))
      .select(col("cid"), col("id"), col("vec"), norm(col("vec")).as("nv"))
    val pinned = graft.dedup.Dedup.resolvePin(assigned, probeParts)
      .map(p => assigned.repartition(p, col("cid"))).getOrElse(assigned)
    val a = pinned.select(col("cid"), col("id").as("id_a"),
      col("vec").as("va"), col("nv").as("na"))
    val b = assigned.select(col("cid"), col("id").as("id_b"),
      col("vec").as("vb"), col("nv").as("nb"))
    a.join(b, Seq("cid")).where(col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("sim") > threshold)
      .select("cid", "id_a", "id_b", "sim")
  }

  /** Bucketed embedding near-duplicate pairs — the 100 TB path for
    * [[cosineNearDups]], structured exactly like
    * [[graft.dedup.Dedup.simhashBandedDups]]: reduce each vector to a
    * `bits`-bit sign-LSH signature ([[signBucket]] — 8 bytes per doc),
    * generate candidate pairs by pigeonhole banding over the signatures
    * (two signatures within Hamming distance `maxMismatch` MUST agree
    * exactly on one of `maxMismatch + 1` balanced chunks, so candidates
    * are an equi-join on (chunk_idx, chunk_value) — fan-out bounded by
    * chunk-bucket sizes, never |corpus|²), then join the candidate id
    * pairs back to the vectors and keep pairs with cosine > `threshold`.
    *
    * Contract: returns EXACTLY the pairs with cosine > threshold AND
    * sign-signature Hamming distance <= maxMismatch — the banding stage
    * is lossless for that set (pigeonhole, no probabilistic recall), and
    * the Hamming bound is the only approximation vs the all-pairs form.
    * Sign-LSH concentrates near-duplicates at small Hamming distance
    * (collision probability per bit is angle/pi — a cosine-0.95 pair
    * flips a given bit with p ~= 0.1), so a small `maxMismatch` captures
    * genuine near-dups while the banding prunes the random mass; recall
    * vs the unbounded set is data-dependent: measure it on a sample by
    * counting these pairs against [[cosineNearDups]] at the same
    * threshold. On planted near-dups recall is 1.000 at maxMismatch=1
    * (CorpusOpsSpec pins it exactly); at broad similarity bands it is
    * near zero, which is ANN territory (SCALING.md "Embedding near-dup
    * pairs: measured recall").
    *
    * Scale shape: the shuffle for candidate generation carries
    * (chunk_idx, chunk_value, id, sig) — ~28 bytes/doc/chunk, never a
    * vector; vectors move only for the final per-candidate cosine check,
    * twice a |candidates|-bounded hash join. */
  def lshNearDupPairs(vecs: DataFrame, threshold: Double, bits: Int,
                      maxMismatch: Int, probeParts: Int = -1): DataFrame = {
    val sigs = vecs.select(col("id"), signBucket(col("vec"), bits).as("simhash"))
    val cand = graft.dedup.Dedup
      .simhashBandedDups(sigs, "id", bits, maxMismatch, probeParts)
      .select("id_a", "id_b")
    val va = vecs.select(col("id").as("id_a"), col("vec").as("va"),
      norm(col("vec")).as("na"))
    val vb = vecs.select(col("id").as("id_b"), col("vec").as("vb"),
      norm(col("vec")).as("nb"))
    cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("sim") > threshold)
      .select("id_a", "id_b", "sim")
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ) — the MEMORY side of planet-scale ANN.
  // IVF (above) bounds which vectors a query SCANS; PQ bounds what each
  // vector COSTS: a dims-float vector becomes m small codes (one per
  // subspace), a 32-64x compression, and search ranks candidates from a
  // per-query lookup table without ever touching the original floats —
  // the faiss IVF+PQ layout every billion-vector deployment runs.
  // Distances are squared-L2 with the per-query constant dropped:
  // d(v, c) = <c,c> - 2<v,c> preserves every argmin/ranking of
  // |v - c|^2 and needs only [[dot]] folds, the primitive verified
  // bit-identical against DuckDB's list_inner_product (a sequential
  // loop — checked at dims 16/64 on full-precision doubles; the naive
  // literal test diverges only through SQL's DECIMAL literal type).
  // ------------------------------------------------------------------

  /** d/m-dim subvector `sub` (0-based) of `vec`, where `subd` is the
    * subspace width. */
  private def subVecCol(vec: Column, sub: Column, subd: Column): Column =
    slice(vec, (sub.cast(IntegerType) * subd) + 1, subd)

  private def subdOf(vec: Column, m: Int): Column =
    floor(size(vec) / lit(m)).cast(IntegerType)

  /** Squared-L2 to a centroid, per-query/vector constant dropped:
    * `<c,c> - 2<v,c>` — same argmin and same ranking as `|v-c|^2`. */
  private def pqDist(v: Column, c: Column): Column =
    dot(c, c) - lit(2.0) * dot(v, c)

  /** FIXED codebooks from a small (id, vec) frame: entry `id` of
    * subspace `s` is that vector's s-th subvector. The exhibit/oracle
    * codebook source (the q104 fixed-centroid pattern — mechanics under
    * test, not clustering quality); production trains with
    * [[pqTrain]]. Output: (sub, cid, cvec). */
  def pqCodebooks(vecs: DataFrame, m: Int): DataFrame = {
    require(m >= 1 && m <= 256, s"m: $m")
    val subd = subdOf(col("vec"), m)
    vecs
      .where(pmod(size(col("vec")), lit(m)) === 0)
      .select(col("id").as("cid"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => subVecCol(transform(col("vec"),
            x => x.cast(DoubleType)), s, subd)))
          .as(Seq("sub", "cvec")))
      .select(col("sub"), col("cid"), col("cvec"))
  }

  /** One broadcastable row: array over subs (asc) of cid-sorted
    * (cid, cvec) entries. Codebooks are m x k x (dims/m) doubles —
    * driver-size by definition (the POINT of PQ is that this table is
    * tiny while the corpus is not). */
  private def packCodebooks(codebooks: DataFrame): DataFrame =
    codebooks
      .groupBy(col("sub"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cvec"))))
        .as("cbs"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("sub"), col("cbs"))))
        .as("__pq_all"))

  /** Append `pq_codes`: array<int> (one code per subspace, in subspace
    * order) — each code is the POSITION of the argmin-distance entry in
    * that subspace's cid-sorted codebook (ties to the lowest cid, the
    * first strict minimum of a left-to-right fold). A vector whose
    * length is not divisible by m gets NULL codes (malformed→NULL, the
    * parser-family contract) — and so does a vector whose argmin never
    * resolves (a NaN in any subspace makes every `<` comparison false,
    * leaving that subspace's position at -1; emitting it would make
    * [[pqAdcTopK]]'s `element_at(lut, code+1)` hit index 0, which
    * THROWS in Spark — array indices start at 1 — failing the whole
    * job on one malformed vector). Narrow map against ONE broadcast
    * packed row — zero shuffle (spec-pinned): text-book PQ encode
    * cost, O(k·dims) per vector. */
  def pqEncode(vecs: DataFrame, codebooks: DataFrame, m: Int): DataFrame = {
    require(m >= 1 && m <= 256, s"m: $m")
    require(!vecs.columns.contains("pq_codes"),
      "Similarity.pqEncode: vecs already has a 'pq_codes' column")
    val subd = subdOf(col("vec"), m)
    val argminPos = (sv: Column, cbs: Column) =>
      aggregate(cbs,
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("pos"),
          lit(0).as("i")),
        (acc, cb) => {
          val dn = pqDist(sv, cb.getField("cvec"))
          when(dn < acc.getField("d"),
            struct(dn.as("d"), acc.getField("i").as("pos"),
              (acc.getField("i") + 1).as("i")))
            .otherwise(struct(acc.getField("d").as("d"),
              acc.getField("pos").as("pos"),
              (acc.getField("i") + 1).as("i")))
        },
        acc => acc.getField("pos"))
    vecs
      .crossJoin(broadcast(packCodebooks(codebooks)))
      .withColumn("__pq_raw",
        when(pmod(size(col("vec")), lit(m)) === 0,
          transform(col("__pq_all"), sc =>
            argminPos(
              subVecCol(transform(col("vec"), x => x.cast(DoubleType)),
                sc.getField("sub"), subd),
              sc.getField("cbs")))))
      // unresolved argmin (NaN subspace / all-Infinity distances) →
      // NULL codes, never a -1 that would crash downstream ADC
      .withColumn("pq_codes",
        when(col("__pq_raw").isNull
          .or(array_contains(col("__pq_raw"), -1)),
          lit(null).cast(ArrayType(IntegerType)))
          .otherwise(col("__pq_raw")))
      .drop("__pq_all", "__pq_raw")
  }

  /** ADC (asymmetric distance computation) top-k: rank every encoded
    * corpus vector against each FULL-PRECISION query by summing, per
    * subspace, the query's precomputed distance to the candidate's
    * assigned codebook entry — the candidate's floats are never read.
    * dist = Σ_s (<c_s,c_s> - 2<q_s,c_s>) = |recon(codes)|² - 2<q,recon>,
    * i.e. exactly squared-L2 to the candidate's RECONSTRUCTION minus
    * the per-query constant |q|² — so the ranking equals exact-L2
    * search against reconstructions (PqSpec asserts that identity).
    * The LUT is |queries| x m x k doubles, broadcast; the corpus side
    * reads (id, pq_codes) only. Ranking is the [[bruteForceTopK]]
    * window shape (asc distance, ties to the lower id).
    *
    * `candidates` (query_id, neighbor_id) restricts which pairs are
    * scored — the IVF+PQ composition: [[ivfAssignN]] probes pick the
    * lists, ADC ranks inside them, and the scored row count drops from
    * |corpus|·|queries| to the probed-list sizes (the faiss IndexIVFPQ
    * layout). None scores every pair (exhaustive ADC). */
  def pqAdcTopK(queries: DataFrame, codes: DataFrame,
                codebooks: DataFrame, k: Int, m: Int,
                candidates: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k: $k")
    val subd = subdOf(col("qv"), m)
    val lut = queries
      .select(col("id").as("query_id"),
        transform(col("vec"), x => x.cast(DoubleType)).as("qv"))
      // mirror pqEncode's divisibility contract on the QUERY side: a
      // query whose length m doesn't divide would build its LUT from a
      // floor(size/m)-wide subvector — NULL dists that rank FIRST under
      // the asc window and return garbage neighbors at ranks 1..k
      .where(pmod(size(col("qv")), lit(m)) === 0)
      .crossJoin(broadcast(
        codebooks.groupBy(col("sub"))
          .agg(sort_array(collect_list(struct(col("cid"), col("cvec"))))
            .as("cbs"))))
      .select(col("query_id"), col("sub"),
        transform(col("cbs"), cb =>
          pqDist(subVecCol(col("qv"), col("sub"), subd),
            cb.getField("cvec"))).as("lut"))
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("lut"))))
        .as("luts"))
    val encoded = codes
      // isNotNull covers pqEncode's contract; the -1 filter is the
      // defensive twin for codes tables built elsewhere (a negative
      // code would index lut position 0 — a runtime throw under ANSI)
      .where(col("pq_codes").isNotNull
        .and(!array_contains(col("pq_codes"), -1)))
      .select(col("id").as("neighbor_id"), col("pq_codes"))
    val paired = candidates match {
      case None =>
        encoded.join(broadcast(lut),
          col("neighbor_id") =!= col("query_id"))
      case Some(cand) =>
        cand
          .select(col("query_id"), col("neighbor_id"))
          .where(col("neighbor_id") =!= col("query_id"))
          .join(encoded, Seq("neighbor_id"))
          .join(broadcast(lut), Seq("query_id"))
    }
    val scored = paired
      .withColumn("dist",
        aggregate(col("luts"), lit(0.0), (acc, sl) =>
          acc + element_at(sl.getField("lut"),
            element_at(col("pq_codes"),
              sl.getField("sub").cast(IntegerType) + 1) + 1)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dist")
  }

  /** Exact squared-L2 top-k — the ground-truth baseline PQ recall is
    * measured against (ADC distances approximate L2, not cosine, so
    * the cosine [[bruteForceTopK]] is the wrong referee for them).
    * Same shape: broadcast queries × one corpus scan, rank-window
    * top-k, asc distance, ties to the lower id. dist folds the
    * per-element squared differences sequentially — DuckDB replays it
    * as `list_inner_product(d, d)` over the difference list. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast(DoubleType) - y.cast(DoubleType)
        d * d
      }),
      lit(0.0), (acc, x) => acc + x)

  def bruteForceTopKL2(queries: DataFrame, corpus: DataFrame,
                       k: Int): DataFrame = {
    require(k >= 1, s"k: $k")
    val q = broadcast(queries.select(col("id").as("query_id"),
      col("vec").as("qv")))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", sqDist(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dist")
  }

  /** RESIDUALIZE for IVF+PQ: subtract each vector's rank-1 IVF
    * centroid, returning (id, cid, vec := v − centroid[cid]) in
    * doubles. A true IndexIVFPQ encodes residuals, not raw vectors:
    * within a list, vectors share their centroid's offset, so the
    * residual cloud is centered near zero and ONE codebook quantizes
    * it far more precisely than the same codebook spread over the raw
    * corpus — the standard faiss layout, and the measured-recall win
    * on clustered corpora (PqSpec pins residual over raw recall@10;
    * SCALING.md "PQ recall" records the sweep). Cost: the same
    * broadcast-assign pass [[ivfAssign]] runs, plus one broadcast
    * centroid join and a narrow zip_with — no extra shuffle beyond
    * the assignment's rank-window. Feed the output straight to
    * [[pqEncode]] (the cid passthrough keeps each code's home list —
    * [[pqAdcTopKResidual]] joins on it). Subtraction of doubles is
    * correctly rounded and order-free, so replay engines agree
    * bit-for-bit. */
  def ivfResidualize(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val c = broadcast(centroids.select(col("cid"),
      transform(col("vec"), x => x.cast(DoubleType)).as("__cv")))
    vecs.join(ivfAssign(vecs, centroids), Seq("id"))
      .join(c, Seq("cid"))
      .select(col("id"), col("cid"),
        zip_with(col("vec"), col("__cv"),
          (x, y) => x.cast(DoubleType) - y).as("vec"))
  }

  /** IVF+PQ search over RESIDUAL codes — the full IndexIVFPQ query
    * path. For each query: take its `nprobe` nearest centroids
    * ([[ivfAssignN]]), form the per-list query residual
    * `qres = q − centroid`, and build a per-(query, list) LUT of
    * per-subspace terms `<c,c> − 2<qres_s,c>`; candidates are the
    * codes whose HOME list (the `cid` [[ivfResidualize]] stamped) is
    * probed, and their distance is the full squared-L2 to the residual
    * reconstruction: `|qres|² + Σ_s lut_s[code_s]` — the |qres|² term
    * must stay (unlike [[pqAdcTopK]]'s droppable per-query constant)
    * because candidates from DIFFERENT lists compete under different
    * residuals. Ranking: asc distance, ties to the lower id.
    *
    * Scale shape: the LUT frame is |queries|·nprobe rows, broadcast;
    * the corpus side reads (cid, id, pq_codes) only and the join on
    * cid IS the probe — with the codes table partitioned by cid, a
    * probe is a partition-pruned scan. Each (query, neighbor) pair
    * appears at most once: a vector has exactly one home list. The
    * malformed-input guards mirror [[pqAdcTopK]]: non-divisible
    * queries drop, NULL/negative code rows drop. */
  def pqAdcTopKResidual(queries: DataFrame, codes: DataFrame,
                        codebooks: DataFrame, centroids: DataFrame,
                        k: Int, m: Int, nprobe: Int = 1): DataFrame = {
    require(k >= 1, s"k: $k")
    require(nprobe >= 1, s"nprobe: $nprobe")
    val subd = subdOf(col("qres"), m)
    val cents = broadcast(centroids.select(col("cid"),
      transform(col("vec"), x => x.cast(DoubleType)).as("__cv")))
    val qres = queries
      .join(ivfAssignN(queries, centroids, nprobe)
        .select(col("id"), col("cid")), Seq("id"))
      .join(cents, Seq("cid"))
      .select(col("id").as("query_id"), col("cid"),
        zip_with(col("vec"), col("__cv"),
          (x, y) => x.cast(DoubleType) - y).as("qres"))
      .where(pmod(size(col("qres")), lit(m)) === 0)
    val lut = qres
      .crossJoin(broadcast(
        codebooks.groupBy(col("sub"))
          .agg(sort_array(collect_list(struct(col("cid"), col("cvec"))))
            .as("cbs"))))
      .select(col("query_id"), col("cid"), col("sub"),
        transform(col("cbs"), cb =>
          pqDist(subVecCol(col("qres"), col("sub"), subd),
            cb.getField("cvec"))).as("lut"),
        dot(col("qres"), col("qres")).as("qn2"))
      .groupBy(col("query_id"), col("cid"))
      .agg(sort_array(collect_list(struct(col("sub"), col("lut"))))
        .as("luts"), first(col("qn2")).as("qn2"))
    val encoded = codes
      .where(col("pq_codes").isNotNull
        .and(!array_contains(col("pq_codes"), -1)))
      .select(col("cid"), col("id").as("neighbor_id"), col("pq_codes"))
    val scored = encoded.join(broadcast(lut), Seq("cid"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("dist",
        col("qn2") + aggregate(col("luts"), lit(0.0), (acc, sl) =>
          acc + element_at(sl.getField("lut"),
            element_at(col("pq_codes"),
              sl.getField("sub").cast(IntegerType) + 1) + 1)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dist")
  }

  /** REFINE (re-rank) — the stage every production IVF+PQ deployment
    * runs after ADC, and the one that lifts recall past ADC's
    * information ceiling (at 16 codes/subspace, ADC alone tops out
    * near 0.26 recall@10 on the clustered corpus — SCALING.md "PQ
    * recall"). Take the ADC top-C candidates (C ≈ 4–10×k from
    * [[pqAdcTopK]]/[[pqAdcTopKResidual]] called with k = C), join the
    * RAW vectors back by neighbor_id, and re-rank by exact squared-L2
    * ([[bruteForceTopKL2]]'s arithmetic, pairwise) — so the final
    * ranking is exact over whatever the ADC stage surfaced, and
    * recall@k equals the probability the true neighbor survived into
    * the top C.
    *
    * Scale shape: `candidates` is |queries|·C rows (ADC already
    * bounded it); ONE bounded join ships those ids against the corpus
    * (shuffle keyed on neighbor_id — with the corpus bucketed by id
    * it is co-located), queries broadcast, and the re-rank window
    * partitions by query_id over ≤C rows each. No |corpus|² term
    * anywhere; the candidate floats are read exactly once. */
  def pqRefine(queries: DataFrame, corpus: DataFrame,
               candidates: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k: $k")
    val q = broadcast(queries.select(col("id").as("query_id"),
      col("vec").as("qv")))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    candidates
      .select(col("query_id"), col("neighbor_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .join(c, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("dist", sqDist(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dist")
  }

  /** TRAIN PQ codebooks — per-subspace L2 Lloyd over the corpus, the
    * production path [[pqCodebooks]]'s fixed exhibits stand in for.
    * All m subspaces train in the SAME jobs: one posexplode puts
    * (id, sub, svec) rows on the wire once (cached), each round is one
    * broadcast-assign narrow pass plus one (sub, pos, dim) recenter
    * aggregate whose output is m·k·(dims/m) rows — codebook-sized, so
    * the per-round exchange is corpus-independent after map-side
    * partials, the kmeansLite discipline. Seeds per subspace are the k
    * subvectors with the smallest id-hash (deterministic,
    * partition-independent). Empty cells drop out (that subspace's k
    * shrinks; codes stay positions in the cid-sorted survivor list).
    * Returns (sub, cid, cvec) ready for [[pqEncode]]/[[pqAdcTopK]]. */
  def pqTrain(vecs: DataFrame, m: Int, k: Int, iters: Int = 3): DataFrame = {
    import graft.text.TextOps
    require(m >= 1 && m <= 256, s"m: $m")
    require(k >= 1 && k <= 65536, s"k: $k")
    require(iters >= 1 && iters <= 64, s"iters: $iters")
    val spark = vecs.sparkSession
    import spark.implicits._
    val subd = subdOf(col("vec"), m)
    val subs = vecs
      .where(pmod(size(col("vec")), lit(m)) === 0)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => subVecCol(transform(col("vec"),
            x => x.cast(DoubleType)), s, subd)))
          .as(Seq("sub", "svec")))
      .cache()
    def materialize(df: DataFrame): DataFrame =
      df.as[(Int, Long, Seq[Double])].collect().toSeq
        .toDF("sub", "cid", "cvec")
    try {
      val seedW = Window.partitionBy("sub")
        .orderBy(col("h").asc, col("id").asc)
      var cents = materialize(subs
        .withColumn("h", TextOps.hash64(
          concat(lit("pq#"), col("id").cast(StringType))))
        .withColumn("rn", row_number().over(seedW))
        .where(col("rn") <= k)
        .select(col("sub"), col("id").cast(LongType).as("cid"),
          col("svec").as("cvec")))
      for (_ <- 1 to iters) {
        val packed = cents.groupBy(col("sub"))
          .agg(sort_array(collect_list(struct(col("cid"), col("cvec"))))
            .as("cbs"))
        val assigned = subs
          .join(broadcast(packed), Seq("sub"))
          .withColumn("best",
            aggregate(col("cbs"),
              struct(lit(Double.MaxValue).as("d"),
                lit(-1L).as("cid")),
              (acc, cb) => {
                val dn = pqDist(col("svec"), cb.getField("cvec"))
                when(dn < acc.getField("d"),
                  struct(dn.as("d"), cb.getField("cid").as("cid")))
                  .otherwise(acc)
              }))
          .select(col("sub"), col("best").getField("cid").as("cid"),
            col("svec"))
        cents = materialize(assigned
          .select(col("sub"), col("cid"),
            posexplode(col("svec")).as(Seq("pos", "x")))
          .groupBy("sub", "cid", "pos").agg(avg(col("x")).as("mu"))
          .groupBy("sub", "cid")
          .agg(array_sort(collect_list(struct(col("pos"), col("mu"))))
            .as("pm"))
          .select(col("sub"), col("cid"),
            transform(col("pm"), p => p.getField("mu")).as("cvec")))
      }
      cents
    } finally subs.unpersist()
  }
}
