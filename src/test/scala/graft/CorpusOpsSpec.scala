package graft

import org.apache.spark.sql.functions._

import graft.operators.Downsample
import graft.similarity.Similarity
import graft.text.TextOps

/** Corpus-curation operators: text normalization (stopword removal +
  * adjacent-duplicate collapse), deterministic per-domain cap, and uniform
  * scalar quantization of embeddings. */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  test("collapseAdjacent keeps first of each run, preserves non-adjacent dups") {
    val got = Seq("a a b b b a c").toDF("text")
      .select(TextOps.collapseAdjacent(TextOps.tokens(col("text"))))
      .as[Seq[String]].head()
    assert(got === Seq("a", "b", "a", "c"))
  }

  test("removeStopwords drops all occurrences, keeps order and duplicates") {
    val got = Seq("the big big cat in the hat").toDF("text")
      .select(TextOps.removeStopwords(TextOps.tokens(col("text")), Seq("the", "in")))
      .as[Seq[String]].head()
    assert(got === Seq("big", "big", "cat", "hat"))
  }

  test("quantizeUniform maps [min,max] onto [0,255] codes, exact at ends") {
    val got = Seq(Tuple1(Array(0f, 0.5f, 1f)), Tuple1(Array(3f, 3f, 3f)))
      .toDF("embedding")
      .select(Similarity.quantizeUniform(col("embedding")))
      .as[Seq[Long]].collect()
    assert(got(0) === Seq(0L, 127L, 255L)) // 0.5 -> floor(127.5)
    assert(got(1) === Seq(0L, 0L, 0L))     // constant vector guard
  }

  test("quantizeUniform reconstruction error is bounded by one step") {
    val e = graft.sources.Sources.table(spark, sf, "embeddings")
      .select(col("embedding"),
        array_min(col("embedding")).cast("double").as("lo"),
        array_max(col("embedding")).cast("double").as("hi"),
        Similarity.quantizeUniform(col("embedding")).as("codes"))
    val maxErr = e.select(max(aggregate(
      zip_with(col("embedding"), col("codes"), (x, q) =>
        abs(x.cast("double") - (col("lo") + q * (col("hi") - col("lo")) / 255.0))),
      lit(0.0), (acc, d) => greatest(acc, d)))).as[Double].head()
    val maxStep = e.select(max((col("hi") - col("lo")) / 255.0)).as[Double].head()
    assert(maxErr <= maxStep + 1e-12) // floor quantization: error < one step
  }

  test("capPerKey keeps at most k rows per key, deterministically") {
    val docs = graft.sources.Sources.table(spark, sf, "documents")
      .select("doc_id", "source")
    val capped = Downsample.capPerKey(docs, "source", "doc_id", 5)
    val perKey = capped.groupBy("source").count().as[(String, Long)].collect()
    assert(perKey.forall(_._2 <= 5))
    // reproducible: a differently-partitioned input selects the same rows
    val again = Downsample.capPerKey(docs.repartition(7), "source", "doc_id", 5)
    assert(capped.orderBy("source", "sample_rank").collect()
      === again.orderBy("source", "sample_rank").collect())
  }

  test("shingles checkIds mode rejects duplicated doc ids loudly") {
    import spark.implicits._
    val dup = Seq((1L, "a b c d"), (1L, "e f g h"), (2L, "i j k l"))
      .toDF("doc_id", "text")
    spark.conf.set("graft.dedup.checkIds", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.dedup.Dedup.shingles(dup, "doc_id", "text", 2).collect()
      }
      assert(e.getMessage.contains("not unique"))
      // unique ids pass under the same mode
      val ok = graft.dedup.Dedup
        .shingles(dup.where(col("doc_id") =!= 1L), "doc_id", "text", 2)
      assert(ok.count() === 3) // 4 tokens -> 3 bigrams
    } finally spark.conf.unset("graft.dedup.checkIds")
  }

  test("connectedComponents: chains collapse to min id, needs multiple rounds") {
    import spark.implicits._
    // two components: a 6-node chain (diameter 5 — exercises the iterative
    // frontier) and a pair; ids deliberately out of order
    val pairs = Seq((12L, 11L), (11L, 10L), (10L, 9L), (9L, 8L), (8L, 7L),
      (101L, 100L)).toDF("id_a", "id_b")
    val got = graft.dedup.Dedup.connectedComponents(pairs.repartition(3))
      .as[(Long, Long)].collect().toMap
    assert((7L to 12L).forall(got(_) == 7L))
    assert(got(100L) == 100L && got(101L) == 100L)
  }

  test("connectedComponents on an empty pair set returns an empty frame") {
    import spark.implicits._
    // exercises the observed-metric null path: a sum over zero rows
    // observes null, which must read as 0 changed labels -> immediate
    // convergence, not an NPE or a maxIter loop over empty frames
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = graft.dedup.Dedup.connectedComponents(pairs)
    assert(got.columns.toSeq === Seq("id", "component"))
    assert(got.count() === 0)
  }

  test("reliable checkpoint conf reaches CC, redirect and BPE truncation sites") {
    import spark.implicits._
    import graft.dedup.Dedup
    // `graft.checkpoint.reliable=true` is the one checkpoint policy: every
    // lineage-truncating operator must honour it through Graft.snap — same
    // results as the executor-local default, real checkpoint files under
    // the dir, and a loud refusal without one
    val pairs = ((1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      (50L to 60L).map(i => (100L, i))).toDF("id_a", "id_b")
    val e0 = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val e1 = Seq((2L, 3L), (6L, 7L), (8L, 9L)).toDF("id_a", "id_b")
    val redirects = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"),
      ("y", "x")).toDF("src", "dst")
    val corpus = Seq("aaab", "aaab", "ab").toDF("txt")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet
    def loopTier[T](f: => T): T = {
      spark.conf.set("graft.cc.unionFindMaxEdges", "0")
      try f finally spark.conf.unset("graft.cc.unionFindMaxEdges")
    }
    val sites: Seq[(String, () => Any)] = Seq(
      "connectedComponents union-find tier" ->
        (() => labels(Dedup.connectedComponents(pairs))),
      "connectedComponents round loop" ->
        (() => loopTier(labels(Dedup.connectedComponents(pairs)))),
      "connectedComponentsIncremental" -> (() => labels(Dedup
        .connectedComponentsIncremental(Dedup.connectedComponents(e0), e1))),
      "resolveRedirects" -> (() => graft.operators.RedirectResolve
        .resolveRedirects(redirects, "src", "dst").collect().toSet),
      // maxDriverTypes = 0: the distributed merge loop, which snaps per round
      "learnMerges" -> (() => graft.text.Bpe
        .learnMerges(corpus, "txt", 6, maxDriverTypes = 0).collect().toSeq))
    val local = sites.map { case (name, run) => name -> run() }.toMap
    def remove(dir: java.nio.file.Path): Unit = {
      val s = java.nio.file.Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
    spark.conf.set("graft.checkpoint.reliable", "true")
    try sites.foreach { case (name, run) =>
      val noDir = intercept[IllegalArgumentException](run())
      assert(noDir.getMessage.contains("setCheckpointDir"), name)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_reliable")
      spark.sparkContext.setCheckpointDir(ckpt.toString)
      try {
        assert(run() === local(name), name)
        assert(regularFilesUnder(ckpt) > 0,
          s"$name wrote no reliable checkpoint files")
      } finally {
        spark.sparkContext.setCheckpointDir(null)
        remove(ckpt)
      }
    } finally {
      // unset both: a leaked conf or dir makes every later local-mode
      // test, and every no-dir refusal, pass or fail for the wrong reason
      spark.conf.unset("graft.checkpoint.reliable")
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("connectedComponentsIncremental: 3-batch sequence stays bit-equal " +
      "to a full recompute — merges across old components, brand-new " +
      "nodes, and edges landing inside already-merged components") {
    import spark.implicits._
    def cc(pairs: Seq[(Long, Long)]) = graft.dedup.Dedup
      .connectedComponents(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val e0 = Seq((12L, 11L), (11L, 10L), (9L, 8L), (8L, 7L),
      (101L, 100L), (201L, 200L))
    val labels0 = graft.dedup.Dedup
      .connectedComponents(e0.toDF("id_a", "id_b"))
    // batch 1: merge {7..9} with {10..12}, attach a NEW node to {100,
    // 101}, and a brand-new pair (300, 301)
    val e1 = Seq((10L, 9L), (500L, 101L), (301L, 300L))
    val inc1 = graft.dedup.Dedup
      .connectedComponentsIncremental(labels0, e1.toDF("id_a", "id_b"))
    assert(inc1.as[(Long, Long)].collect().toMap === cc(e0 ++ e1))
    // batch 2: an edge fully INSIDE the batch-1 merge (no-op), plus a
    // merge chaining three components through new edges
    val e2 = Seq((12L, 7L), (300L, 200L), (100L, 300L))
    val inc2 = graft.dedup.Dedup
      .connectedComponentsIncremental(inc1, e2.toDF("id_a", "id_b"))
    assert(inc2.as[(Long, Long)].collect().toMap === cc(e0 ++ e1 ++ e2))
  }

  test("connectedComponentsIncremental: SELF-pair deltas — a new id " +
      "appearing only as (x, x) becomes a singleton on both the " +
      "short-circuit and the merge path, a known id's self-pair is a " +
      "no-op; bit-equal to the full recompute either way") {
    import spark.implicits._
    def cc(pairs: Seq[(Long, Long)]) = graft.dedup.Dedup
      .connectedComponents(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val e0 = Seq((1L, 2L), (10L, 11L))
    val labels0 = graft.dedup.Dedup
      .connectedComponents(e0.toDF("id_a", "id_b"))
    // short-circuit path: the reduced graph is EMPTY (one known-id
    // self-pair, one new-id self-pair) — the new id must still appear
    val eSelf = Seq((1L, 1L), (700L, 700L))
    val incSelf = graft.dedup.Dedup
      .connectedComponentsIncremental(labels0, eSelf.toDF("id_a", "id_b"))
    assert(incSelf.as[(Long, Long)].collect().toMap === cc(e0 ++ eSelf))
    assert(incSelf.where($"id" === 700L && $"component" === 700L)
      .count() === 1L, "self-pair-only new id must be its own singleton")
    // merge path: a real merge in the same delta AND a new-id self-pair
    // — the singleton must ride alongside the reduced-graph output
    val eMix = Seq((2L, 10L), (800L, 800L))
    val incMix = graft.dedup.Dedup
      .connectedComponentsIncremental(labels0, eMix.toDF("id_a", "id_b"))
    assert(incMix.as[(Long, Long)].collect().toMap === cc(e0 ++ eMix))
  }

  test("connectedComponentsIncremental: ONE new node merging THREE old " +
      "components transitively relabels all three to the global min") {
    import spark.implicits._
    val e0 = Seq((21L, 22L), (31L, 32L), (41L, 42L))
    val labels0 = graft.dedup.Dedup
      .connectedComponents(e0.toDF("id_a", "id_b"))
    val delta = Seq((900L, 22L), (900L, 32L), (900L, 42L))
    val inc = graft.dedup.Dedup
      .connectedComponentsIncremental(labels0, delta.toDF("id_a", "id_b"))
    val got = inc.as[(Long, Long)].collect().toMap
    assert(got === Map(21L -> 21L, 22L -> 21L, 31L -> 21L, 32L -> 21L,
      41L -> 21L, 42L -> 21L, 900L -> 21L))
  }

  test("contaminationBloom: an eval set over the bitmap ceiling fails " +
      "loudly at build time, naming the exact fallback") {
    import spark.implicits._
    val docs = graft.sources.Sources.table(spark, sf, "documents")
      .select($"doc_id", $"text")
    val ex = intercept[IllegalArgumentException] {
      graft.dedup.Dedup.contaminationBloom(
        docs.where($"doc_id" < 50), docs.where($"doc_id" >= 400),
        "doc_id", "text", maxBitmapBytes = 64L)
    }
    assert(ex.getMessage.contains("Dedup.contamination"))
    assert(ex.getMessage.contains("maxBitmapBytes"))
  }

  test("connectedComponentsIncremental: rounds are bounded by the DELTA " +
      "diameter, not the corpus diameter; an all-internal delta returns " +
      "the persisted table without running CC at all") {
    import spark.implicits._
    // round-count properties are ROUND-LOOP contracts: force that tier
    // (the union-find fast path resolves any sub-threshold graph in one
    // pass with no rounds to count)
    spark.conf.set("graft.cc.unionFindMaxEdges", "0")
    try {
    // corpus: a 17-node chain — full CC needs several pointer-jump rounds
    val e0 = (0L until 16L).map(i => (i, i + 1))
    var fullRounds = 0
    val labels0 = graft.dedup.Dedup.connectedComponents(
      e0.toDF("id_a", "id_b"),
      onRound = Some((_, _) => fullRounds += 1))
    labels0.count()
    assert(fullRounds >= 3, s"chain should need rounds, got $fullRounds")
    // delta: one edge joining this component to a far pair — the
    // reduced graph is a single edge, so CC converges in ~1 round + the
    // convergence-confirming round
    val labelsAll = graft.dedup.Dedup.connectedComponents(
      (e0 ++ Seq((100L, 101L))).toDF("id_a", "id_b"))
    var incRounds = 0
    val inc = graft.dedup.Dedup.connectedComponentsIncremental(
      labelsAll, Seq((16L, 100L)).toDF("id_a", "id_b"),
      onRound = Some((_, _) => incRounds += 1))
    assert(inc.as[(Long, Long)].collect().toMap ===
      ((0L to 16L).map(_ -> 0L) ++ Seq(100L -> 0L, 101L -> 0L)).toMap)
    assert(incRounds <= 2, s"delta-bounded rounds, got $incRounds")
    // the relabel join's build side is delta-sized by construction —
    // AQE must have converted the static sort-merge joins to broadcast
    // at runtime (the scaladoc's claim, pinned here). Materialize THIS
    // dataset (the .as[...] collect above executed a derived plan) so
    // the adaptive plan finalizes before reading it.
    inc.collect()
    val planAll = inc.queryExecution.executedPlan.toString
    assert(planAll.contains("isFinalPlan=true"), planAll.take(400))
    // the executed AdaptiveSparkPlan prints final AND initial plans —
    // judge only the final section (the initial one legitimately
    // carries the pre-AQE sort-merge joins)
    val plan = planAll.split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "relabel/semi joins must broadcast under AQE:\n" + plan.take(2000))
    // all-internal delta: short-circuits to the persisted table
    var noopRounds = 0
    val noop = graft.dedup.Dedup.connectedComponentsIncremental(
      labelsAll, Seq((3L, 9L), (0L, 16L)).toDF("id_a", "id_b"),
      onRound = Some((_, _) => noopRounds += 1))
    assert(noop.as[(Long, Long)].collect().toMap ===
      labelsAll.as[(Long, Long)].collect().toMap)
    assert(noopRounds === 0)
    } finally spark.conf.unset("graft.cc.unionFindMaxEdges")
  }

  test("charShingles restores dedup signal on unsegmented text that " +
      "WORD-shingling provably misses: the planted CJK near-dup pair " +
      "bands via char grams while every word-based stage returns empty") {
    import spark.implicits._
    // two near-identical zero-whitespace docs (one char differs) + noise
    val a = "一是不了人我在有他" * 4
    val b = "的" + a.drop(1)
    val far = "国上来大中这" * 6
    val docs = Seq((1L, a), (2L, b), (3L, far)).toDF("doc_id", "text")
    // NEGATIVE CONTROL: each doc is ONE token, so word 3-gram shingling
    // yields nothing at all — minhash, jaccard, contamination all blind
    assert(graft.dedup.Dedup.shingles(docs, "doc_id", "text", 3)
      .count() === 0L)
    assert(graft.dedup.Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.0)
      .count() === 0L)
    assert(graft.dedup.Dedup.contamination(
      docs.where($"doc_id" === 1L), docs.where($"doc_id" === 2L)
        .withColumn("doc_id", $"doc_id" + 100), "doc_id", "text")
      .count() === 0L)
    // char shingles: the pair surfaces through the STANDARD banding
    // pipeline (minhashWide -> lshBands -> lshCandidates), noise does not
    val sh = graft.dedup.Dedup.charShingles(docs, "doc_id", "text", 5)
    assert(sh.count() > 0L)
    val cand = graft.dedup.Dedup.lshCandidates(
      graft.dedup.Dedup.lshBands(
        graft.dedup.Dedup.minhashWide(sh, "doc_id", 16),
        "doc_id", 16, 4), "doc_id", probeParts = 0)
      .as[(Long, Long)].collect().toSet
    assert(cand === Set((1L, 2L)))
    // and char-gram contamination flags the copy the word path missed
    assert(graft.dedup.Dedup.contamination(
      docs.where($"doc_id" === 1L), docs.where($"doc_id" === 2L)
        .withColumn("doc_id", $"doc_id" + 100), "doc_id", "text", 5,
      minOverlap = 5, shingler = graft.dedup.Dedup.charShingles)
      .count() === 1L)
  }

  test("shinglesAuto routes per document: Latin text gets word grams " +
      "(bit-equal to shingles), unsegmented text gets char grams " +
      "(bit-equal to charShingles), and the ratio/threshold behave") {
    import spark.implicits._
    val en = "the quick brown fox jumps over the lazy dog again and again"
    val cjk = "一是不了人我在有" * 5
    val docs = Seq((1L, en), (2L, cjk)).toDF("doc_id", "text")
    val auto = graft.dedup.Dedup.shinglesAuto(docs, "doc_id", "text", 3, 5)
      .as[(Long, String)].collect().toSet
    val word = graft.dedup.Dedup.shingles(
      docs.where($"doc_id" === 1L), "doc_id", "text", 3)
      .as[(Long, String)].collect().toSet
    val char5 = graft.dedup.Dedup.charShingles(
      docs.where($"doc_id" === 2L), "doc_id", "text", 5)
      .as[(Long, String)].collect().toSet
    assert(auto === word ++ char5)
    // ratio: pure Latin 0, pure CJK 1, whitespace-only/empty 0 (no NULL),
    // Thai counts as unsegmented, Hangul deliberately does not
    def ratio(s: String): Double =
      Seq(s).toDF("t").select(
        graft.dedup.Dedup.unsegmentedRatio(col("t"))).as[Double].head()
    assert(ratio(en) === 0.0)
    assert(ratio(cjk) === 1.0)
    assert(ratio("") === 0.0 && ratio("   ") === 0.0)
    assert(ratio("สวัสดี") === 1.0) // Thai
    assert(ratio("안녕") === 0.0) // Hangul -> word-segmented path
    // threshold is >=: exactly half CJK routes to char grams at 0.5
    val half = "ab一是" // ratio 0.5
    val routed = graft.dedup.Dedup.shinglesAuto(
      Seq((9L, half)).toDF("doc_id", "text"), wordN = 1, charN = 2,
      idCol = "doc_id", textCol = "text", threshold = 0.5)
      .as[(Long, String)].collect().toSet
    assert(routed === Set((9L, "ab"), (9L, "b一"), (9L, "一是")))
  }

  test("contaminationBloom: NO false negatives vs the exact join, FP " +
      "rate inside the design bound, short docs pass, and the probe " +
      "plan is a pure narrow map — zero joins, zero exchanges") {
    import spark.implicits._
    val docs = graft.sources.Sources.table(spark, sf, "documents")
      .select($"doc_id", $"text")
    val train = docs.where($"doc_id" < 400)
      .unionByName(Seq((90001L, "xy")).toDF("doc_id", "text")) // < n toks
    val eval_ = docs.where($"doc_id" >= 400 && $"doc_id" < 440)
      // planted exact copies of train docs -> guaranteed exact hits
      .unionByName(docs.where($"doc_id" < 400 && $"doc_id" % 40 === 0)
        .select(($"doc_id" + 500000).as("doc_id"), $"text"))
    val exact = graft.dedup.Dedup.contamination(
      train, eval_, "doc_id", "text").select($"train_id").distinct()
      .as[Long].collect().toSet
    assert(exact.nonEmpty, "exhibit must have exact hits")
    val bloomDf = graft.dedup.Dedup.contaminationBloom(
      train, eval_, "doc_id", "text")
    val bloom = bloomDf.select($"doc_id", $"bloom_contaminated")
      .as[(Long, Boolean)].collect().toMap
    // bloom can never miss an exact hit
    for (id <- exact)
      assert(bloom(id), s"false negative on exactly-contaminated $id")
    // per-DOC FP: any of a doc's ~hundreds of shingles can trip, so
    // the defaults size per-shingle FP to ~6e-6 → well under 5% per
    // doc here (the bound is loose on purpose — magnitude, not
    // decimals; a mis-sized filter reads 40%+)
    val clean = bloom.keySet -- exact
    val fp = clean.count(bloom(_)).toDouble / math.max(1, clean.size)
    assert(fp <= 0.05, s"false-positive rate off the rails: $fp")
    assert(!bloom(90001L), "a doc too short to shingle cannot be flagged")
    // the corpus never shuffles: every hashpartitioning exchange in the
    // plan sits on the FLAGGED branch (after the bit-test filter), and
    // the join-back broadcasts — no sort-merge join anywhere
    bloomDf.collect()
    val plan = bloomDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    // the scan side reaches the filter before any exchange: the first
    // Exchange in the plan text must come AFTER the bit-test Filter
    val exch = plan.indexOf("Exchange hashpartitioning")
    val filt = plan.indexOf("Filter")
    assert(exch == -1 || (filt >= 0 && filt < exch), plan.take(2000))
  }

  test("bloom screen plans carry no Rand barrier: the probe reads the " +
      "shingle md5 once as its one argument") {
    import spark.implicits._
    val docs = graft.sources.Sources.table(spark, sf, "documents")
      .select($"doc_id", $"text")
    val train = docs.where($"doc_id" < 100)
    val eval_ = docs.where($"doc_id" >= 400 && $"doc_id" < 420)
    for (df <- Seq(
        graft.dedup.Dedup.contaminationBloom(train, eval_, "doc_id", "text"),
        graft.dedup.Dedup.decontaminateBloom(train, eval_, "doc_id", "text"))) {
      val plan = df.queryExecution.optimizedPlan
      val rands = plan.collect { case node => node.expressions }.flatten
        .flatMap(_.collect {
          case r: org.apache.spark.sql.catalyst.expressions.Rand => r })
      assert(rands.isEmpty, plan.treeString.take(2000))
      val md5s = plan.collect { case node => node.expressions }.flatten
        .flatMap(_.collect {
          case m: org.apache.spark.sql.catalyst.expressions.Md5 => m })
      assert(md5s.size == 1, plan.treeString.take(2000))
    }
  }

  test("decontaminateBloom survivors are IDENTICAL to the exact " +
      "decontaminate at minOverlap 1 and 5 — the no-false-negative " +
      "screen can never change the outcome, only the cost") {
    import spark.implicits._
    val docs = graft.sources.Sources.table(spark, sf, "documents")
      .select($"doc_id", $"text")
    val train = docs.where($"doc_id" % 10 =!= 0)
    val eval_ = docs.where($"doc_id" % 10 === 0)
    for (mo <- Seq(1, 5)) {
      val exact = graft.dedup.Dedup.decontaminate(
        train, eval_, "doc_id", "text", 3, mo)
        .select($"doc_id").as[Long].collect().toSet
      val screened = graft.dedup.Dedup.decontaminateBloom(
        train, eval_, "doc_id", "text", 3, mo)
        .select($"doc_id").as[Long].collect().toSet
      assert(screened === exact, s"minOverlap=$mo diverged")
    }
  }

  test("survivors keeps one per group by preference, singletons pass through") {
    import spark.implicits._
    // group {1,2,3} via transitive pairs; 4 is a singleton. Quality prefers
    // the longest doc (id 2); ids 1 and 3 tie on quality -> lower id wins
    // the (hypothetical) tiebreak but loses to 2 outright.
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 10L), (4L, 5L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = graft.dedup.Dedup.survivors(docs, pairs, "doc_id",
      Seq(col("n_chars").desc))
      .select("doc_id", "component", "keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got === Array((1L, 1L, false), (2L, 1L, true),
      (3L, 1L, false), (4L, 4L, true)))
  }

  test("survivors tiebreak is ascending id; empty pair set keeps everything") {
    import spark.implicits._
    val docs = Seq((7L, 10L), (8L, 10L)).toDF("doc_id", "n_chars")
    val tied = graft.dedup.Dedup.survivors(docs,
      Seq((7L, 8L)).toDF("id_a", "id_b"), "doc_id",
      Seq(col("n_chars").desc))
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(tied === Map(7L -> true, 8L -> false))
    val noPairs = graft.dedup.Dedup.survivors(docs,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "doc_id")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(noPairs === Map(7L -> true, 8L -> true))
  }

  test("survivors refuses a nondeterministic prefer ordering") {
    import spark.implicits._
    // rand()-shaped preference re-elects keepers on task retry — the
    // exactly-one-keeper contract must fail LOUDLY at analysis, not
    // drift silently on a cluster
    val docs = Seq((1L, 10L), (2L, 30L)).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      graft.dedup.Dedup.survivors(docs, pairs, "doc_id", Seq(rand().desc))
    }
    assert(e.getMessage.contains("nondeterministic"))
    // deterministic expressions over row content stay accepted — including
    // ones that REFERENCE the appended component column
    val ok = graft.dedup.Dedup.survivors(docs, pairs, "doc_id",
      Seq(md5(col("n_chars").cast("string")).asc, col("component").asc))
    assert(ok.where(col("keep")).count() === 1)
  }

  test("sourceOverlapMatrix: hashed and exact shingle keys agree on an " +
      "adversarial near-collision corpus (fuzzed)") {
    import spark.implicits._
    // the 60-bit shingle hash admits a 2^-60 per-pair collision that would
    // INFLATE `inter` invisibly; parity vs the exact-string path on
    // corpora dense in near-identical shingles (one-char edits, swapped
    // tokens, unicode confusables — the adversarial neighborhood where a
    // weak hash family would fold distinct shingles together) pins that
    // the production default matches ground truth bit-for-bit
    val masterSeed = System.nanoTime()
    val rnd = new scala.util.Random(masterSeed)
    info(s"overlap-parity fuzz seed: $masterSeed")
    for (round <- 0 until 3) {
      val n = 1 + rnd.nextInt(3)
      val words = Vector("alpha", "alphá", "a1pha", "alpha ", "beta",
        "bëta", "gamma", "gamm4", "delta", "de1ta")
      val docs = (0 until 120).map { i =>
        val toks = Seq.fill(6 + rnd.nextInt(10))(words(rnd.nextInt(words.size)))
        (i.toLong, toks.mkString(" "), s"src${i % 4}")
      }.toDF("doc_id", "text", "source")
      def matrix(hashed: Boolean) =
        graft.dedup.Dedup.sourceOverlapMatrix(docs, "text", "source", n,
            hashShingles = hashed)
          .select("stratum_a", "stratum_b", "inter", "jaccard", "containment")
          .as[(String, String, Long, Double, Double)].collect().toSet
      assert(matrix(hashed = true) === matrix(hashed = false),
        s"round $round n=$n: hashed path diverged from exact strings")
    }
  }

  test("ngramContainment flags subset duplication that jaccard misses") {
    import spark.implicits._
    // doc 1's entire shingle set ({"a b c","b c d"}) appears inside doc 2
    // (13 shingles): containment = 1.0 while jaccard = 2/13 — the quote
    // case a jaccard-gated dedup keeps
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "z z a b c d q r s t u v w x y")).toDF("doc_id", "text")
    val cont = graft.dedup.Dedup.ngramContainment(docs, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Long, Double)].collect()
    assert(cont === Array((1L, 2L, 2L, 1.0)))
    val jac = graft.dedup.Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.2)
    assert(jac.isEmpty)
  }

  test("leakageSafeSplit co-splits dup groups; singletons match splitLabel") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("doc_id", "text")
    val comps = graft.dedup.Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"))
    val got = Downsample.leakageSafeSplit(docs, comps, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // the whole near-dup group lands in ONE split — the leakage guarantee
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    // the group key is the component min id, so the group's label is
    // splitLabel(1); the singleton falls back to splitLabel(4) — a
    // dup-free corpus under this operator reproduces q68's split exactly
    val lbl = docs.select(col("doc_id"),
      Downsample.splitLabel(col("doc_id")).as("s"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === lbl(1L))
    assert(got(4L) === lbl(4L))
  }

  test("leakageSafeSplit rejects a pre-existing split column loudly") {
    import spark.implicits._
    val docs = Seq((1L, "x")).toDF("doc_id", "split")
    val e = intercept[IllegalArgumentException] {
      Downsample.leakageSafeSplit(docs,
        Seq.empty[(Long, Long)].toDF("id", "component"), "doc_id")
    }
    assert(e.getMessage.contains("split"))
  }

  test("duplicateSpans finds maximal cross-doc spans, ignores self-repeats") {
    import spark.implicits._
    // docs 1/2 share the 5-token passage "p q r s t" (3 overlapping
    // 3-token windows -> ONE maximal span each, at different positions);
    // doc 3 is pure WITHIN-doc repetition (every window identical, but
    // min(id)=max(id) so never flagged); doc 4 shares only the 2-token
    // "u v" — shorter than the window, invisible by design
    val docs = Seq(
      (1L, "p q r s t u v w"),
      (2L, "x x p q r s t y z"),
      (3L, "m m m m m m"),
      (4L, "k1 u v k2 k3")).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.duplicateSpans(docs, "doc_id", "text", 3)
      .select("doc_id", "span_start", "span_end", "n_windows")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got === Array((1L, 1L, 5L, 3L), (2L, 3L, 7L, 3L)))
  }

  test("duplicateSpans: non-adjacent shared windows stay separate spans") {
    import spark.implicits._
    // shared prefix "a b c" and suffix "d e f" around DIFFERENT middles:
    // the islands grouping must emit two spans per doc, not bridge the gap
    val docs = Seq(
      (1L, "a b c X d e f"),
      (2L, "a b c Y d e f")).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.duplicateSpans(docs, "doc_id", "text", 3)
      .select("doc_id", "span_start", "span_end", "n_windows")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got === Array((1L, 1L, 3L, 1L), (1L, 5L, 7L, 1L),
      (2L, 1L, 3L, 1L), (2L, 5L, 7L, 1L)))
  }

  test("duplicateSpans checkIds mode rejects duplicated doc ids loudly") {
    import spark.implicits._
    val dup = Seq((1L, "a b c d"), (1L, "a b c d"))
      .toDF("doc_id", "text")
    spark.conf.set("graft.dedup.checkIds", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.dedup.Dedup.duplicateSpans(dup, "doc_id", "text", 3).collect()
      }
      assert(e.getMessage.contains("not unique"))
    } finally spark.conf.unset("graft.dedup.checkIds")
    // and WITHOUT the check the violation is SILENT in the worst way:
    // two identical rows under one id never flag each other (min=max),
    // so a fully duplicated corpus reports zero duplicate spans
    assert(graft.dedup.Dedup.duplicateSpans(dup, "doc_id", "text", 3)
      .count() === 0)
  }

  test("removeDuplicateSpans: canonical keeps, non-canonical excised") {
    import spark.implicits._
    // same corpus as the detection test: docs 1/2 share "p q r s t";
    // canonical (min id) doc 1 keeps the passage, doc 2 loses exactly
    // positions 3..7; self-repeats (doc 3) and sub-window overlaps
    // (doc 4) are untouched. Output is the normalized token stream.
    val docs = Seq(
      (1L, "p q r s t u v w"),
      (2L, "x x p q r s t y z"),
      (3L, "m m m m m m"),
      (4L, "k1 u v k2 k3")).toDF("doc_id", "text")
    val got = graft.dedup.Dedup
      .removeDuplicateSpans(docs, "doc_id", "text", 3)
      .select("doc_id", "text_clean", "n_tokens", "n_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, "p q r s t u v w", 8L, 0L),
      (2L, "x x y z", 9L, 5L),
      (3L, "m m m m m m", 6L, 0L),
      (4L, "k1 u v k2 k3", 5L, 0L)))
  }

  test("removeDuplicateSpans: per-passage canonicality, full removal, norm") {
    import spark.implicits._
    // doc 2 is non-canonical for "a b c" (doc 1 owns it) but CANONICAL
    // for "d e f" (doc 3 copies it): removal decisions are per-window,
    // not per-doc. Doc 3 is covered entirely -> empty string, never null.
    // Doc 5 is shorter than the window and mixed-case/padded: passes
    // through in normalized (lower, single-space) form.
    val docs = Seq(
      (1L, "a b c"),
      (2L, "a b c d e f"),
      (3L, "d e f"),
      (5L, "  A  b ")).toDF("doc_id", "text")
    val got = graft.dedup.Dedup
      .removeDuplicateSpans(docs, "doc_id", "text", 3)
      .select("doc_id", "text_clean", "n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, "a b c", 0L),
      (2L, "d e f", 3L),
      (3L, "", 3L),
      (5L, "a b", 0L)))
    // corpus-wide contract: at least one copy of every duplicated passage
    // survives (exactly one here — no overlapping canonicals in this
    // corpus) — rerunning detection on the cleaned corpus finds nothing
    val clean = graft.dedup.Dedup
      .removeDuplicateSpans(docs, "doc_id", "text", 3)
      .select(col("doc_id"), col("text_clean").as("text"))
    assert(graft.dedup.Dedup.duplicateSpans(clean, "doc_id", "text", 3)
      .count() === 0L)
  }

  test("removeDuplicateSpans: canonical-wins when windows overlap") {
    import spark.implicits._
    // The silent-loss shape: window=3, doc1="p q r", doc2="p q r s",
    // doc3="q r s". Doc 2 is non-canonical for "p q r" (rm span 1..3)
    // but CANONICAL for "q r s" (positions 2..4). Without canonical-wins
    // the rm span excises doc2's q,r while doc3's copy of "q r s" is
    // also removed — ALL corpus copies of "q r s" would vanish. With it,
    // doc2 keeps the overlapped tokens: only the un-overlapped 'p' goes.
    val docs = Seq(
      (1L, "p q r"),
      (2L, "p q r s"),
      (3L, "q r s")).toDF("doc_id", "text")
    val got = graft.dedup.Dedup
      .removeDuplicateSpans(docs, "doc_id", "text", 3)
      .select("doc_id", "text_clean", "n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, "p q r", 0L),
      (2L, "q r s", 1L),
      (3L, "", 3L)))
    // every duplicated passage survives somewhere: "p q r" in doc1,
    // "q r s" in doc2 (its canonical home)
    val surviving = got.map(_._2).toSet
    assert(surviving.contains("p q r") && surviving.contains("q r s"))
  }

  test("q121's bench count() cannot eliminate the removal join") {
    import spark.implicits._
    // The r10 bench lesson (commit dd865fc, BASELINE.md): an earlier
    // row-per-doc q121 let Catalyst ELIMINATE the unique-keyed left join
    // under the bench's count() — 0.14 s of measuring nothing. The shipped
    // form filters on n_removed > 0, which derives from the join output,
    // so elimination is impossible. Pin that: the plan of count() over
    // the query's frame must still carry the span join. A refactor that
    // reintroduces a count-invariant output shape fails here instead of
    // silently hollowing out the benchmark.
    val docs = Seq((1L, "a b c"), (2L, "a b c d e f"), (3L, "d e f"))
      .toDF("doc_id", "text")
    val frame = graft.dedup.Dedup
      .removeDuplicateSpans(docs, "doc_id", "text", 3)
      .where(col("n_removed") > 0) // the q121 shape
    val counted = frame.groupBy().count()
    val plan = counted.queryExecution.optimizedPlan.toString
    assert(plan.contains("Join"), s"span join was eliminated under count():\n$plan")
    assert(counted.as[Long].head() === 2L) // docs 2 and 3 are rewritten
  }

  test("duplicateSpans plan: one corpus pass, two shuffles, no self-join") {
    import spark.implicits._
    // the scale contract: the corpus is scanned/tokenized/hashed ONCE
    // (no join of two windows branches — exactly one scan of the input),
    // with exactly TWO shuffles: hash(ha, hb) for the cross-doc min/max
    // window and hash(doc_id) for the islands window; the final span
    // groupBy(doc_id, grp) must ride the islands exchange (doc_id is a
    // subset of the grouping keys), never add a third
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    val plan = graft.dedup.Dedup.duplicateSpans(docs, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      plan.take(3000))
    assert("(?<![A-Za-z])Window \\[".r.findAllIn(plan).size == 2,
      plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert("LocalTableScan|Scan ".r.findAllIn(plan).size == 1,
      plan.take(3000))
  }

  test("survivors plan: one Window over the grouped branch, anti-join bypass") {
    import spark.implicits._
    // the scale contract: the per-group sort (Window) exists exactly once
    // and only on the labeled branch; the corpus majority must take a
    // LeftAnti join, never a window or a sort on component
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 10L), (4L, 5L))
      .toDF("doc_id", "n_chars")
    val dec = graft.dedup.Dedup.survivors(docs,
      Seq((1L, 2L)).toDF("id_a", "id_b"), "doc_id",
      Seq(col("n_chars").desc))
    val plan = dec.queryExecution.executedPlan.toString
    // "Window [" is the physical Window node's render (WindowGroupLimit
    // prints as one word, so it can't false-match)
    assert("(?<![A-Za-z])Window \\[".r.findAllIn(plan).size == 1,
      plan.take(3000))
    assert(plan.contains("LeftAnti"), plan.take(3000))
  }

  test("connectedComponents telemetry reports per-round convergence curve") {
    import spark.implicits._
    // same graph as the chain test: diameter-5 chain + a pair. Pointer
    // jumping resolves it in exactly 3 rounds with a geometric
    // changed-labels curve (4, 1, 0) — deterministic regardless of
    // partitioning, so the telemetry is asserted exactly. A skewed graph
    // would show a long flat tail here instead of the geometric drop.
    val pairs = Seq((12L, 11L), (11L, 10L), (10L, 9L), (9L, 8L), (8L, 7L),
      (101L, 100L)).toDF("id_a", "id_b")
    val rounds = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    // the convergence curve is ROUND-LOOP telemetry: force that tier
    // (the union-find fast path has no rounds and reports none)
    spark.conf.set("graft.cc.unionFindMaxEdges", "0")
    val got =
      try graft.dedup.Dedup.connectedComponents(pairs.repartition(3),
          onRound = Some((r, n) => rounds += ((r, n))))
        .as[(Long, Long)].collect().toMap
      finally spark.conf.unset("graft.cc.unionFindMaxEdges")
    assert((7L to 12L).forall(got(_) == 7L))
    assert(rounds.toSeq === Seq((1, 4L), (2, 1L), (3, 0L)))
  }

  test("connectedComponents refuses to return unconverged labels at maxIter") {
    import spark.implicits._
    // diameter-5 chain needs >1 pointer-jumping round; maxIter=1 must fail
    // loudly instead of returning a plausible-looking half-merged labeling.
    // maxIter is a ROUND-LOOP contract; force that tier (the union-find
    // fast path is exact in one pass and has no rounds to cap)
    val pairs = Seq((12L, 11L), (11L, 10L), (10L, 9L), (9L, 8L), (8L, 7L))
      .toDF("id_a", "id_b")
    spark.conf.set("graft.cc.unionFindMaxEdges", "0")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.dedup.Dedup.connectedComponents(pairs, maxIter = 1).collect()
      }
      assert(e.getMessage.contains("not converged"))
    } finally spark.conf.unset("graft.cc.unionFindMaxEdges")
  }

  test("connectedComponents union-find tier is bit-equal to the pointer-" +
      "jump loop on adversarial graphs (long chain, star merges through " +
      "one hub, self-pairs, duplicate/reversed edges, cross-partition)") {
    import spark.implicits._
    // every shape that has historically broken a CC variant: a 64-node
    // chain (worst-case diameter), a hub merging three chains (the
    // merge-through-new-node shape), self-pairs over known and isolated
    // ids, the same edge duplicated and reversed, and ids scattered so
    // partition-local union-find cannot resolve anything locally
    val chain = (1000L to 1063L).sliding(2).map(s => (s.head, s.last)).toSeq
    val hub = Seq((5L, 1010L), (5L, 2010L), (5L, 3010L))
    val chains2 = (2000L to 2020L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      (3000L to 3020L).sliding(2).map(s => (s.head, s.last)).toSeq
    val selfs = Seq((1000L, 1000L), (777L, 777L))
    val dups = Seq((1001L, 1000L), (1000L, 1001L), (1000L, 1001L))
    val all = (chain ++ hub ++ chains2 ++ selfs ++ dups)
    for (parts <- Seq(1, 7)) {
      val pairs = all.toDF("id_a", "id_b").repartition(parts)
      val fast = graft.dedup.Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      spark.conf.set("graft.cc.unionFindMaxEdges", "0")
      val loop =
        try graft.dedup.Dedup.connectedComponents(pairs)
          .as[(Long, Long)].collect().toMap
        finally spark.conf.unset("graft.cc.unionFindMaxEdges")
      assert(fast === loop, s"parts=$parts")
      // spot-check the labels themselves, not just cross-agreement
      assert((1000L to 1063L).forall(fast(_) == 5L))
      assert((2000L to 2020L).forall(fast(_) == 5L))
      assert((3000L to 3020L).forall(fast(_) == 5L))
      assert(fast(777L) == 777L && fast(5L) == 5L)
    }
  }

  test("connectedComponents union-find threshold boundary: a graph one " +
      "pair over graft.cc.unionFindMaxEdges takes the round loop and " +
      "labels identically") {
    import spark.implicits._
    val pairs = Seq((12L, 11L), (11L, 10L), (10L, 9L), (9L, 8L), (8L, 7L),
      (101L, 100L)).toDF("id_a", "id_b") // 6 pairs
    def labels() = graft.dedup.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val fast = labels() // default threshold: union-find tier
    spark.conf.set("graft.cc.unionFindMaxEdges", "5") // 6 > 5: loop tier
    val loop = try labels()
      finally spark.conf.unset("graft.cc.unionFindMaxEdges")
    assert(fast === loop)
    assert((7L to 12L).forall(fast(_) == 7L) && fast(101L) == 100L)
  }

  test("connectedComponents agrees with brute-force closure on simhash pairs") {
    import spark.implicits._
    val sigs = graft.dedup.Dedup.simhash(
      graft.sources.Sources.table(spark, sf, "documents")
        .where(col("doc_id") < 128), "doc_id", "text", 16)
    val pairs = graft.dedup.Dedup.simhashNearDups(sigs, "doc_id", 3)
    val got = graft.dedup.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    // brute-force union-find on the collected pair list
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.select("id_a", "id_b").as[(Long, Long)].collect().foreach {
      case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    assert(got == want)
  }

  test("packSequences positions reconstruct the per-shard running stream") {
    import spark.implicits._
    val packed = graft.operators.Packing.packSequences(
      graft.sources.Sources.table(spark, sf, "documents")
        .select("doc_id", "n_chars").repartition(5),
      "doc_id", "n_chars", 1000L, 4)
    val rows = packed
      .select(col("shard"), col("doc_id"), col("n_chars"),
        (col("seq_idx") * 1000 + col("seq_offset")).as("start"),
        col("n_spanned"))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.forall { case (_, _, n, st, sp) =>
      sp == math.max(1L, (st + n - 1) / 1000 - st / 1000 + 1) })
    // starts are exactly the cumulative sums within each shard's hash order
    rows.groupBy(_._1).values.foreach { shardRows =>
      val inStreamOrder = shardRows.sortBy(_._4) // by start
      val cumsums = inStreamOrder.scanLeft(0L)(_ + _._3).init
      assert(inStreamOrder.map(_._4).toSeq == cumsums.toSeq)
    }
  }

  test("emitPackedSequences: per shard concat(sequences) == concat(docs " +
      "in stream order) on real BPE ids; non-tail sequences are exactly " +
      "budget; offsets are contiguous; plan has ONE exchange") {
    import spark.implicits._
    val prepped = graft.sources.Sources.table(spark, sf, "documents")
      .where(col("doc_id") < 300)
      .select(col("doc_id"), lower(substring(
        regexp_replace(col("text"), "[^A-Za-z ]", ""), 1, 48))
        .as("bpe_text"))
    val toks = graft.text.Bpe.bpeEncode(prepped, "bpe_text")
      .select(col("doc_id"), col("bpe_ids"))
    val budget = 64L
    val out = graft.operators.Packing.emitPackedSequences(
      toks, "doc_id", "bpe_ids", budget, 4)
    val seqs = out
      .select($"shard", $"seq_idx", $"seq_tokens", $"doc_offsets",
        $"n_tokens")
      .as[(Long, Long, Seq[Int], Seq[Long], Long)].collect()
    seqs.groupBy(_._1).values.foreach { sh =>
      val maxIdx = sh.map(_._2).max
      assert(sh.map(_._2).sorted.toSeq === (0L to maxIdx).toSeq,
        "sequence indices must be contiguous per shard")
      sh.foreach { case (_, idx, ts, offs, n) =>
        assert(n === ts.length)
        if (idx < maxIdx) assert(n === budget,
          s"non-tail sequence $idx holds $n != $budget tokens")
        // the stream is gap-free: first piece starts the sequence,
        // offsets strictly increase inside it
        assert(offs.head === 0L)
        assert(offs === offs.sorted && offs.distinct === offs)
        assert(offs.last < n)
      }
    }
    // concat identity against an independent driver-side stream rebuild
    val ref = toks
      .withColumn("hv", graft.text.TextOps.hash64(
        concat(lit("pack#"), $"doc_id".cast("string"))))
      .select($"doc_id", $"hv", $"bpe_ids")
      .as[(Long, Long, Seq[Int])].collect()
    ref.groupBy(r => r._2 % 4).foreach { case (shard, rows) =>
      val stream = rows.sortBy(r => (r._2, r._1)).flatMap(_._3).toSeq
      val got = seqs.filter(_._1 == shard).sortBy(_._2)
        .flatMap(_._3).toSeq
      assert(got === stream, s"shard $shard stream diverged")
    }
    // scale pin: the assembly groupBy must REUSE the window's shard
    // partitioning — exactly one exchange in the whole emission plan
    val plan = out.queryExecution.executedPlan.toString
    val nEx = plan.sliding("Exchange".length).count(_ == "Exchange")
    assert(nEx === 1, s"expected 1 exchange, saw $nEx:\n$plan")
  }

  test("emitPackedSequences is stable across repartitionings and drops " +
      "zero-token docs from emission only") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq(1, 2, 3)), (2L, Seq.empty[Int]), (3L, Seq(4, 5)),
      (4L, Seq(6)), (5L, (7 to 20).toSeq),
      (6L, null.asInstanceOf[Seq[Int]])) // NULL array == zero tokens
      .toDF("doc_id", "toks")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Packing.emitPackedSequences(
          df, "doc_id", "toks", 8L, 2)
        .select($"shard", $"seq_idx",
          array_join($"seq_tokens", ",") as "t",
          array_join($"doc_ids", ",") as "d")
        .as[(Long, Long, String, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    val base = run(docs)
    assert(base === run(docs.repartition(3)))
    // docs 2 (empty) and 6 (NULL array) hold no tokens: neither may
    // appear in any sequence, and neither may fail the job
    assert(!base.exists(r => r._4.split(",").contains("2") ||
      r._4.split(",").contains("6")))
    // every token lands exactly once
    assert(base.flatMap(_._3.split(",")).map(_.toInt).sorted ===
      ((1 to 6) ++ (7 to 20)).sorted)
  }

  test("deterministicShuffle is a seed-keyed permutation, stable across partitionings") {
    import spark.implicits._
    val docs = graft.sources.Sources.table(spark, sf, "documents")
      .select("doc_id").where(col("doc_id") < 300)
    val got = graft.operators.Packing
      .deterministicShuffle(docs.repartition(7), "doc_id", "s1", 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // rank must equal the global row_number over the same md5 key order
    val want = docs
      .withColumn("k", md5(concat_ws(":", lit("s1"), col("doc_id").cast("string"))))
      .withColumn("shuffle_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("k", "doc_id"))
        .cast("long") - 1)
      .select(col("doc_id"), col("shuffle_rank"),
        pmod(col("shuffle_rank"), lit(4L)).as("shard_id"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === want)
    // identical under a different physical partitioning; different seed permutes
    val again = graft.operators.Packing
      .deterministicShuffle(docs.repartition(3), "doc_id", "s1", 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(again === got)
    val other = graft.operators.Packing
      .deterministicShuffle(docs, "doc_id", "s2", 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(other !== got)
    assert(other.map(_._2).sorted === got.map(_._2).sorted) // same rank set
    // ranks are bucket-granularity-invariant (16 vs 4096 buckets)
    val coarse = graft.operators.Packing
      .deterministicShuffle(docs, "doc_id", "s1", 4, bucketHexChars = 1)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(coarse === got)
  }

  test("selectWithinBudget equals the global-window prefix, any bucketing") {
    import spark.implicits._
    val d = graft.sources.Sources.table(spark, sf, "documents")
      .select(col("doc_id"),
        TextOps.qualityScore(col("text"), TextOps.langStopwords.head._2)
          .as("score"),
        TextOps.tokenCountWs(col("text")).cast("long").as("cost"))
      .where(col("score").isNotNull)
    val budget = d.agg(sum("cost")).head.getLong(0) / 3
    // reference: the single ORDER BY window the operator refuses to plan
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    val want = d
      .withColumn("sel_rank", row_number().over(w).cast("long"))
      .withColumn("cum_cost", sum("cost").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .where(col("cum_cost") <= budget)
      .select("doc_id", "sel_rank", "cum_cost")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    for (buckets <- Seq(1, 64, 256)) {
      val got = Downsample.selectWithinBudget(
          d.repartition(7), "doc_id", "score", "cost", budget, buckets)
        .select("doc_id", "sel_rank", "cum_cost")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === want, s"buckets=$buckets")
    }
    assert(want.nonEmpty && want.map(_._3).max <= budget)
  }

  test("selectWithinBudget: prefix boundary, ties by id, null exclusion, guards") {
    import spark.implicits._
    // constant score: everything ties -> one bucket -> order falls to id
    val flat = Seq((3L, 4L), (1L, 4L), (2L, 4L), (4L, 4L))
      .toDF("id", "cost").withColumn("score", lit(0.5))
    val got = Downsample.selectWithinBudget(flat, "id", "score", "cost", 9L)
      .select("id", "sel_rank", "cum_cost")
      .as[(Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(got === Seq((1L, 1L, 4L), (2L, 2L, 8L))) // 3rd doc would hit 12 > 9
    // budget 0 selects nothing; budget >= total selects everything
    assert(Downsample.selectWithinBudget(flat, "id", "score", "cost", 0L).isEmpty)
    assert(Downsample.selectWithinBudget(flat, "id", "score", "cost", 16L)
      .count() === 4L)
    // NULL score rows are excluded, never ranked
    val withNull = flat.withColumn("score",
      when(col("id") === 2L, lit(null).cast("double")).otherwise(col("score")))
    val ids = Downsample.selectWithinBudget(withNull, "id", "score", "cost", 100L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 3L, 4L))
    // appending onto an existing sel_rank/cum_cost column is refused
    intercept[IllegalArgumentException] {
      Downsample.selectWithinBudget(
        flat.withColumn("sel_rank", lit(1)), "id", "score", "cost", 9L)
    }
  }

  test("topFractionPerKey equals the per-key window gate, any bucketing") {
    import spark.implicits._
    val d = graft.sources.Sources.table(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text"), TextOps.langStopwords.head._2)
          .as("score"))
      .where(col("score").isNotNull)
    // reference: the single per-key window the operator refuses to plan
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("score").desc, col("doc_id").asc)
    val want = d
      .withColumn("quality_rank", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .where(col("quality_rank") <= (col("n") * 3000 + 9999) / 10000)
      .select("doc_id", "quality_rank")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    for (buckets <- Seq(1, 64, 256)) {
      val got = Downsample.topFractionPerKey(
          d.repartition(7), "source", "doc_id", "score", 3000, buckets)
        .select("doc_id", "quality_rank")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === want, s"buckets=$buckets")
    }
    assert(want.nonEmpty)
  }

  test("topFractionPerKey: ceil quota, ties, null key/score, bounds, guard") {
    import spark.implicits._
    // key a: 3 rows, 30% -> ceil(0.9) = 1 kept (never zero for a
    // non-empty key); key b: constant scores, order falls to id; NULL
    // key is a normal group; NULL score is excluded before ranking
    val df = Seq(
      (1L, Some("a"), Some(0.9)), (2L, Some("a"), Some(0.5)),
      (3L, Some("a"), Some(0.1)),
      (4L, Some("b"), Some(0.7)), (5L, Some("b"), Some(0.7)),
      (6L, Some("b"), Some(0.7)),
      (7L, None, Some(0.3)), (8L, None, Some(0.2)),
      (9L, Some("a"), None)).toDF("id", "key", "score")
    val got = Downsample.topFractionPerKey(df, "key", "id", "score", 3000)
      .select("id", "quality_rank").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    // a: keeps id 1 (rank 1); b: ceil(0.9)=1, tie broken by id -> id 4;
    // null key: 2 rows, ceil(0.6)=1 -> id 7 (higher score)
    assert(got === Seq((1L, 1L), (4L, 1L), (7L, 1L)))
    // fracBp bounds: 0 keeps nothing, 10000 keeps every scored row
    assert(Downsample.topFractionPerKey(df, "key", "id", "score", 0).isEmpty)
    assert(Downsample.topFractionPerKey(df, "key", "id", "score", 10000)
      .count() === 8L)
    intercept[IllegalArgumentException] {
      Downsample.topFractionPerKey(
        df.withColumn("quality_rank", lit(1)), "key", "id", "score", 3000)
    }
  }

  test("exact-rank operators: persistIntermediate is result-identical " +
      "and the passes read the cache") {
    import spark.implicits._
    val d = graft.sources.Sources.table(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text"), TextOps.langStopwords.head._2)
          .as("score"),
        TextOps.tokenCountWs(col("text")).cast("long").as("cost"))
      .where(col("score").isNotNull)
    try {
      val budget = d.agg(sum("cost")).head.getLong(0) / 3
      val want = Downsample
        .selectWithinBudget(d, "doc_id", "score", "cost", budget)
        .select("doc_id", "sel_rank", "cum_cost")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val cachedSel = Downsample.selectWithinBudget(
        d, "doc_id", "score", "cost", budget, persistIntermediate = true)
      assert(cachedSel.select("doc_id", "sel_rank", "cum_cost")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq === want)
      // the main pass must actually READ the materialized intermediate —
      // otherwise the flag silently degrades to the 3-scan shape
      assert(cachedSel.queryExecution.executedPlan.toString
        .contains("InMemoryTableScan"))
      val wantTf = Downsample
        .topFractionPerKey(d, "source", "doc_id", "score", 3000)
        .select("doc_id", "quality_rank")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      val cachedTf = Downsample.topFractionPerKey(d, "source", "doc_id",
        "score", 3000, persistIntermediate = true)
      assert(cachedTf.select("doc_id", "quality_rank")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq === wantTf)
      assert(cachedTf.queryExecution.executedPlan.toString
        .contains("InMemoryTableScan"))
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("sourceOverlapMatrix: mirror and subset sources, hash==string path") {
    import spark.implicits._
    // srcA: two docs with vocab {a b c, b c d, p q r}; srcB mirrors srcA
    // exactly (different doc ids/splits — vocabulary identical); srcC is
    // a strict subset (only 'a b c'); srcD is disjoint. NULL stratum and
    // a duplicate row (id 9 repeats id 1's text under srcA) must not
    // change vocabularies — no one-row-per-id precondition here.
    val docs = Seq(
      (1L, Some("A"), "a b c d"),
      (2L, Some("A"), "p q r"),
      (3L, Some("B"), "a b c d"),
      (4L, Some("B"), "p q r"),
      (5L, Some("C"), "a b c"),
      (6L, Some("D"), "x y z"),
      (7L, None: Option[String], "a b c"),
      (9L, Some("A"), "a b c d")).toDF("doc_id", "source", "text")
    val got = graft.dedup.Dedup
      .sourceOverlapMatrix(docs, "text", "source", 3)
      .select($"stratum_a", $"stratum_b", $"inter", $"jaccard", $"containment")
      .as[(String, String, Long, Double, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    // vocab(A) = {a b c, b c d, p q r} = vocab(B); vocab(C) = {a b c}
    assert(got === Seq(
      ("A", "B", 3L, 1.0, 1.0),          // mirror: jaccard == containment == 1
      ("A", "C", 1L, 1.0 / 3, 1.0),      // strict subset: containment 1, jaccard 1/3
      ("B", "C", 1L, 1.0 / 3, 1.0)))     // disjoint D and NULL produce no rows
    // hashed keys (the narrow-wire scale path) equal exact string keys on
    // a collision-free corpus
    val exact = graft.dedup.Dedup
      .sourceOverlapMatrix(docs, "text", "source", 3, hashShingles = false)
      .select($"stratum_a", $"stratum_b", $"inter", $"jaccard", $"containment")
      .as[(String, String, Long, Double, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(exact === got)
  }

  test("sourceOverlapMatrix plan: hashed keys on the wire, unhinted joins") {
    import spark.implicits._
    val docs = Seq((1L, "A", "a b c d"), (2L, "B", "a b c"))
      .toDF("doc_id", "source", "text")
    val plan = graft.dedup.Dedup
      .sourceOverlapMatrix(docs, "text", "source", 3)
      .queryExecution.optimizedPlan.toString
    // the self-join key must be the 60-bit hash (conv/md5 arithmetic),
    // never the shingle string — strings on the wire is the scale bug
    assert(plan.contains("conv(substring(md5("), plan.take(2000))
    // no broadcast HINT anywhere: AQE must stay free to pick SMJ when
    // the vocabulary outgrows the broadcast frame (the capPerKeyAgg
    // rationale) — ResolvedHint in the optimized plan would pin it
    assert(!plan.contains("ResolvedHint"), plan.take(2000))
    // and no cartesian product: every join is keyed
    assert(!plan.contains("Cross"), plan.take(2000))
  }

  test("redactPii replaces emails, phones, IPv4 and counts them") {
    import spark.implicits._
    val df = Seq(
      "Mail Bob.Smith+x@Sub.Example.ORG or 555-123-4567; host 192.168.0.1.",
      "no pii here, just 12345 and a-b").toDF("t")
    val r = df.select(
      graft.text.TextOps.redactPii(col("t")).as("red"),
      graft.text.TextOps.piiCount(col("t"), graft.text.TextOps.emailPattern).as("e"),
      graft.text.TextOps.piiCount(col("t"), graft.text.TextOps.phonePattern).as("p"),
      graft.text.TextOps.piiCount(col("t"), graft.text.TextOps.ipv4Pattern).as("i"))
      .as[(String, Int, Int, Int)].collect()
    assert(r(0) == (("mail <EMAIL> or <PHONE>; host <IP>.", 1, 1, 1)))
    assert(r(1) == (("no pii here, just 12345 and a-b", 0, 0, 0)))
  }

  test("simhashBandedDups equals all-pairs when chunks don't divide bits") {
    // bits=16, maxHamming=4 -> 5 chunks: a uniform ceil-width split would
    // leave chunk 4 empty (bits 16..19 are zero for every signature), one
    // universal bucket, and an all-pairs explosion; balanced widths
    // (4,3,3,3,3) keep the pigeonhole guarantee AND the blocking
    val sigs = graft.dedup.Dedup.simhash(
      graft.sources.Sources.table(spark, sf, "documents")
        .where(col("doc_id") < 128), "doc_id", "text", 16)
    val banded = graft.dedup.Dedup.simhashBandedDups(sigs, "doc_id", 16, 4)
    val allPairs = graft.dedup.Dedup.simhashNearDups(sigs, "doc_id", 4)
    assert(banded.exceptAll(allPairs).isEmpty &&
      allPairs.exceptAll(banded).isEmpty)
  }

  test("probeParts pin is result-invariant and lands in the physical plan") {
    // the r9 corpus-aware pin (resolvePin): 0 = skip, -1 = session
    // parallelism, n > 0 = exact count. Results must be identical in all
    // three modes — the pin only redistributes the pair fan-out — and an
    // explicit count must survive into the executed plan (the whole point:
    // AQE would otherwise coalesce the kilobyte band exchange to ~1 task)
    val docs = graft.sources.Sources.table(spark, sf, "documents")
      .where(col("doc_id") < 128)
    val sigs = graft.dedup.Dedup.simhash(docs, "doc_id", "text", 16)
    val modes = Seq(0, -1, 7).map(p =>
      graft.dedup.Dedup.simhashBandedDups(sigs, "doc_id", 16, 4, probeParts = p))
    for (m <- modes.tail) {
      assert(m.exceptAll(modes.head).isEmpty && modes.head.exceptAll(m).isEmpty)
    }
    val pinned = modes(2)
    pinned.collect() // finalize the AQE plan before inspecting it
    val plan = pinned.queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"explicit-count pin missing from executed plan:\n$plan")
    val skipped = modes.head
    skipped.collect()
    assert(!skipped.queryExecution.executedPlan.toString
      .contains("REPARTITION_BY_NUM"),
      "probeParts=0 must not inject a repartition")
  }

  test("lshNearDupPairs recovers planted near-dups exactly (q100 shape)") {
    // plant a near-dup per vector (dimension 0 zeroed — only sign bit 0
    // can differ, so Hamming <= 1 and maxMismatch=2 is recall-complete
    // by construction); the banded path must equal the all-pairs form
    val e = graft.sources.Sources.table(spark, sf, "embeddings")
      .where(col("vec_id") < 100)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val planted = e.select((col("id") + 10000).as("id"),
      transform(col("vec"),
        (x, i) => when(i === 0, lit(0f)).otherwise(x)).as("vec"))
    val corpus = e.unionByName(planted).cache()
    try {
      val banded = Similarity.lshNearDupPairs(corpus, 0.8, 16, 2)
      val allPairs = Similarity.cosineNearDups(corpus, 0.8)
      assert(banded.exceptAll(allPairs).isEmpty &&
        allPairs.exceptAll(banded).isEmpty)
      assert(banded.count() === 100) // exactly the planted pairs
    } finally corpus.unpersist()
  }

  test("capPerKeyAgg keeps NULL-key groups (null-safe join-back)") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, Some("a")), (3L, None), (4L, None),
      (5L, None)).toDF("doc_id", "source")
    val viaWindow = Downsample.capPerKey(df, "source", "doc_id", 2)
      .select("doc_id", "source", "sample_rank")
    val viaAgg = Downsample.capPerKeyAgg(df, "source", "doc_id", 2)
      .select("doc_id", "source", "sample_rank")
    assert(viaAgg.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaAgg).isEmpty)
    assert(viaAgg.where(col("source").isNull).count() == 2)
  }

  test("mixByWeight: refinement property — lower rate selects a strict subset") {
    import spark.implicits._
    val docs = graft.sources.Sources.table(spark, sf, "documents")
      .select("doc_id", "source")
    val wide = graft.operators.Downsample.mixByWeight(
      docs, "source", "doc_id", Map("src0" -> 8000, "src1" -> 8000))
    val narrow = graft.operators.Downsample.mixByWeight(
      docs, "source", "doc_id", Map("src0" -> 3000, "src1" -> 8000))
    // narrowing src0 keeps a subset of its rows and leaves src1 untouched
    assert(narrow.exceptAll(wide).isEmpty)
    assert(narrow.where(col("source") === "src1").count() ===
      wide.where(col("source") === "src1").count())
    // unlisted sources are dropped entirely
    assert(wide.where(!col("source").isin("src0", "src1")).count() === 0)
  }
}
