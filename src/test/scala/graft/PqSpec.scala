package graft

import org.apache.spark.sql.functions._

import graft.similarity.Similarity

class PqSpec extends SparkSpec {
  import spark.implicits._

  private def emb = graft.sources.Sources.table(spark, sf, "embeddings")
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  test("pqEncode: codes are argmin positions in [0,k), deterministic " +
      "across repartitionings; non-divisible vectors get NULL codes; " +
      "the encode plan has no shuffle exchange") {
    val m = 4
    val cb = Similarity.pqCodebooks(emb.where($"id" < 4), m)
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqEncode(df, cb, m)
        .select($"id", array_join($"pq_codes", ",").as("c"))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
    val base = run(emb)
    assert(base === run(emb.repartition(13)))
    assert(base.forall(_._2.split(",").forall(c =>
      c.toInt >= 0 && c.toInt < 4)))
    // non-divisible: a 3-dim vector under m=4 -> NULL codes, no throw
    val odd = Seq((900L, Seq(1f, 2f, 3f))).toDF("id", "vec")
    val oddOut = Similarity.pqEncode(odd, cb, m)
      .select($"pq_codes").collect().head
    assert(oddOut.isNullAt(0))
    // narrow map over the CORPUS: the streamed side (everything printed
    // before the BroadcastExchange subtree, i.e. the scan->encode path)
    // has no shuffle exchange — the only hashpartitioning exchange in
    // the whole plan is the m-row codebook pack inside the broadcast
    // build side, corpus-independent by construction
    val plan = Similarity.pqEncode(emb, cb, m)
      .queryExecution.executedPlan.toString
    val cut = plan.indexOf("BroadcastExchange")
    assert(cut > 0, plan)
    assert(!plan.substring(0, cut).contains("Exchange hashpartitioning"),
      plan)
  }

  test("ADC ranking equals exact squared-L2 search against the code " +
      "RECONSTRUCTIONS (the defining PQ identity), ties to lower id") {
    val m = 4
    val cb = Similarity.pqCodebooks(emb.where($"id" < 4), m)
    val codes = Similarity.pqEncode(emb.where($"id" < 200), cb, m)
    val queries = emb.where($"id".between(100, 102))
    val got = Similarity.pqAdcTopK(queries, codes, cb, 5, m)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // driver-side reference: reconstruct each candidate from its codes,
    // rank by exact |q - recon|^2 (constant |q|^2 does not reorder)
    val cbMap = cb.as[(Int, Long, Seq[Double])].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3.toArray).toArray).toMap
    val codeMap = codes.select($"id", $"pq_codes")
      .as[(Long, Seq[Int])].collect().toMap
    val vecs = emb.as[(Long, Seq[Float])].collect().toMap
    def recon(id: Long): Array[Double] =
      codeMap(id).zipWithIndex.flatMap { case (c, s) => cbMap(s)(c) }.toArray
    for (q <- Seq(100L, 101L, 102L)) {
      val qv = vecs(q).map(_.toDouble).toArray
      val want = codeMap.keys.filter(_ != q).toSeq
        .map { cand =>
          val r = recon(cand)
          val d = qv.zip(r).map { case (a, b) =>
            val t = a - b; t * t
          }.sum
          (cand, d)
        }
        .sortBy { case (cand, d) => (d, cand) }
        .take(5).map(_._1)
      assert(got(q) === want, s"ADC ranking diverged for query $q")
    }
  }

  test("IVF+PQ composition: probing ALL lists equals exhaustive ADC " +
      "(identity), and probed search only scores probed-list pairs") {
    val m = 4
    val cb = Similarity.pqCodebooks(emb.where($"id" < 4), m)
    val codes = Similarity.pqEncode(emb, cb, m)
    val cents = emb.where($"id" < 8)
      .select($"id".as("cid"), $"vec")
    val queries = emb.where($"id".between(100, 102))
    def cand(nprobe: Int) =
      Similarity.ivfAssignN(queries, cents, nprobe)
        .select($"id".as("query_id"), $"cid")
        .join(Similarity.ivfAssign(emb, cents)
          .select($"id".as("neighbor_id"), $"cid"), Seq("cid"))
        .select("query_id", "neighbor_id")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"neighbor_id", $"dist")
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
        .toSeq
    val exhaustive = collect(
      Similarity.pqAdcTopK(queries, codes, cb, 5, m))
    val allProbes = collect(
      Similarity.pqAdcTopK(queries, codes, cb, 5, m, Some(cand(8))))
    assert(allProbes === exhaustive,
      "probing every list must reduce to exhaustive ADC")
    // nprobe=1: every returned neighbor lives in its query's top list
    val one = Similarity.pqAdcTopK(queries, codes, cb, 5, m,
      Some(cand(1)))
    val probed = cand(1).as[(Long, Long)].collect().toSet
    val got = one.select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(got.subsetOf(probed), "a result escaped the probed lists")
  }

  test("malformed-input guards: NaN vectors encode to NULL codes, " +
      "non-divisible queries drop from ADC, -1 codes are filtered — " +
      "never a task failure") {
    val m = 4
    val cb = Similarity.pqCodebooks(emb.where($"id" < 4), m)
    // a NaN in one subspace makes every strict-< comparison false:
    // the argmin stays -1 and the whole codes array must go NULL
    // (emitting -1 would make ADC's element_at hit index 0 — a throw)
    val poisoned = emb.where($"id" < 50).unionByName(
      Seq((901L, Seq.fill(63)(1f) :+ Float.NaN)).toDF("id", "vec"))
    val codes = Similarity.pqEncode(poisoned, cb, m)
    val nanRow = codes.where($"id" === 901L)
      .select($"pq_codes").collect().head
    assert(nanRow.isNullAt(0), "NaN vector must yield NULL codes")
    assert(codes.where($"id" =!= 901L && $"pq_codes".isNull).count() === 0)
    // the poisoned corpus still searches: the NULL row is skipped
    val q = emb.where($"id" === 100L)
    val res = Similarity.pqAdcTopK(q, codes, cb, 3, m)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(res.nonEmpty && !res.contains(901L))
    // non-divisible QUERY (63 dims under m=4): dropped, not garbage
    // NULL-dist rows at ranks 1..k
    val oddQ = Seq((902L, Seq.fill(63)(1f))).toDF("id", "vec")
    assert(Similarity.pqAdcTopK(oddQ, codes, cb, 3, m).count() === 0)
    val mixed = q.unionByName(oddQ)
    val mixedOut = Similarity.pqAdcTopK(mixed, codes, cb, 3, m)
      .select($"query_id", $"dist").as[(Long, Double)].collect()
    assert(mixedOut.map(_._1).toSet === Set(100L),
      "the malformed query must not appear in the output")
    assert(mixedOut.forall(r => !r._2.isNaN))
    // a foreign codes table carrying -1 entries is filtered, not a
    // runtime element_at(., 0) throw
    val foreign = Seq((903L, Seq(-1, 0, 0, 0)),
      (904L, Seq(1, 1, 1, 1))).toDF("id", "pq_codes")
    val out = Similarity.pqAdcTopK(q, foreign, cb, 3, m)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(out === Set(904L))
  }

  test("pqRefine: exact-L2 re-rank of ADC candidates — with all lists " +
      "probed and C = |corpus| the refined top-k IS the exact top-k " +
      "(bit-identical dists), and at small C it equals the driver-side " +
      "exact re-rank of ADC's survivors") {
    val m = 4
    val corpus = emb.where($"id" < 200)
    val cents = emb.where($"id" < 8).select($"id".as("cid"), $"vec")
    val res = Similarity.ivfResidualize(corpus, cents)
    val cb = Similarity.pqCodebooks(
      res.where($"id".between(10, 13)).select("id", "vec"), m)
    val codes = Similarity.pqEncode(res, cb, m)
    val queries = emb.where($"id".between(100, 102))
    // C covers the whole corpus, every list probed: the candidate set
    // is every encoded non-self vector, so exact re-rank of it equals
    // exact search — including the dist doubles (same sqDist fold)
    val adcAll = Similarity.pqAdcTopKResidual(
      queries, codes, cb, cents, 200, m, nprobe = 8)
    val refined = Similarity.pqRefine(queries, corpus, adcAll, 5)
      .as[(Long, Int, Long, Double)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
    val exact = Similarity.bruteForceTopKL2(queries, corpus, 5)
      .as[(Long, Int, Long, Double)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
    assert(refined === exact)
    // small C: refine must return exactly the exact-L2 re-ranking of
    // the C survivors ADC surfaced (recall is capped by the C-set)
    val adcSmall = Similarity.pqAdcTopKResidual(
      queries, codes, cb, cents, 8, m, nprobe = 2).cache()
    val got = Similarity.pqRefine(queries, corpus, adcSmall, 3)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val vecs = emb.where($"id" < 200 || $"id".between(100, 104))
      .as[(Long, Seq[Float])].collect().toMap
    val cand = adcSmall.select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq).toMap
    for ((q, ns) <- cand) {
      val qv = vecs(q).map(_.toDouble)
      val want = ns.map { n =>
        val d = qv.zip(vecs(n).map(_.toDouble))
          .map { case (a, b) => val t = a - b; t * t }.sum
        (n, d)
      }.sortBy { case (n, d) => (d, n) }.take(3).map(_._1)
      assert(got(q) === want, s"refine ranking diverged for query $q")
    }
    adcSmall.unpersist()
  }

  test("residual IVF+PQ: dist equals exact |qres - recon|^2 per probed " +
      "list (the |qres|^2 term INCLUDED so cross-list ranks compare), " +
      "results stay in probed lists, and bruteForceTopKL2 is exact") {
    val m = 4
    val cents = emb.where($"id" < 8).select($"id".as("cid"), $"vec")
    val res = Similarity.ivfResidualize(emb, cents)
    val cb = Similarity.pqCodebooks(
      res.where($"id".between(10, 13)).select("id", "vec"), m)
    val codes = Similarity.pqEncode(res, cb, m)
    val queries = emb.where($"id".between(100, 102))
    val got = Similarity.pqAdcTopKResidual(
      queries, codes, cb, cents, 5, m, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect()
    // driver-side reference over the SAME residual frame
    val cbMap = cb.as[(Int, Long, Seq[Double])].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3.toArray).toArray).toMap
    val resMap = res.select($"id", $"cid", $"vec")
      .as[(Long, Long, Seq[Double])].collect()
      .map { case (id, cid, v) => id -> ((cid, v.toArray)) }.toMap
    val codeMap = codes.select($"id", $"pq_codes")
      .as[(Long, Seq[Int])].collect().toMap
    val vecs = emb.as[(Long, Seq[Float])].collect().toMap
    val centMap = cents.as[(Long, Seq[Float])].collect()
      .map { case (c, v) => c -> v.map(_.toDouble).toArray }.toMap
    // probe sets per query (top-2 centroids by cosine, cid tiebreak)
    val probes = Similarity.ivfAssignN(queries, cents, 2)
      .select($"id", $"cid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recon(id: Long): Array[Double] =
      codeMap(id).zipWithIndex.flatMap { case (c, s) => cbMap(s)(c) }
        .toArray
    val want = (for {
      q <- Seq(100L, 101L, 102L)
      qv = vecs(q).map(_.toDouble).toArray
      cand <- resMap.keys if cand != q
      (home, _) = resMap(cand) if probes(q).contains(home)
    } yield {
      val qres = qv.zip(centMap(home)).map { case (a, b) => a - b }
      val r = recon(cand)
      val d = qres.zip(r).map { case (a, b) =>
        val t = a - b; t * t
      }.sum
      (q, cand, d)
    }).groupBy(_._1).view.mapValues(
      _.sortBy { case (_, c, d) => (d, c) }.take(5).map(_._2).toSeq)
      .toMap
    val gotByQ = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    for (q <- Seq(100L, 101L, 102L))
      assert(gotByQ(q) === want(q), s"residual ADC diverged for $q")
    // every result's neighbor lives in a probed list
    assert(got.forall { case (q, _, n, _) =>
      probes(q).contains(resMap(n)._1) })
    // bruteForceTopKL2 is the exact referee
    val l2 = Similarity.bruteForceTopKL2(
      emb.where($"id" === 100L), emb.where($"id" < 50), 3)
      .select($"rank", $"neighbor_id").as[(Int, Long)].collect()
      .sortBy(_._1).map(_._2).toSeq
    val qv = vecs(100L).map(_.toDouble)
    val wantL2 = vecs.keys.filter(_ < 50).toSeq.map { c =>
      val d = qv.zip(vecs(c).map(_.toDouble)).map { case (a, b) =>
        val t = a - b; t * t
      }.sum
      (c, d)
    }.sortBy { case (c, d) => (d, c) }.take(3).map(_._1)
    assert(l2 === wantL2)
  }

  test("pqTrain: per-subspace Lloyd reduces quantization distortion " +
      "round over round and is deterministic across repartitionings") {
    val m = 4
    def distortion(cb: org.apache.spark.sql.DataFrame): Double = {
      val cbMap = cb.as[(Int, Long, Seq[Double])].collect()
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3.toArray).toArray).toMap
      val codes = Similarity.pqEncode(emb, cb, m)
        .select($"id", $"pq_codes").as[(Long, Seq[Int])].collect().toMap
      val vecs = emb.as[(Long, Seq[Float])].collect().toMap
      codes.map { case (id, cs) =>
        val v = vecs(id).map(_.toDouble)
        cs.zipWithIndex.map { case (c, s) =>
          val sub = v.slice(s * v.length / m, (s + 1) * v.length / m)
          val cv = cbMap(s)(c)
          sub.zip(cv).map { case (a, b) => val t = a - b; t * t }.sum
        }.sum
      }.sum
    }
    val d1 = distortion(Similarity.pqTrain(emb, m, 8, iters = 1))
    val d3 = distortion(Similarity.pqTrain(emb, m, 8, iters = 3))
    assert(d3 <= d1 + 1e-9,
      s"Lloyd rounds must not increase distortion: $d1 -> $d3")
    // trained codebooks beat the arbitrary fixed exhibits
    val dFixed = distortion(Similarity.pqCodebooks(emb.where($"id" < 8), m))
    assert(d3 < dFixed, s"training worse than arbitrary seeds: $d3 vs $dFixed")
    // determinism
    val a = Similarity.pqTrain(emb, m, 8, 2)
      .as[(Int, Long, Seq[Double])].collect().sortBy(r => (r._1, r._2)).toSeq
    val b = Similarity.pqTrain(
        emb.repartition(11), m, 8, 2)
      .as[(Int, Long, Seq[Double])].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(a === b)
  }

  test("on a clustered corpus residual ADC recall@10 beats raw ADC at the " +
      "same m, and pqRefine at C = 10k lifts recall above residual ADC") {
    // sf0.01 is the smallest fixture on which both orderings show: at m=8
    // the recorded sweep read raw 0.392, residual 0.523 (all lists) and
    // refine C=100 1.000 (nprobe 4). The spec asserts the orderings only.
    val (k, m, nCodes, nLists) = (10, 8, 16, 16)
    val raw = graft.sources.Sources.table(spark,
        new java.io.File(sf).getParent + "/sf0.01", "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    // 16 centers drawn from the corpus, within-cluster spread 0.25 of the
    // original vector: the clustered regime real embeddings live in
    val centers = broadcast(raw.where($"id" < 16)
      .select($"id".as("g"), $"vec".as("cvec")))
    val vecs = raw.select($"id", pmod($"id", lit(16)).as("g"), $"vec")
      .join(centers, Seq("g"))
      .select($"id", zip_with($"cvec", $"vec", (c, x) =>
        (c.cast("double") + lit(0.25) * x.cast("double")).cast("float"))
        .as("vec"))
      .cache()
    val queries = vecs.where(pmod($"id", lit(41)) === 0)
    def neighbours(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = neighbours(Similarity.bruteForceTopKL2(queries, vecs, k))
    def recall(approx: org.apache.spark.sql.DataFrame): Double = {
      val got = neighbours(approx)
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).count(t.contains).toDouble / t.size
      }.sum / truth.size
    }
    try {
      val centroids = Similarity.kmeansLite(vecs, nLists, iters = 3).cache()
      val cbRaw = Similarity.pqTrain(vecs, m, nCodes, iters = 3)
      val codesRaw = Similarity.pqEncode(vecs, cbRaw, m)
      val rawAdc = recall(Similarity.pqAdcTopK(queries, codesRaw, cbRaw, k, m))
      val resid = Similarity.ivfResidualize(vecs, centroids).cache()
      val cbRes = Similarity.pqTrain(resid.select($"id", $"vec"), m, nCodes,
        iters = 3)
      val codesRes = Similarity.pqEncode(resid, cbRes, m)
        .select($"id", $"cid", $"pq_codes").cache()
      def residualAdc(c: Int, nprobe: Int) = Similarity.pqAdcTopKResidual(
        queries, codesRes, cbRes, centroids, c, m, nprobe)
      val resAdc = recall(residualAdc(k, nLists))
      assert(resAdc > rawAdc, s"residual $resAdc vs raw $rawAdc")
      val probed = recall(residualAdc(k, 4))
      val refined = recall(Similarity.pqRefine(queries, vecs,
        residualAdc(10 * k, 4), k))
      assert(refined > probed, s"refine C=${10 * k} $refined vs ADC $probed")
      codesRes.unpersist(); resid.unpersist(); centroids.unpersist()
    } finally vecs.unpersist()
  }
}
