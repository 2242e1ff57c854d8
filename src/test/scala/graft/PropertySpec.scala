package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.delta.Incremental
import graft.ops.ColumnOps

/** Property-based specs (SURVEY.md §5.2): raw ScalaCheck driven from
  * ScalaTest (the scalatestplus bridge isn't on the offline classpath).
  * Each property evaluates a whole generated dataset in ONE Spark job. */
class PropertySpec extends SparkSpec {

  private def check(p: Prop, n: Int = 15): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n).withWorkers(1), p)
    assert(res.passed, res.status.toString)
  }

  private val rowGen: Gen[(Long, Option[Double], Option[String])] = for {
    k <- Gen.choose(0L, 6L)
    v <- Gen.option(Gen.oneOf(0.0, 1.5, 2.5))
    s <- Gen.option(Gen.oneOf("a", "b"))
  } yield (k, v, s)

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("v", DoubleType),
    StructField("s", StringType)))

  private def df(rows: List[(Long, Option[Double], Option[String])]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (k, v, s) => Row(k, v.orNull, s.orNull) }, 2),
      schema)

  test("J4 delta == set-minus with null-safe equality (random frames)") {
    val p = Prop.forAll(Gen.listOfN(12, rowGen), Gen.listOfN(12, rowGen)) {
      (inc, acc) =>
        val got = Incremental.delta(df(inc), df(acc))
          .collect().map(r => (r.get(0), Option(r.get(1)), Option(r.get(2))))
          .toList.sortBy(_.toString)
        val accSet = acc.map { case (k, v, s) => (k, v, s) }.toSet
        val want = inc.filterNot { case (k, v, s) => accSet((k, v, s)) }
          .map { case (k, v, s) => (k: Any, v.map(x => x: Any), s.map(x => x: Any)) }
          .sortBy(_.toString)
        got == want
    }
    check(p)
  }

  test("J4/U1 invariant: acc + delta == union multiset (random frames)") {
    val p = Prop.forAll(Gen.listOfN(15, rowGen), Gen.listOfN(15, rowGen)) {
      (inc, acc) =>
        val d = Incremental.delta(df(inc), df(acc))
        val appended = df(acc).unionByName(d)
        // every incoming row is represented: re-running delta yields nothing
        Incremental.delta(df(inc), appended).isEmpty &&
          appended.count() == acc.size + d.count()
    }
    check(p, n = 10)
  }

  test("P15 arithmetic == Python floor-div/positive-mod for any delay") {
    val gen = Gen.listOfN(200, for {
      t <- Gen.choose(0L, 2359L)
      d <- Gen.choose(-720L, 720L)
    } yield (t, d))
    val p = Prop.forAll(gen) { cases =>
      val in = spark.createDataFrame(
        spark.sparkContext.parallelize(cases.map { case (t, d) => Row(t, d) }, 2),
        StructType(Seq(StructField("t", LongType), StructField("d", LongType))))
      val got = in.select(ColumnOps.minutesDeltaToHhmm(col("t"), col("d")))
        .collect().map(_.getLong(0)).toList
      val want = cases.map { case (t, d) =>
        t + Math.floorDiv(d, 60) * 100 + Math.floorMod(d, 60) }
      got.sorted == want.sorted
    }
    check(p, n = 5)
  }

  test("P14 intended codec: hhmm -> minutes is exact for all 1440 times") {
    val all = spark.range(0, 1440).select(
      (floor(col("id") / 60) * 100 + col("id") % 60).as("hhmm"),
      col("id").as("want"))
    val bad = all.select(
      ColumnOps.hhmmToMinutes(col("hhmm")).as("got"), col("want"))
      .where(col("got") =!= col("want"))
    assert(bad.isEmpty)
  }

  test("P20 fact surrogate keys: dense ids regardless of partition count") {
    val p = Prop.forAll(Gen.choose(1, 8), Gen.choose(1L, 500L)) { (parts, n) =>
      val keyed = ColumnOps.factSurrogateKey(
        spark.range(0, n).repartition(parts).toDF("x"), "id")
      keyed.agg(count_distinct(col("id")), max(col("id")))
        .head match { case Row(distinct: Long, mx: Long) =>
          distinct == n && mx == n - 1 }
    }
    check(p, n = 8)
  }

  test("banded simhash == all-pairs for ANY legal (bits, maxHamming)") {
    import spark.implicits._
    // fixed deterministic signature table; the property quantifies over the
    // chunking parameters (the pigeonhole argument must hold for all of
    // them, including non-divisible widths and the chunks == bits edge)
    val sigs = (0L until 48L)
      .map(i => (i, (i * 2654435761L) & 0xFFFFFL)) // 20-bit signatures
      .toDF("doc_id", "simhash").cache()
    try {
      val gen = for {
        bits <- Gen.choose(8, 20)
        d <- Gen.choose(1, 5) if d + 1 <= bits
      } yield (bits, d)
      val p = Prop.forAll(gen) { case (bits, d) =>
        val masked = sigs.select(col("doc_id"),
          (col("simhash") % (1L << bits)).as("simhash"))
        val banded = graft.dedup.Dedup.simhashBandedDups(masked, "doc_id", bits, d)
        val allPairs = graft.dedup.Dedup.simhashNearDups(masked, "doc_id", d)
        banded.exceptAll(allPairs).isEmpty && allPairs.exceptAll(banded).isEmpty
      }
      check(p, n = 10)
    } finally sigs.unpersist()
  }

  test("bucketed cosine near-dups == Hamming-bounded all-pairs, any config") {
    import spark.implicits._
    import graft.similarity.Similarity
    // fixed deterministic vector table; the property quantifies over
    // (bits, maxMismatch, threshold) — lshNearDupPairs' contract is exact
    // equality with the all-pairs form RESTRICTED to the sign-Hamming
    // bound, for every legal config (not just recall-complete ones)
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 40L)
      .map(i => (i, Array.fill(12)(rnd.nextFloat() * 2f - 1f).toSeq))
      .toDF("id", "vec").cache()
    try {
      val gen = for {
        bits <- Gen.choose(4, 12)
        m <- Gen.choose(1, 5) if m + 1 <= bits
        thr <- Gen.oneOf(-0.2, 0.0, 0.2, 0.5)
      } yield (bits, m, thr)
      val p = Prop.forAll(gen) { case (bits, m, thr) =>
        val banded = Similarity.lshNearDupPairs(vecs, thr, bits, m)
        // independent reference: all-pairs cosine, then an explicit Hamming
        // filter over the same sign signatures
        val sigs = vecs.select(col("id"),
          Similarity.signBucket(col("vec"), bits).as("sig"))
        val ref = Similarity.cosineNearDups(vecs, thr)
          .join(sigs.select(col("id").as("id_a"), col("sig").as("sa")), Seq("id_a"))
          .join(sigs.select(col("id").as("id_b"), col("sig").as("sb")), Seq("id_b"))
          .where(bit_count(expr("sa ^ sb")) <= m)
          .select("id_a", "id_b", "sim")
        banded.exceptAll(ref).isEmpty && ref.exceptAll(banded).isEmpty
      }
      check(p, n = 10)
    } finally vecs.unpersist()
  }

  test("survivors == brute-force union-find keeper choice (random graphs)") {
    import spark.implicits._
    val n = 12
    val edgeGen = for {
      a <- Gen.choose(0L, n - 1L)
      b <- Gen.choose(0L, n - 1L) if a != b
    } yield (a, b)
    // quality range deliberately tiny so ties are common and the ascending-
    // id tiebreak is exercised, not just the preference column
    val qualGen = Gen.listOfN(n, Gen.choose(0L, 3L))
    val p = Prop.forAll(Gen.listOfN(8, edgeGen), qualGen) { (edges, quals) =>
      val docs = quals.zipWithIndex
        .map { case (q, i) => (i.toLong, q) }.toDF("doc_id", "n_chars")
      val got = graft.dedup.Dedup.survivors(docs,
        edges.toDF("id_a", "id_b"), "doc_id", Seq(col("n_chars").desc))
        .select("doc_id", "component", "keep")
        .as[(Long, Long, Boolean)].collect().sortBy(_._1)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(ra) = rb
      }
      (0 until n).groupBy(find).values.forall { members =>
        val ids = members.map(_.toLong).toSet
        val rows = got.filter(r => ids(r._1))
        val want = members.minBy(i => (-quals(i), i.toLong)).toLong
        rows.count(_._3) == 1 &&                       // one keeper
          rows.find(_._3).get._1 == want &&            // the right keeper
          rows.map(_._2).distinct.length == 1          // one shared label
      }
    }
    check(p, n = 10)
  }

  test("selectWithinBudget == global-window prefix (random ties/clusters)") {
    import spark.implicits._
    // scores drawn from a TINY value set so ties are everywhere — the
    // grid-snap's one subtle invariant is that equal scores share a
    // bucket and the id tiebreak stays total across bucket boundaries;
    // costs include zero, buckets deliberately exceed distinct scores
    val rowG = for {
      s <- Gen.oneOf(-1.0, 0.0, 0.25, 0.2500001, 7.5)
      c <- Gen.choose(0L, 5L)
    } yield (s, c)
    val p = Prop.forAll(Gen.listOfN(25, rowG), Gen.choose(0L, 40L),
      Gen.oneOf(1, 7, 64)) { (rows, budget, buckets) =>
      val d = rows.zipWithIndex
        .map { case ((s, c), i) => (i.toLong, s, c) }
        .toDF("id", "score", "cost").repartition(3)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("id").asc)
      val want = d
        .withColumn("sel_rank", row_number().over(w).cast("long"))
        .withColumn("cum_cost", sum("cost").over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
        .where(col("cum_cost") <= budget)
        .select("id", "sel_rank", "cum_cost")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val got = graft.operators.Downsample
        .selectWithinBudget(d, "id", "score", "cost", budget, buckets)
        .select("id", "sel_rank", "cum_cost")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      got == want
    }
    check(p, n = 12)
  }

  test("topFractionPerKey == per-key window gate (random keys/ties/fracs)") {
    import spark.implicits._
    val rowG = for {
      k <- Gen.option(Gen.oneOf("a", "b", "c"))
      s <- Gen.oneOf(0.0, 0.5, 0.5000001, 3.0)
    } yield (k, s)
    val p = Prop.forAll(Gen.listOfN(22, rowG),
      Gen.oneOf(0, 1, 2999, 5000, 9999, 10000), Gen.oneOf(1, 5, 64)) {
      (rows, bp, buckets) =>
        val d = rows.zipWithIndex
          .map { case ((k, s), i) => (i.toLong, k, s) }
          .toDF("id", "key", "score").repartition(3)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key")).orderBy(col("score").desc, col("id").asc)
        val want = d
          .withColumn("quality_rank", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("key"))))
          .where(col("quality_rank") <=
            expr(s"(n * $bp + 9999) div 10000"))
          .select("id", "quality_rank")
          .as[(Long, Long)].collect().sortBy(_._1).toSeq
        val got = graft.operators.Downsample
          .topFractionPerKey(d, "key", "id", "score", bp, buckets)
          .select("id", "quality_rank")
          .as[(Long, Long)].collect().sortBy(_._1).toSeq
        got == want
    }
    check(p, n = 12)
  }

  test("sourceOverlapMatrix == brute-force set algebra (random corpora)") {
    import spark.implicits._
    // docs: random small-vocab texts over random strata (incl. None and
    // duplicated texts within/across strata). The reference computes the
    // per-stratum distinct shingle sets in plain Scala and derives
    // inter/jaccard/containment by set algebra — independent of every
    // Spark choice the operator makes (hashing, distinct, join shape).
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val docGen = for {
      src <- Gen.option(Gen.oneOf("s1", "s2", "s3"))
      len <- Gen.choose(0, 6)
      ws <- Gen.listOfN(len, word)
    } yield (src, ws.mkString(" "))
    val p = Prop.forAll(Gen.listOfN(14, docGen)) { rows =>
      val docs = rows.zipWithIndex
        .map { case ((src, txt), i) => (i.toLong, src, txt) }
        .toDF("doc_id", "source", "text")
      val n = 2
      val got = graft.dedup.Dedup
        .sourceOverlapMatrix(docs, "text", "source", n)
        .select($"stratum_a", $"stratum_b", $"inter", $"jaccard", $"containment")
        .as[(String, String, Long, Double, Double)].collect().toSet
      val vocab: Map[String, Set[String]] = rows
        .collect { case (Some(src), txt) => (src, txt) }
        .groupBy(_._1)
        .map { case (src, ds) =>
          src -> ds.flatMap { case (_, txt) =>
            val t = txt.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
            t.sliding(n).filter(_.length == n).map(_.mkString(" "))
          }.toSet
        }
      val want = (for {
        a <- vocab.keys; b <- vocab.keys if a < b
        inter = (vocab(a) & vocab(b)).size.toLong if inter >= 1
      } yield (a, b, inter,
        inter.toDouble / (vocab(a).size + vocab(b).size - inter),
        inter.toDouble / math.min(vocab(a).size, vocab(b).size))).toSet
      got == want
    }
    check(p, n = 12)
  }
}
