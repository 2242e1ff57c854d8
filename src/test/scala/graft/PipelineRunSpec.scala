package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.pipeline.Pipeline
import graft.schemas.Schemas
import graft.sources.Sources

/** `Pipeline.run` end to end on inline inputs in the reference formats:
  * first load, re-run, a batch with new flights, an empty batch, cache
  * lifetimes, the concurrent publishes (a failing one, job groups), the
  * pruned flight columns, the airport-code gate, a target left by an
  * interrupted first write, and the declared star schemas. */
class PipelineRunSpec extends SparkSpec {

  private val codes = Seq("JFK", "LAX", "ORD", "ATL")

  private lazy val airportsRaw = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("ATL", "Atlanta, GA: Hartsfield-Jackson Atlanta International"),
      Row("JFK", "New York, NY: John F. Kennedy International"),
      Row("LAX", "Los Angeles, CA: Los Angeles International"),
      Row("ORD", "Chicago, IL: Chicago O'Hare International"),
      Row("YYZ", "Toronto, Canada: Toronto Pearson International"))),
    Schemas.airportsRaw)

  private lazy val carriersRaw = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row(19000L, "Alpha Air: AA"), Row(19001L, "Beta Lines: BL"),
      Row(19002L, "Gamma Jet: GJ"))),
    Schemas.carriersRaw)

  /** Flights `[from, until)`. Flight i's scheduled departure minute is i
    * (i < 1440), so no two flights share a fact row. Days, delay tuples and
    * cancellation pairs cycle with short periods, so any 60 consecutive
    * flights cover every dimension value the first 60 have. */
  private def flights(from: Int, until: Int): DataFrame = {
    val rows = (from until until).map { i =>
      val cancelled = i % 10 == 0
      Row(f"2018-08-${i % 6 + 1}%02d", 19000L + i % 3, s"N$i", 100L + i,
        1L, 1L, 1L, codes(i % 4), 2L, 2L, 2L, codes((i + 1) % 4),
        (i / 60 * 100 + i % 60).toLong, if (cancelled) null else 905L,
        5.0, 5.0, if (cancelled) null else 1130L, (i % 5) * 10.0 - 20.0, 0.0,
        if (cancelled) 1.0 else 0.0, if (cancelled) Seq("A", "B")(i / 10 % 2) else null,
        150.0, if (i % 4 == 0) null else 155.0, (i % 3) * 5.0, 0.0, 1.0, 0.0, 2.0, null)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), Schemas.flightsRaw)
  }

  private def freshDir(): String = Files.createTempDirectory("graft_run").toString

  private def storedCounts(out: String): Map[String, Long] =
    Schemas.star.keys.map(t => t -> spark.read.parquet(s"$out/$t").count()).toMap

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  private def pruned(df: DataFrame): DataFrame =
    df.select(Pipeline.flightColumns.map(col): _*)

  private def storedRows(out: String, t: String): Seq[String] =
    spark.read.parquet(s"$out/$t").collect().map(_.toString).sorted.toSeq

  test("first load, re-run and a batch with new flights append exactly the new rows") {
    val out = freshDir()
    val first = Pipeline.run(spark, flights(0, 120), airportsRaw, carriersRaw, out)
    assert(first === Map("airports" -> 5L, "air_carriers" -> 3L, "time" -> 1440L,
      "date" -> 6L, "cancelations" -> 3L, "delays" -> 6L, "flights" -> 120L))
    assert(storedCounts(out) === first)
    Schemas.star.keys.foreach { t =>
      assert(spark.table(t).schema === spark.read.parquet(s"$out/$t").schema, t)
    }

    val again = Pipeline.run(spark, flights(0, 120), airportsRaw, carriersRaw, out)
    assert(again.values.forall(_ == 0L), s"re-run appended rows: $again")
    assert(storedCounts(out) === first)

    val k = 17
    val batch = Pipeline.run(spark, flights(0, 120 + k), airportsRaw, carriersRaw, out)
    assert(batch === first.map { case (t, _) => t -> (if (t == "flights") k.toLong else 0L) })
    assert(spark.table("flights").count() === 120L + k)
  }

  test("run unpersists the frames it cached and keeps the caller's cache") {
    val out = freshDir()
    val f = flights(0, 60)
    def built: Seq[DataFrame] = Seq(f, pruned(f)).flatMap(src =>
      Pipeline.build(spark, src, airportsRaw, carriersRaw).byName.map(_._2))

    Pipeline.run(spark, f, airportsRaw, carriersRaw, out)
    assert(!cached(f))
    assert(!cached(pruned(f)))
    assert(!built.exists(cached))

    f.persist()
    try {
      Pipeline.run(spark, f, airportsRaw, carriersRaw, freshDir())
      assert(cached(f))
      // the caller's cache is used as it is: no second, pruned cache
      assert(!cached(pruned(f)))
      assert(!built.exists(cached))
    } finally f.unpersist()
  }

  test("a failing publish: run throws it after every other publish ends, " +
      "the other 6 tables are published and no cache is left behind") {
    val out = freshDir()
    // a plain file where the flights table should be: its publish fails
    Files.write(Paths.get(out, "flights"),
      "not a parquet table".getBytes(StandardCharsets.UTF_8))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val f = flights(0, 120)
    val e = intercept[Exception](
      Pipeline.run(spark, f, airportsRaw, carriersRaw, out))
    assert(!e.isInstanceOf[IllegalArgumentException], e) // not the gate
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains(s"$out/flights")), e)
    // read at once: run returned only after the other publishes ended
    assert(Schemas.star.keys.filter(_ != "flights")
      .map(t => t -> spark.read.parquet(s"$out/$t").count()).toMap ===
      Map("airports" -> 5L, "air_carriers" -> 3L, "time" -> 1440L,
        "date" -> 6L, "cancelations" -> 3L, "delays" -> 6L))
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet -- persistedBefore
      === Set.empty[Int])
    assert(!cached(pruned(f)))
    // a re-run after removing the obstacle appends only the missing fact
    Files.delete(Paths.get(out, "flights"))
    val again = Pipeline.run(spark, f, airportsRaw, carriersRaw, out)
    assert(again === Schemas.star.keys.map(t =>
      t -> (if (t == "flights") 120L else 0L)).toMap)
  }

  test("every job of a load runs in the caller's job group, and each " +
      "publish's jobs carry the description `publish <table>`") {
    val sc = spark.sparkContext
    // (job group, job description) of every job started
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        def prop(k: String) = p.map(_.getProperty(k)).orNull
        seen.add((prop("spark.jobGroup.id"), prop("spark.job.description")))
      }
    }
    // listener events arrive in order: once a job started after the load
    // is seen, every job of the load has been seen
    def loadJobs(): Seq[(String, String)] = {
      sc.setJobGroup("graft-drain", "drain")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_._1 == "graft-drain") &&
        System.nanoTime() < deadline) Thread.sleep(10)
      seen.asScala.toSeq.filter(_._1 != "graft-drain")
    }
    sc.addSparkListener(listener)
    try {
      // two loads: the second must not run on threads, or under
      // properties, left over from the first
      for (k <- 1 to 2) {
        val group = s"graft-load-$k"
        seen.clear()
        sc.setJobGroup(group, s"load $k")
        try Pipeline.run(spark, flights(0, 60), airportsRaw, carriersRaw, freshDir())
        finally sc.clearJobGroup()
        val jobs = loadJobs()
        assert(jobs.size >= 8, jobs) // the quality gate and 7 publishes
        assert(jobs.forall(_._1 == group), jobs)
        assert(jobs.map(_._2).filter(d => d != null && d.startsWith("publish "))
          .toSet === Schemas.star.keySet.map(t => s"publish $t"))
      }
    } finally sc.removeSparkListener(listener)
  }

  test("a load of the 19 flight columns it reads publishes what a load of " +
      "all 29 does, and each of the 19 is needed") {
    assert(Schemas.flightsRaw.fieldNames.filter(Pipeline.flightColumns.toSet)
      .toSeq === Pipeline.flightColumns)
    assert(Pipeline.flightColumns.size === 19)
    val f = flights(0, 120)
    val (full, part) = (freshDir(), freshDir())
    assert(Pipeline.run(spark, f, airportsRaw, carriersRaw, full) ===
      Pipeline.run(spark, pruned(f), airportsRaw, carriersRaw, part))
    Schemas.star.keys.foreach { t =>
      assert(storedRows(full, t) === storedRows(part, t), t)
    }
    Pipeline.flightColumns.foreach { c =>
      val without = f.select(Pipeline.flightColumns.filter(_ != c).map(col): _*)
      val breaks = try {
        Pipeline.build(spark, without, airportsRaw, carriersRaw).byName.exists {
          case (t, df) => nullable(df.schema) != nullable(Schemas.star(t))
        }
      } catch { case _: AnalysisException => true }
      assert(breaks, s"a load without $c still builds the star schema")
    }
  }

  test("a batch with no flights publishes every table and registers all 7 views") {
    val csv: Path = Files.createTempFile("graft_flights", ".csv")
    Files.write(csv, (Schemas.flightsRaw.fieldNames.mkString(",") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    val out = freshDir()
    val counts = Pipeline.run(spark, Sources.csv(spark, csv.toString, Schemas.flightsRaw),
      airportsRaw, carriersRaw, out)
    assert(counts === Map("airports" -> 5L, "air_carriers" -> 3L, "time" -> 1440L,
      "date" -> 0L, "cancelations" -> 0L, "delays" -> 0L, "flights" -> 0L))
    Schemas.star.keys.foreach { t =>
      assert(spark.table(t).count() === counts(t), t)
    }
  }

  test("an airports CSV that repeats a code fails the gate on " +
      "airport_code_unique and publishes nothing") {
    val csv: Path = Files.createTempFile("graft_airports", ".csv")
    Files.write(csv, ("Code,Description\n" +
      "ATL,\"Atlanta, GA: Hartsfield-Jackson Atlanta International\"\n" +
      "JFK,\"New York, NY: John F. Kennedy International\"\n" +
      "JFK,\"New York, NY: Kennedy International\"\n" +
      "LAX,\"Los Angeles, CA: Los Angeles International\"\n" +
      "ORD,\"Chicago, IL: Chicago O'Hare International\"\n")
      .getBytes(StandardCharsets.UTF_8))
    val out = freshDir()
    val e = intercept[IllegalArgumentException](Pipeline.run(spark,
      flights(0, 60), Sources.csv(spark, csv.toString, Schemas.airportsRaw),
      carriersRaw, out))
    assert(e.getMessage.contains("airport_code_unique"), e.getMessage)
    assert(!e.getMessage.contains("airport_id_pk_unique"), e.getMessage)
    assert(Files.list(Paths.get(out)).count() === 0L)
  }

  test("a target holding only _temporary/ (an interrupted first write) " +
      "loads as a first load: every table appends its whole batch") {
    val out = freshDir()
    Schemas.star.keys.foreach { t =>
      val attempt = Files.createDirectories(
        Paths.get(out, t, "_temporary", "0", "_temporary", "attempt_0"))
      Files.write(attempt.resolve("part-00000.snappy.parquet"),
        "cut short".getBytes(StandardCharsets.UTF_8))
    }
    val counts = Pipeline.run(spark, flights(0, 120), airportsRaw, carriersRaw, out)
    assert(counts === Map("airports" -> 5L, "air_carriers" -> 3L, "time" -> 1440L,
      "date" -> 6L, "cancelations" -> 3L, "delays" -> 6L, "flights" -> 120L))
    assert(storedCounts(out) === counts)
    Schemas.star.keys.foreach { t =>
      assert(spark.table(t).count() === counts(t), t)
    }
  }

  test("readAccumulated on a populated star, given each built table's " +
      "schema as publishIncremental gives it, starts no Spark job") {
    val out = freshDir()
    val counts = Pipeline.run(spark, flights(0, 60), airportsRaw, carriersRaw, out)
    val built = Pipeline.build(spark, flights(0, 60), airportsRaw, carriersRaw)
      .byName.toMap
    def stored(t: String): DataFrame =
      Pipeline.readAccumulated(spark, s"$out/$t", Some(built(t).schema)).get
    assert(jobsStartedBy(Schemas.star.keys.foreach(t => stored(t).schema)) === 0)
    assert(Schemas.star.keys.map(t => t -> stored(t).count()).toMap === counts)
    // the inferring read, for contrast: one footer job
    assert(jobsStartedBy(Pipeline.readAccumulated(spark, s"$out/flights")) >= 1)
  }

  test("a publish into a target holding a crashed writer's committed task " +
      "file appends its rows once") {
    val dim = graft.dims.Dims.airports(airportsRaw.limit(2))
    val crashed = freshDir()
    dim.coalesce(1).write.mode("overwrite").parquet(crashed)
    val part = Files.list(Paths.get(crashed)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val path = s"${freshDir()}/airports"
    val task = Files.createDirectories(
      Paths.get(path, "_temporary", "0", "task_202610190000_0001_m_000000"))
    Files.copy(part, task.resolve(part.getFileName))
    assert(Pipeline.publishIncremental(spark, dim, path) === 2L)
    assert(spark.read.parquet(path).count() === 2L)
  }

  test("every built table matches its declared star schema") {
    val w = Pipeline.build(spark, flights(0, 60), airportsRaw, carriersRaw)
    assert(w.byName.map(_._1).toSet === Schemas.star.keySet)
    w.byName.foreach { case (t, df) =>
      assert(nullable(df.schema) === nullable(Schemas.star(t)), t)
    }
  }
}
