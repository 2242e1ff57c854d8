package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.pipeline.Pipeline
import graft.schemas.Schemas
import graft.sources.Sources

/** `Pipeline.run` end to end on inline inputs in the reference formats:
  * first load, re-run, a batch with new flights, an empty batch, cache
  * lifetimes, and the declared star schemas. */
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
    def built: Seq[DataFrame] = Pipeline.build(spark, f, airportsRaw, carriersRaw).byName.map(_._2)

    Pipeline.run(spark, f, airportsRaw, carriersRaw, out)
    assert(!cached(f))
    assert(!built.exists(cached))

    f.persist()
    try {
      Pipeline.run(spark, f, airportsRaw, carriersRaw, freshDir())
      assert(cached(f))
      assert(!built.exists(cached))
    } finally f.unpersist()
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

  test("every built table matches its declared star schema") {
    val w = Pipeline.build(spark, flights(0, 60), airportsRaw, carriersRaw)
    assert(w.byName.map(_._1).toSet === Schemas.star.keySet)
    w.byName.foreach { case (t, df) =>
      assert(nullable(df.schema) === nullable(Schemas.star(t)), t)
    }
  }
}
