package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dims.Dims
import graft.schemas.Schemas
import graft.sources.Sources

/** Golden tests: dimension builders vs the reference's committed curated
  * CSVs (SURVEY.md §5.1 — the reference's only observable outputs).
  * airports/carriers/time are fully reconstructable from committed inputs.
  */
class DimsGoldenSpec extends SparkSpec {

  private val ref = "/root/reference"

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    val g = got.select(want.columns.map(col): _*)
    assert(g.count() === want.count())
    assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty)
  }

  test("AirportDim matches curated/airports_transformed_data.csv (6510 rows)") {
    val raw = Sources.csv(spark, s"$ref/rawdata/Airports", Schemas.airportsRaw)
    val got = Dims.airports(raw)
    val want = Sources.csv(spark,
      s"$ref/curated/airports_transformed_data.csv", Schemas.airportDim)
    assertSame(got, want)
  }

  test("CarrierDim matches curated/air_carriers_transformed_data.csv (1656 rows)") {
    val raw = Sources.csv(spark, s"$ref/rawdata/Air Carriers", Schemas.carriersRaw)
    val got = Dims.carriers(raw)
    val want = spark.read
      .option("header", "true")
      .schema(Schemas.carrierDim)
      .csv(s"$ref/curated/air_carriers_transformed_data.csv")
    assertSame(got, want)
  }

  test("TimeDim matches curated/time_transformed_data.csv (1440 rows)") {
    val got = Dims.time(spark)
    val want = spark.read
      .option("header", "true")
      .schema(Schemas.timeDim)
      .csv(s"$ref/curated/time_transformed_data.csv")
    assertSame(got, want)
  }

  test("DateDim derives correct flags/quarters on a known week") {
    import spark.implicits._
    val src = Seq("2018-08-06", "2018-08-11", "2018-08-12", "2018-11-01")
      .toDF("FL_DATE")
    val got = Dims.dates(src, "FL_DATE").orderBy("date_id_pk")
    val rows = got.collect()
    assert(rows.length === 4)
    // 2018-08-06 Monday: workday, not weekend, Q3
    assert(rows(0).getAs[Boolean]("is_work_day"))
    assert(!rows(0).getAs[Boolean]("is_weekday"))
    assert(rows(0).getAs[Int]("quarter") === 3)
    // 2018-08-11 Saturday / 2018-08-12 Sunday: weekend
    assert(!rows(1).getAs[Boolean]("is_work_day"))
    assert(rows(2).getAs[Boolean]("is_weekday"))
    // 2018-11-01: Q4 intended (the faithful formula's 3 is in OpsSpec P18)
    assert(rows(3).getAs[Int]("quarter") === 4)
  }
}
