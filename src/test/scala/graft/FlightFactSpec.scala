package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.dims.Dims
import graft.fact.FlightFact
import graft.quality.Quality
import graft.schemas.Schemas

/** End-to-end star-schema assembly over a synthetic BTS-shaped fact source
  * (FIXTURES.md §A3) — exercises J1-J3 intended keys, J6 value join, P14/P15
  * encodings, and the quality presets over the built dims.
  */
class FlightFactSpec extends SparkSpec {

  private lazy val flightsRaw = {
    val n = 200
    val rows = (0 until n).map { i =>
      val date = f"2018-08-${(i % 28) + 1}%02d"
      val origin = Seq("JFK", "LAX", "ORD")(i % 3)
      val dest = Seq("LAX", "ORD", "JFK")(i % 3)
      val nullify = i % 7 == 0
      // a literal NaN in the CSV (the reader's nanValue) is missing, like
      // NULL: it must key the delay dim and the fact's FK join the same way
      val nanDelay = i % 11 == 3
      val nanCrs = i % 13 == 4
      val nanArr = i % 17 == 6
      Row(
        date, 19000L + (i % 5), s"N$i", 100L + i,
        1L, 1L, 1L, origin, 2L, 2L, 2L, dest,
        900L + (i % 60),                                  // CRS_DEP_TIME
        if (nullify) null else 905L + (i % 60): Any,      // DEP_TIME
        if (nullify) null else 5.0: Any, 5.0,             // DEP_DELAY(_NEW)
        if (nullify) null else 1130L: Any,                // ARR_TIME
        if (nullify) null else if (nanArr) Double.NaN     // ARR_DELAY
        else (i % 90) - 30.0: Any, 0.0,                   // ARR_DELAY_NEW
        0.0, null,                                        // CANCELLED, CODE
        if (nanCrs) Double.NaN else 150.0,                // CRS_ELAPSED
        if (nullify) null else 155.0: Any,                // ACTUAL_ELAPSED
        if (nullify) null else if (nanDelay) Double.NaN   // CARRIER_DELAY
        else 3.0: Any,
        0.0, 1.0, 0.0, if (nullify) null else 2.0: Any,   // other delays
        null)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.flightsRaw)
  }

  private lazy val airportDim = {
    import spark.implicits._
    Dims.airports(Seq(
      ("JFK", "New York, NY: John F. Kennedy International"),
      ("LAX", "Los Angeles, CA: Los Angeles International"),
      ("ORD", "Chicago, IL: Chicago O'Hare International"))
      .toDF("Code", "Description"))
  }

  private lazy val dateDim = Dims.dates(flightsRaw, "FL_DATE")
  private lazy val delayDim = Dims.delays(flightsRaw)
  private lazy val fact =
    FlightFact.build(flightsRaw, airportDim, dateDim, delayDim)

  test("fact preserves row count and resolves airport FKs on intended keys") {
    assert(fact.count() === 200)
    // Build a fact over only ORIGIN=JFK/DEST=LAX rows: arrival fk must be
    // JFK's id and destination fk LAX's id on EVERY row (the reference's bug
    // would put JFK in both).
    val jfk = airportDim.where("airport_code = 'JFK'")
      .head.getAs[Long]("airport_id_pk")
    val lax = airportDim.where("airport_code = 'LAX'")
      .head.getAs[Long]("airport_id_pk")
    val sub = FlightFact.build(flightsRaw.where("ORIGIN = 'JFK'"),
      airportDim, dateDim, delayDim)
    assert(sub.where(col("arrival_airport_id_fk") === jfk).count() === sub.count())
    assert(sub.where(col("destination_airport_id_fk") === lax).count() === sub.count())
    assert(sub.count() > 0)
  }

  test("every date FK resolves (intended FL_DATE key, not the ORIGIN bug)") {
    assert(fact.where(col("date_id_fk").isNull).count() === 0)
  }

  test("delay value-join FK resolves for every row and round-trips values") {
    assert(fact.where(col("delay_id_fk").isNull).count() === 0)
    // round-trip: joining the dim back by fk must land on the imputed values
    val joined = fact.join(delayDim,
      fact("delay_id_fk") === delayDim("delay_id_pk"))
    assert(joined.count() === 200)
    assert(joined.where(col("nas_delay") === 1.0).count() === 200)
  }

  test("a NaN ARR_DELAY encodes like a missing one instead of failing " +
      "the load") {
    import spark.implicits._
    val nanRows = flightsRaw.where(isnan(col("ARR_DELAY")))
    assert(nanRows.count() === 11)
    def finals(raw: DataFrame): Seq[Long] =
      FlightFact.build(raw, airportDim, dateDim, delayDim)
        .select("arrivel_final_time_fk").as[Long].collect().sorted.toSeq
    assert(finals(nanRows) ===
      finals(nanRows.withColumn("ARR_DELAY", lit(null).cast(DoubleType))))
    assert(fact.collect().length === 200)
  }

  test("quality presets pass on the built dimensions") {
    assert(Quality.passes(airportDim, Quality.presets.airportDim))
    assert(Quality.passes(dateDim, Quality.presets.dateDim))
    assert(Quality.passes(delayDim, Quality.presets.delayDim))
    assert(Quality.passes(Dims.time(spark), Quality.presets.timeDim))
  }

  test("cancellation dim dedups pairs") {
    val c = Dims.cancellations(flightsRaw)
    assert(c.count() === 1) // all rows share (0.0, null)
  }
}
