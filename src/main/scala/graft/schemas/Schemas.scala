package graft.schemas

import scala.collection.immutable.ListMap
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._

/** Explicit StructTypes for every source, testdata and curated table.
  *
  * The reference infers all schemas via `pd.read_csv`
  * (dags/extract_and_tranform.py:45,51,58); a Spark engine declares them so
  * CSV parsing is single-pass (no inference scan) and Catalyst can prune
  * columns at the reader. Fact-source schema reconstructed in FIXTURES.md §A3
  * from column references at dags/extract_and_tranform.py:272-329.
  */
object Schemas {

  /** rawdata/Airports (FIXTURES.md §A1). */
  val airportsRaw: StructType = StructType(Seq(
    StructField("Code", StringType),
    StructField("Description", StringType)))

  /** rawdata/Air Carriers (FIXTURES.md §A2). */
  val carriersRaw: StructType = StructType(Seq(
    StructField("Code", LongType),
    StructField("Description", StringType)))

  /** rawdata/August 2018 Nationwide.csv — BTS on-time fact source
    * (FIXTURES.md §A3; absent blob, schema from column references). */
  val flightsRaw: StructType = StructType(Seq(
    StructField("FL_DATE", StringType),
    StructField("OP_CARRIER_AIRLINE_ID", LongType),
    StructField("TAIL_NUM", StringType),
    StructField("OP_CARRIER_FL_NUM", LongType),
    StructField("ORIGIN_AIRPORT_ID", LongType),
    StructField("ORIGIN_AIRPORT_SEQ_ID", LongType),
    StructField("ORIGIN_CITY_MARKET_ID", LongType),
    StructField("ORIGIN", StringType),
    StructField("DEST_AIRPORT_ID", LongType),
    StructField("DEST_AIRPORT_SEQ_ID", LongType),
    StructField("DEST_CITY_MARKET_ID", LongType),
    StructField("DEST", StringType),
    StructField("CRS_DEP_TIME", LongType),
    StructField("DEP_TIME", LongType),
    StructField("DEP_DELAY", DoubleType),
    StructField("DEP_DELAY_NEW", DoubleType),
    StructField("ARR_TIME", LongType),
    StructField("ARR_DELAY", DoubleType),
    StructField("ARR_DELAY_NEW", DoubleType),
    StructField("CANCELLED", DoubleType),
    StructField("CANCELLATION_CODE", StringType),
    StructField("CRS_ELAPSED_TIME", DoubleType),
    StructField("ACTUAL_ELAPSED_TIME", DoubleType),
    StructField("CARRIER_DELAY", DoubleType),
    StructField("WEATHER_DELAY", DoubleType),
    StructField("NAS_DELAY", DoubleType),
    StructField("SECURITY_DELAY", DoubleType),
    StructField("LATE_AIRCRAFT_DELAY", DoubleType),
    StructField("Unnamed: 28", StringType)))

  /** Curated star-schema outputs (FIXTURES.md §A4). */
  val airportDim: StructType = StructType(Seq(
    StructField("airport_id_pk", LongType, nullable = false),
    StructField("airport_code", StringType),
    StructField("name", StringType),
    StructField("city", StringType),
    StructField("country", StringType)))

  val carrierDim: StructType = StructType(Seq(
    StructField("air_carrier_id_pk", LongType, nullable = false),
    StructField("name", StringType),
    StructField("shortcut", StringType)))

  val timeDim: StructType = StructType(Seq(
    StructField("time_id_pk", LongType, nullable = false),
    StructField("full_time", StringType, nullable = false),
    StructField("hour", IntegerType, nullable = false),
    StructField("time_of_the_day", StringType, nullable = false)))

  val dateDim: StructType = StructType(Seq(
    StructField("date_id_pk", LongType, nullable = false),
    StructField("day", IntegerType),
    StructField("month", IntegerType),
    StructField("year", IntegerType),
    StructField("is_work_day", BooleanType),
    StructField("is_weekday", BooleanType),
    StructField("quarter", IntegerType),
    StructField("full_date", DateType)))

  val cancellationDim: StructType = StructType(Seq(
    StructField("cancelation_id_pk", LongType, nullable = false),
    StructField("is_canceled", DoubleType),
    StructField("cancellation_code", StringType)))

  val delayDim: StructType = StructType(
    StructField("delay_id_pk", LongType, nullable = false) +:
      Seq("carrier_delay", "weather_delay", "nas_delay", "security_delay",
        "late_aircraft_delay", "other_type_delay")
        .map(StructField(_, DoubleType, nullable = false)))

  val flightFact: StructType = StructType(Seq(
    StructField("air_carrier_id_fk", LongType),
    StructField("departure_delay", DoubleType),
    StructField("arrival_delay", DoubleType),
    StructField("arrival_airport_id_fk", LongType),
    StructField("destination_airport_id_fk", LongType),
    StructField("date_id_fk", LongType),
    StructField("delay_id_fk", LongType),
    StructField("departure_time_fk", LongType, nullable = false),
    StructField("departure_final_time_fk", LongType, nullable = false),
    StructField("arrival_time_fk", LongType, nullable = false),
    StructField("arrivel_final_time_fk", LongType, nullable = false)))

  /** The published star schema: each curated table under the directory and
    * view name `Pipeline.run` gives it. Stored tables read back with these
    * schemas made nullable (parquet readers relax nullability). */
  val star: ListMap[String, StructType] = ListMap(
    "flights" -> flightFact, "date" -> dateDim, "time" -> timeDim,
    "airports" -> airportDim, "air_carriers" -> carrierDim,
    "cancelations" -> cancellationDim, "delays" -> delayDim)

  /** The testdata tables (TESTDATA.md), each stored as
    * `<sfDir>/<name>.parquet`: the schemas of their [[Tables]] case
    * classes, nullable as a file read makes them. The dates are
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) in the files, so the case
    * classes hold them as `LocalDateTime` (TIMESTAMP_NTZ). `events` is
    * absent on purpose: its `ts` physical type has varied between
    * generations (see `Sources.events`). Lazy: the encoders derive the
    * schemas by reflection, which only the query path needs. */
  lazy val testdata: ListMap[String, StructType] = ListMap(
    "region" -> productSchema[Tables.Region],
    "nation" -> productSchema[Tables.Nation],
    "customer" -> productSchema[Tables.Customer],
    "supplier" -> productSchema[Tables.Supplier],
    "part" -> productSchema[Tables.Part],
    "orders" -> productSchema[Tables.Order],
    "lineitem" -> productSchema[Tables.Lineitem],
    "documents" -> productSchema[Tables.Document],
    "embeddings" -> productSchema[Tables.Embedding])

  private def productSchema[T <: Product : TypeTag]: StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case other => other
    }
    nullable(Encoders.product[T].schema).asInstanceOf[StructType]
  }
}
