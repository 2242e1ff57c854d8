package graft.dims

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.ColumnOps._

/** Star-schema dimension builders (SURVEY.md §2, dims; reference
  * dags/extract_and_tranform.py — ET).
  *
  * Every builder is a lazy DataFrame transformation built purely from
  * codegen'd built-ins; surrogate keys are pinned to explicit orderings
  * (the pandas `df.index` has no distributed equivalent — SURVEY.md §7.4).
  * Dimensions are small (<10k rows), so the single global `row_number`
  * window is deliberate and broadcast-join-friendly downstream.
  */
object Dims {

  /** AirportDim (ET:62-99): parse "City, ST: Airport Name" descriptions,
    * dedup, surrogate-key by code order (= file order: the raw file is
    * code-sorted, so ids match the reference's insertion-order index). */
  def airports(raw: DataFrame): DataFrame = {
    val parsed = raw
      .withColumn("name", airportName(col("Description")))
      .withColumn("city", airportCity(col("Description")))
      .withColumn("country", airportCountry(col("Description")))
      .withColumnRenamed("Code", "airport_code")
      .drop("Description")
      .dropDuplicates()
    withSurrogateKey(parsed, "airport_id_pk", col("airport_code"))
      .select("airport_id_pk", "airport_code", "name", "city", "country")
  }

  /** CarrierDim (ET:102-124): "Name: SHORTCUT" parsing; the natural key
    * `Code` is kept as the pk (ET:122 — reference reuses it, J5). */
  def carriers(raw: DataFrame): DataFrame =
    raw
      .withColumn("name", carrierName(col("Description")))
      .withColumn("shortcut", carrierShortcut(col("Description")))
      .withColumnRenamed("Code", "air_carrier_id_pk")
      .select("air_carrier_id_pk", "name", "shortcut")

  /** TimeDim generator (G1, ET:213-252): one row per minute of day.
    * `spark.range` replaces the 1440-iteration Python loop; entirely
    * deterministic, no input. */
  def time(spark: SparkSession): DataFrame =
    spark.range(0, 24 * 60)
      .withColumn("hour", (col("id") / 60).cast(IntegerType))
      .withColumn("minute", (col("id") % 60).cast(IntegerType))
      .select(
        col("id").as("time_id_pk"),
        fullTime(col("hour"), col("minute")).as("full_time"),
        col("hour"),
        timeOfDay(col("hour")).as("time_of_the_day"))

  /** DateDim (G2, ET:127-191): distinct flight dates -> components + flags +
    * surrogate key. `cap` mirrors the reference's `[:10]` dev-time truncation
    * (ET:184, documented bug #9); pass None for the intended "all dates".
    * The quarter is the calendar one; the reference's faithful quarter bug
    * (ET:157) is `ColumnOps.quarterFaithful`. */
  def dates(src: DataFrame, dateCol: String,
            cap: Option[Int] = None): DataFrame = {
    val d = col("full_date")
    val distinctDates = src
      .select(to_date(col(dateCol)).as("full_date"))
      .where(d.isNotNull).distinct()
    val capped = cap.fold(distinctDates)(n =>
      distinctDates.orderBy(d).limit(n))
    withSurrogateKey(capped, "date_id_pk", d)
      .select(
        col("date_id_pk"),
        dateDay(d).as("day"),
        dateMonth(d).as("month"),
        dateYear(d).as("year"),
        isWorkDay(d).as("is_work_day"),
        // faithful naming: the reference calls the weekend flag "is_weekday"
        isWeekend(d).as("is_weekday"),
        quarterIntended(d).as("quarter"),
        d)
  }

  /** CancellationDim (ET:256-266): distinct (CANCELLED, CANCELLATION_CODE)
    * pairs + surrogate key. */
  def cancellations(flightsRaw: DataFrame): DataFrame = {
    val pairs = flightsRaw
      .select(
        col("CANCELLED").as("is_canceled"),
        col("CANCELLATION_CODE").as("cancellation_code"))
      .dropDuplicates()
    withSurrogateKey(pairs, "cancelation_id_pk",
        col("is_canceled").asc_nulls_first, col("cancellation_code").asc_nulls_first)
      .select("cancelation_id_pk", "is_canceled", "cancellation_code")
  }

  /** Columns of the delay dimension's natural key (the 6 delay values). */
  val delayValueCols: Seq[String] = Seq(
    "carrier_delay", "weather_delay", "nas_delay",
    "security_delay", "late_aircraft_delay", "other_type_delay")

  /** A raw numeric flight column read as DOUBLE with a literal `NaN`
    * turned into NULL, so NaN and an empty cell are the same missing value
    * (the reference's pandas `fillna` view). */
  def nanAsNull(c: String): Column =
    nanvl(col(c).cast(DoubleType), lit(null).cast(DoubleType))

  /** The delay natural key computed from raw BTS flight columns (ET:269-288),
    * as (name, value) pairs in `delayValueCols` order: ACTUAL elapsed time
    * imputed from CRS, every input zero-filled, and other_type_delay =
    * ACTUAL - CRS. NULL and NaN are both missing, as in the reference's
    * pandas `fillna`, so a literal `NaN` in the CSV keys like an empty cell.
    * The one rule both the delay dimension and the fact's FK join use. */
  val delayValues: Seq[(String, Column)] = {
    def value(c: String): Column = nanAsNull(c)
    val crs = coalesce(value("CRS_ELAPSED_TIME"), lit(0.0))
    val actual = coalesce(value("ACTUAL_ELAPSED_TIME"),
      value("CRS_ELAPSED_TIME"), lit(0.0))
    val delays = Seq("CARRIER_DELAY", "WEATHER_DELAY", "NAS_DELAY",
      "SECURITY_DELAY", "LATE_AIRCRAFT_DELAY")
      .map(c => coalesce(value(c), lit(0.0)))
    delayValueCols.zip(delays :+ (actual - crs))
  }

  /** DelayDim (ET:269-288): dedup the 6 [[delayValues]], surrogate-key by
    * value order (the reference's positional `df.index` key dangles
    * post-dedup — bug #10; value-ordering is the deterministic distributed
    * replacement, and FlightFact recovers the FK by value join). */
  def delays(flightsRaw: DataFrame): DataFrame = {
    val values = flightsRaw
      .select(delayValues.map { case (n, v) => v.as(n) }: _*)
      .dropDuplicates()
    withSurrogateKey(values, "delay_id_pk", delayValueCols.map(col): _*)
      .select(("delay_id_pk" +: delayValueCols).map(col): _*)
  }
}
