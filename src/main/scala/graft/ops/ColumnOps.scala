package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.DataFrame

/** Reusable column expressions re-implementing the reference's per-row
  * Python scalar logic as codegen'd Spark built-ins.
  *
  * Reference: L3ni0/Aiports_data_warehouse_ETL
  * `dags/extract_and_tranform.py` (ET) — see SURVEY.md §2.2 (P1-P20).
  * All functions are pure `Column` expressions: no UDFs anywhere, so every
  * operator stays inside whole-stage codegen and Catalyst can constant-fold,
  * push down and prune through them.
  */
object ColumnOps {

  // ---------------------------------------------------------------- P4-P6
  // Airport "City, ST: Airport Name" description parsing (ET:66-91).

  /** P4 — airport name: text after the last ':', trimmed; 'Not specified'
    * when the description has no ':' (ET:66-70,89). */
  def airportName(desc: Column): Column =
    when(desc.contains(":"), trim(element_at(split(desc, ":"), -1)))
      .otherwise(lit("Not specified"))

  /** P5 — airport city: text before the first ',', trimmed; 'Not specified'
    * when the description has no ',' (ET:72-76,90). */
  def airportCity(desc: Column): Column =
    when(desc.contains(","), trim(split(desc, ",").getItem(0)))
      .otherwise(lit("Not specified"))

  /** P6 — airport country (ET:78-87,91): 'Not specified' when no ':';
    * else `split(':')[0].split(',')[1].strip()`, and length<=2 (a US state
    * code) -> 'United States'. (A colon-without-comma description raises
    * IndexError in the reference; here it safely falls into the
    * 'United States' branch — documented divergence.) */
  def airportCountry(desc: Column): Column = {
    // `get` (0-based) returns null out-of-bounds — ANSI-safe, unlike
    // element_at/getItem which throw under Spark 4's default ANSI mode.
    val c = trim(get(split(get(split(desc, ":"), lit(0)), ","), lit(1)))
    when(!desc.contains(":"), lit("Not specified"))
      .when(length(c) > 2, c)
      .otherwise(lit("United States"))
  }

  // ---------------------------------------------------------------- P7-P8
  // Carrier "Name: SHORTCUT" description parsing (ET:104-119).

  /** P7 — carrier name: text before first ','; 'Not specified' if no ','
    * (faithful to ET:104-109 incl. the quirk that comma-less descriptions
    * become 'Not specified'). */
  def carrierName(desc: Column): Column =
    when(desc.contains(","), split(desc, ",").getItem(0))
      .otherwise(lit("Not specified"))

  /** P8 — carrier shortcut: text after first ':' — faithfully KEEPS the
    * leading space (ET:111-116; visible in
    * curated/air_carriers_transformed_data.csv:2). */
  def carrierShortcut(desc: Column): Column =
    when(desc.contains(":"), split(desc, ":").getItem(1))
      .otherwise(lit("Not specified"))

  // ---------------------------------------------------------------- P9/P14/P15
  // Time codecs.

  /** P9 — zero-padded "HH:MM" from integer hour/minute (ET:229-236). */
  def fullTime(hour: Column, minute: Column): Column =
    format_string("%02d:%02d", hour, minute)

  /** P14 faithful — the reference's HHMM->minutes formula
    * `t % 60 + (t // 100) * 60` (ET:316-321). NOTE: `% 60` is a reference
    * bug (intended `% 100`); wrong whenever HHMM%100 != HHMM%60. */
  def hhmmToMinutesFaithful(t: Column): Column =
    (t % 60) + floor(t / 100).cast(LongType) * 60

  /** P14 intended — HHMM int -> minutes-since-midnight. */
  def hhmmToMinutes(t: Column): Column =
    (t % 100) + floor(t / 100).cast(LongType) * 60

  /** P15 — `CRS_ARR_TIME = ARR_TIME + (ARR_DELAY // 60)*100 + ARR_DELAY % 60`
    * (ET:315). Python floor-div/mod semantics: floor toward -inf and
    * non-negative modulo — hence `floor` + `pmod`, not Spark's `/` and `%`. */
  def minutesDeltaToHhmm(arrTime: Column, arrDelay: Column): Column =
    arrTime + floor(arrDelay / 60).cast(LongType) * 100 + pmod(arrDelay, lit(60))

  // ---------------------------------------------------------------- P16-P18
  // Date components.

  /** P16 — year/month/day from a DateType column (ET:133-135 splits the
    * "YYYY-MM-DD" string by hand; we parse properly). */
  def dateYear(d: Column): Column  = year(d)
  def dateMonth(d: Column): Column = month(d)
  def dateDay(d: Column): Column   = dayofmonth(d)

  /** P17 — Python `date.weekday()`: Monday=0..Sunday=6.
    * Spark `dayofweek` is Sunday=1..Saturday=7, so shift. */
  def weekdayMon0(d: Column): Column = (dayofweek(d) + 5) % 7

  /** P17 — weekend flag: weekday > 4 i.e. Sat/Sun (ET:147-154). */
  def isWeekend(d: Column): Column = weekdayMon0(d) > 4
  def isWorkDay(d: Column): Column = !isWeekend(d)

  /** P18 faithful — the reference's quarter `int(month/4)+1` (ET:157).
    * Diverges from the calendar quarter for months 3, 7 and 11. */
  def quarterFaithful(d: Column): Column =
    (floor(month(d) / 4) + 1).cast(IntegerType)

  /** P18 intended — calendar quarter. */
  def quarterIntended(d: Column): Column = quarter(d)

  // ---------------------------------------------------------------- P19
  /** Time-of-day bucket from hour (ET:206-211,239):
    * 6-11 morning, 12-17 afternoon, 18-21 evening, else night. */
  def timeOfDay(hour: Column): Column =
    when(hour.between(6, 11), "morning")
      .when(hour.between(12, 17), "afternoon")
      .when(hour.between(18, 21), "evening")
      .otherwise("night")

  // ---------------------------------------------------------------- P20
  /** Surrogate key from position (ET:92,262,287,314): the pandas `df.index`
    * replacement. A distributed engine has no ambient row order, so the key
    * is pinned to an explicit natural-key ordering via `row_number`.
    *
    * SCALE NOTE: a single unpartitioned window is a global sort onto one
    * task — correct and fine for dimension tables (<10M rows), the only
    * tables that carry a positional key. The fact's positional key in the
    * reference (ET:314) is the delay foreign key, which
    * [[graft.fact.FlightFact]] recovers by a value join (SURVEY.md J6).
    */
  def withSurrogateKey(df: DataFrame, keyName: String, orderBy: Column*): DataFrame =
    df.withColumn(keyName,
      row_number().over(Window.orderBy(orderBy: _*)).cast(LongType) - 1)
}
