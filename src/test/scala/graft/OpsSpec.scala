package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.ops.ColumnOps._

/** Unit specs for the scalar column expressions (SURVEY.md §2.2). */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c).head.get(0)

  test("P4-P6 airport description parsing incl. default branches") {
    val df = Seq(
      "Afognak Lake, AK: Afognak Lake Airport", // city, ST: name
      "Abakan, Russia: Abakan Airport",         // non-US country
      "NoDelimitersHere"                        // default branches
    ).toDF("d").select(
      airportName($"d").as("name"),
      airportCity($"d").as("city"),
      airportCountry($"d").as("country"))
    val rows = df.collect()
    assert(rows(0) === Row("Afognak Lake Airport", "Afognak Lake", "United States"))
    assert(rows(1) === Row("Abakan Airport", "Abakan", "Russia"))
    assert(rows(2) === Row("Not specified", "Not specified", "Not specified"))
  }

  test("P7-P8 carrier parsing keeps the faithful leading space") {
    val df = Seq("Mackey International Inc.: MAC", "Comma, Yes: XX")
      .toDF("d").select(
        carrierName($"d").as("name"), carrierShortcut($"d").as("shortcut"))
    val rows = df.collect()
    assert(rows(0) === Row("Not specified", " MAC")) // no comma -> quirk
    assert(rows(1) === Row("Comma", " XX"))
  }

  test("P14 faithful vs intended HHMM->minutes") {
    // 1230 -> faithful 1230%60 + 12*60 = 30+720 (agrees with intended here)
    assert(one(hhmmToMinutesFaithful(lit(1230L))) === 750L)
    assert(one(hhmmToMinutes(lit(1230L))) === 750L)
    // 130 (01:30) -> faithful diverges: 130%60=10 + 60 = 70; intended 90
    assert(one(hhmmToMinutesFaithful(lit(130L))) === 70L)
    assert(one(hhmmToMinutes(lit(130L))) === 90L)
  }

  test("P15 Python floor-div/positive-mod delay arithmetic") {
    // ARR_TIME=1000, ARR_DELAY=-5: python (-5//60)*100 + (-5%60) = -100+55
    assert(one(minutesDeltaToHhmm(lit(1000L), lit(-5L))) === 955L)
    // positive delay 75: (75//60)*100 + 75%60 = 100+15
    assert(one(minutesDeltaToHhmm(lit(1000L), lit(75L))) === 1115L)
  }

  test("P17 weekday Mon=0 and weekend flags") {
    val d = to_date(lit("2026-08-09")) // a Sunday
    assert(one(weekdayMon0(d)) === 6)
    assert(one(isWeekend(d)) === true)
    val m = to_date(lit("2026-08-10")) // Monday
    assert(one(weekdayMon0(m)) === 0)
    assert(one(isWorkDay(m)) === true)
  }

  test("P18 faithful quarter bug vs calendar quarter") {
    val march = to_date(lit("2026-03-15"))
    assert(one(quarterFaithful(march)) === 1) // int(3/4)+1 = 1 (bug: Q1 not Q1? calendar Q1 — same)
    val july = to_date(lit("2026-07-15"))
    assert(one(quarterFaithful(july)) === 2)  // int(7/4)+1 = 2, calendar says 3
    assert(one(quarterIntended(july)) === 3)
    val november = to_date(lit("2018-11-01"))
    assert(one(quarterFaithful(november)) === 3) // int(11/4)+1 = 3, calendar says 4
    assert(one(quarterIntended(november)) === 4)
  }

  test("P19 time-of-day boundaries") {
    val buckets = Seq(0, 5, 6, 11, 12, 17, 18, 21, 22, 23)
      .toDF("h").select(timeOfDay($"h")).as[String].collect()
    assert(buckets === Seq("night", "night", "morning", "morning",
      "afternoon", "afternoon", "evening", "evening", "night", "night"))
  }

  test("P20 surrogate keys are dense, zero-based, deterministic") {
    val df = Seq("b", "a", "c").toDF("k")
    val keyed = withSurrogateKey(df, "id", $"k").orderBy("id")
      .as[(String, Long)].collect()
    assert(keyed === Seq(("a", 0L), ("b", 1L), ("c", 2L)))
  }

  test("factSurrogateKey assigns unique dense ids at any partitioning") {
    val df = spark.range(0, 1000).repartition(7).toDF("v")
    val keyed = factSurrogateKey(df, "rid")
    assert(keyed.select("rid").distinct().count() === 1000)
    assert(keyed.agg(min("rid"), max("rid")).head === Row(0L, 999L))
  }
}
