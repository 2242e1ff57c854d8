package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality rule engine (SURVEY.md §2.9 Q1-Q7; reference
  * check_*_data_validity tasks, ET:501-700).
  *
  * The reference *prints* pass/fail per rule; this engine returns a
  * violation-count report DataFrame so callers can assert. All rules for a
  * table evaluate in ONE aggregation pass over the data (a single scan +
  * partial/final agg — no per-rule scans), which is what makes a 100 TB
  * quality sweep affordable.
  */
object Quality {

  sealed trait Rule {
    def name: String
    /** Aggregate expression counting violating rows (0 == pass). */
    def violations: Column
  }

  /** Q* "pk unique": count - countDistinct (null-safe: nulls also violate). */
  final case class Unique(col0: String) extends Rule {
    val name = s"${col0}_unique"
    def violations: Column =
      (count(lit(1)) - count_distinct(col(col0))).cast("long")
  }
  final case class NotNull(col0: String) extends Rule {
    val name = s"${col0}_not_null"
    def violations: Column = count(when(col(col0).isNull, 1))
  }
  final case class NonNegative(col0: String) extends Rule {
    val name = s"${col0}_non_negative"
    def violations: Column = count(when(col(col0) < 0, 1))
  }
  /** Exclusive range (lo, hi) — the reference's `0 < d < 32` style checks.
    * NULL values PASS silently: `!(NULL > lo && NULL < hi)` is NULL, and
    * `count(when(NULL, 1))` skips it — by design, null-ness is [[NotNull]]'s
    * job. A preset that means "present AND in range" must compose
    * `NotNull(c)` alongside `InRange(c, lo, hi)` deliberately. */
  final case class InRange(col0: String, lo: Double, hi: Double) extends Rule {
    val name = s"${col0}_in_range"
    def violations: Column =
      count(when(!(col(col0) > lo && col(col0) < hi), 1))
  }
  final case class Matches(col0: String, regex: String) extends Rule {
    val name = s"${col0}_matches"
    def violations: Column = count(when(!col(col0).rlike(regex), 1))
  }
  /** Custom predicate rule — `pred` marks VALID rows. */
  final case class Satisfies(name: String, pred: Column) extends Rule {
    def violations: Column = count(when(!pred, 1))
  }

  /** Evaluate all rules in one scan; returns (rule_name, violations) rows. */
  def report(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "no rules")
    val aggs = rules.map(r => r.violations.as(r.name))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // melt wide -> long with stack (still a single row in the wide form)
    val stackExpr = rules.map(r => s"'${r.name}', `${r.name}`").mkString(", ")
    wide.selectExpr(
      s"stack(${rules.size}, $stackExpr) as (rule_name, violations)")
  }

  /** True iff every rule passes (drives assertions in tests/pipelines). */
  def passes(df: DataFrame, rules: Seq[Rule]): Boolean =
    report(df, rules).where(col("violations") > 0).isEmpty

  /** The reference's per-table rule sets, with intended semantics
    * (divergences from its buggy ranges documented in SURVEY.md §2.11). */
  object presets {
    import org.apache.spark.sql.functions.{col => c}

    /** Q2 date dim (ET:541-591) — intended ranges (bug #7 rejected Q4). */
    def dateDim: Seq[Rule] = Seq(
      Unique("date_id_pk"), NonNegative("date_id_pk"),
      InRange("day", 0, 32), InRange("month", 0, 13),
      Satisfies("year_not_future", c("year") <= year(current_date())),
      InRange("quarter", 0, 5),
      NotNull("full_date"))

    /** Q3 airports (ET:593-619). The code must be unique too: the fact
      * joins airports on it, so a code with two descriptions (two rows,
      * two ids) would publish every flight from or to it twice. */
    def airportDim: Seq[Rule] = Seq(
      Unique("airport_id_pk"), Unique("airport_code"),
      NonNegative("airport_id_pk"),
      Satisfies("airport_code_len3", length(c("airport_code")) === 3),
      Satisfies("airport_code_upper_or_numeric",
        c("airport_code") === upper(c("airport_code"))))

    /** Q5 delays (ET:648-667). */
    def delayDim: Seq[Rule] =
      Unique("delay_id_pk") +: Seq(
        "carrier_delay", "weather_delay", "nas_delay", "security_delay",
        "late_aircraft_delay").map(NonNegative(_))

    /** Q6 time dim (ET:669-700). */
    def timeDim: Seq[Rule] = Seq(
      Unique("time_id_pk"),
      Satisfies("hour_range", c("hour") >= 0 && c("hour") < 24),
      Matches("full_time", "^\\d{2}:\\d{2}$"),
      Satisfies("time_of_the_day_nonempty", length(c("time_of_the_day")) > 0))
  }
}
