package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dims.Dims
import graft.delta.Incremental
import graft.ops.ColumnOps._
import graft.quality.Quality
import graft.sources.Sources

/** One named query per operator family from SURVEY.md §2, expressed over the
  * driver testdata (TESTDATA.md) with a DuckDB-runnable ANSI oracle.
  *
  * Cross-engine parity rules used throughout (Spark 4 vs DuckDB 1.0):
  *  - Aggregated money/quantity columns are summed as DECIMAL(38,4): decimal
  *    addition is exact and order-independent, so results are identical no
  *    matter how partitions combine (doubles would drift with shuffle order).
  *  - DECIMAL columns leave the query as fixed-scale STRINGS (`decStr` /
  *    `CAST(... AS VARCHAR)`): a harness that reads Spark parquet natively
  *    sees Decimal('123.4500') while a DuckDB result fetched through pandas
  *    degrades to float64 123.45 — same value, different canonical text, so
  *    a value-hash compare diverges. Both engines render DECIMAL(38,4) as
  *    identical plain fixed-4dp text ("123.4500", verified incl. zero,
  *    negatives, and >1e15 magnitudes), so the string boundary is exact and
  *    engine-portable while the aggregation underneath stays decimal.
  *    (Cast-to-DOUBLE was rejected: Spark converts via BigDecimal with one
  *    correct rounding, DuckDB scales an int128 then divides — 1-ulp
  *    divergence at large magnitudes, e.g. q89's sum_price2 ~4e14.)
  *  - Every query has a deterministic ORDER BY with a unique tiebreaker.
  *  - DuckDB `dayofweek` is Sunday=0 (Spark's is Sunday=1); both sides are
  *    normalized to Python's Monday=0.
  *  - No nulls in sort keys (Spark default NULLS FIRST vs DuckDB NULLS LAST).
  */
object Relational {

  final case class Q(name: String,
                     run: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(s, dir, name)

  private val dec: DecimalType = DecimalType(38, 4)

  /** Decimal output boundary: fixed-scale text (see parity rules above). */
  private[queries] def decStr(c: Column): Column = c.cast(StringType)

  /** TPC-H Q3-flavoured revenue query — identical text runs on both engines
    * (VARCHAR(64) parses on both; Spark treats it as STRING). The ordering
    * happens on the DECIMAL value inside the subquery; only the projected
    * output is text. */
  val sqlQ3: String =
    """SELECT l_orderkey, CAST(revenue_d AS VARCHAR(64)) AS revenue, n_lines
      |FROM (
      |  SELECT l_orderkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS revenue_d,
      |    count(*) AS n_lines
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  GROUP BY l_orderkey
      |  ORDER BY revenue_d DESC, l_orderkey
      |  LIMIT 10) t
      |ORDER BY revenue_d DESC, l_orderkey""".stripMargin

  val all: Seq[Q] = Seq(

    // S1/P1/P2 + filter pushdown: scan-project-filter. Both the predicate and
    // the 4-col projection reach the parquet reader (PushedFilters/ReadSchema).
    Q("q01_scan_filter_project",
      (s, dir) => t(s, dir, "lineitem")
        .where(col("l_quantity") > 45 &&
          col("l_shipdate") >= lit("1997-01-01").cast(TimestampType))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
             |FROM lineitem
             |WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1997-01-01'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // P1-P3: select/reorder, drop, rename — the reference's column surgery
    // (ET:93-97,121-122,259-283) as an explicit battery.
    Q("q00_project_rename",
      (s, dir) => t(s, dir, "part")
        .withColumnRenamed("p_brand", "brand")
        .withColumnRenamed("p_type", "category")
        .drop("p_retailprice", "p_size")
        .select("p_partkey", "brand", "category", "p_name")
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_brand AS brand, p_type AS category, p_name
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // P4-P6: airport-description parsing semantics (ET:66-91) over a
    // synthesized "City, ST: Name"-shaped string; every 10th row exercises
    // the no-delimiter default branches.
    Q("q02_parse_airport_desc",
      (s, dir) => {
        val src = t(s, dir, "part").withColumn("d",
          when(col("p_partkey") % 10 === 0, col("p_name"))
            .otherwise(concat(col("p_name"), lit(", "), col("p_brand"),
              lit(": "), upper(col("p_type")))))
        src.select(
          col("p_partkey"),
          airportName(col("d")).as("name"),
          airportCity(col("d")).as("city"),
          airportCountry(col("d")).as("country"))
          .orderBy("p_partkey")
      },
      Some("""WITH src AS (
             |  SELECT p_partkey,
             |         CASE WHEN p_partkey % 10 = 0 THEN p_name
             |              ELSE p_name || ', ' || p_brand || ': ' || upper(p_type)
             |         END AS d
             |  FROM part)
             |SELECT p_partkey,
             |  CASE WHEN contains(d, ':') THEN trim(split_part(d, ':', -1))
             |       ELSE 'Not specified' END AS name,
             |  CASE WHEN contains(d, ',') THEN trim(split_part(d, ',', 1))
             |       ELSE 'Not specified' END AS city,
             |  CASE WHEN NOT contains(d, ':') THEN 'Not specified'
             |       WHEN length(trim(split_part(split_part(d, ':', 1), ',', 2))) > 2
             |       THEN trim(split_part(split_part(d, ':', 1), ',', 2))
             |       ELSE 'United States' END AS country
             |FROM src ORDER BY p_partkey""".stripMargin)),

    // P7-P8: carrier "Name: SHORTCUT" parsing (ET:104-119), incl. the
    // faithful leading-space quirk on shortcut.
    Q("q03_parse_carrier_desc",
      (s, dir) => {
        val src = t(s, dir, "customer").withColumn("d",
          when(col("c_custkey") % 7 === 0, col("c_name"))
            .otherwise(concat(col("c_name"), lit(", Inc."), lit(": "),
              col("c_mktsegment"))))
        src.select(
          col("c_custkey"),
          carrierName(col("d")).as("name"),
          carrierShortcut(col("d")).as("shortcut"))
          .orderBy("c_custkey")
      },
      Some("""WITH src AS (
             |  SELECT c_custkey,
             |         CASE WHEN c_custkey % 7 = 0 THEN c_name
             |              ELSE c_name || ', Inc.' || ': ' || c_mktsegment
             |         END AS d
             |  FROM customer)
             |SELECT c_custkey,
             |  CASE WHEN contains(d, ',') THEN split_part(d, ',', 1)
             |       ELSE 'Not specified' END AS name,
             |  CASE WHEN contains(d, ':') THEN split_part(d, ':', 2)
             |       ELSE 'Not specified' END AS shortcut
             |FROM src ORDER BY c_custkey""".stripMargin)),

    // P9/P14/P15: time codecs — HHMM<->minutes (faithful ET bug `% 60` and
    // intended `% 100`) and Python floor-div/positive-mod delay arithmetic.
    Q("q04_time_codec",
      (s, dir) => {
        val ev = Sources.events(s, dir)
          .withColumn("hhmm", (hour(col("ts")) * 100 + minute(col("ts"))).cast(IntegerType))
          .withColumn("delay", (col("event_id") % 120 - 60).cast(LongType))
        ev.select(
          col("event_id"),
          col("hhmm"),
          hhmmToMinutesFaithful(col("hhmm")).cast(LongType).as("minutes_faithful"),
          hhmmToMinutes(col("hhmm")).cast(LongType).as("minutes_intended"),
          fullTime(hour(col("ts")), minute(col("ts"))).as("full_time"),
          minutesDeltaToHhmm(col("hhmm").cast(LongType), col("delay"))
            .cast(LongType).as("crs_arr_hhmm"))
          .orderBy("event_id")
      },
      Some("""WITH src AS (
             |  SELECT event_id,
             |         CAST(hour(ts)*100 + minute(ts) AS INT) AS hhmm,
             |         CAST(event_id % 120 - 60 AS BIGINT) AS delay,
             |         CAST(hour(ts) AS INT) AS h, CAST(minute(ts) AS INT) AS m
             |  FROM events)
             |SELECT event_id, hhmm,
             |  CAST(hhmm % 60 + CAST(floor(hhmm / 100.0) AS BIGINT) * 60 AS BIGINT) AS minutes_faithful,
             |  CAST(hhmm % 100 + CAST(floor(hhmm / 100.0) AS BIGINT) * 60 AS BIGINT) AS minutes_intended,
             |  printf('%02d:%02d', h, m) AS full_time,
             |  CAST(hhmm + CAST(floor(delay / 60.0) AS BIGINT) * 100
             |       + ((delay % 60) + 60) % 60 AS BIGINT) AS crs_arr_hhmm
             |FROM src ORDER BY event_id""".stripMargin)),

    // P16-P18: date components + weekday flags + faithful-vs-intended quarter.
    Q("q05_date_parts",
      (s, dir) => {
        val d = to_date(col("o_orderdate"))
        t(s, dir, "orders").select(
          col("o_orderkey"),
          dateYear(d).as("yr"),
          dateMonth(d).as("mon"),
          dateDay(d).as("dom"),
          quarterIntended(d).as("qtr"),
          quarterFaithful(d).as("qtr_ref"),
          weekdayMon0(d).as("wd"),
          isWeekend(d).as("is_weekend"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CAST(year(o_orderdate) AS INT) AS yr,
             |  CAST(month(o_orderdate) AS INT) AS mon,
             |  CAST(day(o_orderdate) AS INT) AS dom,
             |  CAST(quarter(o_orderdate) AS INT) AS qtr,
             |  CAST(floor(month(o_orderdate) / 4.0) + 1 AS INT) AS qtr_ref,
             |  CAST((dayofweek(o_orderdate) + 6) % 7 AS INT) AS wd,
             |  ((dayofweek(o_orderdate) + 6) % 7) > 4 AS is_weekend
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // P19: time-of-day bucketing.
    Q("q06_time_of_day",
      (s, dir) => Sources.events(s, dir).select(
        col("event_id"),
        hour(col("ts")).as("hr"),
        timeOfDay(hour(col("ts"))).as("time_of_the_day"))
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(hour(ts) AS INT) AS hr,
             |  CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN 'morning'
             |       WHEN hour(ts) BETWEEN 12 AND 17 THEN 'afternoon'
             |       WHEN hour(ts) BETWEEN 18 AND 21 THEN 'evening'
             |       ELSE 'night' END AS time_of_the_day
             |FROM events ORDER BY event_id""".stripMargin)),

    // P20/A2: deterministic surrogate keys over a distinct projection.
    Q("q07_surrogate_key",
      (s, dir) => withSurrogateKey(
        t(s, dir, "customer").select("c_mktsegment").distinct(),
        "seg_id_pk", col("c_mktsegment"))
        .select("seg_id_pk", "c_mktsegment")
        .orderBy("seg_id_pk"),
      Some("""SELECT CAST(row_number() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT) AS seg_id_pk,
             |       c_mktsegment
             |FROM (SELECT DISTINCT c_mktsegment FROM customer)
             |ORDER BY seg_id_pk""".stripMargin)),

    // G1: the 1440-minute time-dimension generator (ET:213-252) — pure
    // `spark.range`, zero input, whole-stage codegen.
    Q("q08_time_dim_generator",
      (s, _) => Dims.time(s).orderBy("time_id_pk"),
      Some("""SELECT CAST(range AS BIGINT) AS time_id_pk,
             |  printf('%02d:%02d', CAST(range // 60 AS INT), CAST(range % 60 AS INT)) AS full_time,
             |  CAST(range // 60 AS INT) AS hour,
             |  CASE WHEN range // 60 BETWEEN 6 AND 11 THEN 'morning'
             |       WHEN range // 60 BETWEEN 12 AND 17 THEN 'afternoon'
             |       WHEN range // 60 BETWEEN 18 AND 21 THEN 'evening'
             |       ELSE 'night' END AS time_of_the_day
             |FROM range(0, 1440) ORDER BY time_id_pk""".stripMargin)),

    // G2: date-dimension builder (distinct -> derive -> surrogate key).
    Q("q09_date_dim",
      (s, dir) => Dims.dates(t(s, dir, "orders"), "o_orderdate")
        .orderBy("date_id_pk"),
      Some("""WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS full_date
             |           FROM orders WHERE o_orderdate IS NOT NULL)
             |SELECT CAST(row_number() OVER (ORDER BY full_date) - 1 AS BIGINT) AS date_id_pk,
             |  CAST(day(full_date) AS INT) AS day,
             |  CAST(month(full_date) AS INT) AS month,
             |  CAST(year(full_date) AS INT) AS year,
             |  ((dayofweek(full_date) + 6) % 7) <= 4 AS is_work_day,
             |  ((dayofweek(full_date) + 6) % 7) > 4 AS is_weekday,
             |  CAST(quarter(full_date) AS INT) AS quarter,
             |  full_date
             |FROM d ORDER BY date_id_pk""".stripMargin)),

    // J1/J2: fact->dimension left equi join; the dim side is an explicit
    // broadcast so the fact never shuffles (SURVEY.md §4.2).
    Q("q10_join_broadcast_dim",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val p = broadcast(t(s, dir, "part").select("p_partkey", "p_brand"))
        li.join(p, li("l_partkey") === p("p_partkey"), "left")
          .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, p_brand
             |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // J6: FK recovery by VALUE join — the distributed replacement for the
    // reference's positional `df.index` delay FK (bug #10).
    Q("q11_fk_value_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val dim = withSurrogateKey(
          li.select("l_returnflag", "l_linestatus").distinct(),
          "rf_ls_pk", col("l_returnflag"), col("l_linestatus"))
        li.join(broadcast(dim), Seq("l_returnflag", "l_linestatus"), "left")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("rf_ls_pk").as("rf_ls_fk"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""WITH dim AS (
             |  SELECT l_returnflag, l_linestatus,
             |         CAST(row_number() OVER (ORDER BY l_returnflag, l_linestatus) - 1 AS BIGINT) AS rf_ls_pk
             |  FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem))
             |SELECT l.l_orderkey, l.l_linenumber, dim.rf_ls_pk AS rf_ls_fk
             |FROM lineitem l LEFT JOIN dim
             |  ON l.l_returnflag = dim.l_returnflag AND l.l_linestatus = dim.l_linestatus
             |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin)),

    // J4: whole-row null-safe anti join — the incremental delta
    // (help_func.py:5-9). Oracle spells the same semantics with
    // NOT EXISTS + IS NOT DISTINCT FROM per column.
    Q("q12_delta_anti_join",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val accumulated = orders.where(col("o_orderkey") % 4 =!= 1)
        Incremental.delta(orders, accumulated).orderBy("o_orderkey")
      },
      Some {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        val eq = cols.map(c => s"a.$c IS NOT DISTINCT FROM o.$c").mkString(" AND ")
        s"""SELECT o.* FROM orders o
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM (SELECT * FROM orders WHERE o_orderkey % 4 <> 1) a
           |  WHERE $eq)
           |ORDER BY o.o_orderkey""".stripMargin
      }),

    // U1: delta + accumulated union append; the grouped totals must equal the
    // full table's — the oracle asserts the invariant old UNION delta == all.
    Q("q13_union_append",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val accumulated = orders.where(col("o_orderkey") % 4 =!= 1)
        accumulated.unionByName(Incremental.delta(orders, accumulated))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            decStr(sum(col("o_totalprice").cast(dec))).as("sum_total"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS sum_total
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // A1/A2: whole-row distinct.
    Q("q14_distinct",
      (s, dir) => t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A3/A4 + groupBy: TPC-H Q1-style aggregate; DECIMAL(38,4) sums are
    // exact and shuffle-order-independent (partial + final agg).
    Q("q15_agg_groupby",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          decStr(sum(col("l_quantity").cast(dec))).as("sum_qty"),
          decStr(sum(col("l_extendedprice").cast(dec))).as("sum_base_price"),
          decStr(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec)))
            .as("sum_disc_price"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_extendedprice")).as("max_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS VARCHAR) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS VARCHAR) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS VARCHAR) AS sum_disc_price,
             |  min(l_quantity) AS min_qty,
             |  max(l_extendedprice) AS max_price,
             |  count(*) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Q1-Q6: the data-quality rule engine — all rules in ONE scan via a
    // single aggregation, melted to a (rule_name, violations) report.
    Q("q16_quality_rules",
      (s, dir) => Quality.report(t(s, dir, "orders"), Seq(
        Quality.Unique("o_orderkey"),
        Quality.NotNull("o_custkey"),
        Quality.NonNegative("o_totalprice"),
        Quality.Satisfies("o_orderstatus_valid",
          col("o_orderstatus").isin("F", "O", "P")),
        Quality.Satisfies("o_orderdate_not_future",
          col("o_orderdate") <= lit("2050-01-01").cast(TimestampType))))
        .orderBy("rule_name"),
      Some("""SELECT * FROM (
             |  SELECT 'o_orderkey_unique' AS rule_name,
             |         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations FROM orders
             |  UNION ALL SELECT 'o_custkey_not_null',
             |         count(*) FILTER (WHERE o_custkey IS NULL) FROM orders
             |  UNION ALL SELECT 'o_totalprice_non_negative',
             |         count(*) FILTER (WHERE o_totalprice < 0) FROM orders
             |  UNION ALL SELECT 'o_orderstatus_valid',
             |         count(*) FILTER (WHERE NOT (o_orderstatus IN ('F','O','P'))) FROM orders
             |  UNION ALL SELECT 'o_orderdate_not_future',
             |         count(*) FILTER (WHERE NOT (o_orderdate <= TIMESTAMP '2050-01-01')) FROM orders
             |) ORDER BY rule_name""".stripMargin)),

    // L1 + sort: deterministic top-k (ORDER BY ... LIMIT with tiebreaker);
    // Spark plans TakeOrderedAndProject — no global sort materialized.
    Q("q17_topk",
      (s, dir) => t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice")
        .limit(10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // Window functions: per-group top-N via row_number.
    Q("q18_window_rank",
      (s, dir) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        t(s, dir, "customer")
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 3)
          .select("c_mktsegment", "rnk", "c_custkey", "c_acctbal")
          .orderBy("c_mktsegment", "rnk")
      },
      Some("""SELECT c_mktsegment, rnk, c_custkey, c_acctbal FROM (
             |  SELECT c_mktsegment, c_custkey, c_acctbal,
             |         CAST(row_number() OVER (PARTITION BY c_mktsegment
             |              ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rnk
             |  FROM customer)
             |WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin)),

    // ROLLUP (grouping sets); GROUPING() maps subtotal rows to '(all)' so no
    // nulls reach the sort keys (Spark/DuckDB null-ordering defaults differ).
    Q("q19_rollup",
      (s, dir) => t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          decStr(sum(col("l_quantity").cast(dec))).as("sum_qty"),
          grouping(col("l_returnflag")).as("g_rf"),
          grouping(col("l_linestatus")).as("g_ls"))
        .select(
          when(col("g_rf") === 1, "(all)").otherwise(col("l_returnflag")).as("rf"),
          when(col("g_ls") === 1, "(all)").otherwise(col("l_linestatus")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls"),
      Some("""SELECT
             |  CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)' ELSE l_returnflag END AS rf,
             |  CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)' ELSE l_linestatus END AS ls,
             |  count(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS VARCHAR) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),

    // Arbitrary GROUPING SETS (the generalization rollup/cube specialize):
    // both single-dimension margins without the grand total — a set
    // combination neither q19 nor q48 can express. One shuffle; Spark
    // expands sets map-side before the partial aggregate.
    Q("q87_grouping_sets",
      (s, dir) => t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          decStr(sum(col("l_quantity").cast(dec))).as("sum_qty"),
          grouping(col("l_returnflag")).as("g_rf"),
          grouping(col("l_linestatus")).as("g_ls"))
        .select(
          when(col("g_rf") === 1, "(all)").otherwise(col("l_returnflag")).as("rf"),
          when(col("g_ls") === 1, "(all)").otherwise(col("l_linestatus")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls"),
      Some("""SELECT
             |  CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)' ELSE l_returnflag END AS rf,
             |  CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)' ELSE l_linestatus END AS ls,
             |  count(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS VARCHAR) AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
             |                        (l_returnflag), (l_linestatus))
             |ORDER BY rf, ls""".stripMargin)),

    // §3.3 SQL passthrough: the SAME ANSI string runs through Catalyst and
    // DuckDB (temp views over the parquet tables).
    Q("q20_sql_passthrough",
      (s, dir) => {
        graft.warehouse.Warehouse.registerTestdata(s, dir)
        s.sql(sqlQ3)
      },
      Some(sqlQ3)),

    // Anti join (NOT EXISTS).
    Q("q21_anti_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey") &&
            o("o_orderpriority") === "1-URGENT", "left_anti")
          .select("c_custkey").orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey
             |                    AND o.o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),

    // Semi join (EXISTS with a correlated predicate).
    Q("q22_semi_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey") &&
            o("o_totalprice") > 100000, "left_semi")
          .select("c_custkey").orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
             |ORDER BY c_custkey""".stripMargin)),

    // INTERSECT (distinct set semantics).
    Q("q23_intersect",
      (s, dir) => t(s, dir, "lineitem").select("l_partkey")
        .intersect(t(s, dir, "part").where(col("p_size") > 25)
          .select(col("p_partkey").as("l_partkey")))
        .orderBy("l_partkey"),
      Some("""SELECT l_partkey FROM (
             |  SELECT l_partkey FROM lineitem
             |  INTERSECT
             |  SELECT p_partkey AS l_partkey FROM part WHERE p_size > 25)
             |ORDER BY l_partkey""".stripMargin)),

    // EXCEPT ALL (multiset difference — same semantics as Dataset.exceptAll).
    Q("q24_except_all",
      (s, dir) => t(s, dir, "lineitem").select("l_suppkey")
        .exceptAll(t(s, dir, "supplier").where(col("s_suppkey") % 2 === 0)
          .select(col("s_suppkey").as("l_suppkey")))
        .orderBy("l_suppkey"),
      Some("""SELECT l_suppkey FROM (
             |  SELECT l_suppkey FROM lineitem
             |  EXCEPT ALL
             |  SELECT s_suppkey AS l_suppkey FROM supplier WHERE s_suppkey % 2 = 0)
             |ORDER BY l_suppkey""".stripMargin))
  )

}
