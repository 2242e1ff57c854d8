package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.storage.StorageLevel

import graft.delta.Incremental
import graft.dims.Dims
import graft.fact.FlightFact
import graft.quality.Quality

/** The reference's entire Airflow DAG (SURVEY.md §3.1) in one Spark
  * session: extract -> dimension builds -> quality gates -> fact assembly
  * -> incremental delta -> curated sinks.
  *
  * The reference re-reads the raw month in every task and serializes every
  * task boundary through XCom/Postgres. [[build]] wires the tables as lazy
  * DataFrames over shared inputs, and [[run]] shares the frames that more
  * than one step reads: it persists the raw flights batch and the
  * airports, dates and delays dimensions (each read by the quality gate,
  * its own publish and the fact's broadcast FK joins), so one load parses
  * the flights CSV once and builds each dimension once. Those caches live
  * for one run: `run` unpersists them when it returns or fails, and only
  * the frames it cached itself — an input the caller cached stays cached.
  */
object Pipeline {

  /** All curated outputs of one run, still lazy. */
  final case class Warehouse(
      airports: DataFrame, carriers: DataFrame, time: DataFrame,
      dates: DataFrame, cancellations: DataFrame, delays: DataFrame,
      flights: DataFrame) {

    /** Every table under its published name (the keys of `Schemas.star`). */
    def byName: Seq[(String, DataFrame)] = Seq(
      "airports" -> airports, "air_carriers" -> carriers, "time" -> time,
      "date" -> dates, "cancelations" -> cancellations, "delays" -> delays,
      "flights" -> flights)
  }

  /** Build every curated table from the raw inputs (no I/O triggered). */
  def build(spark: SparkSession, flightsRaw: DataFrame,
            airportsRaw: DataFrame, carriersRaw: DataFrame): Warehouse = {
    val airports = Dims.airports(airportsRaw)
    val dates = Dims.dates(flightsRaw, "FL_DATE")
    val delays = Dims.delays(flightsRaw)
    Warehouse(
      airports = airports,
      carriers = Dims.carriers(carriersRaw),
      time = Dims.time(spark),
      dates = dates,
      cancellations = Dims.cancellations(flightsRaw),
      delays = delays,
      flights = FlightFact.build(flightsRaw, airports, dates, delays))
  }

  /** Quality gates for every dimension (single scan per table); returns the
    * union of violations — empty means the warehouse is publishable. */
  def qualityReport(w: Warehouse): DataFrame = {
    val reports = Seq(
      "airports" -> Quality.report(w.airports, Quality.presets.airportDim),
      "date" -> Quality.report(w.dates, Quality.presets.dateDim),
      "delays" -> Quality.report(w.delays, Quality.presets.delayDim),
      "time" -> Quality.report(w.time, Quality.presets.timeDim))
    reports.map { case (t, r) => r.withColumn("table", lit(t)) }
      .reduce(_ unionByName _)
      .select("table", "rule_name", "violations")
  }

  /** Incremental publish of one curated table: anti-join the accumulated
    * parquet, append only the delta (the reference's add_changes_to_* x6,
    * ET:333-499, with intended — not inverted — emptiness semantics).
    * Returns the rows appended, counted by an observation on the write
    * itself: one job, no persist, and exact under task retries.
    *
    * The append always runs, so a table's directory exists after its first
    * publish even when the table is empty. An empty delta leaves no rows on
    * disk and at most one schema-only part file (the write's first task
    * writes one when no task has rows). */
  def publishIncremental(spark: SparkSession, table: DataFrame,
                         path: String): Long = {
    val delta = readAccumulated(spark, path) match {
      case Some(acc) => Incremental.delta(table, acc)
      case None => table
    }
    val appended = Observation()
    delta.observe(appended, count(lit(1)).as("rows"))
      .write.mode("append").parquet(path)
    appended.get("rows").asInstanceOf[Long]
  }

  /** The accumulated table, or None when there is genuinely no data yet:
    * path absent, or present but with no readable parquet layout (an
    * interrupted first write leaving only _temporary raises
    * AnalysisException at schema inference). Anything else — transient FS
    * errors, corrupt footers at execution — PROPAGATES: treating those as
    * "first run" would append the whole table as duplicates. */
  private[graft] def readAccumulated(spark: SparkSession,
                                     path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val exists = p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    if (!exists) None
    else
      try Some(spark.read.parquet(path))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** Full run: build, assert quality, publish all tables incrementally under
    * `outDir`, register SQL views. Returns per-table appended row counts. */
  def run(spark: SparkSession, flightsRaw: DataFrame, airportsRaw: DataFrame,
          carriersRaw: DataFrame, outDir: String): Map[String, Long] = {
    val cachedHere = mutable.ArrayBuffer.empty[DataFrame]
    def shared(df: DataFrame): DataFrame = {
      if (df.storageLevel == StorageLevel.NONE) {
        df.persist(StorageLevel.MEMORY_AND_DISK)
        cachedHere += df
      }
      df
    }
    try {
      // flights first, so the dimension caches are built from its cache
      val w = build(spark, shared(flightsRaw), airportsRaw, carriersRaw)
      Seq(w.airports, w.dates, w.delays).foreach(shared)
      val failed = qualityReport(w).where(col("violations") > 0).collect()
      require(failed.isEmpty, s"quality gate failed:\n${failed.mkString("\n")}")
      val counts = w.byName.map { case (name, df) =>
        name -> publishIncremental(spark, df, s"$outDir/$name")
      }.toMap
      graft.warehouse.Warehouse.registerStar(spark, outDir)
      counts
    } finally {
      // dependents first: uncaching flights while a dimension cache built
      // from it is still registered would make Spark re-plan that cache
      cachedHere.reverseIterator.foreach(_.unpersist())
    }
  }
}
