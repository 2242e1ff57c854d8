package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType
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
  * than one step reads: it persists the [[flightColumns]] of the raw
  * flights batch and the airports, dates and delays dimensions (each read
  * by the quality gate, its own publish and the fact's broadcast FK
  * joins), so one load parses the flights CSV once and builds each
  * dimension once. Once the quality gate passes, `run` publishes the 7
  * tables concurrently: each publish is a small write whose cost is mostly
  * fixed (planning, one short job, the commit), so overlapping them is
  * what shortens a load. The caches live for one run: `run` waits for
  * every publish and then unpersists them, whether it returns or fails,
  * and only the frames it cached itself — an input the caller cached
  * stays cached.
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

  /** The raw flight columns [[build]] reads, in `Schemas.flightsRaw`
    * order: the fact reads all but `CANCELLED` and `CANCELLATION_CODE`,
    * which only the cancellation dimension reads; the date and delay
    * dimensions read a subset. The other 10 raw columns (tail and flight
    * numbers, the six airport/city-market ids, `DEP_DELAY`, the trailing
    * unnamed column) feed no table, so [[run]] caches only these. */
  val flightColumns: Seq[String] = Seq(
    "FL_DATE", "OP_CARRIER_AIRLINE_ID", "ORIGIN", "DEST", "CRS_DEP_TIME",
    "DEP_TIME", "DEP_DELAY_NEW", "ARR_TIME", "ARR_DELAY", "ARR_DELAY_NEW",
    "CANCELLED", "CANCELLATION_CODE", "CRS_ELAPSED_TIME",
    "ACTUAL_ELAPSED_TIME", "CARRIER_DELAY", "WEATHER_DELAY", "NAS_DELAY",
    "SECURITY_DELAY", "LATE_AIRCRAFT_DELAY")

  /** Build every curated table from the raw inputs (no I/O triggered).
    * `flightsRaw` needs the [[flightColumns]]; any others are ignored. */
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
    * The accumulated table is read with `table`'s schema, the schema it
    * was written with, so reading it starts no footer-inference job.
    *
    * The append always runs, so a table's directory exists after its first
    * publish even when the table is empty. An empty delta leaves no rows on
    * disk and at most one schema-only part file (the write's first task
    * writes one when no task has rows).
    *
    * Before it reads, the publish deletes a `_temporary/` left under `path`
    * by a writer that crashed: the job commit of the append would otherwise
    * merge that writer's committed task files into the table, next to the
    * same rows appended again. This assumes one writer per path at a time:
    * [[run]] is the warehouse's only writer, and a
    * [[graft.streaming.EventStreams.deltaAppendSink]] query its sink's.
    *
    * Safe to call concurrently for different paths: [[run]] publishes its
    * 7 tables this way. Jobs run under the calling thread's Spark local
    * properties (job group, description, scheduler pool). */
  def publishIncremental(spark: SparkSession, table: DataFrame,
                         path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path, "_temporary")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val delta = readAccumulated(spark, path, Some(table.schema)) match {
      case Some(acc) => Incremental.delta(table, acc)
      case None => table
    }
    val appended = Observation()
    delta.observe(appended, count(lit(1)).as("rows"))
      .write.mode("append").parquet(path)
    appended.get("rows").asInstanceOf[Long]
  }

  /** The accumulated table, or None when there is genuinely no data yet:
    * path absent, or, when the schema is inferred, present but with no
    * readable parquet layout (an interrupted first write leaving only
    * _temporary raises AnalysisException at schema inference). With a
    * declared `schema` ([[publishIncremental]] passes its table's) such a
    * target reads as an empty table, and no Spark job starts; the
    * streaming index and label reads infer. Anything else — transient FS
    * errors, corrupt footers at execution — PROPAGATES: treating those as
    * "first run" would append the whole table as duplicates. */
  private[graft] def readAccumulated(spark: SparkSession, path: String,
                                     schema: Option[StructType] = None): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val exists = p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    if (!exists) None
    else schema match {
      case Some(s) => Some(spark.read.schema(s).parquet(path))
      case None =>
        try Some(spark.read.parquet(path))
        catch { case _: org.apache.spark.sql.AnalysisException => None }
    }
  }

  /** Full run: build, assert quality, publish all tables incrementally under
    * `outDir`, register SQL views. Returns per-table appended row counts.
    *
    * The quality gate runs before any publish. The 7 publishes then run
    * concurrently, flights first, each on its own thread of a pool that
    * lives for this call. The pool's threads are started from the calling
    * thread, so they inherit its Spark local properties (job group,
    * scheduler pool); each sets its job description to `publish <table>`.
    * `run` waits for every publish, also when one fails, and only then
    * unpersists what it cached: a publish never loses a cache it still
    * reads. The views are registered only when all 7 succeed.
    *
    * Failure semantics: the first failure is rethrown with the others
    * attached as suppressed exceptions, and the tables that did not fail
    * stay published. Re-running the load appends only what is missing,
    * because each publish appends an anti-join delta.
    *
    * `run` is the only writer of `outDir`: no two loads may run into it at
    * once, because each publish first deletes the `_temporary/` a crashed
    * writer left under its table (see [[publishIncremental]]).
    *
    * Unless the caller cached `flightsRaw` (then it is used as it is),
    * only its [[flightColumns]] are cached: the CSV reader converts and
    * the cache compresses 19 of the 29 raw columns. */
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
      val flights =
        if (flightsRaw.storageLevel != StorageLevel.NONE) flightsRaw
        else shared(flightsRaw.select(flightColumns.map(col): _*))
      val w = build(spark, flights, airportsRaw, carriersRaw)
      Seq(w.airports, w.dates, w.delays).foreach(shared)
      val failed = qualityReport(w).where(col("violations") > 0).collect()
      require(failed.isEmpty, s"quality gate failed:\n${failed.mkString("\n")}")
      val counts = publishAll(spark, w, outDir)
      graft.warehouse.Warehouse.registerStar(spark, outDir)
      counts
    } finally {
      // dependents first: uncaching flights while a dimension cache built
      // from it is still registered would make Spark re-plan that cache
      cachedHere.reverseIterator.foreach(_.unpersist())
    }
  }

  /** [[publishIncremental]] of every table of `w` under `outDir`, all at
    * once, the largest (flights) first. Returns after every publish has
    * ended; throws the first failure, with the rest suppressed on it. */
  private def publishAll(spark: SparkSession, w: Warehouse,
                         outDir: String): Map[String, Long] = {
    val tables = w.byName.sortBy(_._1 != "flights")
    val pool = Executors.newFixedThreadPool(tables.size)
    try {
      val pending = tables.map { case (name, df) =>
        name -> pool.submit(new Callable[Long] {
          def call(): Long = {
            spark.sparkContext.setJobDescription(s"publish $name")
            publishIncremental(spark, df, s"$outDir/$name")
          }
        })
      }
      val outcomes = pending.map { case (name, f) =>
        name -> (try Right(f.get()) catch {
          case e: ExecutionException => Left(e.getCause)
        })
      }
      outcomes.collect { case (_, Left(e)) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case (name, Right(n)) => name -> n }.toMap
      }
    } finally {
      // also when this thread was interrupted mid-wait: no publish may
      // outlive the call, or `run` would unpersist a cache it still reads
      pool.shutdown()
      while (!pool.awaitTermination(1, TimeUnit.MINUTES)) {}
    }
  }
}
