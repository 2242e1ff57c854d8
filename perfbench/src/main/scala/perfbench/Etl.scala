package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.pipeline.Pipeline
import graft.schemas.Schemas
import graft.sources.Sources
import graft.warehouse.Warehouse

/** The two warehouse-load workloads. Both publish the 7 star-schema tables
  * with `Pipeline.run` from raw CSVs and check, per table, that the rows
  * appended are exactly the rows the generator says are new.
  *
  *  - full load: the month's flights into an empty directory, so every row
  *    is new and `Incremental.delta` has nothing to compare against;
  *  - incremental reload: the month is loaded once during set-up and kept as
  *    a snapshot; each run restores the snapshot, then publishes a batch made
  *    of the month's last `layout.coveringRun` flights (the shortest tail
  *    that keeps every dimension key) and `newRows` flights of a later month.
  */
final class Etl(spark: SparkSession, work: File, seed: Long, monthRows: Int,
                incremental: Boolean, newRows: Int) {
  val layout = new Inputs.Layout(seed, monthRows)
  private val inputs = new File(work, "inputs")
  private val airportsCsv = new File(inputs, "airports.csv")
  private val carriersCsv = new File(inputs, "carriers.csv")
  private val monthCsv = new File(inputs, "month/flights.csv")
  private val batchCsv = new File(inputs, "batch/flights.csv")
  private val snapshot = new File(work, "snapshot")

  /** Flight ids each run publishes, and those already stored before it. */
  val batch: (Long, Long) =
    if (incremental) (monthRows.toLong - layout.coveringRun, monthRows.toLong + newRows)
    else (0L, monthRows.toLong)
  val stored: (Long, Long) = if (incremental) (0L, monthRows.toLong) else (0L, 0L)
  val expected: Map[String, Long] = Inputs.expectedAppends(layout, stored, batch)
  def incomingFlights: Long = batch._2 - batch._1

  private var inputBytes = 0L
  /** Raw CSV bytes one run reads. */
  def rawBytes: Long = inputBytes

  def writeInputs(): Unit = {
    val shared = Inputs.writeAirports(seed, airportsCsv) + Inputs.writeCarriers(seed, carriersCsv)
    if (incremental) Inputs.writeFlights(layout, stored._1, stored._2, monthCsv)
    inputBytes = shared + Inputs.writeFlights(layout, batch._1, batch._2, incomingCsv)
  }

  private def raw(flights: File): (DataFrame, DataFrame, DataFrame) = (
    Sources.csv(spark, flights.getPath, Schemas.flightsRaw),
    Sources.csv(spark, airportsCsv.getPath, Schemas.airportsRaw),
    Sources.csv(spark, carriersCsv.getPath, Schemas.carriersRaw))

  private def incomingCsv: File = if (incremental) batchCsv else monthCsv

  /** Loads the stored month into the snapshot (incremental reload). */
  def prepareSnapshot(): Unit = {
    val (f, a, c) = raw(monthCsv)
    Pipeline.run(spark, f, a, c, snapshot.getPath)
  }

  /** A fresh target directory for one run: empty, or a copy of the snapshot. */
  def freshTarget(k: Int): File = {
    val dir = new File(work, s"warehouse-$k")
    delete(dir)
    if (incremental) copyTree(snapshot.toPath, dir.toPath)
    dir
  }

  /** One untraced run: `Pipeline.run` as a user calls it. */
  def run(target: File): Map[String, Long] = {
    val (f, a, c) = raw(incomingCsv)
    Pipeline.run(spark, f, a, c, target.getPath)
  }

  /** One traced run: the steps of `Pipeline.run`, each in its own span. */
  def runTraced(target: File, trace: Trace): Map[String, Long] = {
    val (f, a, c) = raw(incomingCsv)
    val w = trace.span("pipeline.build")(Pipeline.build(spark, f, a, c))
    val failed = trace.span("quality.report") {
      Pipeline.qualityReport(w).where(col("violations") > 0).collect()
    }
    require(failed.isEmpty, s"quality gate failed: ${failed.mkString(", ")}")
    val tables = Seq("airports" -> w.airports, "air_carriers" -> w.carriers, "time" -> w.time,
      "date" -> w.dates, "cancelations" -> w.cancellations, "delays" -> w.delays,
      "flights" -> w.flights)
    val counts = tables.map { case (name, df) =>
      val layer = if (name == "flights") "fact.publish" else "dims.publish"
      name -> trace.span(layer)(Pipeline.publishIncremental(spark, df, s"${target.getPath}/$name"))
    }.toMap
    trace.span("warehouse.register")(Warehouse.registerStar(spark, target.getPath))
    counts
  }

  /** Problems with one run's result: appended counts that differ from the
    * generator's, or stored tables whose row counts do not add up. */
  def check(target: File, appended: Map[String, Long]): Seq[String] = {
    val wrongCounts = expected.toSeq.sortBy(_._1).collect {
      case (t, n) if !appended.get(t).contains(n) => s"$t appended ${appended.getOrElse(t, -1L)}, expected $n"
    }
    val storedFlights = Warehouse.sql(spark, "SELECT count(*) FROM flights").head().getLong(0)
    val wantFlights = (if (incremental) monthRows.toLong else 0L) + expected("flights")
    wrongCounts ++ (if (storedFlights != wantFlights)
      Seq(s"flights view holds $storedFlights rows, expected $wantFlights") else Nil)
  }

  /** Bytes and parquet files the run published (beyond the snapshot). */
  def published(target: File): (Long, Long) = {
    val base = if (incremental) treeFiles(snapshot.toPath).map(snapshot.toPath.relativize).toSet else Set.empty[Path]
    val added = treeFiles(target.toPath).filter(p => !base(target.toPath.relativize(p)) &&
      p.getFileName.toString.endsWith(".parquet"))
    (added.map(Files.size).sum, added.size.toLong)
  }

  /** Isolated probes, outside the timed runs: a scan of the incoming flights
    * CSV, and the whole-row anti-join of the incoming fact against the
    * stored one. */
  def probes(target: File, trace: Trace): Unit = {
    trace.span("sources.csv_scan") {
      Sources.csv(spark, incomingCsv.getPath, Schemas.flightsRaw).write.format("noop").mode("overwrite").save()
    }
    val (f, a, c) = raw(incomingCsv)
    val incoming = Pipeline.build(spark, f, a, c).flights
    val stored = Sources.parquet(spark, s"${target.getPath}/flights")
    trace.span("delta.anti_join")(graft.delta.Incremental.delta(incoming, stored).count())
  }

  def delete(dir: File): Unit = if (dir.exists()) deleteTree(dir.toPath)

  private def treeFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
  }
  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val dst = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
  private def deleteTree(root: Path): Unit = {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p)) finally s.close()
  }
}
