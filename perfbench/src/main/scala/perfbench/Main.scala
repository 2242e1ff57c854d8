package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --home <dir>`.
  *
  * One process, one `local[cores]` session. Set-up (session start, inputs,
  * a warm-up with every output checked) is followed by a timed
  * window: one closed-loop client runs the workload's units back to back
  * until their timed seconds reach `--seconds`, and each unit's output is
  * checked after it, outside its timing. The last stdout line is the JSON
  * result; a summary with the workload-specific metrics goes to stderr.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, home: File) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
  }

  val workloads = Seq("etl_full_load", "etl_incremental_reload", "query_suite")
  /** Flights in the loaded month. */
  val monthRows = 250000
  /** Flights of a later month in each incremental batch. */
  val newRows = 25000
  /** Untimed loads before an ETL window. */
  val warmupLoads = 2
  /** Query-suite panel: one query of every `strataSize` of similar cost. */
  val strataSize = 11

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(m.getOrElse("home", "perfbench")))
    require(workloads.contains(o.workload), s"unknown workload ${o.workload}")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = new File(o.home, s"work/${o.workload}-${ProcessHandle.current.pid}")
    deleteTree(work.toPath)
    Files.createDirectories(work.toPath)
    val line = try new Run(o, work).result() finally deleteTree(work.toPath)
    println(line)
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p)) finally s.close()
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One invocation: set-up, timed window, result. */
final class Run(o: Main.Opts, work: File) {
  import Main.seconds

  /** name -> (value, unit): end-to-end metrics, and everything else. */
  private val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Runs one operation. An exception, or a problem its check reports,
    * counts as a failure. */
  private def attempt[T](what: String)(body: => (T, Seq[String])): Option[T] = {
    attempted += 1
    try {
      val (r, problems) = body
      if (problems.isEmpty) Some(r) else { failures += s"$what: ${problems.mkString("; ")}"; None }
    } catch {
      case e: Exception =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  private def newSession(): SparkSession = {
    val b = SparkSession.builder().master(s"local[${o.cores}]").appName("perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
    val s = graft.Graft.configure(b, o.cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session set-up, three times: start a session and run its first job.
    * Returns the last session and the median set-up time. */
  private def startSession(): (SparkSession, Double) = {
    val starts = (1 to 3).map { k =>
      val (s, t) = seconds {
        val s = newSession()
        s.range(1000).selectExpr("sum(id)").collect()
        s
      }
      if (k < 3) s.stop()
      (s, t)
    }
    (starts.last._1, Stats.median(starts.map(_._2)))
  }

  private def peakRssMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath, StandardCharsets.UTF_8).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def result(): String = {
    val (spark, sessionS) = startSession()
    val trace = new Trace(spark, o.trace)
    if (o.workload == "query_suite") querySuite(spark, sessionS, trace)
    else etl(spark, sessionS, o.workload == "etl_incremental_reload", trace)
    endToEnd("peak_rss_mb") = (peakRssMb(), "MB")
    spark.stop()
    val log = (s: String) => System.err.println(s"[perfbench] $s")
    notes("error_rate") = (failures.size.toDouble / attempted, s"share ($attempted operations attempted)")
    log(s"${o.workload} seed ${o.seed}")
    (endToEnd ++ notes).foreach { case (k, (v, u)) => log(f"$k $v%.6g $u") }
    failures.foreach(f => log(s"FAILED $f"))
    Json.result(failures.isEmpty, attempted, failures.size.toLong,
      (if (o.trace) notes.filter(_._1.contains('.')) else endToEnd).toSeq)
  }

  /** The timed window: `unit(k)` for k = 0, 1, ... until the timed seconds
    * of the units that succeeded reach `o.seconds`. A unit returns its timed
    * seconds, or None if it failed; if units keep failing, the window closes
    * after four windows of wall time. */
  private def window(unit: Int => Option[Double]): Unit = {
    val times = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (4 * o.seconds * 1e9).toLong
    var k = 0
    while (times.sum < o.seconds && System.nanoTime() < deadline) {
      // every unit starts from a collected heap, so no unit pays for the
      // garbage of the one before it
      System.gc()
      unit(k).foreach(times += _)
      k += 1
    }
    require(times.nonEmpty, s"no unit succeeded: ${failures.take(3).mkString("; ")}")
  }

  private def etl(spark: SparkSession, sessionS: Double, incremental: Boolean, trace: Trace): Unit = {
    val etl = new Etl(spark, work, o.seed, Main.monthRows, incremental, Main.newRows)
    val published = mutable.ArrayBuffer.empty[(Long, Long)]
    val shares = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]

    /** One load into a fresh target, checked after its timing. */
    def load(k: Int, traceIt: Boolean): Option[Double] = {
      val target = etl.freshTarget(k)
      try attempt(s"load $k") {
        val (counts, t) = seconds {
          if (traceIt) trace.span("etl.load")(etl.runTraced(target, trace)) else etl.run(target)
        }
        ((counts, t), etl.check(target, counts))
      }.map { case (counts, t) =>
        published += etl.published(target)
        if (traceIt) {
          traced += t
          shares += counts("flights").toDouble / etl.incomingFlights
          etl.probes(target, trace)
        } else untraced += t
        t
      } finally etl.delete(target)
    }

    val (_, inputsS) = seconds(etl.writeInputs())
    // the first loads of a process keep getting faster for a few loads
    // (JIT of the driver-side planning paths); warm up through the steepest
    val (_, warmS) = seconds {
      if (incremental) attempt("snapshot load")((etl.prepareSnapshot(), Nil))
      (0 until Main.warmupLoads).foreach(k => load(-k, traceIt = false))
    }
    published.clear()
    untraced.clear()
    // with tracing on, every other load is traced; the untraced ones
    // measure what the trace costs
    window(k => load(k + 1, o.trace && k % 2 == 1))
    val times = untraced.toSeq
    endToEnd("setup_s") = (sessionS + inputsS + warmS, "s")
    endToEnd("run_s") = (Stats.median(times), "s")
    endToEnd("throughput_per_s") = (etl.incomingFlights * times.size / times.sum, "1/s")
    notes("rows_per_s") = (etl.incomingFlights / Stats.median(times), "1/s")
    notes("curated_bytes_per_input_byte") =
      (published.map(_._1).sum.toDouble / published.size / etl.rawBytes, "share")
    notes("load_s") = (times.sum / times.size, s"s mean of ${times.map(t => f"$t%.3f").mkString(" ")}")
    notes("inputs_s") = (inputsS, "s")
    notes("warmup_s") = (warmS, "s")
    if (o.trace) {
      layerMetrics(trace, "etl.load", traced.toSeq, times)
      notes("delta.appended_share") = (Stats.median(shares.toSeq), "share")
      notes("pipeline.output_bytes") = (published.map(_._1).sum.toDouble / published.size, "bytes")
      notes("pipeline.files_written") = (published.map(_._2).sum.toDouble / published.size, "count")
    }
  }

  private def querySuite(spark: SparkSession, sessionS: Double, trace: Trace): Unit = {
    val expected = Expected.read(new File(o.home, "expected/queries_sf0.01.tsv"))
    val suite = new QuerySuite(spark, new File(o.home, "tables/sf0.01").getPath, expected, o.seed, Main.strataSize)
    // warm-up: every panel query once, its whole result checked
    val (_, warmS) = seconds(suite.panel.foreach(e => attempt(e.name)(((), suite.check(e).toSeq))))
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    // whole passes over the panel, so every query is timed equally often;
    // with tracing on, each query runs again traced, right after itself
    window { _ =>
      val pass = suite.panel.flatMap { e =>
        val r = attempt(e.name)((seconds(suite.run(e))._2, Nil))
        r.foreach(untraced += _)
        val rt = if (o.trace) r.flatMap { _ =>
          attempt(e.name)((seconds(trace.span("queries.query")(suite.runTraced(e, trace)))._2, Nil))
        } else None
        rt.foreach(traced += _)
        r.toSeq ++ rt
      }
      if (pass.isEmpty) None else Some(pass.sum)
    }
    val times = untraced.toSeq
    endToEnd("setup_s") = (sessionS + warmS, "s")
    endToEnd("run_s") = (Stats.median(times), "s")
    endToEnd("throughput_per_s") = (times.size / times.sum, "1/s")
    notes("query_p50_s") = (Stats.median(times), "s")
    Stats.supportedPercentile(times.size).filter(_ > 0.5).foreach { q =>
      notes(f"query_p${q * 100}%.0f_s") = (Stats.quantile(times, q), "s")
    }
    notes("queries_timed") = (times.size.toDouble, s"count over a panel of ${suite.panel.size}")
    notes("warmup_s") = (warmS, "s")
    if (o.trace) layerMetrics(trace, "queries.query", traced.toSeq, times)
  }

  /** Per-layer metrics, per traced unit (one query, or one load), with
    * zeros for layers the workload does not reach. */
  private def layerMetrics(trace: Trace, unitSpan: String, traced: Seq[Double],
                           untraced: Seq[Double]): Unit = {
    trace.drain()
    val n = math.max(1, traced.size).toDouble
    def per(name: String, v: Double, unit: String): Unit = notes(name) = (v / n, unit)
    def share(name: String, part: Double, whole: Double): Unit =
      notes(name) = (if (whole > 0) part / whole else 0.0, "share")
    val build = trace.seconds("queries.build")
    val plan = trace.seconds("queries.plan")
    val exec = trace.seconds("queries.exec")
    per("queries.build_s", build, "s")
    per("queries.eager_jobs", trace.workUnder("queries.build").jobs.toDouble, "count")
    per("queries.plan_s", plan, "s")
    share("queries.driver_share", build + plan, build + plan + exec)
    per("queries.exec_s", exec, "s")
    val all = trace.workUnder(unitSpan)
    per("execution.run_s", all.runMs / 1e3, "s")
    per("execution.cpu_s", all.cpuNs / 1e9, "s")
    share("execution.core_utilisation", all.runMs / 1e3, traced.sum * o.cores)
    per("execution.shuffle_write_bytes", all.shuffleWriteBytes.toDouble, "bytes")
    per("execution.spill_bytes", all.spillBytes.toDouble, "bytes")
    per("execution.gc_s", all.gcMs / 1e3, "s")
    per("scheduling.jobs", all.jobs.toDouble, "count")
    per("scheduling.stages", all.stages.toDouble, "count")
    per("scheduling.tasks", all.tasks.toDouble, "count")
    share("scheduling.empty_task_share", all.emptyTasks.toDouble, all.tasks.toDouble)
    per("scheduling.task_overhead_s", all.overheadMs / 1e3, "s")
    per("sources.csv_scan_s", trace.seconds("sources.csv_scan"), "s")
    per("sources.input_bytes", trace.workUnder("sources.csv_scan").inputBytes.toDouble, "bytes")
    per("dims.publish_s", trace.seconds("dims.publish"), "s")
    per("quality.report_s", trace.seconds("quality.report"), "s")
    per("quality.jobs", trace.workUnder("quality.report").jobs.toDouble, "count")
    per("fact.publish_s", trace.seconds("fact.publish"), "s")
    per("delta.anti_join_s", trace.seconds("delta.anti_join"), "s")
    per("delta.shuffle_bytes", trace.workUnder("delta.anti_join").shuffleWriteBytes.toDouble, "bytes")
    notes("delta.appended_share") = (0.0, "share")
    per("pipeline.build_s", trace.seconds("pipeline.build"), "s")
    notes("pipeline.output_bytes") = (0.0, "bytes")
    notes("pipeline.files_written") = (0.0, "count")
    per("warehouse.register_s", trace.seconds("warehouse.register"), "s")
    per("warehouse.jobs", trace.workUnder("warehouse.register").jobs.toDouble, "count")
    notes("trace.overhead_share") =
      (if (traced.nonEmpty && untraced.nonEmpty) Stats.median(traced) / Stats.median(untraced) - 1 else 0.0, "share")
  }
}

/** The result line. */
object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, (Double, String))]): String =
    metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
}
