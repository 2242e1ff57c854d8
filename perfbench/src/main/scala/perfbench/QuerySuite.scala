package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One line of the expected-results file: a query's row count and result
  * digest, and its cost in the run that produced the file, which only
  * orders queries into sampling strata. */
final case class Expected(name: String, rows: Long, digest: String, refSeconds: Double)

object Expected {
  def read(file: File): Seq[Expected] =
    Files.readAllLines(file.toPath, StandardCharsets.UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, digest, ref) = l.split('\t')
        Expected(name, rows.toLong, digest, ref.toDouble)
      }

  def write(file: File, header: String, xs: Seq[Expected]): Unit =
    Files.write(file.toPath, (header.linesIterator.map("# " + _).toSeq ++ xs.sortBy(_.name).map(e =>
      s"${e.name}\t${e.rows}\t${e.digest}\t${"%.3f".formatLocal(java.util.Locale.ROOT, e.refSeconds)}"))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
}

/** The named query suite as a single closed-loop client sees it.
  *
  * A run cannot afford all 182 queries, so it runs a panel: the queries are
  * ordered by their reference cost, cut into strata of `strataSize`, and
  * the middle query of each stratum joins the panel, which therefore spans
  * the whole cost range. The panel is the same for every seed, so runs
  * compare like with like; the seed permutes the order it runs in.
  */
final class QuerySuite(spark: SparkSession, dataDir: String, expected: Seq[Expected],
                       seed: Long, strataSize: Int) {
  private val queries = graft.SparkEntry.queries

  val panel: Seq[Expected] = QuerySuite.panel(expected, seed, strataSize)

  /** Runs `e` once, collecting its result outside any timing, and returns
    * the problem with it, if any. */
  def check(e: Expected): Option[String] = {
    val (digest, rows) = Digest.of(queries(e.name)(spark, dataDir))
    spark.catalog.clearCache()
    if (rows != e.rows) Some(s"${e.name}: $rows rows, expected ${e.rows}")
    else if (digest != e.digest) Some(s"${e.name}: result digest $digest, expected ${e.digest}")
    else None
  }

  private def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One query with every column of its result consumed. */
  def run(e: Expected): Unit =
    try consume(queries(e.name)(spark, dataDir)) finally spark.catalog.clearCache()

  /** The same query in three spans: building the DataFrame (any Spark job
    * it starts is an eager job), planning it, and executing the plan. */
  def runTraced(e: Expected, trace: Trace): Unit =
    try {
      val df = trace.span("queries.build")(queries(e.name)(spark, dataDir))
      trace.span("queries.plan")(df.queryExecution.executedPlan)
      trace.span("queries.exec")(consume(df))
    } finally spark.catalog.clearCache()
}

object QuerySuite {
  /** The middle query of each stratum of `strataSize` queries adjacent in
    * reference cost, in an order permuted by `seed`. */
  def panel(expected: Seq[Expected], seed: Long, strataSize: Int): Seq[Expected] =
    expected.sortBy(e => (e.refSeconds, e.name)).grouped(strataSize).map(s => s(s.size / 2)).toSeq
      .sortBy(e => Inputs.mix(seed, e.name.hashCode, 91))
}
