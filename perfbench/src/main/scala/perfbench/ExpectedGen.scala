package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Writes the query suite's expected-results file:
  * `ExpectedGen <dataDir> <verifyDumpDir> <outFile>`.
  *
  * The digests come from a `graft.Verify` dump of `dataDir`, the dump that
  * `tools/check_oracle.py` compared against DuckDB; run the compare first
  * and only use a dump it passes. Each query is also run live here: its
  * collected result must digest the same as its dump (so digests are stable
  * across runs), and its faster of two executions after a warm-up becomes
  * the reference cost that orders the sampling strata.
  */
object ExpectedGen {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, dumpDir, outFile) = args
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Graft.configure(SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    def run(name: String): Double = {
      val (_, t) = Main.seconds(queries.toMap.apply(name)(spark, dataDir)
        .write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      t
    }
    queries.foreach { case (name, _) => run(name) }
    val rows = queries.map { case (name, fn) =>
      val (dumped, n) = Digest.of(spark.read.parquet(s"$dumpDir/$name"))
      val (live, liveN) = Digest.of(fn(spark, dataDir))
      spark.catalog.clearCache()
      require(dumped == live && n == liveN, s"$name: live result differs from its checked dump")
      Expected(name, n, dumped, math.min(run(name), run(name)))
    }
    Expected.write(new File(outFile),
      s"""Expected results of graft.SparkEntry.queries over tables/sf0.01 (local[$cores]).
         |name, rows, SHA-256 digest (see Digest.scala), reference seconds (orders strata only).
         |Written by perfbench.ExpectedGen from a graft.Verify dump that tools/check_oracle.py passed.""".stripMargin,
      rows)
    spark.stop()
  }
}
