package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session), built
  * through [[Graft.configure]] so the specs run under the same session
  * configuration as Verify, Bench and QuickBench. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Graft.configure(
      SparkSession.builder().master("local[4]").appName("graft-test"), 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"
}
