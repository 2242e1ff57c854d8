package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Regular files anywhere under `dir`. A checkpoint-file check counts
    * these: `setCheckpointDir` makes its own subdirectory at once, so a
    * non-empty listing of `dir` does not show that anything was
    * checkpointed. */
  def regularFilesUnder(dir: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(dir)
    try s.filter(java.nio.file.Files.isRegularFile(_)).count()
    finally s.close()
  }

  /** Entries in the session's CacheManager: what `persist`/`cache`
    * registered and nothing has unpersisted. `numCachedEntries` is
    * package-private in Scala source but public in bytecode. */
  def cacheEntries: Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  /** Spark jobs that `body` starts, counted by a listener: `body` runs
    * under a job group of its own, and a marker job started after it
    * drains the listener bus (events arrive in order). */
  def jobsStartedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"graft-count-${java.util.UUID.randomUUID}"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-drain", "drain")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(s"$group-drain") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(s"$group-drain"), "listener bus not drained")
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
