package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.schemas.Schemas
import graft.sources.Sources

/** SQL surface over the warehouse (SURVEY.md §3.3).
  *
  * The reference delegated ad-hoc SQL to Azure SQL Server
  * (dags/test_connection.py); here the star schema registers as temp views
  * and `spark.sql` provides the full parse -> analyze -> optimize -> execute
  * pipeline via Catalyst. Registration is idempotent and lazy — views carry
  * no data, so a 100 TB fact table costs nothing to register.
  */
object Warehouse {

  // last-registered testdata dir per live session (weak keys: a stopped
  // session's entry is collectable). JVM-side so the memo adds no Spark
  // job and nothing leaks into the SHOW TABLES / catalog surface.
  private val testdataDirs =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register every testdata table under its bare name. The tables resolve
    * with their declared schemas ([[Sources.table]]) and `events` with its
    * memoized one ([[Sources.events]]), so no call after a session's first
    * reads a parquet footer. Memoized per (session, dir): repeated calls
    * from the same session skip re-resolving the 10 views. A different dir
    * always re-registers. The memo cannot see catalog edits: a view that a
    * caller shadows or drops stays so until the session registers another
    * dir. */
  def registerTestdata(spark: SparkSession, sfDir: String): Unit = {
    if (testdataDirs.get(spark) != sfDir) {
      Schemas.testdata.keys.foreach { t =>
        Sources.table(spark, sfDir, t).createOrReplaceTempView(t)
      }
      // events needs its nanos->timestamp normalization (see Sources.events)
      Sources.events(spark, sfDir).createOrReplaceTempView("events")
      testdataDirs.put(spark, sfDir)
    }
  }

  /** Register the curated star-schema tables from a directory of parquet,
    * each read with its declared schema ([[Schemas.star]]): no parquet
    * footer is read to infer it, so registering starts no Spark job. */
  def registerStar(spark: SparkSession, dir: String): Unit =
    Schemas.star.foreach { case (t, schema) =>
      spark.read.schema(schema).parquet(s"$dir/$t").createOrReplaceTempView(t)
    }

  /** ANSI SQL passthrough. */
  def sql(spark: SparkSession, query: String): DataFrame = spark.sql(query)
}
