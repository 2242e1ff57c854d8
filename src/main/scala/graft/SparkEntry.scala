package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.queries.{Extended, Relational, TrainingData}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator family from SURVEY.md §2 (and the beyond-reference
  * training-data ops) is exposed as a named query over the testdata tables,
  * with a DuckDB-runnable ANSI oracle where SQL-expressible.
  */
object SparkEntry {

  private def suites: Seq[Relational.Q] = Relational.all ++ TrainingData.all ++ Extended.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    graft.warehouse.Warehouse.registerTestdata(spark, "/root/testdata/sf0.001")
    spark.sql(Relational.sqlQ3)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    suites.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    suites.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
