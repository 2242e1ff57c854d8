package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

package object functions {

  /** Register `builder` as the session's temporary function `name` unless
    * a function of that name already exists. The one registration rule
    * of this package: a second `register` call leaves the first builder
    * in place, so Spark never logs "replaced a previously registered
    * function". */
  private[graft] def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
