package graft

import org.apache.spark.sql.functions._

/** Bucketed co-located join (SCALING.md): persisting both join sides
  * bucketed by the join key lets the sort-merge join read bucket-aligned
  * files with NO shuffle exchange — the 100 TB fact⋈fact pattern. */
class BucketingSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    import graft.sources.Sources
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Sources.table(spark, sf, "lineitem")
        .write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("li_bucketed")
      Sources.table(spark, sf, "orders")
        .write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("o_bucketed")

      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))

      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not shuffle either side (only the final
      // aggregation exchanges)
      val joinPart = plan.split("SortMergeJoin")(1)
      assert(plan.contains("SortMergeJoin"))
      assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey")
        && !joinPart.contains("Exchange hashpartitioning(o_orderkey"),
        s"join sides were shuffled:\n$plan")

      // and it is correct
      val want = Sources.table(spark, sf, "lineitem")
        .join(Sources.table(spark, sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      assert(joined.exceptAll(want).isEmpty && want.exceptAll(joined).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }
}
