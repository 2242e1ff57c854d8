package graft

import org.apache.spark.sql.functions._

import graft.functions.TopKAgg
import graft.sources.Sources

/** Custom typed Aggregator: bounded top-k heap semantics. */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  test("topK equals sort_array(collect_list)[:k] at any partitioning") {
    val li = Sources.table(spark, sf, "lineitem").repartition(7)
    val got = li.groupBy("l_returnflag")
      .agg(TopKAgg.topK($"l_extendedprice", 5).as("topk"))
    val want = li.groupBy("l_returnflag")
      .agg(slice(reverse(sort_array(collect_list($"l_extendedprice"))), 1, 5)
        .as("topk"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("topK keeps duplicates and handles groups smaller than k") {
    val df = Seq(("a", 5.0), ("a", 5.0), ("a", 1.0), ("b", 2.0))
      .toDF("g", "v")
    val r = df.groupBy("g").agg(TopKAgg.topK($"v", 3).as("t"))
      .as[(String, Array[Double])].collect().toMap
    assert(r("a").toSeq === Seq(5.0, 5.0, 1.0))
    assert(r("b").toSeq === Seq(2.0))
  }
}
