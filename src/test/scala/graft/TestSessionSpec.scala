package graft

import org.apache.spark.network.util.JavaUtils

/** The shared test session must carry [[Graft.configure]]'s settings, so
  * the specs exercise the same plans (broadcast vs sort-merge joins) and
  * codegen cache as Verify, Bench and QuickBench. */
class TestSessionSpec extends SparkSpec {

  test("shared test session is built through Graft.configure") {
    assert(JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")) ===
      64L * 1024 * 1024)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "2000")
  }
}
