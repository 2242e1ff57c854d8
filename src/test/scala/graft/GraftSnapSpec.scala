package graft

import org.apache.spark.sql.functions._

/** Graft.snap — the shared plan-truncation helper for shared frames in
  * query bodies (ANN-PQ codebooks/codes/candidates, q185's fingerprint
  * subtrees). Both modes must produce identical frames; reliable mode
  * must write real checkpoint files and fail loudly without a dir
  * (r20: the bare localCheckpoints in the ANN-PQ query bodies hardcoded
  * the unrecoverable-at-scale mode). CorpusOpsSpec checks that the
  * iterative operators (CC, redirects, BPE) honour the same conf. */
class GraftSnapSpec extends SparkSpec {

  private def sample() = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .withColumn("w", col("id") * 2)
  }

  test("snap default mode localCheckpoints: same rows, truncated plan") {
    val df = sample()
    val snapped = Graft.snap(df)
    assert(snapped.collect().toSet === df.collect().toSet)
    // truncated lineage: the snapped plan is a scan of existing RDD
    // blocks, not the original project-over-localrelation
    assert(snapped.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("scanexistingrdd") ||
      snapped.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("logicalrdd"))
  }

  test("snap reliable mode requires a checkpoint dir, then writes real " +
      "checkpoint files and yields the identical frame") {
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      val noDir = intercept[IllegalArgumentException] { Graft.snap(sample()) }
      assert(noDir.getMessage.contains("setCheckpointDir"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft_snap_ckpt")
      spark.sparkContext.setCheckpointDir(ckpt.toString)
      try {
        val snapped = Graft.snap(sample())
        assert(snapped.collect().toSet === sample().collect().toSet)
        assert(regularFilesUnder(ckpt) > 0,
          "no reliable checkpoint files were written")
      } finally spark.sparkContext.setCheckpointDir(null)
    } finally spark.conf.unset("graft.checkpoint.reliable")
  }
}
