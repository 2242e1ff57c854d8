package graft.tools

/** Focused A/B query timer — the attribution tool behind BASELINE.md's
  * "code-attributable vs window-attributable" calls: run a handful of
  * named SparkEntry queries min-of-N, so two BUILDS (e.g. the previous
  * round's HEAD in a scratch `git worktree` vs the current HEAD) can be
  * measured back-to-back in the SAME ambient window. The full Bench harness answers "how fast is the
  * suite"; this answers "did THIS diff move THIS query" without paying
  * for 157 queries per build. Absolute values are NOT comparable to
  * Bench's (no suite-wide JIT warmup); only same-harness ratios are.
  *
  * Usage: runMain graft.tools.QuickBench [sfDir] [q1,q2,...] [runs]
  *        runMain graft.tools.QuickBench <sfDir> <q1,q2,...> explain
  * (`explain` prints each query's formatted physical plan instead of
  * timing it.)
  */
object QuickBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 1) args(1).split(',').toSeq
      else Seq("q122_top_fraction_per_source",
        "q124_decontaminated_train", "q127_web_image_dims",
        "q67_simhash_pairs", "q72_pivot", "q15_agg_groupby",
        "q46_deep_join_tree")
    val runs = if (args.length > 2 && args(2) != "explain")
      args(2).toInt else 3
    val explain = args.length > 2 && args(2) == "explain"
    // Graft.session: probes must run under the graded surface's exact
    // session config — notably the STATIC codegen-cache sizing, silently
    // ignored if set after getOrCreate (r20 advisor fix).
    // SPARK_GRAFT_CPUS (default 4, as in Bench and Verify) mirrors Bench's
    // core-count contract so low-vs-high-core scaling pairs can be
    // measured on a subset without paying a full-suite run (the r20 sf1.0
    // scaling exhibit).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Graft.session(cpus.toInt)
    // SPARK_GRAFT_MAXPART (optional): shrink the input split size so a
    // single small rehearsal parquet scans as MANY tasks — the local
    // emulation of a corpus-scale scan (where splits number in the
    // thousands and map-side work genuinely parallelizes). Without it
    // a 15 MB sf1.0 file is ONE split and map-side-heavy queries show
    // 4 cores = 32 cores whatever the data size (r20 scaling exhibit).
    sys.env.get("SPARK_GRAFT_MAXPART").foreach { v =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
    }
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      val fn = graft.SparkEntry.queries(n)
      if (explain) {
        println(s"=== $n ===")
        fn(spark, sfDir).explain("formatted")
      } else {
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).collect()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[quick] $n min=${times.min}%.3f " +
        s"runs=${times.map(t => f"$t%.3f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
