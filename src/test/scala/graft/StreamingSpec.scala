package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Sources
import graft.streaming.EventStreams

/** Structured Streaming: windowed agg equals its batch twin; delta-append
  * foreachBatch is idempotent across re-runs (J4 semantics per batch). */
class StreamingSpec extends SparkSpec {

  private def stagedEventsDir(): String = {
    // stage normalized events (ns->timestamp) as a parquet dir the
    // streaming source can watch
    val dir = Files.createTempDirectory("graft_events").toString
    // single sorted file: AvailableNow then feeds micro-batches in
    // event-time order (cross-batch disorder is out of scope here)
    Sources.events(spark, sf).orderBy("ts", "event_id")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("crawl-ingestion chain is streaming-safe: the streamed per-record " +
      "rows are bit-equal to the batch run") {
    // CrawlIngest.crawlText is stateless per blob (WARC split -> HTTP
    // de-frame -> HTML -> normalize, all narrow map-side), so the SAME
    // function body must run unchanged over a streaming frame in append
    // mode — no foreachBatch wrapper, no watermark — and emit exactly
    // the batch rows. This is the q144 code path, not a test-only twin.
    import org.apache.spark.sql.types._
    val docs = Sources.table(spark, sf, "documents")
      .where(col("doc_id") < 300).select("doc_id")
    val blobs = graft.pipeline.CrawlIngest.synthCrawlBlobs(docs, "doc_id")
    val dir = Files.createTempDirectory("graft_warc_stream").toString
    // several files -> several micro-batches under maxFilesPerTrigger
    blobs.repartition(4).write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventStreams.drainToMemory(
      graft.pipeline.CrawlIngest.crawlText(stream), "crawl_text_test")
    try {
      val streamed = spark.table("crawl_text_test")
      val batch = graft.pipeline.CrawlIngest.crawlText(blobs)
      assert(streamed.count() === batch.count())
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streamed crawl rows diverge from the batch run")
    } finally q.stop()
  }

  test("streaming hourly agg over AvailableNow equals the batch aggregation") {
    val dir = stagedEventsDir()
    val stream = EventStreams.readEvents(spark, dir)
    val q = EventStreams.drainToMemory(
      EventStreams.hourlyCounts(stream), "hourly_test")
    try {
      val streamed = spark.table("hourly_test")
        .select("hour_ts", "event_type", "n")
      val batch = Sources.events(spark, sf)
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      // watermark append-mode may hold back the last (open) window; every
      // emitted row must match batch, and most windows must have closed
      val diff = streamed.exceptAll(batch.select("hour_ts", "event_type", "n"))
      assert(diff.isEmpty, "streamed rows not found in batch result")
      assert(streamed.count() >= batch.count() / 2)
    } finally q.stop()
  }

  test("streaming sliding windows equal the batch sliding aggregation") {
    val dir = stagedEventsDir()
    val stream = EventStreams.readEvents(spark, dir)
    val q = EventStreams.drainToMemory(
      EventStreams.slidingCounts(stream), "sliding_test")
    try {
      val streamed = spark.table("sliding_test").select("w_start", "n")
      val batch = Sources.events(spark, sf)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("n"))
      val diff = streamed.exceptAll(batch)
      assert(diff.isEmpty, "streamed sliding windows not found in batch result")
      assert(streamed.count() >= batch.count() / 2)
    } finally q.stop()
  }

  test("stateful flatMapGroupsWithState sessions match the batch sessionizer") {
    import org.apache.spark.sql.expressions.Window
    val dir = stagedEventsDir()
    val stream = EventStreams.readEvents(spark, dir)
    val q = EventStreams.drainToMemory(
      EventStreams.sessionizeStateful(spark, stream), "sessions_test")
    try {
      val streamed = spark.table("sessions_test")
        .select("user_id", "n_events", "start_ts", "end_ts")
      // batch twin (q43 logic) on the same data
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prevUs = unix_micros(lag(col("ts"), 1).over(w))
      val batch = Sources.events(spark, sf)
        .withColumn("is_new", when(prevUs.isNull ||
          unix_micros(col("ts")) - prevUs > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("sid", sum(col("is_new")).over(run))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
        .select("user_id", "n_events", "start_ts", "end_ts")
      // every emitted (closed) session must exist in the batch result;
      // only each user's final open session may be withheld
      assert(streamed.exceptAll(batch).isEmpty,
        "streamed session not present in batch sessions")
      val nUsers = batch.select("user_id").distinct().count()
      assert(streamed.count() >= batch.count() - nUsers)
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch interval join") {
    val dir = stagedEventsDir()
    val q = EventStreams.drainToMemory(
      EventStreams.viewPurchaseAttribution(
        EventStreams.readEvents(spark, dir)), "attr_test")
    try {
      val streamed = spark.table("attr_test")
        .select("user_id", "view_id", "purchase_id")
      val ev = Sources.events(spark, sf)
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"),
          col("event_id").as("view_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
      val batch = views.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
        .select("user_id", "view_id", "purchase_id")
      // append mode may hold back pairs near the watermark frontier; all
      // emitted pairs must exist in batch and coverage must be substantial
      assert(streamed.exceptAll(batch).isEmpty,
        "streamed join pairs not found in batch result")
      assert(streamed.count() >= batch.count() / 2 && batch.count() > 0)
    } finally q.stop()
  }

  test("stream-static broadcast enrichment equals the batch join") {
    import spark.implicits._
    val dir = stagedEventsDir()
    val dim = Seq(("click", 1.0), ("view", 0.5), ("purchase", 5.0),
      ("signup", 3.0), ("error", 0.0)).toDF("event_type", "weight")
    val q = EventStreams.drainToMemory(
      EventStreams.enriched(EventStreams.readEvents(spark, dir), dim,
        Seq("event_type"))
        .select($"event_id", $"weight"), "enriched_test")
    try {
      val streamed = spark.table("enriched_test")
      val batch = Sources.events(spark, sf)
        .join(dim, Seq("event_type"), "left")
        .select($"event_id", $"weight")
      assert(streamed.exceptAll(batch).isEmpty
        && batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    val dir = Files.createTempDirectory("graft_dup").toString
    // stage the events TWICE (at-least-once delivery simulation)
    val ev = Sources.events(spark, sf).orderBy("ts", "event_id").coalesce(1)
    ev.write.mode("overwrite").parquet(dir)
    ev.write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() === 2 * ev.count())

    val q = EventStreams.drainToMemory(
      EventStreams.dedupped(EventStreams.readEvents(spark, dir)), "dedup_test")
    try {
      val out = spark.table("dedup_test")
      assert(out.count() === ev.count(), "duplicates survived")
      assert(out.select("event_id").distinct().count() === ev.count())
    } finally q.stop()
  }

  test("foreachBatch delta-append sink is idempotent across replays") {
    val dir = stagedEventsDir()
    val sink = Files.createTempDirectory("graft_sink").toString + "/acc"
    val run1 = EventStreams.deltaAppendSink(EventStreams.readEvents(spark, dir), sink)
    run1.processAllAvailable(); run1.stop()
    val n1 = spark.read.parquet(sink).count()
    // replay the same input from a fresh checkpoint: anti-join must drop all
    val run2 = EventStreams.deltaAppendSink(EventStreams.readEvents(spark, dir), sink)
    run2.processAllAvailable(); run2.stop()
    val n2 = spark.read.parquet(sink).count()
    assert(n1 === Sources.events(spark, sf).count())
    assert(n2 === n1, s"replay appended ${n2 - n1} duplicate rows")
  }

  test("foreachBatch delta-append sink appends a batch once into a sink " +
      "holding a crashed attempt's committed task file") {
    val dir = stagedEventsDir()
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    val sink = Files.createTempDirectory("graft_sink").toString + "/acc"
    val task = Files.createDirectories(java.nio.file.Paths.get(
      sink, "_temporary", "0", "task_202610190000_0001_m_000000"))
    Files.copy(part, task.resolve(part.getFileName))
    val q = EventStreams.deltaAppendSink(EventStreams.readEvents(spark, dir), sink)
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(sink).count() === Sources.events(spark, sf).count())
  }

  test("streaming dedup admission == batch operator over the same delta " +
      "sequence, at-least-once redelivery included") {
    import spark.implicits._
    import graft.dedup.Dedup
    // corpus with cross-batch planted dups: a copy of every doc_id < 40
    // at id+100000 (identical text -> identical minhash -> collides)
    val base = Sources.table(spark, sf, "documents")
      .select("doc_id", "text").where(col("doc_id") < 300)
    val planted = base.unionByName(base.where(col("doc_id") < 40)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    // three deltas; originals and copies straddle batches (id%3 spreads)
    val deltas = (0 to 2).map(i => planted.where(col("doc_id") % 3 === i))
    val root = Files.createTempDirectory("graft_admission").toString
    val idxPath = root + "/index"
    val decPath = root + "/decisions"
    EventStreams.processDedupAdmissionBatch(deltas(0), 0, idxPath, decPath)
    EventStreams.processDedupAdmissionBatch(deltas(1), 1, idxPath, decPath)
    // at-least-once: batch 1 is REDELIVERED after already succeeding —
    // the batch_id index filter + dynamic partition overwrite must make
    // this a no-op, not a self-collision that flips its keeps to drops
    EventStreams.processDedupAdmissionBatch(deltas(1), 1, idxPath, decPath)
    EventStreams.processDedupAdmissionBatch(deltas(2), 2, idxPath, decPath)
    val streamed = spark.read.parquet(decPath)
      .select($"doc_id", $"dup_of_index", $"dup_of_batch", $"keep",
        $"batch_id".cast("int"))
      .as[(Long, Option[Long], Option[Long], Boolean, Int)]
      .collect().toSet
    // batch reference: the SAME delta sequence through the batch operator,
    // index accreting between steps
    var idx = Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "sig")
    val expected = deltas.zipWithIndex.map { case (d, i) =>
      val dec = Dedup.incrementalLshDedup(idx, d, "doc_id", "text")
        .withColumn("batch_id", lit(i))
      idx = idx.unionByName(Dedup.lshBands(
        Dedup.minhashWide(Dedup.shingles(d, "doc_id", "text", 3), "doc_id", 16),
        "doc_id", 16, 4))
      dec
    }.reduce(_ unionByName _)
      .select($"doc_id", $"dup_of_index", $"dup_of_batch", $"keep",
        $"batch_id".cast("int"))
      .as[(Long, Option[Long], Option[Long], Boolean, Int)]
      .collect().toSet
    assert(streamed === expected)
    // the planted copies were caught (keep=false), one decision per doc
    assert(streamed.count(!_._4) >= 40)
    assert(streamed.size === planted.count())
  }

  test("streaming label maintenance: per-batch incremental CC snapshots " +
      "end bit-equal to a full recompute over every collision edge, " +
      "redelivery included; intermediate snapshots are prefix-exact") {
    import spark.implicits._
    import graft.dedup.Dedup
    val base = Sources.table(spark, sf, "documents")
      .select("doc_id", "text").where(col("doc_id") < 300)
    val planted = base.unionByName(base.where(col("doc_id") < 40)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val deltas = (0 to 2).map(i => planted.where(col("doc_id") % 3 === i))
    val root = Files.createTempDirectory("graft_labels").toString
    val (idxPath, decPath) = (root + "/index", root + "/decisions")
    val lp = Some(root + "/labels")
    EventStreams.processDedupAdmissionBatch(deltas(0), 0, idxPath, decPath,
      labelsPath = lp)
    EventStreams.processDedupAdmissionBatch(deltas(1), 1, idxPath, decPath,
      labelsPath = lp)
    // redelivery: batch 1 reruns after succeeding — the snapshot read
    // (batch_id < 1) plus dynamic overwrite must make it a no-op
    EventStreams.processDedupAdmissionBatch(deltas(1), 1, idxPath, decPath,
      labelsPath = lp)
    EventStreams.processDedupAdmissionBatch(deltas(2), 2, idxPath, decPath,
      labelsPath = lp)
    def snapshot(b: Int): Map[Long, Long] =
      spark.read.parquet(root + "/labels")
        .where($"batch_id" === b).select($"id", $"component")
        .as[(Long, Long)].collect().toMap
    def fullCc(docs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.connectedComponents(Dedup.lshCandidates(Dedup.lshBands(
        Dedup.minhashWide(Dedup.shingles(docs, "doc_id", "text", 3),
          "doc_id", 16), "doc_id", 16, 4), "doc_id", probeParts = 0))
        .as[(Long, Long)].collect().toMap
    // every snapshot equals the full recompute over its PREFIX of docs
    assert(snapshot(0) === fullCc(deltas(0)))
    assert(snapshot(1) === fullCc(deltas(0).unionByName(deltas(1))))
    assert(snapshot(2) === fullCc(planted))
    // the planted copies really landed in shared components
    val s2 = snapshot(2)
    val merged = (0L until 40L).filter(s2.contains)
      .count(id => s2.get(id) == s2.get(id + 100000))
    assert(merged >= 35, s"planted copies must co-label, got $merged")
  }

  test("label maintenance refuses labelsPath enabled MID-STREAM: an " +
      "index holding earlier batches with no prior snapshot fails " +
      "loudly instead of silently dropping pre-enablement collisions") {
    import graft.dedup.Dedup
    val base = Sources.table(spark, sf, "documents")
      .select("doc_id", "text").where(col("doc_id") < 60)
    val deltas = (0 to 1).map(i => base.where(col("doc_id") % 2 === i))
    val root = Files.createTempDirectory("graft_midlabels").toString
    val (idxPath, decPath) = (root + "/index", root + "/decisions")
    // batch 0 runs WITHOUT label maintenance — the index accretes
    EventStreams.processDedupAdmissionBatch(deltas(0), 0, idxPath, decPath)
    val ex = intercept[IllegalArgumentException] {
      EventStreams.processDedupAdmissionBatch(deltas(1), 1, idxPath,
        decPath, labelsPath = Some(root + "/labels"))
    }
    assert(ex.getMessage.contains("pre-enablement"), ex.getMessage)
    // the documented recovery: seed the snapshot from the existing
    // index, then enablement proceeds
    Dedup.connectedComponents(Dedup.lshCandidates(
      spark.read.parquet(idxPath).select(col("doc_id"), col("band"),
        col("sig")), "doc_id", probeParts = 0))
      .withColumn("batch_id", lit(0))
      .write.partitionBy("batch_id").mode("append").parquet(root + "/labels")
    EventStreams.processDedupAdmissionBatch(deltas(1), 1, idxPath,
      decPath, labelsPath = Some(root + "/labels"))
  }

  test("streaming admission: shuffle-join fallback (broadcastDelta=false) " +
      "decides identically") {
    import spark.implicits._
    import graft.dedup.Dedup
    // oversized-delta path: same decisions as the broadcast default — the
    // fallback changes the join's physical shape, never its semantics
    val base = Sources.table(spark, sf, "documents")
      .select("doc_id", "text").where(col("doc_id") < 200)
    val deltas = (0 to 1).map(i => base.where(col("doc_id") % 2 === i))
    def runSeq(broadcast: Boolean): Set[(Long, Boolean)] = {
      val root = Files.createTempDirectory("graft_adm_fb").toString
      deltas.zipWithIndex.foreach { case (d, i) =>
        EventStreams.processDedupAdmissionBatch(d, i,
          root + "/index", root + "/decisions",
          broadcastDelta = broadcast)
      }
      spark.read.parquet(root + "/decisions")
        .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toSet
    }
    assert(runSeq(broadcast = false) === runSeq(broadcast = true))
  }

  test("admission decisions are bit-equal across index compaction") {
    import spark.implicits._
    // same 4-delta sequence through two gates; one compacts its index
    // mid-sequence — later decisions (and the index CONTENT) must be
    // identical, only the file count may change
    val base = Sources.table(spark, sf, "documents")
      .select("doc_id", "text").where(col("doc_id") < 240)
    val planted = base.unionByName(base.where(col("doc_id") < 30)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val deltas = (0 to 3).map(i => planted.where(col("doc_id") % 4 === i))
    def decisions(path: String) = spark.read.parquet(path + "/decisions")
      .select($"doc_id", $"dup_of_index", $"dup_of_batch", $"keep",
        $"batch_id".cast("int"))
      .as[(Long, Option[Long], Option[Long], Boolean, Int)].collect().toSet
    def indexRows(path: String) = spark.read.parquet(path + "/index")
      .select($"doc_id", $"band", $"sig", $"batch_id".cast("int"))
      .as[(Long, Int, String, Int)].collect().toSet
    def files(path: String): Int = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(p: org.apache.hadoop.fs.Path): Int =
        fs.listStatus(p).map(s =>
          if (s.isDirectory) walk(s.getPath)
          else if (s.getPath.getName.endsWith(".parquet")) 1 else 0).sum
      walk(new org.apache.hadoop.fs.Path(path))
    }
    val plain = Files.createTempDirectory("graft_adm_plain").toString
    val compacted = Files.createTempDirectory("graft_adm_comp").toString
    deltas.take(2).zipWithIndex.foreach { case (d, i) =>
      EventStreams.processDedupAdmissionBatch(d, i,
        plain + "/index", plain + "/decisions")
      EventStreams.processDedupAdmissionBatch(d, i,
        compacted + "/index", compacted + "/decisions")
    }
    val preFiles = files(compacted + "/index")
    val preRows = indexRows(compacted)
    val (nParts, postFiles) =
      EventStreams.compactAdmissionIndex(spark, compacted + "/index")
    assert(nParts === 2)
    assert(postFiles < preFiles,
      s"compaction did not reduce files: $preFiles -> $postFiles")
    info(s"index files: $preFiles -> $postFiles across $nParts partitions")
    assert(indexRows(compacted) === preRows, "compaction changed index rows")
    deltas.drop(2).zipWithIndex.foreach { case (d, i) =>
      EventStreams.processDedupAdmissionBatch(d, i + 2,
        plain + "/index", plain + "/decisions")
      EventStreams.processDedupAdmissionBatch(d, i + 2,
        compacted + "/index", compacted + "/decisions")
    }
    assert(decisions(compacted) === decisions(plain))
    assert(decisions(plain).count(!_._4) >= 30) // planted dups caught
  }

  test("compactAdmissionIndex recovers a crash-stranded partition and " +
      "skips empty dirs") {
    import spark.implicits._
    val base = Sources.table(spark, sf, "documents")
      .select("doc_id", "text").where(col("doc_id") < 120)
    val deltas = (0 to 1).map(i => base.where(col("doc_id") % 2 === i))
    val root = Files.createTempDirectory("graft_adm_crash").toString
    deltas.zipWithIndex.foreach { case (d, i) =>
      EventStreams.processDedupAdmissionBatch(d, i,
        root + "/index", root + "/decisions")
    }
    def indexRows = spark.read.parquet(root + "/index")
      .select($"doc_id", $"band", $"sig", $"batch_id".cast("int"))
      .as[(Long, Int, String, Int)].collect().toSet
    val preRows = indexRows
    // simulate a compaction that crashed between its delete and rename:
    // only the (complete) tmp remains, whose `_` prefix + '='-encoding
    // hide it from readers — and, before the fix, from the maintenance
    // listing too, so the partition's band signatures silently vanished
    // and later batches would re-admit duplicates of those docs
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part0 = new org.apache.hadoop.fs.Path(root + "/index/batch_id=0")
    assert(fs.rename(part0, Sources.compactingTmp(part0)))
    // the stranded tmp must be INVISIBLE, not a read-breaking sibling: an
    // un-encoded `_batch_id=0__compacting` name would be parsed as a
    // conflicting partition column and fail this read outright
    assert(spark.read.parquet(root + "/index")
      .where($"batch_id" === 0).isEmpty)
    // an (externally) emptied sibling partition must be skipped, not
    // abort the whole maintenance pass
    fs.mkdirs(new org.apache.hadoop.fs.Path(root + "/index/batch_id=7"))
    val (nParts, _) =
      EventStreams.compactAdmissionIndex(spark, root + "/index")
    assert(nParts === 2) // batch 0 recovered + batch 1; empty 7 skipped
    assert(indexRows === preRows, "recovery changed index rows")
  }

  test("streaming curation funnel (admission -> quality -> split) equals " +
      "the batch fold, redelivery included") {
    import spark.implicits._
    import graft.dedup.Dedup
    import graft.operators.Downsample
    import graft.text.TextOps
    val base = Sources.table(spark, sf, "documents")
      .select("doc_id", "text").where(col("doc_id") < 300)
    val planted = base.unionByName(base.where(col("doc_id") < 40)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val deltas = (0 to 2).map(i => planted.where(col("doc_id") % 3 === i))
    val root = Files.createTempDirectory("graft_curation").toString
    EventStreams.processCurationBatch(deltas(0), 0, root + "/index",
      root + "/decisions", root + "/kept")
    EventStreams.processCurationBatch(deltas(1), 1, root + "/index",
      root + "/decisions", root + "/kept")
    // at-least-once: batch 1 replayed — kept set must be unchanged
    EventStreams.processCurationBatch(deltas(1), 1, root + "/index",
      root + "/decisions", root + "/kept")
    EventStreams.processCurationBatch(deltas(2), 2, root + "/index",
      root + "/decisions", root + "/kept")
    val streamed = spark.read.parquet(root + "/kept")
      .select($"doc_id", $"split").as[(Long, String)].collect().toSet
    // batch reference: fold the batch operators over the same sequence
    val stop = TextOps.langStopwords.head._2
    var idx = Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "sig")
    val expected = deltas.map { d =>
      val dec = Dedup.incrementalLshDedup(idx, d, "doc_id", "text")
      idx = idx.unionByName(Dedup.lshBands(
        Dedup.minhashWide(Dedup.shingles(d, "doc_id", "text", 3), "doc_id", 16),
        "doc_id", 16, 4))
      d.join(dec.where($"keep").select("doc_id"), Seq("doc_id"))
    }.reduce(_ unionByName _)
      .where(TextOps.qualityScore($"text", stop) > 0.5)
      .select($"doc_id",
        Downsample.splitLabel(md5($"text")).as("split"))
      .as[(Long, String)].collect().toSet
    assert(streamed === expected)
    assert(streamed.nonEmpty)
    // admission semantics: first-seen wins — a planted copy that arrived
    // in an EARLIER batch than its original (+100000 shifts id%3 by one)
    // is the legitimate keeper; what can never happen is both twins kept
    val keptIds = streamed.map(_._1)
    assert((0L until 40L).forall(d =>
      !(keptIds.contains(d) && keptIds.contains(d + 100000L))),
      "both twins of a planted duplicate were admitted")
    // leakage-safety, the differential form: the split is a pure function
    // of CONTENT, so each twin pair computes ONE split; the id-keyed
    // alternative (q68's splitLabel over doc_id) scatters at least one of
    // the 40 pairs across different buckets — the contamination this
    // funnel exists to prevent
    val bySplit = planted.where($"doc_id" < 40 || $"doc_id" >= 100000)
      .select($"doc_id" % 100000L,
        Downsample.splitLabel(md5($"text")).as("content_split"),
        Downsample.splitLabel($"doc_id").as("id_split"))
      .as[(Long, String, String)].collect().groupBy(_._1)
    assert(bySplit.values.forall(_.map(_._2).toSet.size == 1),
      "content-keyed split scattered an exact-dup pair")
    assert(bySplit.values.exists(_.map(_._3).toSet.size > 1),
      "exhibit too weak: id-keyed split happened to agree on every pair")
    // all three splits materialize on a corpus-sized kept set
    assert(streamed.map(_._2) === Set("train", "val", "test"))
  }

  test("streaming crawl-to-admission composition: WARC blobs stream " +
      "through crawlText into dedupAdmissionSink; multi-batch redelivery " +
      "is bit-equal") {
    import spark.implicits._
    import graft.dedup.Dedup
    import graft.pipeline.CrawlIngest
    import org.apache.spark.sql.types._
    // the full loop a crawl pipeline runs: new segments land -> text
    // extracted (WARC -> HTTP -> charset -> HTML -> normalize) -> dedup
    // admission decided against everything admitted before
    val docs = Sources.table(spark, sf, "documents")
      .where(col("doc_id") < 200).select("doc_id")
    val blobs = CrawlIngest.synthCrawlBlobs(docs, "doc_id")
    val srcDir = Files.createTempDirectory("graft_crawl_adm").toString
    blobs.repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = StructType(Seq(StructField("media_id", LongType),
      StructField("content", BinaryType)))
    def crawlDocs(df: org.apache.spark.sql.DataFrame) =
      CrawlIngest.crawlText(df)
        .where(col("text").isNotNull)
        .select(col("media_id").as("doc_id"), col("text"))
    // 1) single AvailableNow batch: composed streaming decisions must
    //    equal the BATCH incremental-dedup twin over the same texts
    val root1 = Files.createTempDirectory("graft_crawl_adm_out").toString
    val q1 = EventStreams.dedupAdmissionSink(
      crawlDocs(spark.readStream.schema(schema).parquet(srcDir)),
      root1 + "/index", root1 + "/decisions")
    try q1.processAllAvailable() finally q1.stop()
    val streamed = spark.read.parquet(root1 + "/decisions")
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toSet
    val empty = Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "sig")
    val want = Dedup.incrementalLshDedup(empty, crawlDocs(blobs),
      "doc_id", "text")
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toSet
    assert(streamed === want,
      "composed crawl->admission diverges from the batch twin")
    // 2) multi-batch (maxFilesPerTrigger=1) run, then a FULL REDELIVERY
    //    of the same stream over the same index/decisions (fresh
    //    checkpoint): per-batch_id dynamic overwrite must make the
    //    replay bit-equal, decisions AND index
    def runMulti(root: String, checkpoint: String) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = crawlDocs(stream).writeStream
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                         batchId: Long) =>
          EventStreams.processDedupAdmissionBatch(batch, batchId,
            root + "/index", root + "/decisions", "doc_id", "text",
            3, 16, 4, true, -1, 0)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    val root2 = Files.createTempDirectory("graft_crawl_adm_mb").toString
    runMulti(root2, root2 + "/cp1")
    val firstRun = spark.read.parquet(root2 + "/decisions")
      .select($"doc_id", $"dup_of_index", $"dup_of_batch", $"keep",
        $"batch_id")
      .as[(Long, Option[Long], Option[Long], Boolean, Long)]
      .collect().toSet
    assert(firstRun.map(_._5).size > 1,
      "exhibit too weak: multi-batch run produced a single micro-batch")
    runMulti(root2, root2 + "/cp2") // redelivery from scratch
    val replay = spark.read.parquet(root2 + "/decisions")
      .select($"doc_id", $"dup_of_index", $"dup_of_batch", $"keep",
        $"batch_id")
      .as[(Long, Option[Long], Option[Long], Boolean, Long)]
      .collect().toSet
    assert(replay === firstRun,
      "redelivered crawl->admission decisions diverge")
    // and every doc received exactly ONE verdict across all batches
    assert(replay.groupBy(_._1).forall(_._2.size == 1),
      "a doc received conflicting verdicts across batches")
  }

  test("model-gated streaming admission: classifier scoring rides the " +
      "stream between crawlText and the dedup sink; batch twin agrees") {
    import spark.implicits._
    import graft.dedup.Dedup
    import graft.pipeline.CrawlIngest
    import graft.text.HashClassifier
    import org.apache.spark.sql.types._
    // the r16 composition: extracted text -> broadcast-vocab classifier
    // gate (the corpus-scale quality filter) -> dedup admission. The
    // scorer is a stateless narrow map, so it rides a stream unchanged.
    val docs = Sources.table(spark, sf, "documents")
      .where(col("doc_id") < 160).select("doc_id")
    val blobs = CrawlIngest.synthCrawlBlobs(docs, "doc_id")
    val srcDir = Files.createTempDirectory("graft_gated_adm").toString
    blobs.repartition(3).write.mode("overwrite").parquet(srcDir)
    val schema = StructType(Seq(StructField("media_id", LongType),
      StructField("content", BinaryType)))
    def crawlDocs(df: org.apache.spark.sql.DataFrame) =
      CrawlIngest.crawlText(df)
        .where(col("text").isNotNull)
        .select(col("media_id").as("doc_id"), col("text"))
    // pick the corpus median score as the gate so the split is REAL
    // (both sides non-empty) whatever the synth text distribution is
    val thr = HashClassifier
      .scoreText(crawlDocs(blobs), "text", HashClassifier.demoVocab)
      .stat.approxQuantile("cls_score", Array(0.5), 0.0).head
    def gated(df: org.apache.spark.sql.DataFrame) =
      HashClassifier.scoreText(df, "text", HashClassifier.demoVocab,
        threshold = thr)
        .where(col("cls_label"))
        .select("doc_id", "text")
    val root = Files.createTempDirectory("graft_gated_out").toString
    val q = EventStreams.dedupAdmissionSink(
      gated(crawlDocs(
        spark.readStream.schema(schema).parquet(srcDir))),
      root + "/index", root + "/decisions")
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(root + "/decisions")
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toSet
    val empty = Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "sig")
    val want = Dedup.incrementalLshDedup(empty,
        gated(crawlDocs(blobs)), "doc_id", "text")
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toSet
    assert(streamed === want,
      "gated streaming admission diverges from the batch twin")
    val total = crawlDocs(blobs).count()
    assert(streamed.nonEmpty && streamed.size < total,
      s"gate degenerate: ${streamed.size} of $total passed")
  }

  test("dedupAdmissionSink wires the admission batch through foreachBatch") {
    import spark.implicits._
    import graft.dedup.Dedup
    val docs = Sources.table(spark, sf, "documents")
      .select("doc_id", "text").where(col("doc_id") < 200)
    val srcDir = Files.createTempDirectory("graft_docs_stream").toString
    docs.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val root = Files.createTempDirectory("graft_admission_sink").toString
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(srcDir)
    val q = EventStreams.dedupAdmissionSink(
      stream, root + "/index", root + "/decisions")
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(root + "/decisions")
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toSet
    val empty = Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "sig")
    val want = Dedup.incrementalLshDedup(empty, docs, "doc_id", "text")
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toSet
    assert(streamed === want)
    // the index accreted every seen signature (4 bands x docs)
    assert(spark.read.parquet(root + "/index").count() === docs.count() * 4)
  }
}
