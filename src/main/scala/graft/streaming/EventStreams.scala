package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.10).
  *
  * The reference's closest analogue is Airflow's dataset-triggered
  * re-run (dags/Load.py:17) — a file-watcher. Here that becomes a real
  * incremental pipeline: `readStream` over a directory, event-time windowed
  * aggregation with a watermark bounding state, and `foreachBatch` for the
  * delta-append pattern (J4 anti-join per micro-batch).
  *
  * SCALE DESIGN: watermark + windowed agg keeps state bounded to
  * (windows in watermark horizon) x (keys) regardless of total stream
  * volume; `Trigger.AvailableNow` drains a backlog in rate-limited batches
  * rather than one giant batch — the 100 TB-backfill-safe default.
  */
object EventStreams {

  /** events schema after ns->ts normalization (see Sources.events). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over a parquet directory of event files. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Event-time hourly counts per type with a watermark bounding state. */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_ts"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding event-time windows (1h length, 15m slide): each event lands in
    * 4 overlapping windows; watermark bounds the open-window state. The
    * streaming twin of the batch q81 sliding aggregation. */
  def slidingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("n"), col("sum_value"))

  /** Drain all available input into an in-memory table (test/backfill
    * harness): AvailableNow + processAllAvailable. Returns the query for
    * the caller to stop. */
  def drainToMemory(agg: DataFrame, name: String): StreamingQuery = {
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }

  /** Stream-static enrichment: join the event stream against a static
    * dimension (broadcast per micro-batch — the streaming twin of the fact
    * table's broadcast FK joins; the static side re-reads, so a dimension
    * update is picked up by the next batch without restarting the query). */
  def enriched(events: DataFrame, dim: DataFrame,
               keys: Seq[String]): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), keys, "left")

  /** Stream-STREAM inner join with event-time interval bounds: each
    * purchase joins the same user's views from the preceding hour. Both
    * sides carry watermarks and the join condition bounds purchase_ts to
    * [view_ts, view_ts + 1h], so Spark can expire view state older than
    * watermark + interval and purchase state older than watermark —
    * bounded state on BOTH sides regardless of stream volume (without the
    * interval bound a stream-stream join must hold one side forever).
    * The attribution-window join every event pipeline needs. */
  def viewPurchaseAttribution(events: DataFrame,
                              watermark: String = "2 hours"): DataFrame = {
    val views = events.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("value"))
  }

  /** Streaming exact dedup: drop repeated event_ids with state bounded by
    * the watermark horizon (`dropDuplicatesWithinWatermark`) — the streaming
    * twin of exact dedup (q30): at-least-once upstream delivery becomes
    * exactly-once content downstream, without unbounded key state. */
  def dedupped(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  // ---- Custom state: gap-based session windows -----------------------

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)
  case class SessionState(sessionId: Long, lastTsUs: Long,
                          nEvents: Long, startUs: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                        start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp)

  /** Stateful gap-based sessionization via `flatMapGroupsWithState`: custom
    * per-user O(1) state (the 30-min-gap twin of batch q43). A session is
    * emitted when a later event closes it; the tail session per user stays
    * open in state (a production deploy would close it with an event-time
    * timeout against the watermark — kept timeout-free here so an
    * AvailableNow drain terminates deterministically).
    */
  def sessionizeStateful(spark: SparkSession, events: DataFrame,
                         gapMinutes: Long = 30): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000000L

    // java.sql.Timestamp: getTime is ms; microseconds live in getNanos.
    def toUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def toTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000000L * 1000)
      t.setNanos(((us % 1000000L) * 1000).toInt)
      t
    }

    def fn(user: Long, rows: Iterator[Event],
           state: GroupState[SessionState]): Iterator[SessionOut] = {
      // within-batch arrival order is not event-time order: sort the batch.
      // (Cross-batch disorder is a watermark/holding concern — the source
      // here feeds batches in event-time order.)
      val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
      val out = scala.collection.mutable.ListBuffer[SessionOut]()
      var st = state.getOption.getOrElse(SessionState(-1L, Long.MinValue, 0L, 0L))
      sorted.foreach { e =>
        val us = toUs(e.ts)
        if (st.sessionId < 0 || us - st.lastTsUs > gapUs) {
          if (st.sessionId >= 0)
            out += SessionOut(user, st.sessionId, st.nEvents,
              toTs(st.startUs), toTs(st.lastTsUs))
          st = SessionState(st.sessionId + 1, us, 1L, us)
        } else st = st.copy(lastTsUs = us, nEvents = st.nEvents + 1)
      }
      state.update(st)
      out.iterator
    }

    events.as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** Incremental delta-append per micro-batch: the streaming form of the
    * reference's add_changes_to_* tasks (J4 + U1) — each batch is
    * published like a warehouse table
    * ([[graft.pipeline.Pipeline.publishIncremental]]): it anti-joins the
    * accumulated sink, and a redelivered batch first drops the failed
    * attempt's `_temporary/`. The query must be the sink's only writer. */
  def deltaAppendSink(events: DataFrame, sinkPath: String): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.pipeline.Pipeline.publishIncremental(
          batch.sparkSession, batch, sinkPath)
        ()
      }
      .start()

  /** One micro-batch of streaming dedup ADMISSION CONTROL — the
    * foreachBatch twin of [[graft.dedup.Dedup.incrementalLshDedup]],
    * factored out of [[dedupAdmissionSink]] so a test (or a manual
    * replayer) can drive the exact code the stream runs, including
    * redelivery.
    *
    * Per batch: (1) read the accreting band-signature index at
    * `indexPath`, pruned to `batch_id < batchId`; (2) compute the delta's
    * band table ONCE (persisted — it feeds both the decisions and the
    * index append); (3) decide keep/drop via the batch operator's exact
    * decision rule ([[graft.dedup.Dedup.incrementalLshDedupFromBands]] —
    * one code path, so batch and streaming can never diverge); (4) write
    * decisions and bands partitioned by `batch_id` with DYNAMIC partition
    * overwrite.
    *
    * AT-LEAST-ONCE -> EXACTLY-ONCE: foreachBatch may REDELIVER a batch
    * after a failure. Two mechanisms make redelivery a no-op: the
    * `batch_id < batchId` index filter means a replayed batch N sees
    * exactly the index state of batches 0..N-1 — its own half-written
    * bands from the failed attempt are invisible, so it cannot collide
    * with itself (which would both violate the disjoint-ids precondition
    * and flip its own decisions to drop) — and dynamic partition
    * overwrite replaces the `batch_id=N` output partitions instead of
    * appending duplicates. Decisions are therefore a pure function of
    * the delta sequence, bit-identical to running the batch operator
    * over the same sequence (StreamingSpec asserts this, redelivery
    * included).
    *
    * SCALE SHAPE: inherits the batch operator's — index side scan-speed
    * with zero shuffle (partition-pruned to prior batches), delta side
    * broadcast with the `broadcastDelta = false` fallback for oversized
    * batches. The index grows by ~bands rows per admitted doc per batch;
    * [[compactAdmissionIndex]] is the matching maintenance op when file
    * counts matter. `probeParts` forwards to the within-batch
    * [[graft.dedup.Dedup.lshCandidates]] self-join; a hot bucket there is
    * split by AQE's skew join (SCALING.md, "Key skew"). */
  def processDedupAdmissionBatch(batch: DataFrame, batchId: Long,
                                 indexPath: String, decisionsPath: String,
                                 idCol: String = "doc_id",
                                 textCol: String = "text",
                                 shingleN: Int = 3, numHashes: Int = 16,
                                 bands: Int = 4,
                                 broadcastDelta: Boolean = true,
                                 probeParts: Int = -1,
                                 labelsPath: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    import graft.dedup.Dedup
    // the empty first-batch index derives its id type from the BATCH, not
    // a hardcoded Long: a string-id corpus would otherwise write batch 0's
    // decisions with a bigint dup_of_index and every later batch with a
    // string one — the decisions store becomes unreadable as a whole
    val idx = graft.pipeline.Pipeline.readAccumulated(spark, indexPath)
      .map(_.where(col("batch_id") < batchId)
        .select(col(idCol), col("band"), col("sig")))
      .getOrElse {
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(
            StructField(idCol, batch.schema(idCol).dataType),
            StructField("band", IntegerType),
            StructField("sig", StringType))))
      }
    val newBands = Dedup.lshBands(
      Dedup.minhashWide(
        Dedup.shingles(batch, idCol, textCol, shingleN), idCol, numHashes),
      idCol, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val decisions = Dedup.incrementalLshDedupFromBands(
        idx, newBands, batch.select(col(idCol)), idCol, broadcastDelta,
        probeParts)
      decisions.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(decisionsPath)
      // OPTIONAL LABEL MAINTENANCE (the q177/q178 composition as a
      // stream): fold this batch's collision edges into the persisted
      // component labels via connectedComponentsIncremental, at
      // delta-bounded cost per batch. Edges are the FULL collision
      // pairs — batch-vs-index (one band join against the pruned
      // index) plus within-batch candidates — NOT the decision
      // min-pointers, which under-merge a new doc bridging two
      // components (the q178 decision record). Snapshot semantics
      // make redelivery exactly-once just like the decisions: the
      // label table AFTER batch N lands in partition batch_id=N; a
      // replayed batch reads the latest snapshot STRICTLY BEFORE
      // itself (its own failed write invisible) and dynamic overwrite
      // replaces its partition.
      labelsPath.foreach { lp =>
        import graft.dedup.Dedup
        val emptyLabels = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(
            StructField("id", batch.schema(idCol).dataType),
            StructField("component", batch.schema(idCol).dataType))))
        val prevLabels = graft.pipeline.Pipeline.readAccumulated(spark, lp)
          .map { df =>
            // partition-column discovery types small batch_id values as
            // INT — cast before comparing (the getLong trap)
            val prior = df.where(col("batch_id").cast(LongType) < batchId)
            val last = prior.agg(max(col("batch_id").cast(LongType))).head()
            if (last.isNullAt(0)) emptyLabels
            else prior
              .where(col("batch_id").cast(LongType) === last.getLong(0))
              .select(col("id"), col("component"))
          }
          .getOrElse(emptyLabels)
        // enabling labelsPath MID-STREAM would silently produce label
        // snapshots missing every pre-enablement collision (empty
        // prevLabels folded against an already-populated index breaks
        // the bit-equality-with-full-recompute contract without a
        // trace). Fail loudly instead: no prior snapshot is only legal
        // while the index holds no prior batches either. The probe
        // runs ONLY on the no-snapshot path (batch 0 of a correctly
        // wired stream, or the misconfiguration) and is a limit-1 scan.
        if (prevLabels eq emptyLabels)
          require(idx.isEmpty,
            s"labelsPath '$lp' has no label snapshot before batch " +
              s"$batchId but the index at '$indexPath' already holds " +
              "earlier batches — labels would miss every " +
              "pre-enablement collision. Supply labelsPath from batch " +
              "0, or seed the snapshot first (connectedComponents over " +
              "lshCandidates of the existing index, written as " +
              "batch_id = <last indexed batch>).")
        val vsIdx = idx
          .select(col(idCol).as("id_a"), col("band"), col("sig"))
          .join(newBands
            .select(col(idCol).as("id_b"), col("band"), col("sig")),
            Seq("band", "sig"))
          .select("id_a", "id_b").distinct()
        val edges = vsIdx.unionByName(
          Dedup.lshCandidates(newBands, idCol, probeParts))
        Dedup.connectedComponentsIncremental(prevLabels, edges)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(lp)
      }
      // every seen signature enters the index, kept or not (the accreting
      // store the batch operator's decision rule is defined against)
      newBands.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(indexPath)
    } finally newBands.unpersist()
  }

  /** Streaming dedup admission gate over a document stream: each
    * micro-batch is decided against everything admitted before it and the
    * signature index accretes — [[processDedupAdmissionBatch]] wired into
    * `foreachBatch` with `Trigger.AvailableNow`. Decisions land at
    * `decisionsPath` (idCol, dup_of_index, dup_of_batch, keep, batch_id);
    * downstream consumers filter `keep`. */
  def dedupAdmissionSink(docs: DataFrame, indexPath: String,
                         decisionsPath: String, idCol: String = "doc_id",
                         textCol: String = "text", shingleN: Int = 3,
                         numHashes: Int = 16, bands: Int = 4,
                         broadcastDelta: Boolean = true,
                         probeParts: Int = -1,
                         labelsPath: Option[String] = None): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processDedupAdmissionBatch(batch, batchId, indexPath, decisionsPath,
          idCol, textCol, shingleN, numHashes, bands, broadcastDelta,
          probeParts, labelsPath)
      }
      .start()

  /** One micro-batch of the full streaming CURATION FUNNEL — the composed
    * per-batch form of the batch pipeline (admission dedup -> quality
    * gate -> leakage-safe split), all three stages one code path with
    * their batch operators so stream and batch can never diverge:
    *
    *  1. [[processDedupAdmissionBatch]] decides keep/drop for the delta
    *     against everything admitted before it (exactly-once under
    *     redelivery via the batch_id index prune + dynamic overwrite);
    *  2. admitted docs pass the quality gate
    *     ([[graft.text.TextOps.qualityScore]] > `minQuality` — the q85
    *     funnel's predicate);
    *  3. survivors get their train/val/test split via the fingerprint
    *     form of [[graft.operators.Downsample.leakageSafeSplit]] keyed on
    *     the CONTENT fingerprint (md5 of text), not the doc id: the split of
    *     a document is a pure function of its bytes, so a redelivered or
    *     exact-duplicate doc can never straddle the train/eval boundary
    *     even across batches. (Near-duplicates are already prevented from
    *     reaching the split at all — the admission gate dropped them.)
    *
    * Kept rows land at `keptPath` as (idCol, split, batch_id), partitioned
    * by batch_id with dynamic overwrite — the same redelivery-safe sink
    * shape as the decisions store. The final kept set is a pure function
    * of the delta sequence, bit-equal to folding the batch operators over
    * the same sequence (StreamingSpec asserts this, redelivery included).
    *
    * SCALE SHAPE: stages 2-3 are map-side on the admitted delta (the
    * quality score is scan-side regex arithmetic, the split a hash of the
    * already-computed fingerprint); the only join beyond the admission
    * gate's is delta-sized (decisions back to the batch).
    *
    * READ-AFTER-WRITE: stage 2 reads `decisionsPath` back immediately
    * after stage 1 wrote it — deliberate, not an oversight. The
    * alternative (carrying the decisions DataFrame forward) would
    * RECOMPUTE the whole index probe when stage 2's join executes, while
    * the read-back is a partition-pruned scan of the one just-written
    * `batch_id=N` directory. The contract this rests on: the store must
    * be read-after-write consistent for new objects — true of HDFS,
    * ABFS, GCS and (since Dec 2020) S3; on a pre-2020-style eventually-
    * consistent store this funnel could silently see an empty decision
    * set, so there it must run against a consistent metadata layer
    * instead. */
  def processCurationBatch(batch: DataFrame, batchId: Long,
                           indexPath: String, decisionsPath: String,
                           keptPath: String, idCol: String = "doc_id",
                           textCol: String = "text",
                           minQuality: Double = 0.5,
                           shingleN: Int = 3, numHashes: Int = 16,
                           bands: Int = 4,
                           broadcastDelta: Boolean = true): Unit = {
    val spark = batch.sparkSession
    processDedupAdmissionBatch(batch, batchId, indexPath, decisionsPath,
      idCol, textCol, shingleN, numHashes, bands, broadcastDelta)
    val admitted = spark.read.parquet(decisionsPath)
      .where(col("batch_id") === batchId && col("keep"))
      .select(col(idCol))
      .join(batch, Seq(idCol))
    val stop = graft.text.TextOps.langStopwords.head._2
    val quality = admitted
      .where(graft.text.TextOps.qualityScore(col(textCol), stop) > minQuality)
    // leakageSafeSplit's fingerprint form, inlined map-side: with an
    // (id, md5(text)) component map every doc HAS a component, so the
    // operator's coalesce(component, id) is just the fingerprint and the
    // join drops out — splitLabel(md5(text)) is bit-identical arithmetic
    // at scan speed (DownsampleSpec-pinned equivalence in StreamingSpec)
    quality
      .withColumn("split",
        graft.operators.Downsample.splitLabel(md5(col(textCol))))
      .select(col(idCol), col("split"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(keptPath)
  }

  /** Admission-index maintenance: compact every `batch_id=N` partition of
    * the accreting band-signature index into ~`targetFileBytes` files.
    * Each admission batch appends one small file set under its partition;
    * over thousands of batches that is a listing/planning tax on every
    * subsequent batch's pruned index scan, so compaction is the standing
    * maintenance op ([[graft.sources.Sources.compactParquet]] per
    * partition directory — the index is partitioned, so the root-level
    * compactor correctly refuses it). Decisions are UNCHANGED by
    * compaction: the gate reads (id, band, sig) filtered on `batch_id`,
    * and a per-partition rewrite preserves exactly that set (StreamingSpec
    * proves bit-equality of post-compaction decisions). Run it between
    * batches — compactParquet is not safe against a concurrent writer to
    * the SAME partition, and old partitions are never written again.
    *
    * CRASH RECOVERY is this op's job, not just compaction: a compaction
    * that died between its delete and rename leaves ONLY the
    * `_`-prefixed, '='-encoded tmp (`_batch_id__EQ__N__compacting` — see
    * [[graft.sources.Sources.compactingTmp]] for why '=' must not appear:
    * an un-encoded name is parsed as a conflicting partition column and
    * fails every index read). The tmp is invisible to readers (by design)
    * but would ALSO be invisible to a naive `batch_id=` listing, so the
    * partition's band signatures would silently vanish from the index and
    * later batches would re-admit duplicates of those docs. The partition
    * name is therefore reconstructed (decoded) from any stranded tmp and
    * routed through compactParquet, whose recovery branch completes the
    * rename. An (externally) emptied partition dir with no stranded tmp
    * is skipped with a stderr line instead of aborting the whole
    * maintenance pass.
    * Returns (partitions compacted, total resulting files). */
  def compactAdmissionIndex(spark: SparkSession, indexPath: String,
                            targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(indexPath))
    if (!fs.exists(root)) return (0, 0) // no index yet: nothing to compact
    val entries = fs.listStatus(root)
    val live = entries.collect {
      case s if s.isDirectory && s.getPath.getName.startsWith("batch_id=") =>
        s.getPath.getName
    }
    val stranded = entries.collect {
      case s if s.isDirectory &&
          s.getPath.getName.startsWith("_batch_id__EQ__") &&
          s.getPath.getName.endsWith("__compacting") =>
        s.getPath.getName.stripPrefix("_").stripSuffix("__compacting")
          .replace("__EQ__", "=")
    }
    val counts = (live ++ stranded).distinct.sorted.flatMap { name =>
      val part = new org.apache.hadoop.fs.Path(root, name)
      val hasTmp = fs.exists(graft.sources.Sources.compactingTmp(part))
      val hasFiles = fs.exists(part) && fs.listStatus(part).exists(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
      if (!hasTmp && !hasFiles) {
        // reachable only by external tampering (the gate always writes
        // files into the partitions it creates): skip, don't abort —
        // compactParquet would require-fail and kill the whole pass
        System.err.println(
          s"[compactAdmissionIndex] skipping $part: no parquet files")
        None
      } else Some(graft.sources.Sources.compactParquet(spark, part.toString,
        targetFileBytes))
    }
    (counts.length, counts.sum)
  }
}
