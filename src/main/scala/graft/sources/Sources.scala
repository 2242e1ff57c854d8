package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{functions, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.schemas.Schemas

/** Sources and sinks (SURVEY.md §2.1, S1-S8).
  *
  * The reference reads headered CSV with pandas (ET:42-59) and writes
  * headered CSV without index (ET:338-339); the intended terminal sink is a
  * JDBC warehouse (dags/test_connection.py:7-12). Spark-first mapping:
  * explicit schemas (no inference scan), PERMISSIVE parsing to mirror
  * pandas' NaN-on-bad-value behavior, and parquet as the curated format so
  * downstream scans get column pruning + predicate pushdown + min/max
  * row-group skipping for free.
  */
object Sources {

  /** S1-S4 — headered CSV scan with explicit schema (mirrors `pd.read_csv`
    * inference results without the inference pass; quoted fields on). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .csv(path)

  /** Parquet scan — preferred curated/source format at scale. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Testdata table loader: `<sfDir>/<name>.parquet` (TESTDATA.md), read
    * with its declared schema ([[Schemas.testdata]]), so resolving a table
    * reads no footer and starts no Spark job. `events` is not one of them:
    * read it through [[events]]. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val schema = Schemas.testdata.getOrElse(name,
      throw new IllegalArgumentException(s"$name is not a testdata table"))
    spark.read.schema(schema).parquet(s"$sfDir/$name.parquet")
  }

  // events' stored schema per (live session, path), inferred once: weak
  // keys, so a stopped session's entry is collectable
  private val eventsSchemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[String, StructType]]())

  /** The `events` table's `ts` physical type has varied across testdata
    * generations: TIMESTAMP(NANOS) (readable only as LongType via
    * spark.sql.legacy.parquet.nanosAsLong=true) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (read as TIMESTAMP_NTZ). Normalize both to the
    * session-tz TimestampType every downstream consumer — unix_micros
    * arithmetic in the sessionizers/resampler, watermarks in the streaming
    * twins — was built and oracle-verified against. Nanos path: exact
    * integer division (`div` — a long->double cast would lose precision
    * above 2^53 ns and drift vs DuckDB's own ns->us truncation). NTZ path:
    * cast, which stamps the wall-clock with the session timezone — UTC in
    * every graft session (Graft.scala) — matching DuckDB's naive reading
    * of the same file.
    *
    * The stored schema is inferred from the footer once per (session,
    * path), one Spark job; later calls read with it and start none. A file
    * rewritten at the same path keeps the type first read in that session. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // runtime-settable SQL conf: makes a nanos-generation events file
    // readable even from a session built without this flag (e.g. the
    // driver's own smoke harness). Unconditional on purpose:
    // conf.getOption returns the REGISTERED DEFAULT (Some("false")) for an
    // unset key, so "set only if absent" can never fire — a nanos file is
    // unreadable without the flag, so setting it is strictly enabling.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val stored = eventsSchemas.computeIfAbsent(spark, _ => TrieMap.empty)
      .getOrElseUpdate(path, spark.read.parquet(path).schema)
    val raw = spark.read.schema(stored).parquet(path)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      // NTZ today; any future generation (date, string, millis-as-int)
      // takes the same session-tz cast rather than silently leaking a
      // type the downstream unix_micros arithmetic rejects
      case _ =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** S5 — curated CSV sink, header, no index (ET:338-339). Doubled-quote
    * escaping to match the reader (and pandas' CSV convention) — Spark's
    * default backslash escape would not round-trip through [[csv]]. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(path)

  /** JSON-lines scan with explicit schema — no inference pass (inference
    * reads the whole input once before the real scan: at 100 TB that is a
    * doubled job). */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSON-lines sink — the interchange format for pipelines whose next hop
    * is not Spark; parquet remains the curated format at scale. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Curated parquet sink; `partitionBy` for scale-out pruning (e.g. the
    * flights fact partitioned by date at 100 TB). */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Binary-file ingestion for multimodal corpora: each file under `dir`
    * matching `glob` becomes one row of (media_id, kind, content) — the
    * input shape of [[graft.multimodal.Multimodal.withMetadata]] and the
    * decode path. `media_id` is the 60-bit hash of the file path
    * (deterministic across runs; collision odds negligible below ~2^30
    * files) and `kind` is the lowercased filename extension. Spark's
    * binaryFile source splits FILES across executors but never one file,
    * so huge media files bound per-task memory — production corpora pack
    * small media into parquet blob tables (the layout Multimodal's
    * SCALE DESIGN notes describe) and use this reader for the initial
    * ingest hop only. */
  def binaryMedia(spark: SparkSession, dir: String,
                  glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        graft.text.TextOps.hash64(functions.col("path")).as("media_id"),
        functions.lower(functions.element_at(
          functions.split(functions.col("path"), "\\."), -1)).as("kind"),
        functions.col("content"))

  /** S6 — JDBC warehouse sink (reference: Azure SQL via ODBC,
    * dags/test_connection.py:7-12). Config-driven; no driver is bundled in
    * this offline environment, so this only *builds* the writer. */
  def jdbcWriter(df: DataFrame, url: String, table: String,
                 props: Map[String, String] = Map.empty) = {
    val w = df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", "10000")
    props.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
  }

  /** Small-file compaction: rewrite a FLAT parquet directory into files of
    * ~`targetFileBytes` (sized from the CURRENT on-disk bytes, so the
    * output file count adapts to the data). Incremental batch appends
    * (e.g. [[graft.streaming.EventStreams.deltaAppendSink]]'s foreachBatch
    * parquet appends) accumulate thousands of small files; at 100 TB that
    * is a scan-planning and listing tax every downstream job pays, so
    * periodic compaction is a standing maintenance op.
    *
    * Guard rails (each a real data-loss mode without it):
    *  - refuses a `_spark_metadata` dir (a FileStreamSink's exactly-once
    *    log: deleting it silently hides pre-compaction data from
    *    log-aware readers — such sinks need log-aware compaction);
    *  - refuses a directory with no top-level .parquet files (a
    *    PARTITIONED table: compact each partition directory instead —
    *    rewriting through the root would collapse the layout and its
    *    pruning);
    *  - tmp path derives from the normalized Path, never string concat
    *    (a trailing slash would nest tmp INSIDE the source and the swap
    *    would delete both copies); its name starts with `_` AND has any
    *    '=' encoded out ([[compactingTmp]]) — Spark's hidden-path filter
    *    skips `_`-prefixed names only when they contain no '=', so when
    *    the compacted target is one PARTITION of a larger table (the
    *    admission index's `batch_id=N` dirs, whose sibling tmp lands
    *    inside the table root), an un-encoded crash-stranded tmp would be
    *    parsed as a conflicting partition column and fail every read of
    *    the whole table;
    *  - already-compact directories return without rewriting.
    * The delete+rename swap is crash-windowed, not atomic: a crash
    * between the two strands the (complete) data under `__compacting`,
    * and a rerun auto-completes the swap. NOT safe against concurrent
    * writers — that isolation is what table formats add on top; a
    * compaction job owns its table's maintenance window. Returns the
    * resulting file count. */
  /** Tmp sibling for [[compactParquet]]'s write-swap. The name must start
    * with `_` AND contain no '=': Spark's hidden-path filter only skips
    * `_`-prefixed names WITHOUT an '=' (so `_temporary` is invisible, but
    * an un-encoded `_batch_id=0__compacting` sibling inside a partitioned
    * table root is parsed as a CONFLICTING partition column and fails
    * every read of the whole table — tested in StreamingSpec). '=' is
    * therefore encoded; [[graft.streaming.EventStreams.compactAdmissionIndex]]
    * decodes it when reconstructing a crash-stranded partition's name. */
  private[graft] def compactingTmp(dir: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dir.getParent,
      "_" + dir.getName.replace("=", "__EQ__") + "__compacting")

  def compactParquet(spark: SparkSession, path: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes > 0)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val tmp = compactingTmp(dir)
    if (fs.exists(tmp)) {
      if (!fs.exists(dir)) { // crashed between delete and rename: complete it
        require(fs.rename(tmp, dir), s"recovery rename $tmp -> $dir failed")
      } else if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
        // tmp's write COMMITTED (the committer writes _SUCCESS last), so a
        // coexisting dir is either the pre-compaction original (crash after
        // write, before delete — both copies complete, either is correct)
        // or a PARTIALLY-deleted original (crash mid-delete — only tmp is
        // complete). tmp is the safe choice in both — UNLESS dir was
        // legitimately REWRITTEN after the crash stranded the tmp (a
        // reprocessed batch id, outside the append-only contract): then
        // dir carries fresh rows the stale compacted tmp lacks. A rewrite
        // is distinguishable by dir owning its own _SUCCESS with a newer
        // mtime than tmp's; in that case discard the stale tmp instead of
        // silently replacing fresh data with pre-crash compacted data.
        val tmpOk = new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")
        val dirOk = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
        val tmpTs = fs.getFileStatus(tmpOk).getModificationTime
        val dirTs = if (fs.exists(dirOk))
          fs.getFileStatus(dirOk).getModificationTime else Long.MinValue
        // On coarse (second-granularity) filesystem timestamps a
        // legitimate post-crash rewrite can TIE the stranded tmp's
        // mtime exactly; picking either side on a tie silently loses
        // rows in one of the two crash scenarios (tie→tmp clobbers the
        // fresh rewrite; tie→dir keeps a partially-deleted original).
        // Equal mtimes are genuinely ambiguous — refuse, leave BOTH
        // copies intact, and make the operator decide.
        if (dirTs == tmpTs) sys.error(
          s"compactParquet recovery: $dir and stranded tmp $tmp both " +
            s"own a _SUCCESS with the SAME mtime ($tmpTs) — cannot tell " +
            "a post-crash rewrite from the pre-crash original on this " +
            "filesystem's timestamp resolution. Resolve manually: keep " +
            "dir and delete tmp if dir was rewritten after the crash; " +
            "replace dir with tmp if dir is the pre-compaction original.")
        if (dirTs > tmpTs) {
          System.err.println(
            s"compactParquet recovery: $dir has its own _SUCCESS " +
              s"(mtime=$dirTs) newer than stranded tmp $tmp " +
              s"(mtime=$tmpTs) — keeping dir, discarding the stale tmp")
          fs.delete(tmp, true)
        } else {
          System.err.println(
            s"compactParquet recovery: completing crashed swap — " +
              s"tmp=$tmp (_SUCCESS mtime=$tmpTs) replaces dir=$dir " +
              s"(_SUCCESS mtime=${if (dirTs == Long.MinValue) "absent"
              else dirTs})")
          require(fs.delete(dir, true), s"recovery delete of $dir failed")
          require(fs.rename(tmp, dir), s"recovery rename $tmp -> $dir failed")
        }
      } else fs.delete(tmp, true) // uncommitted tmp: a crashed write phase
    }
    val entries = fs.listStatus(dir)
    require(!entries.exists(_.getPath.getName == "_spark_metadata"),
      s"$dir is a streaming FileStreamSink (has _spark_metadata); " +
        "compacting it would orphan the exactly-once log")
    val files = entries.filter(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty,
      s"$dir has no top-level parquet files — for a partitioned table, " +
        "compact each partition directory")
    val bytes = files.map(_.getLen).sum
    val nL = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    require(nL <= Int.MaxValue, s"$nL output files: raise targetFileBytes")
    val n = nL.toInt
    if (files.length <= n) return files.length // already compact: no rewrite
    writeParquet(spark.read.parquet(dir.toString).repartition(n), tmp.toString)
    require(fs.delete(dir, true), s"delete of $dir failed")
    require(fs.rename(tmp, dir), s"rename $tmp -> $dir failed")
    n
  }
}
