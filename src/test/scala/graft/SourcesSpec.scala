package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions.{col, timestamp_micros, unix_micros}
import org.apache.spark.sql.types._

import graft.schemas.Schemas
import graft.sources.Sources
import graft.warehouse.Warehouse

/** Source/sink surface (S6/S7): JDBC writer builder and catalog metadata;
  * the declared testdata schemas and the `events` timestamp normalization. */
class SourcesSpec extends SparkSpec {

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  test("Schemas.testdata equals the schema Spark infers for every testdata " +
      "table at every scale factor and in the benchmark's copy") {
    val root = new File(sf).getParent
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"$root/$d") :+
      "perfbench/tables/sf0.01"
    dirs.foreach { dir =>
      val tables = new File(dir).list().toSeq
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      assert(tables.toSet - "events" === Schemas.testdata.keySet, dir)
      Schemas.testdata.foreach { case (t, declared) =>
        assert(declared === nullable(spark.read.parquet(s"$dir/$t.parquet").schema),
          s"$dir/$t")
      }
    }
  }

  test("Sources.table resolves every testdata table without a Spark job, " +
      "and refuses a name outside Schemas.testdata") {
    val jobs = jobsStartedBy {
      Schemas.testdata.keys.foreach(t => Sources.table(spark, sf, t).schema)
    }
    assert(jobs === 0)
    assert(Sources.table(spark, sf, "lineitem").count() > 0)
    intercept[IllegalArgumentException](Sources.table(spark, sf, "events"))
  }

  test("Sources.events reads ts as TimestampType with the same instants in " +
      "each generation: TIMESTAMP_NTZ, UTC-adjusted micros and INT64 nanos") {
    // instants in micros: the epoch, a DST-change hour in US zones, past
    // 2^31 seconds, and one second before the epoch
    val micros = Seq(0L, 1710035999123456L, 2147483648000000L, -1000000L)
    import spark.implicits._
    val utc = micros.zipWithIndex.map { case (m, i) => (i + 1L, m) }
      .toDF("event_id", "m").select(col("event_id"), timestamp_micros(col("m")).as("ts"))
    val ntzDir = Files.createTempDirectory("graft_events_ntz").toString
    utc.withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.parquet(s"$ntzDir/events.parquet")
    val microsDir = Files.createTempDirectory("graft_events_micros").toString
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try utc.write.parquet(s"$microsDir/events.parquet")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // Written with pyarrow 16.1 (event_id 1-4, the instants above in ns,
    // the positive ones plus 789 ns, which the reader truncates away):
    //   us = [0, 1710035999123456, 2147483648000000, -1000000]
    //   pq.write_table(pa.table({
    //     "event_id": pa.array([1, 2, 3, 4], pa.int64()),
    //     "ts": pa.array([u * 1000 + (789 if u > 0 else 0) for u in us],
    //                    pa.timestamp("ns")),
    //     "user_id": pa.array([7, 7, 8, 8], pa.int64()),
    //     "event_type": pa.array(["view", "click", "view", "buy"]),
    //     "value": pa.array([1.0, 2.5, 0.0, 9.75]),
    //     "props": pa.array(["{}", "{}", "{}", "{}"])}),
    //     "events.parquet", version="2.6")
    val nanosDir = new File(
      getClass.getResource("/events_nanos/events.parquet").toURI).getParent
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq(ntzDir -> TimestampNTZType, microsDir -> TimestampType,
        nanosDir -> LongType).foreach { case (dir, stored) =>
      assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
        === stored, dir)
      val ev = Sources.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType, dir)
      assert(ev.orderBy("event_id").select(unix_micros(col("ts")))
        .as[Long].collect().toSeq === micros, dir)
      // the stored type is read once per (session, path)
      assert(jobsStartedBy(Sources.events(spark, dir).schema) === 0, dir)
    }
  }

  test("S6: jdbc writer builds with url/table/batch options (no driver offline)") {
    val df = Sources.table(spark, sf, "region")
    // building the writer must not touch the (absent) driver or network
    val w = Sources.jdbcWriter(df, "jdbc:sqlserver://example:1433;db=wh",
      "dbo.region", Map("user" -> "u"))
    assert(w != null)
  }

  test("S6: jdbc sink round-trips through an embedded Derby database") {
    // Derby ships on Spark's classpath (hive metastore dependency), so the
    // S6 path gets an EXECUTED check: write a real table through the
    // config-driven writer, read it back with Spark's jdbc source, compare.
    // in-memory db: no files to clean up, isolated per test run
    val url = "jdbc:derby:memory:graft_s6;create=true"
    val driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    val df = Sources.table(spark, sf, "region")
    Sources.jdbcWriter(df, url, "region_rt", Map("driver" -> driver))
      .mode("overwrite").save()
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "region_rt")
      .option("driver", driver).load()
    assert(back.schema.fieldNames.toSet === df.schema.fieldNames.toSet)
    assert(back.orderBy("r_regionkey").collect().map(_.toSeq.toList).toList
      === df.orderBy("r_regionkey").collect().map(_.toSeq.toList).toList)
  }

  test("S7: SHOW TABLES lists registered star-schema views") {
    Warehouse.registerTestdata(spark, sf)
    val names = spark.sql("SHOW TABLES")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(Set("lineitem", "orders", "events", "documents").subsetOf(names))
  }

  test("PERMISSIVE csv scan null-fills malformed rows instead of failing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bad_csv").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "t.csv"),
      java.util.Arrays.asList("id,qty", "1,10", "2,not_a_number", "3,30"))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType)))
    val got = Sources.csv(spark, dir, schema).collect()
      .map(r => (r.get(0), r.get(1))).toSet
    // the malformed cell is nulled, the row survives, good rows are intact —
    // at 100 TB a single bad record must never kill the scan
    assert(got === Set((1L, 10L), (2L, null), (3L, 30L)))
  }

  test("csv reader honors explicit schema and quoting") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    import spark.implicits._
    val src = Seq((1L, "a,b \"quoted\""), (2L, "plain")).toDF("id", "s")
    Sources.writeCsv(src, dir + "/t")
    val back = Sources.csv(spark, dir + "/t", src.schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("compactParquet collapses a fragmented directory, data intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val orders = Sources.table(spark, sf, "orders")
    orders.repartition(40).write.mode("overwrite").parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles == 40)
    val n = Sources.compactParquet(spark, dir + "/") // trailing slash must be safe
    assert(n == 1 && parquetFiles == 1)
    val after = spark.read.parquet(dir)
    assert(after.count() == orders.count())
    assert(after.exceptAll(orders).isEmpty && orders.exceptAll(after).isEmpty)
    // already compact: no rewrite, same count reported
    assert(Sources.compactParquet(spark, dir) == 1 && parquetFiles == 1)
  }

  test("compactParquet recovery: committed tmp survives a partially-deleted dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_rec")
      .toString + "/t"
    val nation = Sources.table(spark, sf, "nation")
    nation.repartition(4).write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qdir = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    val tmp = new org.apache.hadoop.fs.Path(qdir.getParent,
      "_" + qdir.getName + "__compacting")
    // simulate: a compaction wrote AND committed its tmp (_SUCCESS is
    // written last), then crashed mid-delete of the original — one source
    // file already gone. Only the tmp is complete; preferring the dir (or
    // deleting the tmp, as the pre-marker code did) loses rows.
    spark.read.parquet(dir).repartition(1).write.parquet(tmp.toString)
    assert(fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
    // pin the real ordering (dir written before tmp) explicitly — on a
    // coarse-mtime filesystem the two _SUCCESS stamps could tie, and a
    // tie is the refuse-and-ask path, not this scenario
    fs.setTimes(new org.apache.hadoop.fs.Path(qdir, "_SUCCESS"),
      System.currentTimeMillis() - 60000L, -1)
    val victim = fs.listStatus(qdir)
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    assert(fs.delete(victim, false))
    assert(Sources.compactParquet(spark, dir) == 1)
    val after = spark.read.parquet(dir)
    assert(after.count() == nation.count(), "rows lost to the crash window")
    assert(after.exceptAll(nation).isEmpty && nation.exceptAll(after).isEmpty)
    assert(!fs.exists(tmp))
  }

  test("compactParquet recovery: dir rewritten AFTER the crash beats the " +
      "stale committed tmp") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_rw")
      .toString + "/t"
    val nation = Sources.table(spark, sf, "nation")
    nation.repartition(4).write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qdir = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    val tmp = Sources.compactingTmp(qdir)
    // a compaction committed its tmp then crashed before the swap...
    spark.read.parquet(dir).repartition(1).write.parquet(tmp.toString)
    // ...and the partition was then legitimately REPROCESSED: overwrite
    // with different rows, whose _SUCCESS is newer than the tmp's (pin
    // the ordering explicitly — local FS mtime resolution can be coarse)
    val fresh = nation.limit(5)
    fresh.write.mode("overwrite").parquet(dir)
    fs.setTimes(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"),
      System.currentTimeMillis() - 60000L, -1)
    assert(Sources.compactParquet(spark, dir) == 1)
    val after = spark.read.parquet(dir)
    assert(after.count() == 5,
      "fresh rewrite was replaced by the stale compacted tmp")
    assert(after.exceptAll(fresh).isEmpty && fresh.exceptAll(after).isEmpty)
    assert(!fs.exists(tmp), "stale tmp must be discarded")
  }

  test("compactParquet recovery: an exact _SUCCESS mtime TIE refuses and " +
      "leaves both copies intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_tie")
      .toString + "/t"
    val nation = Sources.table(spark, sf, "nation")
    nation.repartition(2).write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qdir = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    val tmp = Sources.compactingTmp(qdir)
    spark.read.parquet(dir).repartition(1).write.parquet(tmp.toString)
    // force the ambiguous case: both _SUCCESS files stamp the same mtime
    val ts = 1700000000000L
    fs.setTimes(new org.apache.hadoop.fs.Path(qdir, "_SUCCESS"), ts, -1)
    fs.setTimes(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), ts, -1)
    val e = intercept[RuntimeException](Sources.compactParquet(spark, dir))
    assert(e.getMessage.contains("SAME mtime"))
    assert(fs.exists(qdir) && fs.exists(tmp),
      "refusal must not delete either copy")
    assert(spark.read.parquet(dir).count() == nation.count())
    fs.delete(tmp, true)
  }

  test("compactParquet refuses partitioned and streaming-sink directories") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_part").toString
    Sources.table(spark, sf, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val e = intercept[IllegalArgumentException](Sources.compactParquet(spark, dir))
    assert(e.getMessage.contains("partition"))
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_compact_sink").toString
    Sources.table(spark, sf, "region").coalesce(1)
      .write.mode("overwrite").parquet(sinkDir)
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(sinkDir, "_spark_metadata"))
    val e2 = intercept[IllegalArgumentException](Sources.compactParquet(spark, sinkDir))
    assert(e2.getMessage.contains("_spark_metadata"))
  }

  test("binaryMedia ingests files as (media_id, kind, content) rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_media")
    val payloads = Map("a.jpg" -> "fake-jpeg-bytes", "b.wav" -> "fake-wav",
      "c.mp4" -> "fake-video", "skip.txt" -> "not-media")
    payloads.foreach { case (name, bytes) =>
      java.nio.file.Files.write(dir.resolve(name), bytes.getBytes("UTF-8"))
    }
    val media = Sources.binaryMedia(spark, dir.toString, "*.{jpg,wav,mp4}")
    val rows = media.withColumn("text", col("content").cast("string"))
      .select("kind", "text").as[(String, String)].collect().toSet
    assert(rows === Set(("jpg", "fake-jpeg-bytes"), ("wav", "fake-wav"),
      ("mp4", "fake-video")))
    // ids deterministic + distinct; plugs straight into the metadata path
    val meta = graft.multimodal.Multimodal.withMetadata(media)
    assert(meta.select("media_id").distinct().count() == 3)
    assert(meta.where(col("n_bytes") <= 0).count() == 0)
    val again = Sources.binaryMedia(spark, dir.toString, "*.{jpg,wav,mp4}")
    assert(media.select("media_id").exceptAll(again.select("media_id")).isEmpty)
  }
}
