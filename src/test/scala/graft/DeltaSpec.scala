package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.delta.Incremental
import graft.sources.Sources

/** Incremental delta (J4/U1) — null-safe whole-row anti-join semantics. */
class DeltaSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("v", DoubleType),
    StructField("s", StringType)))

  private def df(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)

  test("delta treats null == null per column (Python tuple-set semantics)") {
    val acc = df(Seq(Row(1L, null, "a"), Row(2L, 2.0, null)))
    val inc = df(Seq(
      Row(1L, null, "a"),   // already present (null-safe match) -> excluded
      Row(2L, 2.0, null),   // already present -> excluded
      Row(2L, 2.0, "x"),    // new
      Row(3L, null, null))) // new
    val d = Incremental.delta(inc, acc).collect().toSet
    assert(d === Set(Row(2L, 2.0, "x"), Row(3L, null, null)))
  }

  test("old + delta == incoming total (accumulation invariant)") {
    val orders = Sources.table(spark, sf, "orders")
    val acc = orders.where("o_orderkey % 4 <> 1")
    val delta = Incremental.delta(orders, acc)
    val appended = acc.unionByName(delta)
    assert(acc.count() + delta.count() === orders.count())
    assert(appended.count() === orders.count())
    assert(appended.exceptAll(orders).isEmpty)
    assert(orders.exceptAll(appended).isEmpty)
  }

  test("delta of an already-accumulated table is empty (idempotent re-run)") {
    val orders = Sources.table(spark, sf, "orders")
    assert(Incremental.delta(orders, orders).isEmpty)
  }

  test("partition-pruned delta equals plain delta on touched keys") {
    val orders = Sources.table(spark, sf, "orders")
    val acc = orders.where("o_orderkey % 4 <> 1")
    val inc = orders.where("o_orderkey % 2 = 1")
    val plain = Incremental.delta(inc, acc)
    val pruned = Incremental.deltaPartitionPruned(inc, acc, "o_orderstatus")
    assert(plain.exceptAll(pruned).isEmpty && pruned.exceptAll(plain).isEmpty)
  }

  test("upsertByKey: CDC feed with several versions per key keeps only the latest") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val acc = Seq((1L, "old1", 10), (2L, "old2", 10)).toDF("k", "v", "ver")
    val cdc = Seq((1L, "v11", 11), (1L, "v12", 12), (3L, "v31", 11))
      .toDF("k", "v", "ver")
    val merged = Incremental.upsertByKey(acc, cdc, Seq("k"),
      latestBy = Some(col("ver")))
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(merged.toSeq === Seq((1L, "v12", 12), (2L, "old2", 10),
      (3L, "v31", 11)))
  }

  test("upsertByKey replaces NULL-key rows instead of duplicating them") {
    import spark.implicits._
    val acc = Seq((Some(1L), "a-old"), (None, "null-old")).toDF("k", "v")
    val upd = Seq((Some(1L), "a-new"), (None, "null-new")).toDF("k", "v")
    val merged = Incremental.upsertByKey(acc, upd, Seq("k"))
      .as[(Option[Long], String)].collect().toSet
    assert(merged === Set((Some(1L), "a-new"), (None, "null-new")))
  }

  test("snapshotDiff: all four statuses; NULL content compares null-safe") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, Some("same")), (2L, Some("was")), (3L, Some("gone")),
      (5L, None: Option[String]), (6L, None: Option[String])
    ).toDF("id", "text")
    val newSnap = Seq(
      (1L, Some("same")), (2L, Some("now")), (4L, Some("fresh")),
      (5L, None: Option[String]), (6L, Some("filled"))
    ).toDF("id", "text")
    val got = Incremental.snapshotDiff(oldSnap, newSnap, "id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, "unchanged"), (2L, "changed"), (3L, "removed"), (4L, "added"),
      (5L, "unchanged"),  // null -> null: not a change
      (6L, "changed")))   // null -> text: a visible change, never skipped
  }

  test("snapshotDiff: NULL ids diff null-safely, not as phantom adds") {
    import spark.implicits._
    // A NULL id is a legal key. Pre-fix, an old-side NULL-id row never
    // equi-matched anything and surfaced as status 'added' (with a NULL
    // output id) — here all three NULL-id shapes are exercised: present
    // both sides unchanged, old-only (must be 'removed'), plus a normal
    // row to pin the happy path.
    val oldSnap = Seq((Some(1L), "same"), (None: Option[Long], "ghost"))
      .toDF("id", "text")
    val newSnap = Seq((Some(1L), "same")).toDF("id", "text")
    val got = Incremental.snapshotDiff(oldSnap, newSnap, "id", "text")
      .as[(Option[Long], String)].collect().toSet
    assert(got === Set((Some(1L), "unchanged"), (None, "removed")))
    // and both-sides NULL id with changed content is 'changed', not
    // an added/removed pair
    val o2 = Seq((None: Option[Long], "v1")).toDF("id", "text")
    val n2 = Seq((None: Option[Long], "v2")).toDF("id", "text")
    val g2 = Incremental.snapshotDiff(o2, n2, "id", "text")
      .as[(Option[Long], String)].collect().toSeq
    assert(g2 === Seq((None, "changed")))
  }

  test("snapshotDiff checkIds mode rejects duplicated ids loudly") {
    import spark.implicits._
    val ok = Seq((1L, "a")).toDF("id", "text")
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "text")
    spark.conf.set("graft.dedup.checkIds", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        Incremental.snapshotDiff(ok, dup, "id", "text").collect()
      }
      assert(e.getMessage.contains("new side"))
    } finally spark.conf.unset("graft.dedup.checkIds")
    // without the check: the duplicated id double-counts — 2 rows out
    assert(Incremental.snapshotDiff(ok, dup, "id", "text").count() === 2L)
  }
}
