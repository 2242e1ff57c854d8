package graft.delta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental (delta) load semantics (SURVEY.md J4/U1; reference
  * dags/help_func.py:5-9 + the eight add_changes_to_* tasks, ET:333-499).
  *
  * The reference materializes the accumulated table into a Python set of
  * full-row tuples and keeps incoming rows not present — i.e. a whole-row
  * anti join. Python tuple equality treats NaN/None pairs as equal inside
  * set membership, so the Spark translation must use null-safe equality
  * (`<=>`) per column or all-null delay rows would never match and the delta
  * would grow without bound (SURVEY.md §7.4).
  *
  * SCALE NOTE: whole-row anti join shuffles both sides on all columns
  * (or broadcasts the smaller side). At 100 TB this is the dominant cost of
  * an incremental load; [[deltaPartitionPruned]] bounds it by anti-joining
  * only the partitions of the accumulated table that the increment touches.
  */
object Incremental {

  private def nullSafeCond(incoming: DataFrame, accumulated: DataFrame): Column =
    incoming.columns.map(c => incoming(c) <=> accumulated(c)).reduce(_ && _)

  /** J4 — rows of `incoming` not already present in `accumulated`
    * (whole-row, null-safe). U1, the reference's
    * `source.append(new_data)` (whose result it discards — bug #4), is
    * `accumulated.unionByName(delta(incoming, accumulated))`. */
  def delta(incoming: DataFrame, accumulated: DataFrame): DataFrame = {
    val acc = accumulated.select(incoming.columns.toIndexedSeq.map(col): _*)
    incoming.join(acc, nullSafeCond(incoming, acc), "left_anti")
  }

  /** J4 variant for huge tables: prune `accumulated` to the partition-key
    * values present in `incoming` before the anti join, so only touched
    * partitions are scanned/shuffled. `keyCol` should be the physical
    * partition column (e.g. fl_date). */
  def deltaPartitionPruned(incoming: DataFrame, accumulated: DataFrame,
                           keyCol: String): DataFrame = {
    val keys = incoming.select(keyCol).distinct()
    val pruned = accumulated.join(broadcast(keys), Seq(keyCol), "left_semi")
    delta(incoming, pruned)
  }

  /** SCD1 upsert (MERGE semantics, latest-wins): rows of `acc` whose key
    * appears in `updates` are REPLACED by the update row; new keys append.
    * Expressed as keys-only anti join + union — the key projection of the
    * update set is the only thing the anti join shuffles against, and at
    * 100 TB the updates side of an incremental merge is delta-sized, so
    * the anti join broadcasts its build side. Key comparison is null-safe
    * (`<=>`), the same invariant [[delta]] documents — with `===` a
    * NULL-key row would never match and every upsert cycle would duplicate
    * it. (The whole-row [[delta]] is the INSERT-only cousin;
    * [[mergeAggregates]] the aggregate cousin; q83's lead() history the
    * SCD2 cousin.)
    *
    * `latestBy`: when the update feed can carry SEVERAL versions of one
    * key (raw CDC), pass the version/order column — updates are compacted
    * to the max-`latestBy` row per key first (rank-filtered window: the
    * group-limit-pushdown shape, see SCALING.md). Ties on `latestBy` break
    * on a whole-row hash, so the winner is a pure function of the data,
    * never of partition order (the repo-wide window-determinism rule).
    * With None, `updates` must already hold one row per key (a compacted
    * feed) or every version would be appended and none would "win". */
  def upsertByKey(acc: DataFrame, updates: DataFrame, keys: Seq[String],
                  latestBy: Option[Column] = None): DataFrame = {
    val compacted = latestBy match {
      case Some(ord) =>
        val tiebreak = xxhash64(updates.columns.toIndexedSeq.map(col): _*)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(ord.desc, tiebreak.asc)
        updates.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
      case None => updates
    }
    val keyRows = compacted.select(keys.map(col): _*).distinct()
    val cond = keys.map(k => acc(k) <=> keyRows(k)).reduce(_ && _)
    acc.join(keyRows, cond, "left_anti")
      .unionByName(compacted.select(acc.columns.toIndexedSeq.map(col): _*))
  }

  /** Incremental AGGREGATE maintenance: fold a delta's partial aggregates
    * into an accumulated aggregate table without rescanning history — the
    * materialized-view refresh pattern. Both inputs share the schema
    * (keys..., measures...) where every measure is re-aggregable by SUM
    * (counts, sums — for avg keep (sum, n); min/max fold with their own
    * functions, not supported here). At 100 TB the history is never read:
    * the merge shuffles |keys| x 2 aggregate rows, not the fact table —
    * refresh cost is proportional to the DELTA, which is the entire point.
    * Equality `merge(agg(old), agg(delta)) == agg(old ∪ delta)` holds
    * because SUM is associative-commutative (exact for longs/decimals;
    * see q94's oracle which recomputes from scratch). */
  def mergeAggregates(acc: DataFrame, delta: DataFrame,
                      keys: Seq[String]): DataFrame = {
    val measures = acc.columns.filterNot(keys.contains)
    require(measures.nonEmpty,
      s"mergeAggregates needs at least one measure column beyond keys $keys")
    val aggs = measures.toIndexedSeq.map(m => sum(col(m)).as(m))
    acc.unionByName(delta.select(acc.columns.toIndexedSeq.map(col): _*))
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Corpus snapshot diff — dataset versioning's `git status`: classify
    * every id across two snapshots of a (id, content) corpus as `added`
    * (only in the new snapshot), `removed` (only in the old), `changed`
    * (both, content differs) or `unchanged`. Content comparison is by
    * md5 of `contentCol`, computed map-side BEFORE the join, so the full
    * outer join's exchanges carry (id, 16-byte digest) rows — document
    * bytes never shuffle, the same wire discipline as the dedup family.
    * NULL content hashes to NULL; NULL-vs-NULL compares as unchanged and
    * NULL-vs-text as changed (null-safe `<=>`), so a nulled-out field is
    * a visible change, not a silent skip. A NULL id is likewise a legal
    * key value: the join is null-safe and presence is tracked by literal
    * flags, so a NULL-id row diffs like any other id (and a duplicated
    * NULL id trips the same checkIds guard — groupBy groups NULLs
    * together). One-row-per-id PRECONDITION on
    * both sides (a duplicated id turns the join into a small cartesian
    * and double-counts every status); enforced under graft.dedup.checkIds
    * like the dedup operators. At 100 TB both sides scan at
    * column-pruned speed (id + content only) and the join is one
    * hash-partitioned exchange per side — or zero when both snapshots
    * are bucketed by id on disk. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   contentCol: String): DataFrame = {
    Seq(("old", oldDf), ("new", newDf)).foreach { case (side, df) =>
      graft.dedup.Dedup.requireUniqueIds(df, idCol,
        s"Incremental.snapshotDiff ($side side)",
        "a duplicated id turns the full outer join into a small " +
          "cartesian and double-counts every status")
    }
    // Presence is tracked by literal flags, NOT id-nullability: a NULL id
    // is a legal key value here (matched null-safely, the same `<=>`
    // discipline as the whole-row anti-join), so `__old_id IS NULL` can't
    // distinguish "absent from old" from "present with NULL id" — the
    // flag can. Without this, an old-side NULL-id row never equi-matched
    // and surfaced as `added` instead of `removed`.
    val o = oldDf.select(col(idCol).as("__old_id"),
      md5(col(contentCol).cast("string")).as("__old_h"),
      lit(true).as("__old_p"))
    val n = newDf.select(col(idCol).as("__new_id"),
      md5(col(contentCol).cast("string")).as("__new_h"),
      lit(true).as("__new_p"))
    o.join(n, col("__old_id") <=> col("__new_id"), "full_outer")
      .select(
        coalesce(col("__new_id"), col("__old_id")).as(idCol),
        when(col("__old_p").isNull, "added")
          .when(col("__new_p").isNull, "removed")
          .when(col("__old_h") <=> col("__new_h"), "unchanged")
          .otherwise("changed").as("status"))
  }
}
