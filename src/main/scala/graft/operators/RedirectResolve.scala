package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Graft

/** Redirect-chain resolution — the crawl-graph step downstream of
  * [[graft.sources.Http.parseHttpResponses]]'s `location` column: a
  * fetched corpus carries (url → redirect target) edges, and every
  * URL-keyed stage (dedup keys, frontier scheduling, canonical-URL
  * election) wants each chain collapsed to its FINAL destination with
  * the hop count, and redirect LOOPS flagged rather than followed
  * forever.
  *
  * Algorithm: successor-pointer DOUBLING, the
  * [[graft.dedup.Dedup]]-connected-components discipline applied to a
  * functional graph — after k rounds every chain of length ≤ 2^k is
  * resolved, so `ceil(log2(maxHops))` self-joins replace maxHops
  * sequential ones. A node whose walk has not terminated when the
  * doubled span reaches `maxHops` is UNRESOLVED (a loop, or a chain
  * longer than the cap — both are flagged, never silently followed).
  *
  * Scale shape: the state is (url, cur, hops, done) — URLs only, no
  * page bytes; each round is one shuffle keyed by `cur`;
  * a [[graft.Graft.snap]] per round cuts the doubling lineage exactly
  * as the CC loop does. Round count is log-bounded by construction
  * (maxHops 32 → 5 rounds at any corpus size); real redirect chains
  * are ≤ 5 hops (browsers cap at ~20), so the default resolves
  * everything a crawler stores.
  *
  * Multiple outgoing edges per URL (re-crawls that saw different
  * targets) collapse deterministically to `min(dst)` — pick the policy
  * upstream (e.g. latest capture wins) by pre-filtering if min is not
  * it. */
object RedirectResolve {

  /** Resolve `edges` (srcCol → dstCol). Output: one row per URL in the
    * report universe — `url`, `final_url` (NULL when unresolved),
    * `n_hops` (NULL when unresolved), `unresolved`. The universe
    * defaults to every URL on either edge side; pass `universe` (a
    * one-column frame) to report over the WHOLE crawl's URL set — a
    * URL with no outgoing redirect is its own final destination, and a
    * production report wants those rows too, not just the chain
    * members. */
  def resolveRedirects(edges: DataFrame, srcCol: String, dstCol: String,
                       maxHops: Int = 32,
                       universe: Option[DataFrame] = None): DataFrame = {
    require(maxHops >= 1 && maxHops <= 1024, s"maxHops: $maxHops")
    val raw = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val e = raw
      .where(col("src") =!= col("dst")) // self-loop = already final
      .groupBy("src").agg(min("dst").as("dst"))
    // node universe from the RAW edge list (a self-loop-only URL was
    // seen and must be reported — as its own terminal)
    val fromEdges = raw.select(col("src").as("url"))
      .unionByName(raw.select(col("dst").as("url")))
    val nodes = universe
      .map(u => u.select(col(u.columns.head).cast("string").as("url"))
        .where(col("url").isNotNull).unionByName(fromEdges))
      .getOrElse(fromEdges).distinct()
    // m(url) = (cur, h, done) with the invariant "done ⇔ the walk
    // TERMINATES at cur within 2^k hops" after k rounds. The seed must
    // therefore mark one-hop walks whose DESTINATION is terminal as
    // done — seeding done only for edge-less nodes would propagate
    // termination one doubling round late and flag exactly-maxHops
    // chains unresolved (caught by RedirectResolveSpec).
    val dstHasEdge = e.select(col("src").as("d2"))
    var m = Graft.snap(nodes.join(e, nodes("url") === e("src"), "left")
      .join(dstHasEdge, col("dst") === col("d2"), "left")
      .select(nodes("url"),
        coalesce(col("dst"), nodes("url")).as("cur"),
        when(col("dst").isNull, 0L).otherwise(1L).as("h"),
        (col("dst").isNull || col("d2").isNull).as("done")))
    var span = 1L
    while (span < maxHops) {
      val m2 = m.select(col("url").as("u2"), col("cur").as("cur2"),
        col("h").as("h2"), col("done").as("done2"))
      m = Graft.snap(m.join(m2, m("cur") === m2("u2"), "left")
        .select(m("url"),
          when(m("done"), m("cur")).otherwise(col("cur2")).as("cur"),
          when(m("done"), m("h")).otherwise(m("h") + col("h2")).as("h"),
          (m("done") || coalesce(col("done2"), lit(false))).as("done")))
      span *= 2
    }
    m.select(col("url"),
      when(col("done"), col("cur")).as("final_url"),
      // a chain can legitimately need up to maxHops hops; anything the
      // doubled span resolved beyond the cap is still honest output
      when(col("done"), col("h")).as("n_hops"),
      (!col("done")).as("unresolved"))
  }
}
