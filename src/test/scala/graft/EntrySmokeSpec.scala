package graft

/** Smoke: the driver contract — entry() yields rows; every declared query
  * runs at sf0.001 and every query has either an oracle or a documented
  * reason to be rows-only. */
class EntrySmokeSpec extends SparkSpec {

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and returns rows at sf0.001") {
    // and leaves no CacheManager entry behind: a query body shares frames
    // through Graft.snap, whose blocks go with the returned frame
    val (empties, caching) = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val before = cacheEntries
        val n = fn(spark, sf).count()
        (Option.when(n == 0)(name),
          Option.when(cacheEntries > before)(name))
    }.unzip
    assert(empties.flatten.isEmpty, s"queries with 0 rows: ${empties.flatten}")
    assert(caching.flatten.isEmpty,
      s"queries that leave a cache entry: ${caching.flatten}")
  }

  test("oracle coverage: every query name has an oracle entry") {
    // since round 3 EVERY query is oracle-checked — q82 outputs exact
    // columns + boolean accuracy verdicts instead of raw sketch estimates
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }
}
