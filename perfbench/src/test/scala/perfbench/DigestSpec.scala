package perfbench

import org.apache.spark.sql.Row

class DigestSpec extends SparkSuite {

  private val data = new java.io.File("tables/sf0.01").getPath

  test("a digest ignores row order and sees every value") {
    val cols = Seq("a", "b")
    val rows = Seq(Row(1L, "x"), Row(2L, null), Row(3L, Array[Byte](1, 2)))
    assert(Digest.ofRows(cols, rows) == Digest.ofRows(cols, rows.reverse))
    assert(Digest.ofRows(cols, rows) != Digest.ofRows(cols, rows.updated(0, Row(1L, "y"))))
    assert(Digest.ofRows(cols, rows) != Digest.ofRows(Seq("a", "c"), rows))
    assert(Digest.ofRows(cols, rows) != Digest.ofRows(cols, rows.tail))
    assert(Digest.canonical(Map("b" -> 1, "a" -> 2)) == Digest.canonical(Map("a" -> 2, "b" -> 1)))
    assert(Digest.canonical(0.1 + 0.2) != Digest.canonical(0.3))
  }

  test("query digests are stable across two runs and match the expected file") {
    val expected = Expected.read(new java.io.File("expected/queries_sf0.01.tsv")).map(e => e.name -> e).toMap
    val queries = graft.SparkEntry.queries
    Seq("q15_agg_groupby", "q20_sql_passthrough", "q43_sessionize", "q57_word_freq").foreach { q =>
      val first = Digest.of(queries(q)(spark, data))
      spark.catalog.clearCache()
      val second = Digest.of(queries(q)(spark, data))
      spark.catalog.clearCache()
      assert(first == second, q)
      assert(first == (expected(q).digest, expected(q).rows), q)
    }
  }
}
