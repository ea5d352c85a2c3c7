package graft.component

import graft.SparkSpec

/** The dialect chain's one driver ([[Dialect.run]]) and one splice loop
  * ([[Dialect.splice]]): every find-and-splice pass lowers all of its
  * sites, however many a statement holds — no pass stops part way and
  * hands Spark half-rewritten text. */
class RewriteChainSpec extends SparkSpec {

  private def masked(sql: String): String = Dialect.maskQuoted(Dialect.rewrite(sql))

  private def legs(n: Int)(leg: Int => String): String =
    (0 until n).map(i => s"(${leg(i)})").mkString(" UNION ALL ")

  private def left(sql: String, site: String): Int =
    site.r.findAllMatchIn(masked(sql)).size

  test("the clause probes lower fully at leg and call counts past any step cap") {
    for (n <- Seq(17, 20))
      assert(left(legs(n)(i => s"SELECT g FROM t QUALIFY row_number() OVER (ORDER BY k) = $i"),
        "(?i)\\bQUALIFY\\b") == 0, s"$n QUALIFY legs")
    assert(left(legs(17)(i => s"SELECT DISTINCT ON (g) g, $i AS i FROM t"),
      "(?i)\\bDISTINCT\\s+ON\\b") == 0)
    for (n <- Seq(129, 140))
      assert(left(Seq.fill(n)("GROUPING(a, b)").mkString("SELECT ", ", ",
        " FROM t GROUP BY ROLLUP (a, b)"), "(?i)\\bGROUPING\\s*\\(") == 0, s"$n GROUPING")
    assert(left(legs(17)(i => s"SELECT a FROM t USING SAMPLE ${i + 1}%"),
      "(?i)\\bUSING\\s+SAMPLE\\b") == 0)
    assert(left(Seq.fill(33)("string_agg(s, ',' ORDER BY k)").mkString("SELECT ", ", ",
      " FROM t"), "(?i)\\bstring_agg\\s*\\(") == 0)
  }

  test("every other capped pass lowers fully past its old cap") {
    def items(n: Int, item: Int => String) = (0 until n).map(item).mkString(", ")
    assert(left(s"SELECT ${items(257, i => s"sum(x) FILTER (WHERE x > $i) OVER (PARTITION BY g)")} FROM t",
      "(?i)\\bFILTER\\b") == 0)
    assert(left(s"SELECT ${items(65, _ => "fill(x) OVER (ORDER BY k)")} FROM t",
      "(?i)\\bfill\\s*\\(") == 0)
    assert(left(s"SELECT a FROM t WHERE ${(0 until 65).map(i =>
      s"a > ALL (SELECT b FROM u WHERE b > $i)").mkString(" AND ")}",
      "(?i)\\bALL\\s*\\(") == 0)
    assert(left(legs(33)(i => s"SELECT unnest(l) + $i FROM t"), "(?i)\\bunnest\\s*\\(") == 0)
    assert(left(legs(17)(i => s"SELECT sum(x) OVER w FROM t WINDOW w AS (ORDER BY k$i)"),
      "(?i)\\bWINDOW\\b") == 0)
    // a frame the engine executes is lowered, not rejected, past the
    // old caps (the FRAME_* reject named a supported form)
    val exclude = s"SELECT ${items(33, _ =>
      "sum(x) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)")} FROM t"
    assert(Dialect.rejectedKind(Dialect.rewrite(exclude)).isEmpty)
    assert(left(exclude, "(?i)\\bEXCLUDE\\b") == 0)
    val groups = s"SELECT ${items(17, _ =>
      "count(x) OVER (ORDER BY k GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")} FROM t"
    assert(Dialect.rejectedKind(Dialect.rewrite(groups)).isEmpty)
    assert(left(groups, "(?i)\\bGROUPS\\b") == 0)
  }

  test("a GROUPS word nested in an OVER spec is no frame: the frame pass ends") {
    // the frame triage read `groups BETWEEN` inside a subquery of the
    // spec, the GROUPS rewrite found no frame to change, and the triage
    // ran again on the same text until the stack overflowed
    val sql = "SELECT sum(x) OVER (ORDER BY (SELECT max(g) FROM u WHERE groups " +
      "BETWEEN 1 AND 2) ROWS UNBOUNDED PRECEDING) FROM t"
    assert(Dialect.rewrite(sql).contains("groups BETWEEN 1 AND 2"))
  }

  test("past-cap QUALIFY and DISTINCT ON legs run on Spark with DuckDB's rows") {
    spark.range(6).selectExpr("id % 2 AS g", "id AS k").createOrReplaceTempView("rc_t")
    val q = legs(20)(i =>
      s"SELECT g, k, $i AS leg FROM rc_t QUALIFY row_number() OVER (PARTITION BY g ORDER BY k) = 1")
    assert(spark.sql(Dialect.rewrite(q)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 0L), (1L, 1L)))
    assert(spark.sql(Dialect.rewrite(q)).count() == 40)
    val d = legs(17)(i => s"SELECT DISTINCT ON (g) g, k, $i AS leg FROM rc_t ORDER BY g, k DESC")
    assert(spark.sql(Dialect.rewrite(d)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 4L), (1L, 5L)))
  }
}
