package graft.component

import graft.SparkSpec

/** Window-function semantics pins from the r18 differential sweep
  * (tools/window_sweep.py → SWEEP_WIN_r18.json: 369 probes, 0 value
  * diffs, 0 unexplained — lead/lag defaults + IGNORE NULLS, ntile
  * remainder distribution, percent_rank/cume_dist ties, ROWS/RANGE
  * frames over numeric and DATE keys all hash-matched v1.0 already).
  * The one FIXED gap: windowed aggregate FILTER, which Spark's planner
  * rejects ("filter predicate is not supported yet") — rewritten to
  * the null-ignoring CASE form by `Dialect.windowFilter`.
  * Every expectation below is a probed DuckDB v1.0 value. */
class WindowSemanticsSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(Dialect.rewrite(q))

  private val rel = "(VALUES (1, 10, 'a'), (2, NULL, 'a'), (3, 30, 'b')," +
    " (4, 30, 'b'), (5, 50, 'a'), (6, NULL, 'b'), (7, 10, 'a')," +
    " (8, 20, 'a')) t(id, x, p)"

  private def agg(call: String, spec: String): String =
    sql(s"SELECT string_agg(coalesce(CAST(w AS VARCHAR),'N'), ',' ORDER BY id) AS v" +
        s" FROM (SELECT id, $call OVER ($spec) AS w FROM $rel) q")
      .collect().head.getString(0)

  test("rewrite text: windowed FILTER becomes the null-ignoring CASE form") {
    val r = Dialect.rewrite(
      "SELECT sum(x) FILTER (WHERE x > 10) OVER (ORDER BY id) FROM t")
    assert(r.contains("sum(CASE WHEN (x > 10) THEN x END) OVER"))
    assert(!r.toLowerCase.contains("filter"))
    // count(*) counts a guarded constant
    assert(Dialect.rewrite(
      "SELECT count(*) FILTER (WHERE x IS NULL) OVER (ORDER BY id) FROM t")
      .contains("count(CASE WHEN (x IS NULL) THEN 1 END) OVER"))
    // string_agg guards the VALUE argument, keeps the separator
    assert(Dialect.rewrite(
      "SELECT string_agg(s, '|') FILTER (WHERE x >= 30) OVER (ORDER BY id) FROM t")
      .contains("string_agg(CASE WHEN (x >= 30) THEN s END, '|') OVER"))
    // DuckDB's bare shorthand (no WHERE) rewrites the same way
    assert(Dialect.rewrite(
      "SELECT sum(x) FILTER (x > 10) OVER (PARTITION BY p) FROM t")
      .contains("sum(CASE WHEN (x > 10) THEN x END) OVER"))
    // a NON-windowed aggregate FILTER stays native (Spark supports it)
    val bare = Dialect.rewrite(
      "SELECT sum(x) FILTER (WHERE x > 10) FROM t GROUP BY p")
    assert(bare.contains("FILTER"))
    // an aggregate outside the null-ignoring list is left for Spark's
    // own loud reject, never silently reinterpreted
    assert(Dialect.rewrite(
      "SELECT corr(x, y) FILTER (WHERE x > 0) OVER (ORDER BY id) FROM t")
      .contains("corr(x, y) FILTER"))
  }

  test("windowed FILTER values match DuckDB (probed v1.0)") {
    assert(agg("sum(x) FILTER (WHERE x > 10)",
      "ORDER BY id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW")
      == "N,N,30,60,110,80,50,20")
    assert(agg("count(*) FILTER (WHERE x IS NULL)", "ORDER BY id")
      == "0,1,1,1,1,2,2,2")
    assert(agg("string_agg(CAST(x AS VARCHAR), '|') FILTER (WHERE x >= 30)",
      "ORDER BY id") == "N,N,30,30|30,30|30|50,30|30|50,30|30|50,30|30|50")
    // bare shorthand + partitioning
    assert(agg("sum(x) FILTER (x > 10)", "PARTITION BY p ORDER BY id")
      == "N,N,30,60,50,60,50,70")
  }

  test("swept families agree without any rewrite (spot pins, probed v1.0)") {
    // ntile remainder: larger buckets first
    assert(agg("ntile(3)", "ORDER BY id") == "1,1,1,2,2,2,3,3")
    // lag IGNORE NULLS skips the null run
    assert(agg("lag(x IGNORE NULLS)", "ORDER BY id")
      == "N,10,10,30,30,50,50,10")
    // default frame over a tied ORDER BY is RANGE (peers included)
    assert(agg("sum(x)", "ORDER BY x") == "20,150,100,100,150,150,20,40")
  }
}
