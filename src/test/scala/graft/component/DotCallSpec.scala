package graft.component

import graft.SparkSpec

/** DuckDB function chaining (`expr.f(args)` → `f(expr, args)`,
  * [[DotCall]]) — semantics pinned against probed DuckDB 1.0: chains on
  * columns, identifier paths, parenthesized expressions and call
  * results; string-literal receivers are NOT chainable (DuckDB parse
  * error) and stay untouched; schema-qualified names in FROM are not
  * chains. */
class DotCallSpec extends SparkSpec {

  private def rw(s: String): String = DotCall.rewrite(s)

  test("single and chained calls on a column") {
    assert(rw("SELECT s.lower() FROM t") == "SELECT lower(s) FROM t")
    assert(rw("SELECT s.lower().trim() FROM t") ==
      "SELECT trim(lower(s)) FROM t")
    assert(rw("SELECT s.substr(1, 5).upper() FROM t") ==
      "SELECT upper(substr(s, 1, 5)) FROM t")
  }

  test("identifier-path and parenthesized receivers") {
    assert(rw("SELECT t.s.lower() FROM t") == "SELECT lower(t.s) FROM t")
    assert(rw("SELECT (a || b).upper() FROM t") ==
      "SELECT upper((a || b)) FROM t")
    // keyword before the paren is NOT a call name
    assert(rw("SELECT 1 FROM t WHERE (s).len() > 2") ==
      "SELECT 1 FROM t WHERE len((s)) > 2")
  }

  test("call-result receivers keep their function name") {
    assert(rw("SELECT concat(a, b).upper() FROM t") ==
      "SELECT upper(concat(a, b)) FROM t")
  }

  test("left/right calls and window expressions are whole receivers") {
    assert(rw("SELECT left(s, 2).upper() FROM t") ==
      "SELECT upper(left(s, 2)) FROM t")
    assert(rw("SELECT right(s, 2).upper() FROM t") ==
      "SELECT upper(right(s, 2)) FROM t")
    assert(rw("SELECT sum(x) OVER (PARTITION BY g).abs() FROM t") ==
      "SELECT abs(sum(x) OVER (PARTITION BY g)) FROM t")
    // a keyword is no receiver
    assert(rw("SELECT CASE WHEN a THEN s END.upper() FROM t") ==
      "SELECT CASE WHEN a THEN s END.upper() FROM t")
  }

  test("non-chainable shapes stay untouched") {
    // string literal receiver: a DuckDB parse error too
    assert(rw("SELECT 'AbC'.lower()") == "SELECT 'AbC'.lower()")
    // decimal literal member access can't be a chain
    assert(rw("SELECT 12.round()") == "SELECT 12.round()")
    // schema-qualified table function in FROM
    assert(rw("SELECT * FROM main.range(3)") == "SELECT * FROM main.range(3)")
    // dots inside literals are invisible
    assert(rw("SELECT 'a.f(x)' AS s FROM t") == "SELECT 'a.f(x)' AS s FROM t")
    // plain qualified column (no parens) untouched
    assert(rw("SELECT t.col FROM t") == "SELECT t.col FROM t")
  }

  test("argument lists pass through, including nested calls") {
    assert(rw("SELECT s.regexp_replace('a.b', 'x').len() FROM t") ==
      "SELECT len(regexp_replace(s, 'a.b', 'x')) FROM t")
  }

  test("end-to-end through Dialect.rewrite with DuckDB names") {
    DuckFunctions.register(spark)
    spark.sql("SELECT 'Hello World' AS s").createOrReplaceTempView("dc_t")
    val df = spark.sql(Dialect.rewrite(
      "SELECT s.lower().string_split(' ').len() AS n, " +
        "s.substr(1, 5).upper() AS head FROM dc_t"))
    val r = df.collect().head
    assert(r.get(0).toString.toInt == 2 && r.getString(1) == "HELLO")
    // brackets compose: a list literal receiver is lowered first
    val d2 = spark.sql(Dialect.rewrite("SELECT [3, 1, 2].list_sort() AS l"))
    assert(d2.collect().head.getSeq[Int](0).toList == List(1, 2, 3))
  }
}
