package graft.component

import graft.SparkSpec

/** The `->` / `->>` json operators: textual rewrite shape, lambda-arrow
  * disambiguation, and end-to-end values through the bound functions. */
class JsonArrowsSpec extends SparkSpec {

  private lazy val session = {
    DuckFunctions.register(spark)
    spark
  }

  private def one(duckSql: String): Any =
    session.sql(Dialect.rewrite(duckSql)).collect().head.get(0)

  test("rewrite shapes: key, index, chain, text form") {
    assert(JsonArrows.rewrite("SELECT j -> 'a' FROM t")
      == "SELECT json_extract(j, 'a') FROM t")
    assert(JsonArrows.rewrite("SELECT j ->> 'a' FROM t")
      == "SELECT json_extract_string(j, 'a') FROM t")
    assert(JsonArrows.rewrite("SELECT j -> 2 FROM t")
      == "SELECT json_extract(j, '$[2]') FROM t")
    assert(JsonArrows.rewrite("SELECT j -> 'a' ->> 'b' FROM t")
      == "SELECT json_extract_string(json_extract(j, 'a'), 'b') FROM t")
    // receivers: function results, parens, quoted identifiers, literals
    assert(JsonArrows.rewrite("SELECT upper(j) -> 'a' FROM t")
      == "SELECT json_extract(upper(j), 'a') FROM t")
    assert(JsonArrows.rewrite("""SELECT "J col" -> 'a' FROM t""")
      == """SELECT json_extract("J col", 'a') FROM t""")
    assert(JsonArrows.rewrite("""SELECT '{"a":1}' -> 'a'""")
      == """SELECT json_extract('{"a":1}', 'a')""")
    // an apostrophe inside an earlier quoted identifier is no quote
    assert(JsonArrows.rewrite("""SELECT "it's" AS n, '{"a":1}' -> 'a'""")
      == """SELECT "it's" AS n, json_extract('{"a":1}', 'a')""")
  }

  test("window receivers travel whole; every arrow of a wide flatten lowers") {
    assert(JsonArrows.rewrite("SELECT first(j) OVER (ORDER BY t) -> 'a' FROM t")
      == "SELECT json_extract(first(j) OVER (ORDER BY t), 'a') FROM t")
    val flat = "SELECT " + (1 to 300).map(k => s"j ->> 'k$k' AS k$k")
      .mkString(", ") + " FROM t"
    val out = JsonArrows.rewrite(flat)
    assert(!JsonArrows.has(out))
    assert("json_extract_string\\(j, 'k\\d+'\\)".r.findAllIn(out).size == 300)
  }

  test("lambda arrows survive: HOF params, tuples, string-literal bodies") {
    val hof = "SELECT transform(l, x -> x + 1) FROM t"
    assert(JsonArrows.rewrite(hof) == hof)
    val tup = "SELECT zip_with(a, b, (x, y) -> x + y) FROM t"
    assert(JsonArrows.rewrite(tup) == tup)
    // body IS a string literal — the enclosing-HOF guard keeps it
    val lit = "SELECT transform(l, x -> 'k') FROM t"
    assert(JsonArrows.rewrite(lit) == lit)
    // but FILTER-the-clause (not the HOF) stays rewritable inside
    assert(JsonArrows.rewrite("SELECT count(*) FILTER (WHERE j -> 'a' = '1') FROM t")
      == "SELECT count(*) FILTER (WHERE json_extract(j, 'a') = '1') FROM t")
    // arrows inside string literals are untouched
    val s = "SELECT '-> not an op' FROM t"
    assert(JsonArrows.rewrite(s) == s)
  }

  test("end-to-end values match DuckDB (probed v1.0)") {
    assert(one("""SELECT '{"a": "x"}' -> 'a'""") == "\"x\"")
    assert(one("""SELECT '{"a": "x"}' ->> 'a'""") == "x")
    assert(one("""SELECT '[1,2]' -> 1""") == "2") // 0-based json index
    assert(one("""SELECT '{"a": {"b": 7}}' -> 'a' ->> 'b'""") == "7")
    assert(one("""SELECT '{"a": {"b": 7}}' -> '$.a.b'""") == "7") // path RHS
    // mixed with the dialect's other passes in one statement
    assert(one(
      """SELECT list_transform(['x'], v -> ('{"k": "King"}' ->> 'k'))""")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("King"))
  }
}
