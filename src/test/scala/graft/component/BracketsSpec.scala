package graft.component

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DuckDB bracket syntax ([[Brackets]]) and series table functions:
  * list/struct literals, 1-based subscripts, inclusive slices,
  * generate_series/range in FROM — plus pins for the DuckDB spellings
  * Spark 4 parses natively (TRY_CAST, ILIKE). */
class BracketsSpec extends SparkSpec {

  import spark.implicits._

  DuckFunctions.register(spark) // Component.run does this per run

  private def one(sql: String): org.apache.spark.sql.Row =
    spark.sql(Dialect.rewrite(sql)).collect().head

  test("list literals become array() by lexical position") {
    assert(one("SELECT [1, 2, 3] AS l").getSeq[Int](0) == Seq(1, 2, 3))
    // nested lists; literal as a function argument
    assert(one("SELECT [[1], [2, 3]] AS l").getSeq[Seq[Int]](0) ==
      Seq(Seq(1), Seq(2, 3)))
    assert(one("SELECT array_contains(['a', 'b'], 'a') AS c").getBoolean(0))
    // after an operator and inside a CASE arm
    assert(one("SELECT CASE WHEN 1 = 1 THEN [9] ELSE [8] END AS l")
      .getSeq[Int](0) == Seq(9))
    // brackets inside string literals are untouched
    assert(one("SELECT 'a[1]' AS s").getString(0) == "a[1]")
  }

  test("subscripts are 1-based and slices inclusive, like DuckDB") {
    Seq((Seq("x", "y", "z"), Map("k" -> 7L))).toDF("l", "m")
      .createOrReplaceTempView("br_t")
    assert(one("SELECT l[1] AS e FROM br_t").getString(0) == "x")
    assert(one("SELECT l[3] AS e FROM br_t").getString(0) == "z")
    // map subscript returns the LIST form (probed v1.0: [v] — the
    // earlier bare-value expectation pinned a divergence, corrected r15);
    // chained subscript on a literal; function-call base
    assert(one("SELECT m['k'] AS v FROM br_t").getSeq[Long](0) == Seq(7L))
    assert(one("SELECT ['a', 'b'][2] AS e").getString(0) == "b")
    assert(one("SELECT list_sort(l)[1] AS e FROM br_t").getString(0) == "x")
    // slices: 1-based inclusive bounds, open ends span the list
    assert(one("SELECT l[1:2] AS s FROM br_t").getSeq[String](0) == Seq("x", "y"))
    assert(one("SELECT l[2:] AS s FROM br_t").getSeq[String](0) == Seq("y", "z"))
    assert(one("SELECT l[:2] AS s FROM br_t").getSeq[String](0) == Seq("x", "y"))
    // a `::` cast inside the index is not a slice colon
    assert(one("SELECT l[('2'::INTEGER)] AS e FROM br_t").getString(0) == "y")
  }

  test("array-type suffixes T[] are types, not subscripts") {
    // ::TYPE[] casts — legal DuckDB type spellings, previously mangled
    // into element_at(TYPE, )
    assert(one("SELECT [1, 2]::BIGINT[] AS l").getSeq[Long](0) == Seq(1L, 2L))
    assert(one("SELECT ['a', 'b']::VARCHAR[] AS l").getSeq[String](0) ==
      Seq("a", "b"))
    assert(one("SELECT CAST([1, 2] AS INT[]) AS l").getSeq[Int](0) == Seq(1, 2))
    // parameterized and nested element types
    assert(one("SELECT [1.25, 2.5]::DECIMAL(4, 2)[] AS l")
      .getSeq[java.math.BigDecimal](0).map(_.doubleValue) == Seq(1.25, 2.5))
    assert(one("SELECT [[1], [2]]::INT[][] AS l").getSeq[Seq[Int]](0) ==
      Seq(Seq(1), Seq(2)))
    // bare DDL with a list-typed column
    val dir = Files.createTempDirectory("graft_brt_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE br_ddl (a INT[], s VARCHAR)"))
    ex.runStatement(Dialect.rewrite(
      "INSERT INTO br_ddl VALUES ([1, 2], 'x')"))
    val row = spark.table("br_ddl").collect().head
    assert(row.getSeq[Int](0) == Seq(1, 2) && row.getString(1) == "x")
  }

  test("negative bounds count from the end (DuckDB -1 = last)") {
    Seq(Tuple1(Seq("x", "y", "z"))).toDF("l").createOrReplaceTempView("br_neg")
    assert(one("SELECT l[-1] AS e FROM br_neg").getString(0) == "z")
    assert(one("SELECT l[2:-1] AS s FROM br_neg").getSeq[String](0) ==
      Seq("y", "z"))
    // DuckDB-verified: -2 maps to size - 2 + 1 = index 2, inclusive
    assert(one("SELECT l[:-2] AS s FROM br_neg").getSeq[String](0) ==
      Seq("x", "y"))
    assert(one("SELECT l[-2:] AS s FROM br_neg").getSeq[String](0) ==
      Seq("y", "z"))
    // non-literal bound takes the runtime normalization path
    assert(one("SELECT l[2:(0 - 1)] AS s FROM br_neg").getSeq[String](0) ==
      Seq("y", "z"))
    // a lower bound past the front clamps to 1; crossed bounds are empty
    assert(one("SELECT l[-9:2] AS s FROM br_neg").getSeq[String](0) ==
      Seq("x", "y"))
    assert(one("SELECT l[3:2] AS s FROM br_neg").getSeq[String](0) == Nil)
  }

  test("out-of-range subscripts are NULL; string bases use characters") {
    Seq(Tuple1(Seq("x", "y", "z"))).toDF("l").createOrReplaceTempView("br_oor")
    // DuckDB returns NULL past the end; ANSI element_at would throw
    assert(one("SELECT l[10] AS e FROM br_oor").isNullAt(0))
    assert(one("SELECT l[0] AS e FROM br_oor").isNullAt(0))
    // string-literal bases subscript and slice CHARACTERS
    assert(one("SELECT 'abc'[2] AS c").getString(0) == "b")
    assert(one("SELECT 'abc'[-1] AS c").getString(0) == "c")
    assert(one("SELECT 'abcd'[2:3] AS s").getString(0) == "bc")
    assert(one("SELECT 'abcd'[:-2] AS s").getString(0) == "abc")
    // a '' escape is part of the literal base
    assert(one("SELECT 'it''s'[1] AS c").getString(0) == "i")
  }

  test("struct literals become named_struct; bare and quoted keys") {
    val r = one("SELECT {'a': 1, 'b': 'x'} AS s")
    val s = r.getStruct(0)
    assert(s.getInt(s.fieldIndex("a")) == 1 && s.getString(s.fieldIndex("b")) == "x")
    val r2 = one("SELECT {k: 1 + 1, v: 'y'} AS s").getStruct(0)
    assert(r2.getInt(0) == 2 && r2.getString(1) == "y")
    // value with a :: cast; nested struct in a list
    assert(one("SELECT {n: '5'::INTEGER} AS s").getStruct(0).getInt(0) == 5)
    val nested = one("SELECT [{'a': 1}, {'a': 2}] AS l").getSeq[org.apache.spark.sql.Row](0)
    assert(nested.map(_.getInt(0)) == Seq(1, 2))
  }

  test("list comprehensions map to transform/filter") {
    assert(one("SELECT [x * 2 FOR x IN [1, 2, 3]] AS l").getSeq[Int](0) ==
      Seq(2, 4, 6))
    // IF clause filters before mapping
    assert(one("SELECT [x + 10 FOR x IN [1, 2, 3, 4] IF x % 2 = 0] AS l")
      .getSeq[Int](0) == Seq(12, 14))
    // over a column; expression uses functions of the variable
    Seq(Seq("ab", "cde")).toDF("words").createOrReplaceTempView("bc_t")
    assert(one("SELECT [upper(w) FOR w IN words] AS u FROM bc_t")
      .getSeq[String](0) == Seq("AB", "CDE"))
    // the words FOR/IN inside string literals never trigger the rewrite
    assert(one("SELECT ['FOR', 'IN'] AS l").getSeq[String](0) ==
      Seq("FOR", "IN"))
  }

  test("MAP literals and map subscripts match the probed v1.0 list form") {
    DuckFunctions.register(spark)
    def one(q: String) = spark.sql(Dialect.rewrite("SELECT " + q + " AS r"))
      .collect().head
    // MAP {k: v} -> map(); subscript returns [v] / [] / [NULL]
    assert(one("(MAP {'a': 1, 'b': 2})['b']").getSeq[Int](0) == Seq(2))
    assert(one("(MAP {'a': 1})['zz']").getSeq[Int](0) == Seq())
    assert(one("(MAP {'a': CAST(NULL AS INT)})['a']").getSeq[Any](0) == Seq(null))
    // numeric keys stay EXPRESSIONS (a struct's bare keys quote instead)
    assert(one("(MAP {1: 'x', 2: 'y'})[2]").getSeq[String](0) == Seq("y"))
    assert(one("{'a': 7}.a").getInt(0) == 7)
    // map_extract carries DuckDB's list form (the element_at NAME keeps
    // Spark semantics — the recorded Column-API-by-name deviation)
    assert(one("map_extract(MAP {'k': 5}, 'k')").getSeq[Int](0) == Seq(5))
    // array subscripts keep the 1-based NULL-out-of-range lookup
    assert(one("([10,20,30])[2]").getInt(0) == 20)
    assert(one("([10,20,30])[9]").isNullAt(0))
  }

  test("stepped slices [a:b:step] match the probed v1.0 values") {
    def v(q: String): Seq[Int] =
      spark.sql(Dialect.rewrite("SELECT " + q + " AS r")).collect()
        .head.getSeq[Int](0)
    assert(v("[1,2,3,4,5][1:5:2]") == Seq(1, 3, 5))
    assert(v("[1,2,3,4,5,6,7][2:7:3]") == Seq(2, 5))
    // negative step walks DOWN from lo to hi (probed [5,3,1])
    assert(v("[1,2,3,4,5][5:1:-2]") == Seq(5, 3, 1))
    // omitted lo = 1; hi clamps to the list; crossed bounds empty
    assert(v("[1,2,3,4,5][:4:2]") == Seq(1, 3))
    assert(v("[1,2,3][1:9:2]") == Seq(1, 3))
    assert(v("[1,2,3,4,5][4:2:1]") == Seq())
    // negative bounds count from the end (-4:-1 on len 5 = 2:5)
    assert(v("[1,2,3,4,5][-4:-1:2]") == Seq(2, 4))
    // step 0 errors (probed v1.0: "Slice step cannot be zero")
    assertThrows[Exception](v("[1,2,3][1:3:0]"))
    // string base + step is unimplemented in v1.0 too — loud, not silent
    assertThrows[Exception](
      spark.sql(Dialect.rewrite("SELECT 'abcdef'[1:6:2] AS r")).collect())
  }

  test("generate_series and range table functions in FROM") {
    // generate_series: INCLUSIVE stop, DuckDB's column name
    val gs = spark.sql(Dialect.rewrite(
      "SELECT * FROM generate_series(1, 5) ORDER BY generate_series"))
    assert(gs.columns.sameElements(Array("generate_series")))
    assert(gs.collect().map(_.getLong(0)).toList == List(1L, 2L, 3L, 4L, 5L))
    // with step; descending
    assert(spark.sql(Dialect.rewrite(
      "SELECT * FROM generate_series(0, 10, 5)")).collect()
      .map(_.getLong(0)).sorted.toList == List(0L, 5L, 10L))
    assert(spark.sql(Dialect.rewrite(
      "SELECT * FROM generate_series(3, 1, -1)")).collect()
      .map(_.getLong(0)).sorted.toList == List(1L, 2L, 3L))
    // range: end-EXCLUSIVE, column `range`; the plan stays Spark's
    // distributed Range (not an exploded array)
    val rg = spark.sql(Dialect.rewrite("SELECT * FROM range(2, 5)"))
    assert(rg.columns.sameElements(Array("range")))
    assert(rg.collect().map(_.getLong(0)).sorted.toList == List(2L, 3L, 4L))
    assert(rg.queryExecution.optimizedPlan.toString.contains("Range"))
    // scalar generate_series returns an inclusive LIST (DuckDB semantics)
    assert(one("SELECT generate_series(1, 4) AS l").getSeq[Long](0) ==
      Seq(1L, 2L, 3L, 4L))
    // join form with an alias
    val j = spark.sql(Dialect.rewrite(
      "SELECT g.generate_series AS n FROM generate_series(1, 3) g"))
    assert(j.collect().map(_.getLong(0)).sorted.toList == List(1L, 2L, 3L))
  }

  test("TRY_CAST and ILIKE parse natively (spellings pinned)") {
    assert(one("SELECT TRY_CAST('12' AS INTEGER) AS v").getInt(0) == 12)
    assert(one("SELECT TRY_CAST('nope' AS INTEGER) AS v").isNullAt(0))
    assert(one("SELECT 'Hello' ILIKE 'he%' AS m").getBoolean(0))
    assert(!one("SELECT 'Hello' LIKE 'he%' AS m").getBoolean(0))
  }

  test("bracket dialect runs end-to-end through the executor") {
    val dir = Files.createTempDirectory("graft_br_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE br_out AS SELECT x.generate_series AS n, " +
        "['lo', 'mid', 'hi'][CAST(x.generate_series AS INTEGER)] AS label " +
        "FROM generate_series(1, 3) x"))
    val out = spark.table("br_out").orderBy(col("n")).collect()
    assert(out.map(_.getString(1)).toList == List("lo", "mid", "hi"))
  }
}
