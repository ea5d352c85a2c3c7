package graft.component

import graft.SparkSpec
import org.apache.spark.sql.types._

/** DuckDB's division/modulo semantics (r17): ALL `/` division types
  * DOUBLE (probed v1.0: `typeof(dec/dec)` = DOUBLE, FLOAT/FLOAT → FLOAT)
  * and every `x/0`, `x//0`, `x%0` yields NULL where Spark's ANSI mode
  * keeps DECIMAL and raises DIVIDE_BY_ZERO — the r16 verdict's top
  * remaining silent-divergence class. Statement-text lowerings
  * [[Dialect.rewriteDiv]]/[[Dialect.rewriteMod]] →
  * [[graft.functions.DuckDiv]]/[[graft.functions.DuckMod]]/
  * [[graft.functions.DuckFloorDiv]]. Every expectation is a probed
  * DuckDB v1.0 value. */
class DivSemanticsSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(Dialect.rewrite(q))
  private def one(q: String) = sql(s"SELECT $q AS v").collect().head

  test("rewrite text: / and % route to duck_div/duck_mod over scanned extents") {
    val r = Dialect.rewrite("SELECT a / b, c % d FROM t")
    assert(r.contains("duck_div(a, b)") && r.contains("duck_mod(c, d)"))
    // left-associative chain folds left; right side is one primary
    assert(Dialect.rewrite("SELECT a * b / c FROM t").contains("duck_div(a * b, c)"))
    assert(Dialect.rewrite("SELECT a / b * c FROM t").contains("duck_div(a, b) * c"))
    assert(Dialect.rewrite("SELECT a / b / c FROM t")
      .contains("duck_div(duck_div(a, b), c)"))
    // quoted regions and comments never rewrite (double-quoted idents
    // map to backticks downstream, slash intact)
    val q = Dialect.rewrite("SELECT '/tmp/x.csv' AS p, \"a/b\" FROM t -- c/d")
    assert(q.contains("'/tmp/x.csv'") && q.contains("`a/b`") && q.contains("c/d"))
  }

  test("rewrite text: percent-LIMIT and sample percentages survive untouched") {
    assert(Dialect.rewrite("SELECT * FROM t LIMIT 10%").contains("LIMIT 10%"))
    assert(Dialect.rewrite("SELECT * FROM t LIMIT 2.5% OFFSET 3").contains("2.5%"))
    // sample percents reach the USING SAMPLE lowering intact (it runs AFTER the
    // mod pass and lowers them itself — a duck_mod here would break it)
    val smp = Dialect.rewrite("SELECT * FROM t USING SAMPLE 10%")
    assert(smp.contains("rand()") && !smp.contains("duck_mod"))
    // ...but a real modulo inside a LIMIT-carrying statement still maps
    assert(Dialect.rewrite("SELECT a % 3 FROM t LIMIT 10%").contains("duck_mod(a, 3)"))
  }

  test("x/0, x//0, x%0 → NULL on every numeric type (probed v1.0)") {
    for (e <- Seq("1/0", "1//0", "1%0", "1.5/0", "1.5//0", "1.5%0",
        "(1.0::DOUBLE)/0", "(1.0::DOUBLE)%0", "CAST(5 AS BIGINT)%0",
        // bare NULL operands ride the numeric arms, not an analysis error
        "7 / NULL", "7 // NULL", "7 % NULL", "NULL / 7", "NULL % 2.5"))
      assert(one(e).isNullAt(0), s"$e should be NULL")
  }

  test("division result is DOUBLE for every numeric pairing (probed v1.0)") {
    val df = sql("SELECT CAST(7.5 AS DECIMAL(10,2)) / CAST(2 AS DECIMAL(10,2)) AS a, " +
      "1 / 2 AS b, CAST(1 AS BIGINT) / 2 AS c, 7.5 / 2 AS d")
    assert(df.schema.fields.forall(_.dataType == DoubleType))
    val r = df.collect().head
    assert(r.getDouble(0) == 3.75 && r.getDouble(1) == 0.5 &&
      r.getDouble(2) == 0.5 && r.getDouble(3) == 3.75)
    // FLOAT/FLOAT keeps FLOAT (the probed exception)
    val f = sql("SELECT CAST(7.5 AS FLOAT) / CAST(2 AS FLOAT) AS v")
    assert(f.schema.head.dataType == FloatType)
    assert(f.collect().head.getFloat(0) == 3.75f)
  }

  test("// floor division: integral trunc, non-integral plain DOUBLE (probed v1.0)") {
    assert(one("7 // 2").getLong(0) == 3L)
    assert(one("-7 // 2").getLong(0) == -3L) // truncation, not floor
    assert(one("7 // -2").getLong(0) == -3L)
    val d = sql("SELECT 7.5 // 2 AS a, CAST(7.5 AS DECIMAL(10,2)) // 2 AS b, -7.5 // 2 AS c")
    assert(d.schema.fields.forall(_.dataType == DoubleType))
    val r = d.collect().head
    assert(r.getDouble(0) == 3.75 && r.getDouble(1) == 3.75 && r.getDouble(2) == -3.75)
  }

  test("modulo keeps DuckDB operand typing, adds only the zero guard (probed v1.0)") {
    assert(one("-7 % 3").getInt(0) == -1) // sign follows dividend, both engines
    assert(one("7 % -3").getInt(0) == 1)
    val d = sql("SELECT CAST(7.5 AS DECIMAL(10,2)) % 3 AS v")
    assert(d.schema.head.dataType == DecimalType(12, 2)) // probed DECIMAL(12,2)
    assert(d.collect().head.getDecimal(0).toPlainString == "1.50")
    assert(one("100 % 7 / 2").getDouble(0) == 1.0) // same-precedence chain
    // bare decimal % DECLARED types match DuckDB's exactly (r18, all
    // probed): wider integral part + wider scale; BIGINT counts 19
    // integral digits there; past 38 digits the engine goes DOUBLE
    val ts = sql("SELECT CAST(5.25 AS DECIMAL(10,2)) % CAST(2.1 AS DECIMAL(5,1)) AS a," +
      " CAST(5.2 AS DECIMAL(4,1)) % CAST(0.123 AS DECIMAL(6,3)) AS b," +
      " CAST(5.25 AS DECIMAL(10,2)) % CAST(3 AS BIGINT) AS c," +
      " CAST(5.2 AS DECIMAL(38,1)) % CAST(0.123 AS DECIMAL(38,3)) AS d")
    assert(ts.schema.map(_.dataType) == Seq(DecimalType(10, 2),
      DecimalType(6, 3), DecimalType(21, 2), DoubleType))
    val r = ts.collect().head
    assert(r.getDecimal(0).toPlainString == "1.05")
    assert(r.getDecimal(1).toPlainString == "0.034")
  }

  test("decimal division feeding an integral cast rounds on the DOUBLE path") {
    // DuckDB: dec/int → DOUBLE 2.5 → ::BIGINT half-even → 2 (not 3)
    assert(one("(CAST(7.5 AS DECIMAL(10,2)) / 3)::BIGINT").getLong(0) == 2L)
    assert(one("(CAST(10.5 AS DECIMAL(10,2)) / 3)::BIGINT").getLong(0) == 4L)
  }

  test("interval literals travel whole through the div rewrite") {
    val r = Dialect.rewrite("SELECT INTERVAL 2 DAY / 2 AS v")
    assert(r.contains("duck_div(INTERVAL 2 DAY, 2)"))
    val v = one("INTERVAL 2 DAY / 2")
    assert(v.get(0) != null) // a real one-day interval, not an error
    assert(one("INTERVAL 2 DAY / 0").isNullAt(0)) // zero → NULL, probed
  }

  test("window expressions travel whole through the div/mod rewrite (ADVICE r17)") {
    // left operand IS the window expression, spec included
    assert(Dialect.rewrite("SELECT sum(x) OVER (PARTITION BY g) / 2 FROM t")
      .contains("duck_div(sum(x) OVER (PARTITION BY g), 2)"))
    // right operand keeps its OVER clause (ratio-to-total)
    assert(Dialect.rewrite("SELECT n / count(*) OVER () FROM t")
      .contains("duck_div(n, count(*) OVER ())"))
    // both sides windowed
    assert(Dialect.rewrite("SELECT sum(x) OVER w1 FROM t") != null) // named, pre-inline: no-op path below
    assert(Dialect.rewrite( // NULLS LAST: the duck null-order pass fires inside the spec too
      "SELECT sum(x) OVER (ORDER BY a) % count(*) OVER (ORDER BY a) FROM t")
      .contains("duck_mod(sum(x) OVER (ORDER BY a NULLS LAST), count(*) OVER (ORDER BY a NULLS LAST))"))
    // aggregate FILTER clause chains back to its call on the left...
    assert(Dialect.rewrite("SELECT sum(x) FILTER (WHERE x > 0) / 2 FROM t GROUP BY g")
      .contains("duck_div(sum(x) FILTER (WHERE x > 0), 2)"))
    // ...and extends the extent on the right
    assert(Dialect.rewrite("SELECT n / sum(x) FILTER (WHERE x > 0) FROM t GROUP BY n")
      .contains("duck_div(n, sum(x) FILTER (WHERE x > 0))"))
    // FILTER + OVER combined: the windowed-FILTER pass (r18) lowers the
    // filter to its CASE form first, then the whole window expression
    // rides the division extent
    assert(Dialect.rewrite(
      "SELECT count(*) FILTER (WHERE x > 0) OVER (PARTITION BY g) / 2 FROM t")
      .contains("duck_div(count(CASE WHEN (x > 0) THEN 1 END) OVER (PARTITION BY g), 2)"))
    // a NAMED window reference (no WINDOW clause to inline) skips the
    // operator — Spark's native `/`, never a mangled spec
    val named = Dialect.rewrite("SELECT rank() OVER w / 2 FROM t")
    assert(!named.contains("duck_div") && named.contains("OVER w / 2"))
    // a WINDOW clause inlines first, then the whole expression rewrites
    val inlined = Dialect.rewrite(
      "SELECT sum(x) OVER w / 2 FROM t WINDOW w AS (PARTITION BY g)")
    assert(inlined.contains("duck_div(sum(x) OVER (PARTITION BY g), 2)"))
    // IN-lists are not operands: the operator is skipped, not mangled
    val in = Dialect.rewrite("SELECT y IN (1,2) / 2 FROM t")
    assert(!in.contains("duck_div") && in.contains("IN (1,2) / 2"))
  }

  test("windowed division evaluates with DuckDB semantics end to end") {
    import spark.implicits._
    Seq(("a", 1), ("a", 3), ("b", 2)).toDF("g", "x")
      .createOrReplaceTempView("divspec_w")
    val r = sql(
      """SELECT g, x / sum(x) OVER (PARTITION BY g) AS ratio,
        |  sum(x) OVER (PARTITION BY g) / 0 AS z
        |FROM divspec_w ORDER BY g, x""".stripMargin).collect()
    assert(r(0).getDouble(1) == 0.25 && r(1).getDouble(1) == 0.75 &&
      r(2).getDouble(1) == 1.0)
    assert(r.forall(_.isNullAt(2))) // windowed /0 → NULL, probed
  }

  test("600 `/`, 600 `%` and 300 `^` all lower, none left native") {
    val big = "SELECT " + (1 to 600).map(i => s"a$i / 2").mkString(", ") + " FROM t"
    val r = Dialect.rewriteDiv(big)
    assert(!Dialect.maskQuoted(r).contains("/"))
    assert("duck_div\\(a\\d+, 2\\)".r.findAllIn(r).size == 600)
    val bigMod = "SELECT " + (1 to 600).map(i => s"a$i % 2").mkString(", ") + " FROM t"
    val m = Dialect.rewriteMod(bigMod)
    assert(!m.contains("%") && "duck_mod\\(a\\d+, 2\\)".r.findAllIn(m).size == 600)
    val bigPow = "SELECT " + (1 to 300).map(i => s"a$i ^ 2").mkString(", ") + " FROM t"
    val p = Dialect.rewritePow(bigPow)
    assert(!p.contains("^") && "power\\(a\\d+, 2\\)".r.findAllIn(p).size == 300)
  }

  test("alias over an integral base rounds through the execution-time recast") {
    TypeSql.reset()
    val wh = java.nio.file.Files.createTempDirectory("graft_divspec_wh_").toString
    val ex = new Executor(spark, wh)
    Dialect.prepare(
      """CREATE TYPE divspec_myint AS INTEGER;
        |CREATE OR REPLACE TABLE divspec_t AS SELECT (2.5)::divspec_myint AS a,
        |  ((CAST(7.5 AS DECIMAL(10,2)) / 3))::divspec_myint AS b""".stripMargin)
      .foreach(ex.runStatement(_))
    val r = spark.table("divspec_t").collect().head
    assert(r.getInt(0) == 3)  // decimal source: half-away (was 2 pre-fix)
    assert(r.getInt(1) == 2)  // double division source: half-even
    TypeSql.reset()
  }
}
