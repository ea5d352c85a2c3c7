package graft.component

import java.nio.file.{Files, Path}

import graft.SparkSpec

/** DuckDB simplified PIVOT / UNPIVOT statement support ([[Pivot]]):
  * grammar parsing through the body model, its dependencies, the
  * dynamic DataFrame execution path, and an end-to-end component run. */
class PivotSpec extends SparkSpec {

  import spark.implicits._

  private def sales = Seq(
    ("east", "Q1", 10L), ("east", "Q2", 20L),
    ("west", "Q1", 5L), ("west", "Q3", 7L))
    .toDF("region", "quarter", "amount")

  private def parse(body: String) = Body.parse(body) match {
    case Body.Pivot(p) => Some(p)
    case _ => None
  }

  test("parse extracts src/on/agg/groups from the simplified grammar") {
    val p = parse(
      "PIVOT sales ON quarter USING sum(amount) GROUP BY region").get
    assert(p.src == "sales" && p.on == "quarter")
    assert(p.aggFn == "sum" && p.aggArg == "amount")
    assert(p.groupCols.contains(Seq("region")))
    // subquery source, no GROUP BY, wrapping parens
    val q = parse(
      "(PIVOT (SELECT * FROM sales WHERE amount > 0) ON quarter USING count(*))").get
    assert(q.src.startsWith("(SELECT") && q.groupCols.isEmpty)
    assert(q.aggFn == "count" && q.aggArg == "*")
    // non-pivot statements do not match
    assert(parse("SELECT * FROM t").isEmpty)
    // ON/USING inside the subquery do not confuse the depth-0 scan
    val r = parse(
      "PIVOT (SELECT a FROM x JOIN y ON x.id = y.id) ON a USING max(a)")
    assert(r.isDefined && r.get.on == "a")
  }

  test("pivotDf: dynamic columns, DuckDB naming, missing combos NULL") {
    sales.createOrReplaceTempView("sales")
    val out = Pivot.pivotDf(spark,
      "PIVOT sales ON quarter USING sum(amount) GROUP BY region").get
      .orderBy("region")
    assert(out.columns.toList == List("region", "Q1", "Q2", "Q3"))
    val rows = out.collect().map(r => (r.getString(0),
      Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
    assert(rows.toList == List(
      ("east", Some(10L), Some(20L), None),
      ("west", Some(5L), None, Some(7L))))
  }

  test("pivotDf implicit grouping: every column not pivoted or aggregated") {
    sales.createOrReplaceTempView("sales")
    val out = Pivot.pivotDf(spark,
      "PIVOT sales ON quarter USING sum(amount)").get
    // region survives as the implicit group; quarter and amount are consumed
    assert(out.columns.toList == List("region", "Q1", "Q2", "Q3"))
  }

  test("implicit-grouping exclusion is case-insensitive like DuckDB") {
    sales.createOrReplaceTempView("sales")
    // USING max(AMOUNT) must still exclude `amount` from the implicit
    // GROUP BY — DuckDB excludes aggregate-referenced columns regardless
    // of case (the round-9 ADVICE finding: a case-sensitive token check
    // kept the column grouped and diverged)
    val out = Pivot.pivotDf(spark,
      "PIVOT sales ON quarter USING sum(AMOUNT)").get
    assert(out.columns.toList == List("region", "Q1", "Q2", "Q3"))
  }

  test("a PIVOT body reads its source: dependencies through the body model") {
    assert(parse("PIVOT sales ON q USING sum(x)").map(_.src).contains("sales"))
    for (stmt <- Seq(
        "CREATE VIEW v AS (PIVOT sales ON q USING sum(x) GROUP BY r)",
        "CREATE VIEW v AS PIVOT sales ON q USING sum(x)",
        "CREATE VIEW v AS PIVOT (SELECT * FROM sales JOIN r USING (k)) ON q USING sum(x)")) {
      val a = SqlAnalyzer.analyzeStatement(spark, stmt)
      assert(a.dependencies == (if (stmt.contains("JOIN")) Set("sales", "r") else Set("sales")) &&
        a.outputs == Set("v"), stmt)
    }
    // untouched statements are plain bodies
    val plain = "SELECT PIVOT_FREE FROM t"
    assert(Body.parse(plain) == Body.Plain(plain))
  }

  test("rewriteUnpivot produces Spark UNPIVOT that runs") {
    val duck = "UNPIVOT wide ON q1, q2 INTO NAME quarter VALUE amount"
    val rewritten = Pivot.rewriteUnpivot(duck)
    assert(rewritten ==
      "SELECT * FROM wide UNPIVOT (`amount` FOR `quarter` IN (q1, q2))")
    Seq(("east", 10L, 20L)).toDF("region", "q1", "q2")
      .createOrReplaceTempView("wide")
    val rows = spark.sql(rewritten).orderBy("quarter").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
    assert(rows == List(("east", "q1", 10L), ("east", "q2", 20L)))
    // non-unpivot text is untouched
    assert(Pivot.rewriteUnpivot("SELECT 1") == "SELECT 1")
  }

  test("pivotDf fails loudly on a bad ON column or GROUP BY column") {
    sales.createOrReplaceTempView("sales")
    val e1 = intercept[UserException](Pivot.pivotDf(spark,
      "PIVOT sales ON nope USING sum(amount)").get)
    assert(e1.getMessage.contains("nope"))
    val e2 = intercept[UserException](Pivot.pivotDf(spark,
      "PIVOT sales ON quarter USING sum(amount) GROUP BY ghost").get)
    assert(e2.getMessage.contains("ghost"))
  }

  test("end-to-end: component runs PIVOT and UNPIVOT scripts") {
    val dd = Files.createTempDirectory("graft_pivot_")
    def write(p: Path, content: String): Unit = {
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    write(dd.resolve("in/tables/sales.csv"),
      "\"region\",\"quarter\",\"amount\"\n\"east\",\"Q1\",\"10\"\n" +
        "\"east\",\"Q2\",\"20\"\n\"west\",\"Q1\",\"5\"\n")
    write(dd.resolve("in/tables/sales.csv.manifest"), """{"id": "in.c-x.sales"}""")
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |   {"name": "pivot", "script": [
        |     "CREATE TABLE wide AS PIVOT 'sales.csv' ON quarter USING sum(amount::INT) GROUP BY region;",
        |     "CREATE VIEW tall AS UNPIVOT wide ON Q1, Q2 INTO NAME quarter VALUE amount;"]}
        | ]}]},
        | "storage": {
        |  "input": {"tables": [{"source": "in.c-x.sales", "destination": "sales.csv"}]},
        |  "output": {"tables": [
        |    {"source": "wide", "destination": "out.c-y.wide"},
        |    {"source": "tall", "destination": "out.c-y.tall"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    val wide = Files.readString(dd.resolve("out/tables/wide")).linesIterator.toList
    assert(wide.head == "\"region\",\"Q1\",\"Q2\"")
    assert(wide.toSet.contains("\"east\",\"10\",\"20\""))
    assert(wide.toSet.exists(_.startsWith("\"west\",\"5\"")))
    val tall = Files.readString(dd.resolve("out/tables/tall")).linesIterator.toList
    assert(tall.head == "\"region\",\"quarter\",\"amount\"")
    // west has no Q2 -> NULL cell dropped by UNPIVOT (both engines' default)
    assert(tall.size == 4) // header + east Q1, east Q2, west Q1
  }
}
