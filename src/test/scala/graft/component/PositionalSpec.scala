package graft.component

import graft.SparkSpec
import graft.ops.Positional
import org.apache.spark.sql.functions._

/** POSITIONAL JOIN — the [[graft.ops.Positional]] engine core (pinned
  * row-order zip, NULL-pad to the longer side) and the
  * [[PositionalSql]] statement front-end, semantics pinned against the
  * probed DuckDB 1.0 behavior. */
class PositionalSpec extends SparkSpec {

  import spark.implicits._

  test("zip pairs rows in order; shorter side NULL-pads") {
    val l = Seq(1, 2, 3).toDF("x")
    val r = Seq("p", "q").toDF("y")
    val z = Positional.zip(l, r).collect()
      .map(row => (row.get(0), row.get(1))).toList
    assert(z == List((1, "p"), (2, "q"), (3, null)))
    // mirrored: right longer pads left
    val z2 = Positional.zip(r, l).collect()
      .map(row => (row.get(0), row.get(1))).toList
    assert(z2 == List(("p", 1), ("q", 2), (null, 3)))
  }

  test("zip respects a sorted input's order across many partitions") {
    val n = 10000
    val l = spark.range(n).toDF("id")
      .repartition(16) // scrambled layout
      .orderBy(desc("id"))
      .select(col("id").as("a"))
    val r = spark.range(n).toDF("id").select(col("id").as("b"))
    val z = Positional.zip(l, r)
    // descending a zips with ascending b: a + b == n - 1 on every row
    assert(z.filter(col("a") + col("b") =!= n - 1).count() == 0)
    assert(z.count() == n)
  }

  test("withRowIndex is contiguous and order-stable") {
    val df = spark.range(1000).toDF("v").repartition(7)
    val idx = Positional.withRowIndex(df, "i")
    val rows = idx.collect()
    assert(rows.map(_.getLong(1)).sorted.toList == (0L until 1000L).toList)
    // index order = row order within the evaluated layout: indexing twice
    // pairs every value with the same index
    val again = Positional.withRowIndex(df, "j")
    val joined = idx.join(again, idx("i") === again("j"))
      .filter(idx("v") =!= again("v"))
    assert(joined.count() == 0)
  }

  test("zip rejects colliding column names loudly") {
    val l = Seq(1).toDF("x")
    val r = Seq(2).toDF("X")
    val e = intercept[IllegalArgumentException](Positional.zip(l, r))
    assert(e.getMessage.contains("share column names"))
  }

  test("statement: tables, aliases, tail clauses") {
    Seq(1, 2, 3).toDF("x").createOrReplaceTempView("pos_l")
    Seq("p", "q").toDF("y").createOrReplaceTempView("pos_r")
    val d1 = PositionalSql.df(spark,
      "SELECT x, y FROM pos_l POSITIONAL JOIN pos_r").get
    assert(d1.collect().map(r => (r.get(0), r.get(1))).toList ==
      List((1, "p"), (2, "q"), (3, null)))
    // aliases + qualified refs + WHERE + ORDER BY
    val d2 = PositionalSql.df(spark,
      "SELECT a.x, b.y FROM pos_l a POSITIONAL JOIN pos_r AS b " +
        "WHERE a.x < 3 ORDER BY a.x DESC").get
    assert(d2.collect().map(r => (r.get(0), r.get(1))).toList ==
      List((2, "q"), (1, "p")))
    // subquery sides with ORDER BY define the zip order
    val d3 = PositionalSql.df(spark,
      "SELECT * FROM (SELECT x FROM pos_l ORDER BY x DESC) POSITIONAL JOIN " +
        "(SELECT y FROM pos_r ORDER BY y)").get
    assert(d3.collect().map(r => (r.get(0), r.get(1))).toList ==
      List((3, "p"), (2, "q"), (1, null)))
    // aggregate tail over the zipped relation
    val d4 = PositionalSql.df(spark,
      "SELECT count(*) AS n FROM pos_l POSITIONAL JOIN pos_r").get
    assert(d4.collect().head.getLong(0) == 3)
  }

  test("positional forms and their dependencies through the body model") {
    val s = "SELECT * FROM a POSITIONAL JOIN b WHERE x > 1"
    assert(Body.parse(s).isInstanceOf[Body.Positional])
    assert(SqlAnalyzer.analyzeStatement(spark, s).dependencies == Set("a", "b"))
    def unsupported(body: String) = Body.parse(body) match {
      case Body.Unsupported(m) => Some(m)
      case _ => None
    }
    assert(unsupported("SELECT * FROM a POSITIONAL JOIN b POSITIONAL JOIN c")
      .exists(_.contains("chained")))
    assert(unsupported("SELECT * FROM a POSITIONAL JOIN b JOIN c ON b.x = c.x")
      .exists(_.contains("unsupported")))
    // a quoted literal never triggers the path
    val lit = "SELECT 'POSITIONAL JOIN' AS s FROM t"
    assert(Body.parse(lit) == Body.Plain(lit))
  }

  test("an unaliased source's own name qualifies its columns (probed v1.0)") {
    Seq((1, 10), (1, 20), (2, 15)).toDF("k", "t").createOrReplaceTempView("l")
    Seq(100, 200, 300).toDF("y").createOrReplaceTempView("r2")
    val d = PositionalSql.df(spark, "SELECT l.k, l.t, r2.y FROM l POSITIONAL JOIN r2").get
    assert(d.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toList ==
      List((1, 10, 100), (1, 20, 200), (2, 15, 300)))
  }

  test("executor end-to-end: CTAS over a positional join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pos_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement("CREATE TABLE pos_a AS SELECT id AS x FROM range(4)")
    ex.runStatement("CREATE TABLE pos_b AS SELECT id * 10 AS y FROM range(2)")
    ex.runStatement(
      "CREATE TABLE pos_z AS SELECT x, y FROM " +
        "(SELECT x FROM pos_a ORDER BY x) POSITIONAL JOIN " +
        "(SELECT y FROM pos_b ORDER BY y)")
    val rows = spark.table("pos_z").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
      .sortBy(_._1).toList
    assert(rows == List((0L, 0L), (1L, 10L), (2L, null), (3L, null)))
  }

  test("syntax check lists an issue for an unsupported positional form") {
    val cfg = Config.parse(
      """{"parameters": {"blocks": [{"name": "b", "codes": [
        |  {"name": "q1",
        |   "script": ["SELECT * FROM a POSITIONAL JOIN b POSITIONAL JOIN c"]}
        |]}]},
        |"storage": {"input": {"tables": []}, "output": {"tables": []}}}""".stripMargin)
    val issues = Actions.syntaxCheck(spark, cfg)
    assert(issues.exists(_.message.contains("chained")))
  }
}
