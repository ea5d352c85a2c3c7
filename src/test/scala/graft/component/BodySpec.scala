package graft.component

import java.nio.file.Files

import graft.SparkSpec

/** The body model ([[Body]]): one classification of a query body, read
  * the same way by the statement model, the DAG analyzer, syntax_check
  * and the Executor. Every row is a body one reader used to accept and
  * another to refuse; expected rows are probed DuckDB v1.0 results. */
class BodySpec extends SparkSpec {

  import spark.implicits._

  private def tables(): Unit = {
    Seq((1, 10), (1, 20), (2, 15)).toDF("k", "t").createOrReplaceTempView("l")
    Seq((1, 5, 100), (1, 15, 200), (2, 12, 300)).toDF("k", "t", "y").createOrReplaceTempView("r")
    Seq(100, 200, 300).toDF("y").createOrReplaceTempView("r2")
    Seq(("a", "q1", 1), ("a", "q2", 2), ("b", "q1", 3)).toDF("g", "q", "x")
      .createOrReplaceTempView("sales")
  }

  private def prepared(stmt: String): String = Dialect.prepare(stmt).head

  private def deps(stmt: String): Set[String] =
    SqlAnalyzer.check(spark, Stmt.parse(prepared(stmt))).get.dependencies

  private def syntaxIssues(stmt: String): List[String] =
    Actions.syntaxCheck(spark, Config.parse(
      s"""{"parameters": {"blocks": [{"name": "b", "codes": [
         |  {"name": "q", "script": ["$stmt"]}]}]},
         |"storage": {"input": {"tables": []}, "output": {"tables": []}}}""".stripMargin))
      .map(_.message)

  private def rows(table: String): List[String] =
    spark.table(table).collect().map(_.toSeq.mkString(",")).sorted.toList

  test("a bare percent LIMIT is an engine query and runs") {
    tables()
    val stmt = "SELECT * FROM l LIMIT 50 PERCENT"
    assert(Stmt.parse(prepared(stmt)) match {
      case Stmt.EngineQuery(Body.LimitPercent(Body.Plain("SELECT * FROM l"), 50.0, 0)) => true
      case _ => false
    })
    assert(deps(stmt) == Set("l") && syntaxIssues(stmt).isEmpty)
    val ex = new Executor(spark, Files.createTempDirectory("graft_body_").toString)
    ex.runStatement(prepared(stmt))
    ex.runStatement(prepared(s"CREATE TABLE body_lp AS $stmt"))
    assert(spark.table("body_lp").count() == 1) // FLOOR(3 · 0.5)
  }

  test("every body a run accepts gets a clean syntax_check and its real dependencies") {
    tables()
    val asof = "SELECT l.k, r.y FROM l ASOF JOIN r ON l.k = r.k AND l.t >= r.t"
    val cases = Seq(
      "CREATE TABLE body_u AS SELECT g FROM sales UNION ALL BY NAME " +
        "(PIVOT sales ON q USING sum(x))" -> Set("sales"),
      "CREATE TABLE body_u2 AS (PIVOT sales ON q USING sum(x)) UNION BY NAME " +
        "(SELECT g FROM sales)" -> Set("sales"),
      s"CREATE TEMP VIEW body_v AS $asof" -> Set("l", "r"),
      s"CREATE VIEW IF NOT EXISTS body_v2 AS $asof" -> Set("l", "r"),
      "CREATE TABLE body_p AS SELECT * FROM l POSITIONAL JOIN r2" -> Set("l", "r2"),
      "CREATE VIEW body_pv AS SELECT * FROM l POSITIONAL JOIN r2" -> Set("l", "r2"),
      "INSERT INTO body_p SELECT * FROM l POSITIONAL JOIN r2" -> Set("l", "r2"))
    val ex = new Executor(spark, Files.createTempDirectory("graft_body_").toString)
    for ((stmt, want) <- cases) {
      assert(deps(stmt) == want, stmt)
      assert(syntaxIssues(stmt).isEmpty, stmt)
      ex.runStatement(prepared(stmt))
    }
    assert(rows("body_u") ==
      List("a,1,2", "a,null,null", "a,null,null", "b,3,null", "b,null,null"))
    assert(rows("body_u2") == List("a,1,2", "a,null,null", "b,3,null", "b,null,null"))
    assert(rows("body_v") == List("1,100", "1,200", "2,300"))
    assert(rows("body_v2") == rows("body_v"))
    assert(rows("body_p").length == 6) // CTAS plus INSERT, three rows each
  }

  test("a view over a PIVOT body rebinds through the body model after its source changes") {
    tables()
    val ex = new Executor(spark, Files.createTempDirectory("graft_body_").toString)
    Seq("CREATE TABLE body_s AS SELECT * FROM sales",
      "CREATE VIEW body_pvt AS PIVOT body_s ON q USING sum(x)",
      "INSERT INTO body_s VALUES ('c', 'q2', 4)",
      "ALTER TABLE body_s RENAME TO body_s2",
      "INSERT INTO body_s2 VALUES ('d', 'q1', 5)").foreach(s => ex.runStatement(prepared(s)))
    assert(rows("body_pvt") == List("a,1,2", "b,3,null", "c,null,4", "d,5,null"))
  }

  test("an ASOF join nested in a CTE: one clear message from syntax_check and from a run") {
    tables()
    val stmt = "CREATE TABLE body_a AS WITH c AS (SELECT l.k, r.y FROM l ASOF JOIN r " +
      "ON l.k = r.k AND l.t >= r.t) SELECT * FROM c"
    val issues = syntaxIssues(stmt)
    val ex = new Executor(spark, Files.createTempDirectory("graft_body_").toString)
    val e = intercept[UserException](ex.runStatement(prepared(stmt)))
    assert(e.getMessage.startsWith("unsupported ASOF JOIN form"), e.getMessage)
    assert(issues == List(e.getMessage))
  }

  test("a leg, a DESCRIBE target and a percent LIMIT hold bodies of their own") {
    Body.parse("SELECT * FROM a UNION BY NAME (PIVOT s ON q USING sum(x)) LIMIT 2") match {
      case Body.UnionByName(p, Seq(Body.Plain("SELECT * FROM a"), Body.Pivot(pv))) =>
        assert(p.limit.contains(2) && pv.src == "s")
      case other => fail(other.toString)
    }
    assert(Body.parse("SUMMARIZE (SELECT * FROM t ASOF JOIN u USING (k, ts))") match {
      case Body.Describe(d, Some(Body.AsOf(_))) => d.summarize
      case _ => false
    })
    assert(Body.parse("FROM t LIMIT 10%") ==
      Body.LimitPercent(Body.Plain("SELECT * FROM t"), 10.0, 0))
    // an unsupported form is unsupported wherever it sits
    assert(Body.parse("SELECT * FROM a UNION BY NAME SELECT * FROM (SELECT * FROM b " +
      "POSITIONAL JOIN c POSITIONAL JOIN d)") match {
      case Body.UnionByName(_, Seq(_, Body.Unsupported(m))) => m.contains("chained")
      case _ => false
    })
  }
}
