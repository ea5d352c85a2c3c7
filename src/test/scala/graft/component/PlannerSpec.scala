package graft.component

import graft.SparkSpec

class PlannerSpec extends SparkSpec {

  private def cfg(scripts: (String, String)*): Config =
    Config(
      blocks = List(Block("b1", scripts.toList.map { case (n, s) => Code(n, List(s)) })),
      inputTables = Nil, outputTables = Nil)

  test("analyze extracts deps, outputs and classification via Catalyst") {
    val qs = Planner.analyze(spark,
      cfg("q1" -> "CREATE TABLE t1 AS SELECT 1 AS x",
          "q2" -> "CREATE VIEW t2 AS SELECT * FROM t1 JOIN other USING (x)"))
    assert(qs.head.outputs == Set("t1"))
    assert(qs.head.statementType == SqlAnalyzer.CreateStmt)
    assert(qs(1).dependencies == Set("t1", "other"))
    assert(qs(1).outputs == Set("t2"))
  }

  test("CTE names are not dependencies") {
    val a = SqlAnalyzer.analyzeScript(spark,
      "WITH c AS (SELECT * FROM real) SELECT * FROM c")
    assert(a.dependencies == Set("real"))
  }

  test("INSERT target is an output, not a dependency") {
    val a = SqlAnalyzer.analyzeScript(spark,
      "INSERT INTO t1 SELECT * FROM src")
    assert(a.outputs == Set("t1"))
    assert(a.dependencies == Set("src"))
    assert(a.statementType == SqlAnalyzer.InsertStmt)
  }

  test("chained views batch topologically within a block") {
    val plan = Planner.plan(spark, cfg(
      "make_t3" -> "CREATE VIEW t3 AS SELECT * FROM t2",
      "make_t1" -> "CREATE TABLE t1 AS SELECT 1 AS x",
      "make_t2" -> "CREATE VIEW t2 AS SELECT * FROM t1",
      "make_z"  -> "CREATE TABLE z AS SELECT 2 AS y"))
    val batches = plan.blocks.head.batches.map(_.queries.map(_.name).toSet)
    assert(batches == List(Set("make_t1", "make_z"), Set("make_t2"), Set("make_t3")))
  }

  test("INSERT beats CREATE as producer; CREATE→INSERT edge is explicit") {
    val plan = Planner.plan(spark, cfg(
      "reader" -> "CREATE VIEW v AS SELECT * FROM t",
      "filler" -> "INSERT INTO t SELECT 5 AS x",
      "maker"  -> "CREATE TABLE t AS SELECT 1 AS x"))
    assert(plan.producers("t").name == "filler")
    val order = plan.blocks.head.batches.flatMap(_.queries.map(_.name))
    assert(order.indexOf("maker") < order.indexOf("filler"))
    assert(order.indexOf("filler") < order.indexOf("reader"))
  }

  test("SET VARIABLE reads its value expression's tables: batched after their producer") {
    val plan = Planner.plan(spark, cfg(
      "var" -> "SET VARIABLE top_k = (SELECT max(k) FROM src)",
      "src" -> "CREATE TABLE src AS SELECT 1 AS k"))
    assert(plan.blocks.head.batches.map(_.queries.map(_.name)) ==
      List(List("src"), List("var")))
    assert(SqlAnalyzer.analyzeScript(spark, "SET VARIABLE x = 1 + 2").dependencies.isEmpty)
  }

  test("cycles raise a user error") {
    val e = intercept[UserException] {
      Planner.plan(spark, cfg(
        "a" -> "CREATE TABLE x AS SELECT * FROM y",
        "b" -> "CREATE TABLE y AS SELECT * FROM x"))
    }
    assert(e.getMessage.toLowerCase.contains("circular"))
  }

  test("each script is prepared once: a later DROP MACRO plans cleanly") {
    // the rewrite edits the macro registry, so a second prepare of the
    // same script would drop the macro twice
    Macros.clear()
    try {
      val qs = Planner.plan(spark, cfg(
        "mk" -> "CREATE MACRO plus1(x) AS x + 1",
        "use" -> "CREATE TABLE m_use AS SELECT plus1(1) AS y",
        "rm" -> "DROP MACRO plus1")).blocks.flatMap(_.batches).flatMap(_.queries)
      val byName = qs.map(q => q.name -> q).toMap
      assert(byName("use").statements ==
        List("CREATE TABLE m_use AS SELECT ((1) + 1) AS y"))
      assert(byName("use").outputs == Set("m_use"))
      assert(byName("rm").statements.head.contains("__graft_macro_dropped"))
    } finally Macros.clear()
  }

  test("DDL contracts: TEMP VIEW, ADD PRIMARY KEY, CREATE INDEX and RENAME TO order after their table") {
    val c = cfg(
      "tv"  -> "CREATE TEMP VIEW dc_v AS SELECT * FROM dc_t",
      "rv"  -> "CREATE TABLE dc_rv AS SELECT * FROM dc_v",
      "pk"  -> "ALTER TABLE dc_t ADD PRIMARY KEY (k)",
      "ix"  -> "CREATE UNIQUE INDEX dc_ix ON dc_t (k)",
      "mk"  -> "CREATE TABLE dc_t AS SELECT 1 AS k",
      "w"   -> "CREATE TABLE dc_w AS SELECT * FROM dc_u",
      "rn"  -> "ALTER TABLE dc_t2 RENAME TO dc_u",
      "mk2" -> "CREATE TABLE dc_t2 AS SELECT 1 AS k",
      "dr"  -> "DROP TABLE IF EXISTS dc_x")
    val batches = Planner.plan(spark, c).blocks.head.batches.map(_.queries.map(_.name))
    def at(q: String) = batches.indexWhere(_.contains(q))
    assert(at("tv") < at("rv"), batches)
    assert(at("mk") < at("pk") && at("mk") < at("ix") && at("mk") < at("tv"), batches)
    assert(at("mk2") < at("rn") && at("rn") < at("w"), batches)
    assert(at("dr") == 0, batches)
    // every read table is produced in the config: DROP ... IF EXISTS
    // names no expected input
    assert(Actions.expectedInputTables(spark, c).isEmpty)
  }

  test("unparseable scripts degrade to no dependencies") {
    val a = SqlAnalyzer.analyzeScript(spark, "THIS IS NOT SQL AT ALL (")
    assert(a.dependencies.isEmpty && a.outputs.isEmpty)
  }
}
