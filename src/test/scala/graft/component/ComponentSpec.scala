package graft.component

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** End-to-end datadir runs, modeled on the reference's golden-directory
  * functional corpus (fixtures authored fresh per FIXTURES.md — shapes, not
  * copies). */
class ComponentSpec extends SparkSpec {

  private def write(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private def datadir(): Path = Files.createTempDirectory("graft_dd_")

  /** Every regular file under `dir`: relative path → bytes. */
  private def files(dir: Path): List[(String, Seq[Byte])] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toList.sortBy(_._1)
    finally walk.close()
  }

  private def daysCsv: String =
    "\"id\",\"name\"\n\"1\",\"Monday\"\n\"2\",\"Tuesday\"\n\"3\",\"Wednesday\"\n" +
    "\"4\",\"Thursday\"\n\"5\",\"Friday\"\n\"6\",\"Saturday\"\n\"7\",\"Sunday\"\n"

  test("simple: sliced csv + header csv, quoted views, ::INT filter, join, export") {
    val dd = datadir()
    write(dd.resolve("in/tables/days.csv"), daysCsv)
    write(dd.resolve("in/tables/days.csv.manifest"), """{"id": "in.c-x.days"}""")
    write(dd.resolve("in/tables/sliced/a.csv"), "\"1\",\"10\",\"a\"\n\"2\",\"20\",\"b\"\n")
    write(dd.resolve("in/tables/sliced/b.csv"), "\"3\",\"30\",\"c\"\n\"6\",\"60\",\"d\"\n")
    write(dd.resolve("in/tables/sliced.manifest"),
      """{"id": "in.c-x.sliced", "columns": ["id", "value", "role"],
        | "column_metadata": {
        |  "id":    [{"key": "KBC.datatype.basetype", "value": "INTEGER"}],
        |  "value": [{"key": "KBC.datatype.basetype", "value": "INTEGER"}],
        |  "role":  [{"key": "KBC.datatype.basetype", "value": "STRING"}]}}""".stripMargin)
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "Block 1", "codes": [
        |   {"name": "week", "script": [
        |     "CREATE VIEW 'week.csv' AS (SELECT * FROM 'days.csv' WHERE id::INT <= 5) ORDER BY id;"]},
        |   {"name": "joined", "script": [
        |     "CREATE VIEW 'out-table.csv' AS (SELECT s.id, s.value, s.role, d.name FROM sliced s LEFT JOIN 'days.csv' d USING (id)) ORDER BY id;"]}
        | ]}]},
        | "storage": {
        |  "input": {"tables": [
        |    {"source": "in.c-x.days", "destination": "days.csv"},
        |    {"source": "in.c-x.sliced", "destination": "sliced"}]},
        |  "output": {"tables": [
        |    {"source": "week.csv", "destination": "out.c-y.week"},
        |    {"source": "out-table.csv", "destination": "out.c-y.table"}]}}}""".stripMargin)

    Component.run(spark, dd.toString)

    val week = Files.readString(dd.resolve("out/tables/week.csv"))
    assert(week.startsWith("\"id\",\"name\"\n\"1\",\"Monday\""))
    assert(week.linesIterator.size == 6) // header + 5 rows
    val table = Files.readString(dd.resolve("out/tables/out-table.csv"))
    assert(table.linesIterator.toList ==
      List("\"id\",\"value\",\"role\",\"name\"",
        "\"1\",\"10\",\"a\",\"Monday\"", "\"2\",\"20\",\"b\",\"Tuesday\"",
        "\"3\",\"30\",\"c\",\"Wednesday\"", "\"6\",\"60\",\"d\",\"Saturday\""))
    val manifest = Files.readString(dd.resolve("out/tables/out-table.csv.manifest"))
    assert(manifest.contains("\"destination\": \"out.c-y.table\""))
    assert(manifest.contains("\"type\": \"INTEGER\"")) // id/value from declared schema
    assert(manifest.contains("\"type\": \"STRING\""))
  }

  test("dtypes rule: declared columns without types load as STRING; no manifest infers") {
    val dd = datadir()
    write(dd.resolve("in/tables/days.csv"), daysCsv)
    write(dd.resolve("in/tables/days.csv.manifest"),
      """{"id": "in.c-days.csv", "incremental": false, "columns": ["id", "name"]}""")
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "c", "script": [
        |  "CREATE VIEW week AS (SELECT * FROM 'days.csv' WHERE id::INT <= 5) ORDER BY id"]}]}]},
        | "storage": {"input": {"tables": [{"source": "in.c-days.csv", "destination": "days.csv"}]},
        |             "output": {"tables": [{"source": "week", "destination": "out.c-out.week"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    val m = Files.readString(dd.resolve("out/tables/week.manifest"))
    // both columns STRING (declared, untyped) — the fixture-3 golden rule
    assert(!m.contains("\"type\": \"INTEGER\""))
    assert(m.contains("\"type\": \"STRING\""))

    // same data with a schema-free manifest ⇒ inference ⇒ id INTEGER
    val dd2 = datadir()
    write(dd2.resolve("in/tables/days.csv"), daysCsv)
    write(dd2.resolve("in/tables/days.csv.manifest"), """{"id": "in.c-days.csv"}""")
    write(dd2.resolve("config.json"),
      Files.readString(dd.resolve("config.json")))
    Component.run(spark, dd2.toString)
    val m2 = Files.readString(dd2.resolve("out/tables/week.manifest"))
    assert(m2.contains("\"name\": \"id\", \"data_type\": {\"base\": {\"type\": \"INTEGER\"}}"))
  }

  test("parquet ingest with DECIMAL(38,0)→BIGINT cast for INTEGER-flagged columns") {
    val dd = datadir()
    val pdir = dd.resolve("in/tables/pq.parquet")
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    Seq(("1", "foo"), ("2", "bar")).toDF("id", "value")
      .select(col("id").cast("decimal(38,0)").as("id"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(pdir.toString)
    write(dd.resolve("in/tables/pq.parquet.manifest"),
      """{"id": "in.c-x.pq", "column_metadata": {
        |  "id": [{"key": "KBC.datatype.basetype", "value": "INTEGER"}]}}""".stripMargin)
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "c", "script": [
        |  "CREATE VIEW out_pq AS (SELECT * FROM 'pq.parquet') ORDER BY id"]}]}]},
        | "storage": {"input": {"tables": [{"source": "in.c-x.pq", "destination": "pq.parquet", "file_type": "parquet"}]},
        |             "output": {"tables": [{"source": "out_pq", "destination": "out.c-y.pq"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    val m = Files.readString(dd.resolve("out/tables/out_pq.manifest"))
    assert(m.contains("\"name\": \"id\", \"data_type\": {\"base\": {\"type\": \"INTEGER\"}}"))
    assert(Files.readString(dd.resolve("out/tables/out_pq"))
      .startsWith("\"id\",\"value\"\n\"1\",\"foo\""))
  }

  test("DAG with CTAS chain, INSERT, UPDATE, DELETE re-derivation") {
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "dag", "script": [
        |  "CREATE TABLE \"t1\" AS SELECT 1 AS x;",
        |  "INSERT INTO \"t1\" SELECT 2 AS x;",
        |  "INSERT INTO \"t1\" SELECT 3 AS x;",
        |  "UPDATE \"t1\" SET x = x * 10 WHERE x >= 2;",
        |  "DELETE FROM \"t1\" WHERE x = 30;",
        |  "CREATE VIEW \"t2\" AS (SELECT * FROM \"t1\") ORDER BY x;"
        | ]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "t2", "destination": "out.c-y.t2"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    assert(Files.readString(dd.resolve("out/tables/t2")).linesIterator.toList ==
      List("\"x\"", "\"1\"", "\"20\""))
  }

  test("multi-statement scripts run in order within one query") {
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "multi", "script": [
        |  "CREATE TABLE base AS SELECT 10 AS v; CREATE VIEW doubled AS SELECT v * 2 AS v2 FROM base"
        | ]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "doubled", "destination": "out.c-y.d"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    assert(Files.readString(dd.resolve("out/tables/doubled")).contains("\"20\""))
  }

  test("warehouse passthrough: tables created in run 1 are readable in run 2") {
    val dd1 = datadir()
    write(dd1.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "mk", "script": [
        |  "CREATE TABLE persisted AS SELECT 42 AS answer"]}]}]},
        | "storage": {"input": {"tables": []}, "output": {"tables": []}}}""".stripMargin)
    Component.run(spark, dd1.toString)
    assert(Files.isDirectory(dd1.resolve("out/files/warehouse/persisted")))

    val dd2 = datadir()
    // ship run 1's warehouse as run 2's input files
    val in2 = dd2.resolve("in/files/warehouse/persisted")
    Files.createDirectories(in2.getParent)
    Files.walk(dd1.resolve("out/files/warehouse/persisted")).forEach { p =>
      val rel = dd1.resolve("out/files/warehouse/persisted").relativize(p)
      if (Files.isRegularFile(p)) {
        Files.createDirectories(in2.resolve(rel.toString).getParent)
        Files.copy(p, in2.resolve(rel.toString))
      }
    }
    write(dd2.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "rd", "script": [
        |  "CREATE VIEW echo AS SELECT answer FROM persisted"]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "echo", "destination": "out.c-y.echo"}]}}}""".stripMargin)
    Component.run(spark, dd2.toString)
    assert(Files.readString(dd2.resolve("out/tables/echo")).contains("\"42\""))
  }

  test("warehouse passthrough carries enum types and untouched tables to the next run") {
    def config(dd: Path, script: String, out: String) = write(dd.resolve("config.json"),
      s"""{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "c", "script": [
         |  "$script"]}]}]},
         | "storage": {"input": {"tables": []}, "output": {"tables": [$out]}}}""".stripMargin)
    def ship(from: Path, to: Path): Unit = {
      val src = from.resolve("out/files/warehouse")
      Files.walk(src).forEach { p =>
        val dst = to.resolve("in/files/warehouse").resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
      }
    }
    val dd1 = datadir()
    config(dd1, "CREATE TYPE pt_mood AS ENUM ('sad','ok','happy'); " +
      "CREATE TABLE pt_ep (id INT, m pt_mood); INSERT INTO pt_ep VALUES (1,'happy'),(2,'sad')", "")
    Component.run(spark, dd1.toString)
    val dd2 = datadir()
    ship(dd1, dd2)
    config(dd2, "CREATE TABLE pt_echo AS SELECT id, m::VARCHAR AS m FROM pt_ep; " +
      "CREATE TABLE pt_kind AS SELECT table_type FROM information_schema.tables WHERE table_name = 'pt_ep'",
      """{"source": "pt_echo", "destination": "out.c-y.pt_echo"},
        |{"source": "pt_kind", "destination": "out.c-y.pt_kind"}""".stripMargin)
    Component.run(spark, dd2.toString)
    // the labels, not the struct-encoded indexes ("{2}", "{0}")
    assert(Files.readString(dd2.resolve("out/tables/pt_echo")).linesIterator.toList.sorted ==
      List("\"1\",\"happy\"", "\"2\",\"sad\"", "\"id\",\"m\""))
    // a passthrough table is a table of the run, not a view
    assert(Files.readString(dd2.resolve("out/tables/pt_kind")).contains("\"BASE TABLE\""))
    // the untouched table and the type catalog ride on to the next run;
    // the table's files are copied, byte for byte
    assert(Files.isDirectory(dd2.resolve("out/files/warehouse/pt_ep")))
    assert(files(dd2.resolve("out/files/warehouse/pt_ep")) ==
      files(dd2.resolve("in/files/warehouse/pt_ep")))
    assert(Files.readString(dd2.resolve("out/files/warehouse/.types.sql")).contains("pt_mood"))
    val dd3 = datadir()
    ship(dd2, dd3)
    config(dd3, "CREATE TABLE pt_n AS SELECT count(*) AS n, min(m)::VARCHAR AS lo FROM pt_ep",
      """{"source": "pt_n", "destination": "out.c-y.pt_n"}""")
    Component.run(spark, dd3.toString)
    assert(Files.readString(dd3.resolve("out/tables/pt_n")).contains("\"2\",\"sad\""))
    // a persisted enum column whose type is gone fails with the catalog message
    val dd4 = datadir()
    ship(dd3, dd4)
    Files.delete(dd4.resolve("in/files/warehouse/.types.sql"))
    config(dd4, "CREATE TABLE pt_x AS SELECT id FROM pt_ep", "")
    val e = intercept[UserException](Component.run(spark, dd4.toString))
    assert(e.getMessage.startsWith("enum type pt_mood is not defined"), e.getMessage)
  }

  test("an untouched passthrough table is copied once per run; a changed one is written") {
    val in = Files.createTempDirectory("graft_pt_in_")
    Seq("pt_keep", "pt_edit").foreach(t =>
      spark.range(3).toDF("k").write.parquet(in.resolve(t).toString))
    val out = Files.createTempDirectory("graft_pt_out_")
    val ex = new Executor(spark, out.toString)
    ex.attach(in)
    // one execute call per batch, as a traced run makes them
    def execute(sql: String*): Unit = ex.execute(ExecutionPlan(List(PlannedBlock("b",
      List(Batch(List(Query(0, "b", "c", "c", sql.mkString(";"), sql.map(Dialect.rewrite).toList,
        Set.empty, Set.empty, SqlAnalyzer.OtherStmt)))))), Map.empty))
    execute("DELETE FROM pt_edit WHERE k = 0")
    assert(files(out.resolve("pt_keep")) == files(in.resolve("pt_keep")))
    assert(spark.read.parquet(out.resolve("pt_edit").toString).count() == 2)
    // a later call copies nothing again (a file added to the source dir
    // since stays behind; Spark's reader skips `_` names)
    Files.writeString(in.resolve("pt_keep").resolve("_marker"), "x")
    execute("SELECT 1")
    assert(files(out.resolve("pt_keep")) == files(in.resolve("pt_keep")).filter(_._1 != "_marker"))
    // once a statement changes it, the table is written from its new state
    execute("UPDATE pt_keep SET k = k + 10")
    assert(spark.read.parquet(out.resolve("pt_keep").toString).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L, 12L))
  }

  test("sync actions: expected_input_tables, lineage, execution plan, syntax check") {
    val cfgJson =
      """{"parameters": {"blocks": [{"name": "b", "codes": [
        |   {"name": "q1", "script": ["CREATE TABLE mid AS SELECT * FROM external_src"]},
        |   {"name": "q2", "script": ["CREATE VIEW out_v AS SELECT * FROM mid JOIN other_ext USING (id)"]}
        | ]}]},
        | "storage": {"input": {"tables": []}, "output": {"tables": []}}}""".stripMargin
    val config = Config.parse(cfgJson)
    assert(Actions.expectedInputTables(spark, config) == List("external_src", "other_ext"))

    val lineage = Actions.lineage(spark, config)
    assert(lineage.contains("### 📋 mid"))
    assert(lineage.contains("**Created by:**\n- `q1` (Block: b, Code: q1)"))
    assert(lineage.contains("**Read by:**\n- `q2` (Block: b, Code: q2)"))

    val planMd = Actions.executionPlan(spark, config)
    assert(planMd.contains("Batch 1") && planMd.contains("q1"))

    val bad = Config.parse(cfgJson.replace("SELECT * FROM mid", "SELEC * FRM ((mid"))
    assert(Actions.syntaxCheck(spark, bad).nonEmpty)
    assert(Actions.syntaxCheck(spark, config).isEmpty)
  }

  test("cross-block dependency: block 2 reads block 1's table") {
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [
        |  {"name": "first", "codes": [{"name": "mk", "script": [
        |    "CREATE TABLE base AS SELECT 7 AS v"]}]},
        |  {"name": "second", "codes": [{"name": "use", "script": [
        |    "CREATE VIEW out_x AS SELECT v * 3 AS v3 FROM base"]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "out_x", "destination": "o"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    assert(Files.readString(dd.resolve("out/tables/out_x")).contains("\"21\""))
  }

  test("INSERT with explicit column list maps by name") {
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "ins", "script": [
        |  "CREATE TABLE t AS SELECT 1 AS a, 'x' AS b;",
        |  "INSERT INTO t (b, a) SELECT 'y', 2;",
        |  "CREATE VIEW out_t AS (SELECT * FROM t) ORDER BY a"
        | ]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "out_t", "destination": "o"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    assert(Files.readString(dd.resolve("out/tables/out_t")).linesIterator.toList ==
      List("\"a\",\"b\"", "\"1\",\"x\"", "\"2\",\"y\""))
  }

  test("DELETE keeps NULL-predicate rows; UPDATE assigns simultaneously") {
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "dml", "script": [
        |  "CREATE TABLE t AS SELECT * FROM (SELECT 1 AS a, 10 AS b UNION ALL SELECT 2, 20 UNION ALL SELECT CAST(NULL AS INT), 30);",
        |  "DELETE FROM t WHERE a = 2;",
        |  "UPDATE t SET a = b, b = a;",
        |  "CREATE VIEW out_t AS (SELECT * FROM t) ORDER BY a"
        | ]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "out_t", "destination": "o"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    val lines = Files.readString(dd.resolve("out/tables/out_t")).linesIterator.toList
    // NULL-a row survives DELETE (unknown predicate); UPDATE swaps a<->b
    assert(lines == List("\"a\",\"b\"", "\"10\",\"1\"", "\"30\",\"\""))
  }

  test("views are late-bound: a later block's DML is visible through an earlier view") {
    // block-1 view pins t's original parquet files in its analyzed plan;
    // block-2 DML deletes/swaps those files. Without re-binding, block-3's
    // read of the view (and of the view-on-view) throws
    // FileNotFoundException or returns stale rows — the reference's DuckDB
    // views resolve at read time instead.
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [
        |  {"name": "b1", "codes": [{"name": "mk", "script": [
        |    "CREATE TABLE t AS SELECT 1 AS a;",
        |    "CREATE VIEW v AS SELECT a * 10 AS a10 FROM t;",
        |    "CREATE VIEW vv AS SELECT a10 + 1 AS a11 FROM v"]}]},
        |  {"name": "b2", "codes": [{"name": "dml", "script": [
        |    "INSERT INTO t SELECT 2;",
        |    "UPDATE t SET a = a + 100 WHERE a = 1"]}]},
        |  {"name": "b3", "codes": [{"name": "read", "script": [
        |    "CREATE TABLE out_v AS (SELECT a11 FROM vv) ORDER BY a11"]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "out_v", "destination": "o"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    // t = {101, 2} → v = {1010, 20} → vv = {1011, 21}
    assert(Files.readString(dd.resolve("out/tables/out_v")).linesIterator.toList ==
      List("\"a11\"", "\"21\"", "\"1011\""))
  }

  test("debug run reports engine version and a memory figure (A25/A26-lite)") {
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"debug": true, "duckdb_version": "1.2.3",
        |  "blocks": [{"name": "b", "codes": [{"name": "mk", "script": [
        |    "CREATE TABLE t AS SELECT 1 AS x"]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "t", "destination": "o"}]}}}""".stripMargin)
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try Component.run(spark, dd.toString)
    finally System.setErr(prev)
    val err = buf.toString
    // A26: 1.2.3 is not in the registry -> fallback to the default
    // compatibility version, surfaced loudly (reference launcher semantics)
    assert(err.contains("configured engine version: 1.2.3 is not in this build's registry"), err)
    assert(err.contains(s"falling back to ${Versions.Default}"), err)
    assert(err.contains("[debug] memory:") && err.contains("MB"), err)
    assert(err.contains("[debug] table"), err)
    // A25 parity: the spill/scratch-dir report (reference lists DuckDB
    // temp files alongside its memory dump)
    assert(err.contains("[debug] spill: local dir"), err)
  }

  test("duplicate block names run as separate blocks, once each") {
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [
        |  {"name": "Block 1", "codes": [{"name": "mk", "script": ["CREATE TABLE t AS SELECT 1 AS x"]}]},
        |  {"name": "Block 1", "codes": [{"name": "add", "script": ["INSERT INTO t SELECT 2 AS x"]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "t", "destination": "o"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    assert(Files.readString(dd.resolve("out/tables/t")).linesIterator.toList.sorted ==
      List("\"1\"", "\"2\"", "\"x\""))
  }

  test("INSERT with a parenthesized source query is a source, not a column list") {
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "ins", "script": [
        |  "CREATE TABLE t AS SELECT 1 AS a;",
        |  "INSERT INTO t (SELECT 2 AS a);",
        |  "INSERT INTO t (WITH c AS (SELECT 3 AS a) SELECT a FROM c);",
        |  "CREATE VIEW out_t AS (SELECT * FROM t) ORDER BY a"
        | ]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "out_t", "destination": "o"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    assert(Files.readString(dd.resolve("out/tables/out_t")).linesIterator.toList ==
      List("\"a\"", "\"1\"", "\"2\"", "\"3\""))
  }

  test("INSERT with a partial column list NULL-fills missing columns") {
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "ins", "script": [
        |  "CREATE TABLE t AS SELECT 1 AS a, 'x' AS b;",
        |  "INSERT INTO t (a) SELECT 2;",
        |  "CREATE VIEW out_t AS (SELECT * FROM t) ORDER BY a"
        | ]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "out_t", "destination": "o"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    assert(Files.readString(dd.resolve("out/tables/out_t")).linesIterator.toList ==
      List("\"a\",\"b\"", "\"1\",\"x\"", "\"2\",\"\""))
  }

  test("EXCLUDE star modifier and graft SQL functions work in scripts") {
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "c", "script": [
        |  "CREATE TABLE src AS SELECT 1 AS a, 2 AS b, 'x y z' AS txt;",
        |  "CREATE VIEW out_e AS SELECT * EXCLUDE (b), simhash64(txt) AS fp FROM src"
        | ]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "out_e", "destination": "o"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    val lines = Files.readString(dd.resolve("out/tables/out_e")).linesIterator.toList
    assert(lines.head == "\"a\",\"txt\",\"fp\"")
  }

  test("QUALIFY rewrites to a window subquery filter end-to-end") {
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "q", "script": [
        |  "CREATE TABLE src AS SELECT * FROM (SELECT 1 AS k, 'a' AS v UNION ALL SELECT 1, 'b' UNION ALL SELECT 2, 'c');",
        |  "CREATE VIEW out_q AS SELECT k, v FROM src QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY v) = 1 ORDER BY k"
        | ]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "out_q", "destination": "o"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    assert(Files.readString(dd.resolve("out/tables/out_q")).linesIterator.toList ==
      List("\"k\",\"v\"", "\"1\",\"a\"", "\"2\",\"c\""))
  }

  test("DISTINCT ON keeps the first row per key under the statement order") {
    val dd = datadir()
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "q", "script": [
        |  "CREATE TABLE src AS SELECT * FROM (SELECT 1 AS k, 'b' AS v, 10 AS p UNION ALL SELECT 1, 'a', 20 UNION ALL SELECT 2, 'c', 5);",
        |  "CREATE VIEW out_d AS SELECT DISTINCT ON (k) k, v, p FROM src ORDER BY k, p DESC"
        | ]}]}]},
        | "storage": {"input": {"tables": []},
        |             "output": {"tables": [{"source": "out_d", "destination": "o"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    // per key: highest p wins (ORDER BY k, p DESC)
    assert(Files.readString(dd.resolve("out/tables/out_d")).linesIterator.toList ==
      List("\"k\",\"v\",\"p\"", "\"1\",\"a\",\"20\"", "\"2\",\"c\",\"5\""))
  }

  /** B1 reads a table macro that B2 defines: DuckDB fails on B1, and
    * so must every path that prepares the config once, in order. */
  private def macroLaterConfig(checkOnStartup: Boolean): String =
    s"""{"parameters": {"syntax_check_on_startup": $checkOnStartup, "blocks": [
       |  {"name": "B1", "codes": [{"name": "use", "script": ["CREATE TABLE ml_r AS SELECT * FROM tm(1)"]}]},
       |  {"name": "B2", "codes": [{"name": "mk", "script": ["CREATE MACRO tm(x) AS TABLE SELECT x AS v FROM ml_src"]}]}
       |]}, "storage": {}}""".stripMargin

  test("execution_plan: the flow and the dependency analysis read one analysis") {
    Macros.clear()
    val md = Actions.executionPlan(spark, Config.parse(macroLaterConfig(false)))
    val (flow, analysis) = md.splitAt(md.indexOf("## 🔍 Dependency Analysis"))
    // `use` lists the same (no) dependencies in both sections
    assert(flow.contains("ml_src") == analysis.contains("ml_src"), md)
  }

  test("syntax_check_on_startup plans the statements it checked") {
    import spark.implicits._
    Seq((1L, 2L)).toDF("a", "b").createOrReplaceTempView("ml_src")
    def runError(check: Boolean): String = {
      val dd = datadir()
      write(dd.resolve("config.json"), macroLaterConfig(check))
      intercept[Exception](Component.run(spark, dd.toString)).getMessage
    }
    assert(runError(check = true) == runError(check = false))
  }

  test("expected_input_tables report: SQL names and destinations compare under one rule") {
    val config = Config(
      blocks = List(Block("b", List(Code("q", List(
        "CREATE TABLE out AS SELECT * FROM 'days.csv' JOIN \"hours.parquet\" USING (id)"))))),
      inputTables = List(InputTable("in.c-x.days", "days.csv"),
        InputTable("in.c-x.hours", "hours.parquet", "parquet")),
      outputTables = Nil)
    val report = Actions.expectedInputReport(spark, config)
    assert(report.contains("✅ **All required tables are available!**"), report)
    assert(!report.contains("Missing") && !report.contains("Extra"), report)
  }

  test("version query shape works in Spark SQL") {
    val df = spark.sql("SELECT version() AS version")
    assert(df.collect().head.getString(0).nonEmpty)
  }
}
