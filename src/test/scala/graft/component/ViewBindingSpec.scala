package graft.component

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException

import graft.SparkSpec

/** Views bind late, as DuckDB views do: every read runs the stored body
  * against the sources' current state, and a read fails once the view's
  * columns changed. Each row carries what `tools/view_probe.py` prints
  * for it on DuckDB 1.0 (the row label in quotes); `getvariable` is
  * spec-pinned, since 1.0 has no variables. */
class ViewBindingSpec extends SparkSpec {

  private def mkEx(): Executor = {
    DuckFunctions.register(spark)
    new Executor(spark, Files.createTempDirectory("graft_vb_").toString)
  }

  private def runAll(ex: Executor, sql: String*): Unit =
    sql.foreach(s => Dialect.prepare(s).foreach(ex.runStatement))

  private def rows(sql: String): List[String] =
    spark.sql(sql).collect().map(_.mkString(",")).toList

  /** `vb_t(k, x)` = (1, 10), (2, 20) and `vb_v` = `SELECT * FROM vb_t`. */
  private def tv(): Executor = {
    val ex = mkEx()
    runAll(ex, "CREATE OR REPLACE TABLE vb_t AS SELECT * FROM (VALUES (1, 10), (2, 20)) v(k, x)",
      "CREATE OR REPLACE VIEW vb_v AS SELECT * FROM vb_t")
    ex
  }

  private def altered(read: => Any): String = intercept[UserException](read).getMessage

  test("DML after CREATE VIEW shows through the view") {
    // "dml after create view": [(41,)]
    val ex = tv()
    runAll(ex, "CREATE VIEW vb_s AS SELECT sum(x) AS total FROM vb_t",
      "INSERT INTO vb_t VALUES (3, 30)", "UPDATE vb_t SET x = x + 1 WHERE k = 1",
      "DELETE FROM vb_t WHERE k = 2")
    assert(rows("SELECT * FROM vb_s") == List("41"))
  }

  test("a view over a view reads the current state") {
    // "view over a view": [(3,)]
    val ex = tv()
    runAll(ex, "CREATE VIEW vb_w AS SELECT count(*) AS n FROM vb_v",
      "INSERT INTO vb_t VALUES (3, 30)")
    assert(rows("SELECT * FROM vb_w") == List("3"))
  }

  test("CREATE OR REPLACE TABLE: the same shape reads through, another shape fails the read") {
    // "create or replace table, same shape": [(7, 70)]
    val ex = tv()
    runAll(ex, "CREATE OR REPLACE TABLE vb_t AS SELECT 7 AS k, 70 AS x")
    assert(rows("SELECT * FROM vb_v") == List("7,70"))
    // "create or replace table, different shape": Binder Error: Contents
    // of view were altered: types don't match! Expected [INTEGER,
    // INTEGER], but found [VARCHAR, INTEGER] instead
    runAll(ex, "CREATE OR REPLACE TABLE vb_t AS SELECT 'a' AS k, 70 AS x")
    assert(altered(rows("SELECT * FROM vb_v")) ==
      "Binder Error: Contents of view were altered: types don't match! " +
        "Expected [INT, INT], but found [STRING, INT] instead")
  }

  test("ADD COLUMN under SELECT *, RENAME COLUMN and ALTER TYPE fail the read") {
    // "add column under select *": ... types don't match! Expected
    // [INTEGER, INTEGER], but found [INTEGER, INTEGER, INTEGER] instead
    val ex = tv()
    runAll(ex, "ALTER TABLE vb_t ADD COLUMN y INTEGER")
    assert(altered(rows("SELECT * FROM vb_v")).startsWith(
      "Binder Error: Contents of view were altered: types don't match! " +
        "Expected [INT, INT], but found [INT, INT, INT] instead"))
    // "add column under a named list": [(1, 10), (2, 20)]
    runAll(ex, "CREATE VIEW vb_n AS SELECT k, x FROM vb_t", "ALTER TABLE vb_t ADD COLUMN z INTEGER")
    assert(rows("SELECT * FROM vb_n ORDER BY k") == List("1,10", "2,20"))
    // "rename column": ... names don't match! Expected [k, x], but found
    // [k, z] instead
    val ex2 = tv()
    runAll(ex2, "ALTER TABLE vb_t RENAME COLUMN x TO z")
    assert(altered(rows("SELECT * FROM vb_v")) ==
      "Binder Error: Contents of view were altered: names don't match! " +
        "Expected [k, x], but found [k, z] instead")
    // "alter type": ... types don't match! Expected [INTEGER, INTEGER],
    // but found [INTEGER, BIGINT] instead
    val ex3 = tv()
    runAll(ex3, "ALTER TABLE vb_t ALTER COLUMN x TYPE BIGINT")
    assert(altered(rows("SELECT * FROM vb_v")).contains("but found [INT, BIGINT] instead"))
  }

  test("DROP of the source fails the read") {
    // "drop source": Catalog Error: Table with name t does not exist!
    val ex = tv()
    runAll(ex, "DROP TABLE vb_t")
    val e = intercept[AnalysisException](rows("SELECT * FROM vb_v"))
    assert(e.getMessage.contains("`vb_t` cannot be found"), e.getMessage)
  }

  test("RENAME TABLE keeps the views over it working (a documented divergence)") {
    // "rename table": Catalog Error: Table with name t does not exist! —
    // this engine re-creates the views whose body names the table
    val ex = tv()
    runAll(ex, "CREATE VIEW vb_w AS SELECT count(*) AS n FROM vb_v",
      "CREATE VIEW vb_col AS SELECT 1 AS vb_t FROM vb_v",
      """CREATE VIEW vb_lit AS SELECT 'say "vb_t"' AS s FROM vb_t""",
      "ALTER TABLE vb_t RENAME TO vb_t2", "INSERT INTO vb_t2 VALUES (3, 30)")
    assert(rows("SELECT * FROM vb_v ORDER BY k") == List("1,10", "2,20", "3,30"))
    assert(rows("SELECT * FROM vb_w") == List("3"))
    // a column alias spelling the old name stays as it is
    assert(spark.table("vb_col").columns.toList == List("vb_t"))
    assert(rows("SELECT * FROM vb_col") == List("1", "1", "1"))
    // a quoted name inside a string literal is text, not a reference
    assert(rows("SELECT DISTINCT s FROM vb_lit") == List("say \"vb_t\""))
  }

  test("getvariable in a view reads the variable's current value") {
    // spec-pinned: DuckDB 1.0 has no SET VARIABLE; DuckDB >= 1.1 binds
    // getvariable when the view is read
    val ex = tv()
    runAll(ex, "SET VARIABLE vb_lim = 1",
      "CREATE VIEW vb_g AS SELECT k FROM vb_t WHERE k > getvariable('vb_lim')")
    assert(rows("SELECT * FROM vb_g") == List("2"))
    runAll(ex, "SET VARIABLE vb_lim = 0")
    assert(rows("SELECT * FROM vb_g ORDER BY k") == List("1", "2"))
  }

  test("PIVOT and ASOF views read the state after DML") {
    val ex = mkEx()
    // "pivot view after dml": [('a', 1, 5), ('b', None, 2)] for the
    // IN-list form; "dynamic pivot view": DuckDB refuses a PIVOT without
    // IN in a view. This engine's PIVOT takes its values from the data:
    // its view reads through while the pivot values stay the same, and a
    // new value fails the read like any other change of columns
    runAll(ex, "CREATE OR REPLACE TABLE vb_sales AS " +
        "SELECT * FROM (VALUES ('a', 2020, 1), ('b', 2021, 2)) s(r, y, amt)",
      "CREATE VIEW vb_pv AS PIVOT vb_sales ON y USING sum(amt) GROUP BY r",
      "INSERT INTO vb_sales VALUES ('a', 2021, 5)")
    assert(rows("SELECT * FROM vb_pv ORDER BY r") == List("a,1,5", "b,null,2"))
    runAll(ex, "INSERT INTO vb_sales VALUES ('a', 2022, 1)")
    assert(altered(rows("SELECT * FROM vb_pv")).contains("types don't match!"))
    // "asof view after dml": [(5, 100), (15, 120)]
    runAll(ex, "CREATE OR REPLACE TABLE vb_trades AS SELECT * FROM (VALUES (1, 5), (1, 15)) s(id, ts)",
      "CREATE OR REPLACE TABLE vb_quotes AS " +
        "SELECT * FROM (VALUES (1, 0, 100), (1, 10, 110)) q(id, ts, px)",
      "CREATE VIEW vb_tq AS SELECT t.ts, q.px FROM vb_trades t ASOF JOIN vb_quotes q " +
        "ON t.id = q.id AND t.ts >= q.ts",
      "INSERT INTO vb_quotes VALUES (1, 12, 120)")
    assert(rows("SELECT * FROM vb_tq ORDER BY ts") == List("5,100", "15,120"))
  }

  test("EXPORT DATABASE lists the views in creation order, a replaced view last") {
    // "export database lists views in creation order":
    // ['CREATE VIEW av AS SELECT k FROM zv;', 'CREATE VIEW zv AS SELECT k FROM t;']
    val ex = tv()
    runAll(ex, "CREATE VIEW vb_zv AS SELECT k FROM vb_t", "CREATE VIEW vb_av AS SELECT k FROM vb_zv",
      "CREATE OR REPLACE VIEW vb_zv AS SELECT k FROM vb_t")
    val dump = Files.createTempDirectory("graft_vb_dump_")
    runAll(ex, s"EXPORT DATABASE '$dump'")
    val views = Files.readString(dump.resolve("schema.sql")).linesIterator
      .filter(_.startsWith("CREATE VIEW")).toList
    assert(views == List("CREATE VIEW vb_v AS SELECT * FROM vb_t;",
      "CREATE VIEW vb_av AS SELECT k FROM vb_zv;", "CREATE VIEW vb_zv AS SELECT k FROM vb_t;"))
  }

  test("a repeated column name reads with a suffix") {
    // "repeated column names": ['k', 'K_1', 'k_2'] [(1, 2, 3)]
    val ex = mkEx()
    runAll(ex, "CREATE OR REPLACE VIEW vb_dup AS SELECT 1 AS k, 2 AS K, 3 AS k")
    assert(spark.table("vb_dup").columns.toList == List("k", "K_1", "k_2"))
    assert(rows("SELECT * FROM vb_dup") == List("1,2,3"))
  }

  test("a body's quotes and backslashes reach the view unchanged") {
    val ex = mkEx()
    val body = """SELECT 'it''s' AS q, 'a\\b' AS b, "k" FROM (SELECT 1 AS k) s"""
    runAll(ex, s"CREATE OR REPLACE TABLE vb_lit_t AS $body", s"CREATE OR REPLACE VIEW vb_lit_v AS $body")
    assert(rows("SELECT * FROM vb_lit_v") == rows("SELECT * FROM vb_lit_t"))
    // a body that does not analyze fails the CREATE
    intercept[AnalysisException](runAll(ex, "CREATE VIEW vb_bad AS SELECT nope FROM vb_lit_t"))
    assert(!spark.catalog.tableExists("vb_bad"))
  }
}
