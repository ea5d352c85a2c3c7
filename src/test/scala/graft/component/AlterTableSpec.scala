package graft.component

import java.nio.file.Files

import graft.SparkSpec

/** ALTER TABLE column DDL (r16): ADD/DROP/RENAME COLUMN and the ALTER
  * COLUMN family — probed DuckDB v1.0 semantics pinned throughout.
  * Reference surface: keboola/component-duckdb-transformation passes DDL
  * verbatim to DuckDB (`src/query_orchestrator.py:351`). */
class AlterTableSpec extends SparkSpec {

  private def mkEx() = {
    TypeSql.reset()
    DuckFunctions.register(spark)
    new Executor(spark, Files.createTempDirectory("graft_alter_").toString)
  }

  test("ADD COLUMN: default evaluated for existing rows, persists for inserts (probed v1.0)") {
    val ex = mkEx()
    def run(q: String) = ex.runStatement(Dialect.rewrite(q))
    run("CREATE TABLE at_t (id INT, v VARCHAR)")
    run("INSERT INTO at_t VALUES (1,'a'),(2,'b')")
    run("ALTER TABLE at_t ADD COLUMN x INT DEFAULT 5")
    run("ALTER TABLE at_t ADD COLUMN y VARCHAR")
    val rows = spark.table("at_t").collect()
      .map(r => (r.getInt(0), r.getInt(2), r.isNullAt(3))).sortBy(_._1)
    assert(rows.toSeq == Seq((1, 5, true), (2, 5, true)))
    // the default persists for later partial-column inserts
    val r3 = run("INSERT INTO at_t (id, v) VALUES (3,'c') RETURNING id, x")
      .get.collect().head
    assert(r3.getInt(1) == 5)
    // compound default expressions parse whole (the r16 valueEnd fix)
    run("ALTER TABLE at_t ADD COLUMN w INT DEFAULT 2+3")
    assert(run("INSERT INTO at_t (id, v) VALUES (4,'d') RETURNING w")
      .get.collect().head.getInt(0) == 5)
    // duplicate add errors; IF NOT EXISTS is silent (probed messages)
    val dup = intercept[UserException](run("ALTER TABLE at_t ADD COLUMN id INT"))
    assert(dup.getMessage.contains("already exists"))
    run("ALTER TABLE at_t ADD COLUMN IF NOT EXISTS id INT")
    // probed v1.0: constraints on ADD COLUMN are a parser error
    val cons = intercept[UserException](
      run("ALTER TABLE at_t ADD COLUMN z INT NOT NULL"))
    assert(cons.getMessage.contains("constraints not yet supported"))
  }

  test("DROP COLUMN: dependency blocks, IF EXISTS, registry cleanup (probed v1.0)") {
    val ex = mkEx()
    def run(q: String) = ex.runStatement(Dialect.rewrite(q))
    run("CREATE TABLE ad_t (k INT PRIMARY KEY, u INT UNIQUE, a INT, b INT CHECK (b > a), c INT)")
    run("INSERT INTO ad_t VALUES (1, 10, 0, 5, 7)")
    val pk = intercept[UserException](run("ALTER TABLE ad_t DROP COLUMN k"))
    assert(pk.getMessage.contains("UNIQUE constraint that depends"))
    val uq = intercept[UserException](run("ALTER TABLE ad_t DROP COLUMN u"))
    assert(uq.getMessage.contains("UNIQUE constraint that depends"))
    val ck = intercept[UserException](run("ALTER TABLE ad_t DROP COLUMN a"))
    assert(ck.getMessage.contains("CHECK constraint that depends"))
    run("ALTER TABLE ad_t DROP COLUMN c")
    assert(spark.table("ad_t").columns.toSeq == Seq("k", "u", "a", "b"))
    val miss = intercept[UserException](run("ALTER TABLE ad_t DROP COLUMN nosuch"))
    assert(miss.getMessage.contains("does not have a column"))
    run("ALTER TABLE ad_t DROP COLUMN IF EXISTS nosuch") // silent
  }

  test("RENAME COLUMN: registries and CHECK text follow; collisions error (probed v1.0)") {
    val ex = mkEx()
    def run(q: String) = ex.runStatement(Dialect.rewrite(q))
    run("CREATE TABLE ar_t (k INT PRIMARY KEY, a INT DEFAULT 7, b INT CHECK (b > a))")
    run("INSERT INTO ar_t VALUES (1, 0, 5)")
    run("ALTER TABLE ar_t RENAME COLUMN a TO aa")
    assert(spark.table("ar_t").columns.toSeq == Seq("k", "aa", "b"))
    // the DEFAULT followed the rename
    assert(run("INSERT INTO ar_t (k, b) VALUES (2, 9) RETURNING aa")
      .get.collect().head.getInt(0) == 7)
    // the CHECK text followed too: b > aa still enforced
    val viol = intercept[Exception](run("INSERT INTO ar_t VALUES (3, 100, 5)"))
    assert(viol.getMessage.contains("CHECK constraint failed"))
    // PK columns rename in place (probed) — upsert target still works
    run("ALTER TABLE ar_t RENAME COLUMN k TO kk")
    run("INSERT INTO ar_t VALUES (1, 1, 50) ON CONFLICT (kk) DO UPDATE SET aa = excluded.aa")
    assert(spark.table("ar_t").filter("kk = 1").collect().head.getInt(1) == 1)
    val coll = intercept[UserException](run("ALTER TABLE ar_t RENAME COLUMN aa TO b"))
    assert(coll.getMessage.contains("already exists"))
    val miss = intercept[UserException](run("ALTER TABLE ar_t RENAME COLUMN zz TO q"))
    assert(miss.getMessage.contains("does not have a column"))
  }

  test("ALTER COLUMN TYPE: casts, USING over other columns, dependency blocks (probed v1.0)") {
    val ex = mkEx()
    def run(q: String) = ex.runStatement(Dialect.rewrite(q))
    run("CREATE TABLE ac_t (id INT, v VARCHAR, n INT)")
    run("INSERT INTO ac_t VALUES (1,'ab',10),(2,'c',20)")
    run("ALTER TABLE ac_t ALTER COLUMN n SET DATA TYPE VARCHAR")
    assert(spark.table("ac_t").schema("n").dataType.sql == "STRING")
    run("ALTER TABLE ac_t ALTER COLUMN n TYPE INT USING length(v) + id")
    val got = spark.table("ac_t").collect()
      .map(r => (r.getInt(0), r.getInt(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1, 3), (2, 3)))
    // PK / CHECK dependencies block the retype (probed binder errors)
    run("CREATE TABLE ac_p (k INT PRIMARY KEY, a INT, b INT CHECK (b > a))")
    val pk = intercept[UserException](run("ALTER TABLE ac_p ALTER COLUMN k TYPE VARCHAR"))
    assert(pk.getMessage.contains("UNIQUE or PRIMARY KEY constraint"))
    val ck = intercept[UserException](run("ALTER TABLE ac_p ALTER COLUMN a TYPE VARCHAR"))
    assert(ck.getMessage.contains("CHECK constraint"))
    val miss = intercept[UserException](run("ALTER TABLE ac_t ALTER COLUMN zz TYPE INT"))
    assert(miss.getMessage.contains("does not have a column"))
  }

  test("SET/DROP DEFAULT and SET/DROP NOT NULL (probed v1.0)") {
    val ex = mkEx()
    def run(q: String) = ex.runStatement(Dialect.rewrite(q))
    run("CREATE TABLE an_t (id INT, v VARCHAR)")
    run("INSERT INTO an_t VALUES (1,'a')")
    run("ALTER TABLE an_t ALTER COLUMN v SET DEFAULT 'zz'")
    assert(run("INSERT INTO an_t (id) VALUES (9) RETURNING v")
      .get.collect().head.getString(0) == "zz")
    run("ALTER TABLE an_t ALTER COLUMN v DROP DEFAULT")
    assert(run("INSERT INTO an_t (id) VALUES (10) RETURNING v")
      .get.collect().head.isNullAt(0))
    // SET NOT NULL validates existing rows first (probed)
    val nn = intercept[UserException](
      run("ALTER TABLE an_t ALTER COLUMN v SET NOT NULL"))
    assert(nn.getMessage.contains("NOT NULL constraint failed: an_t.v"))
    run("DELETE FROM an_t WHERE v IS NULL")
    run("ALTER TABLE an_t ALTER COLUMN v SET NOT NULL")
    val enforced = intercept[Exception](run("INSERT INTO an_t (id) VALUES (11)"))
    assert(enforced.getMessage.contains("NOT NULL constraint failed"))
    run("ALTER TABLE an_t ALTER COLUMN v DROP NOT NULL")
    run("INSERT INTO an_t (id) VALUES (12)") // accepted again
    assert(spark.table("an_t").filter("id = 12").count() == 1)
    // retype KEEPS default and notnull (probed)
    run("CREATE TABLE an_k (a INT DEFAULT 3 NOT NULL)")
    run("ALTER TABLE an_k ALTER COLUMN a TYPE BIGINT")
    assert(run("INSERT INTO an_k VALUES (DEFAULT) RETURNING a")
      .get.collect().head.getLong(0) == 3L)
    val stillNn = intercept[Exception](run("INSERT INTO an_k VALUES (NULL)"))
    assert(stillNn.getMessage.contains("NOT NULL constraint failed"))
  }

  test("DAG stub: column-DDL ALTER marks the table as dependency AND output") {
    val a = SqlAnalyzer.analyzeStatement(spark,
      "ALTER TABLE mytab ADD COLUMN x INT DEFAULT 1")
    assert(a.outputs.contains("mytab") && a.dependencies.contains("mytab"))
    val b = SqlAnalyzer.analyzeStatement(spark,
      "ALTER TABLE mytab ALTER COLUMN x TYPE INT USING x + 1")
    assert(b.outputs.contains("mytab") && b.dependencies.contains("mytab"))
    // RENAME TO reads the old name and produces the new one
    val c = SqlAnalyzer.analyzeStatement(spark,
      "ALTER TABLE mytab RENAME TO other")
    assert(!c.outputs.contains("mytab") || c.outputs.contains("other") ||
      c.outputs.isEmpty) // unchanged contract, no column-stub involvement
  }
}
