package graft.component

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** [[Stmt.parse]]: one row per statement variant, plus the cases where
  * the classification order decides the answer. Pure — no session. */
class StmtSpec extends AnyFunSuite {

  private def is(sql: String)(pf: PartialFunction[Stmt, Boolean]): Unit = {
    val s = Stmt.parse(sql)
    assert(pf.applyOrElse(s, (_: Stmt) => false), s"$sql → $s")
  }

  test("one variant per statement form") {
    is(Dialect.RollbackSentinel) { case Stmt.Rejected(m) => m == Dialect.RollbackMessage }
    is(Dialect.rewrite("ATTACH 'x.db' AS x")) {
      case Stmt.Rejected(m) => m == Dialect.RejectMessages("ATTACH") }
    is("MERGE INTO t USING s WHEN MATCHED THEN DELETE") {
      case Stmt.Malformed(e) => e.getMessage.contains("ON join condition") }
    is("CREATE VIEW v AS SELECT 1") { case Stmt.CreateView("v", "SELECT 1", false) => true }
    is("CREATE OR REPLACE TEMP VIEW IF NOT EXISTS v AS SELECT 1") {
      case Stmt.CreateView("v", "SELECT 1", true) => true }
    is("CREATE TABLE t AS SELECT 1") { case Stmt.CreateTableAs("t", "SELECT 1", false) => true }
    is("CREATE TABLE t (k INT, v VARCHAR)") {
      case Stmt.CreateEmpty("t", "k INT, v VARCHAR", false) => true }
    is("ALTER TABLE t ADD PRIMARY KEY (a, \"b\")") {
      case Stmt.AddPrimaryKey("t", Seq("a", "b")) => true }
    is("ALTER TABLE t ADD COLUMN c INT DEFAULT 1") {
      case Stmt.AddColumn("t", "c INT DEFAULT 1", false) => true }
    is("ALTER TABLE t DROP COLUMN IF EXISTS c") { case Stmt.DropColumn("t", "c", true) => true }
    is("ALTER TABLE t RENAME COLUMN a TO b") { case Stmt.RenameColumn("t", "a", "b") => true }
    is("ALTER TABLE t ALTER COLUMN a SET NOT NULL") {
      case Stmt.AlterColumn("t", "a", "SET NOT NULL") => true }
    is("ALTER VIEW t RENAME TO u") { case Stmt.Rename("t", "u", false) => true }
    is("DROP VIEW IF EXISTS v") { case Stmt.Drop("VIEW", "v", true) => true }
    is("INSERT INTO t VALUES (1, 2) ON CONFLICT (k) DO UPDATE SET v = excluded.v") {
      case Stmt.Upsert(u) => u.target == "t" && u.keyCols.contains(Seq("k")) }
    is("MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE") {
      case Stmt.Merge(m) => m.isMerge && m.target == "t" }
    is("CREATE UNIQUE INDEX ix ON t (k)") {
      case Stmt.CreateIndex(c) => c.unique && c.table == "t" && c.cols == Seq("k") }
    is("DROP INDEX IF EXISTS ix") { case Stmt.DropIndex(d) => d.name == "ix" && d.ifExists }
    is("INSERT INTO t BY NAME SELECT 1 AS k") {
      case Stmt.Insert("t", "BY NAME SELECT 1 AS k") => true }
    is("EXPORT DATABASE 'd' (FORMAT PARQUET)") {
      case Stmt.ExportDatabase(e) => e.dir == "d" && e.format == "PARQUET" }
    is("IMPORT DATABASE 'd'") { case Stmt.ImportDatabase("d") => true }
    is("CREATE SEQUENCE s START 5") { case Stmt.CreateSequence(c) => c.name == "s" }
    is("DROP SEQUENCE IF EXISTS s") { case Stmt.DropSequence(d) => d.name == "s" && d.ifExists }
    is("CREATE TYPE m AS ENUM ('a', 'b')") { case Stmt.CreateType(c) => c.name == "m" }
    is("DROP TYPE m") { case Stmt.DropType("m", false) => true }
    is("SET VARIABLE x = 1 + 2") { case Stmt.SetVariable("x", "1 + 2") => true }
    is("RESET VARIABLE x") { case Stmt.ResetVariable("x") => true }
    is("PREPARE p AS SELECT * FROM t WHERE k = ?") {
      case Stmt.Prepare(p) => p.name == "p" && p.body == "SELECT * FROM t WHERE k = ?" }
    is("DEALLOCATE PREPARE p") { case Stmt.Deallocate("p") => true }
    is("EXECUTE p(1, 'a')") { case Stmt.Execute(e) => e.name == "p" && e.args.map(_.trim) == Seq("1", "'a'") }
    is(Dialect.rewrite("PRAGMA graft_sequence_blocks = 4")) { case Stmt.SequenceBlocks(4) => true }
    is("COPY (SELECT 1) TO 'f.parquet'") {
      case Stmt.CopyToFile(p) => p.source == "(SELECT 1)" && p.format == "PARQUET" }
    is("COPY t FROM 'f.csv' (HEADER)") {
      case Stmt.CopyFromFile(p) => p.target == "t" && p.header }
    is("PIVOT t ON k USING sum(v)") { case Stmt.EngineQuery(_) => true }
    is("SUMMARIZE t") { case Stmt.EngineQuery(_) => true }
    is("SELECT * FROM a POSITIONAL JOIN b") { case Stmt.EngineQuery(_) => true }
    is("SELECT 1") { case Stmt.Catalyst("SELECT 1") => true }
    is("DELETE FROM t WHERE k = 1") {
      case Stmt.Merge(m) => m.verb == "DELETE FROM" && m.source.isEmpty && m.on == "k = 1" }
  }

  test("classification order: the earlier form wins") {
    // ADD PRIMARY KEY is tried before the column forms
    is("ALTER TABLE t ADD PRIMARY KEY (k)") { case Stmt.AddPrimaryKey("t", Seq("k")) => true }
    // a CTAS with a parenthesized query body is never an empty-table DDL
    is("CREATE TABLE t AS (SELECT 1 AS a)") { case Stmt.CreateTableAs("t", "SELECT 1 AS a", _) => true }
    is("CREATE TABLE t (SELECT 1 AS a)") { case Stmt.Rejected(_) => true }
    // a body's own parentheses stay when they do not wrap it whole
    is("CREATE VIEW v AS (SELECT 1) UNION (SELECT 2)") {
      case Stmt.CreateView("v", "(SELECT 1) UNION (SELECT 2)", _) => true }
    // the upsert forms are Upsert, not Insert
    is("INSERT OR REPLACE INTO t VALUES (1)") {
      case Stmt.Upsert(u) => u.action == UpsertSql.Replace }
    is("INSERT OR IGNORE INTO t VALUES (1)") {
      case Stmt.Upsert(u) => u.action == UpsertSql.Ignore }
    is("INSERT INTO t SELECT * FROM s ON CONFLICT DO NOTHING") {
      case Stmt.Upsert(u) => u.action == UpsertSql.Ignore }
    // every UPDATE and DELETE lowers to MERGE: the join forms with their
    // source, the plain forms without one (ON TRUE without a WHERE)
    is("UPDATE t SET v = s.v FROM s WHERE t.k = s.k") {
      case Stmt.Merge(m) => !m.isMerge && m.verb == "UPDATE" && m.source.contains("s") }
    is("DELETE FROM t USING s WHERE t.k = s.k") {
      case Stmt.Merge(m) => !m.isMerge && m.verb == "DELETE FROM" }
    is("UPDATE t SET v = 1 WHERE k = 2") {
      case Stmt.Merge(m) => m.verb == "UPDATE" && m.source.isEmpty && m.on == "k = 2" }
    is("UPDATE `t` AS a SET v = 1") {
      case Stmt.Merge(m) => m.target == "t" && m.targetAlias.contains("a") && m.on == "TRUE" }
    is("DELETE FROM `t` a") {
      case Stmt.Merge(m) => m.target == "t" && m.targetAlias.contains("a") && m.on == "TRUE" }
    // the FROM of IS DISTINCT FROM in the WHERE starts no join source
    is("UPDATE t SET v = 0 WHERE k IS DISTINCT FROM 2") {
      case Stmt.Merge(m) => m.source.isEmpty && m.on == "k IS DISTINCT FROM 2" }
    // the sequence knob is not a Spark SET; any other SET is
    is("SET graft_sequence_blocks = 4") { case Stmt.SequenceBlocks(4) => true }
    is("SET threads = 4") { case Stmt.Catalyst(_) => true }
    // the ROLLBACK sentinel is the rejected variant, whatever it parses as
    is(Dialect.rewrite("ROLLBACK")) { case Stmt.Rejected(_) => true }
    // leading comments and a trailing RETURNING do not change the answer
    is("-- title\nINSERT INTO t VALUES (1) RETURNING *") {
      case Stmt.Insert("t", "VALUES (1)") => true }
  }

  test("CREATE TABLE t (query) without AS is rejected, as DuckDB rejects it") {
    is("CREATE TABLE t (SELECT 1 AS a)") {
      case Stmt.Rejected(m) => m.contains("without AS") && m.contains("near \"SELECT\"") }
    is("CREATE OR REPLACE TABLE t (WITH c AS (SELECT 1) SELECT * FROM c)") {
      case Stmt.Rejected(m) => m.contains("CREATE TABLE t AS WITH") }
    is("CREATE TABLE IF NOT EXISTS t (FROM s)") { case Stmt.Rejected(_) => true }
    // a column list stays a table definition
    is("CREATE TABLE t (selected INT, v VARCHAR)") {
      case Stmt.CreateEmpty("t", "selected INT, v VARCHAR", false) => true }
  }

  test("parse is total: a parser's refusal is Malformed, never a throw") {
    is("UPDATE t SET v = 1 FROM s") {
      case Stmt.Malformed(e) => e.getMessage.contains("WHERE join condition") }
    // an UPDATE or DELETE MergeSql cannot read never falls through to Spark
    is("UPDATE t") { case Stmt.Malformed(e) => e.getMessage.startsWith("UPDATE: expected") }
    is("UPDATE t SET WHERE k = 1") {
      case Stmt.Malformed(e) => e.getMessage.contains("SET needs a col = expr list") }
    is("DELETE t WHERE k = 1") { case Stmt.Malformed(e) => e.getMessage.startsWith("DELETE: expected") }
    is("DELETE FROM t WHERE") {
      case Stmt.Malformed(e) => e.getMessage.contains("WHERE condition is empty") }
    is("DROP TYPE m CASCADE") { case Stmt.Malformed(e) => e.getMessage.contains("CASCADE") }
  }

  test("every UPDATE and DELETE form of tools/statement_forms.sql is a Merge or Malformed") {
    val forms = Dialect.splitStatements(
      Files.readString(Paths.get("tools/statement_forms.sql")))
      .map(_.replaceAll("(?m)^\\s*--.*$", "").trim)
      .filter("(?is)^(UPDATE|DELETE|TRUNCATE)\\b".r.findFirstIn(_).isDefined)
      .flatMap(Dialect.prepare)
    assert(forms.length >= 10, forms)
    forms.foreach(sql => is(sql) { case Stmt.Merge(_) | Stmt.Malformed(_) => true })
  }
}
