package graft.component

import java.nio.file.Files

import graft.SparkSpec

/** CREATE TYPE / DROP TYPE alias execution ([[TypeSql]]) — probed
  * DuckDB v1.0 rules pinned; ENUM/UNION bases keep the loud reject. */
class TypeSqlSpec extends SparkSpec {

  private def mkEx() = {
    TypeSql.reset()
    DuckFunctions.register(spark)
    new Executor(spark, Files.createTempDirectory("graft_type_").toString)
  }

  // plain SELECTs return no delta from runStatement — read them the way
  // the executor would see them (rewrite, then executor-side substitute)
  private def sel(sql: String) =
    spark.sql(TypeSql.substitute(Dialect.rewrite(sql)))

  test("alias substitutes in ::, CAST and column-definition positions") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TYPE ty_money AS DECIMAL(10,2)")
    run("CREATE TYPE ty_name AS VARCHAR")
    // column definitions (incl. quoted column names) and trailing
    // constraints around the alias token
    run("""CREATE TABLE ty_t (id INT, amt ty_money, "the name" ty_name)""")
    run("INSERT INTO ty_t VALUES (1, 12.345, 'a'), (2, 7, 'b')")
    val sch = spark.table("ty_t").schema
    assert(sch("amt").dataType.sql == "DECIMAL(10,2)")
    assert(sch("the name").dataType.sql == "STRING")
    // CAST slot + :: spelling
    val r = sel("SELECT CAST('3.14159' AS ty_money) AS c, '9'::ty_money AS d")
      .collect().head
    assert(r.getDecimal(0).toPlainString == "3.14")
    assert(r.getDecimal(1).toPlainString == "9.00")
  }

  test("probed v1.0 rules: duplicate errors, nested resolves at creation, case-insensitive, DROP") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TYPE ty_a AS INTEGER")
    val dup = intercept[UserException](run("CREATE TYPE TY_A AS BIGINT"))
    assert(dup.getMessage.contains("already exists"))
    // nested alias resolves at creation: dropping ty_a later keeps ty_b
    run("CREATE TYPE ty_b AS ty_a")
    run("DROP TYPE ty_a")
    val r = sel("SELECT CAST('7' AS ty_b) AS v").collect().head
    assert(r.getInt(0) == 7)
    // dropped name no longer substitutes -> loud Spark failure
    assertThrows[Exception](sel("SELECT CAST(1 AS ty_a)").collect())
    // DROP of a missing name errors, IF EXISTS is silent
    val miss = intercept[UserException](run("DROP TYPE ty_nosuch"))
    assert(miss.getMessage.contains("does not exist"))
    run("DROP TYPE IF EXISTS ty_nosuch")
    // case-insensitive use
    val c = sel("SELECT 1::TY_B AS v").collect().head
    assert(c.getInt(0) == 1)
  }

  test("1.4-era modifiers: OR REPLACE replaces, IF NOT EXISTS skips (spec-pinned)") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TYPE ty_m AS INTEGER")
    run("CREATE OR REPLACE TYPE ty_m AS VARCHAR")
    assert(sel("SELECT CAST(5 AS ty_m) AS v").schema.head.dataType.sql == "STRING")
    run("CREATE TYPE IF NOT EXISTS ty_m AS DATE")
    assert(sel("SELECT CAST(5 AS ty_m) AS v").schema.head.dataType.sql == "STRING")
  }

  test("ENUM executes since r16; UNION keeps the loud reject; alias forms pass") {
    assert(Dialect.rejectedKind(
      Dialect.rewrite("CREATE TYPE mood AS ENUM ('sad','ok','happy')")).isEmpty)
    assert(Dialect.rewrite("CREATE TYPE u1 AS UNION(i INTEGER, s VARCHAR)") ==
      Dialect.rejectSentinel("CREATE_TYPE"))
    val passed = Dialect.rewrite("CREATE TYPE ok1 AS DECIMAL(4,1)")
    assert(Dialect.rejectedKind(passed).isEmpty)
  }

  private def firstMessage(t: Throwable): String = {
    var c: Throwable = t
    val sb = new StringBuilder
    while (c != null) { sb.append(c.getMessage).append(" | "); c = c.getCause }
    sb.toString
  }

  test("ENUM matrix: definition-order ORDER BY / min / max; lexical vs VARCHAR (probed v1.0)") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TYPE mood AS ENUM ('sad','ok','happy')")
    run("CREATE TABLE em_t (id INT, m mood)")
    run("INSERT INTO em_t VALUES (1,'ok'),(2,'happy'),(3,'sad'),(4,NULL)")
    // ORDER BY the enum: DEFINITION order sad < ok < happy (probed —
    // lexical would give happy < ok < sad)
    val ord = sel("SELECT id FROM em_t WHERE m IS NOT NULL ORDER BY m")
      .collect().map(_.getInt(0)).toSeq
    assert(ord == Seq(3, 1, 2))
    val desc = sel(
      "SELECT CAST(m AS VARCHAR) AS l FROM em_t WHERE m IS NOT NULL ORDER BY m DESC")
      .collect().map(_.getString(0)).toSeq
    assert(desc == Seq("happy", "ok", "sad"))
    // min/max pick by index (probed: sad / happy — lexical: happy / sad)
    val mm = sel(
      "SELECT CAST(min(m) AS VARCHAR) AS mn, CAST(max(m) AS VARCHAR) AS mx FROM em_t")
      .collect().head
    assert(mm.getString(0) == "sad" && mm.getString(1) == "happy")
    // enum vs VARCHAR literal: LEXICAL comparison (probed v1.0 — the
    // enum decays to its label; 'ok' < 'happy' is FALSE)
    val lex = sel("SELECT id, m < 'happy' AS lt, m = 'ok' AS eq FROM em_t ORDER BY id")
      .collect().map(r => (r.getInt(0),
        if (r.isNullAt(1)) null else r.getBoolean(1),
        if (r.isNullAt(2)) null else r.getBoolean(2))).toSeq
    assert(lex == Seq((1, false, true), (2, false, false),
      (3, false, false), (4, null, null)))
    // same-enum column comparison: by INDEX (probed: sad<ok, happy>ok)
    run("CREATE TABLE em_2 (id INT, a mood, b mood)")
    run("INSERT INTO em_2 VALUES (1,'sad','ok'),(2,'happy','ok')")
    val cc = sel("SELECT a < b AS x FROM em_2 ORDER BY id")
      .collect().map(_.getBoolean(0)).toSeq
    assert(cc == Seq(true, false))
    // IN list, string functions auto-cast to the label (probed)
    assert(sel("SELECT id FROM em_t WHERE m IN ('sad','ok') ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    val fx = sel("SELECT length(m) AS l, m || '!' AS c FROM em_t WHERE id = 1")
      .collect().head
    // length types BIGINT since the r17 sweep binding (DuckDB's typing)
    assert(fx.getLong(0) == 2L && fx.getString(1) == "ok!")
    // GROUP BY the enum with rendered labels
    val gb = sel(
      "SELECT CAST(m AS VARCHAR) AS l, count(*) AS n FROM em_t GROUP BY m")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gb == Set((null, 1L), ("happy", 1L), ("ok", 1L), ("sad", 1L)))
    // window aggregate keeps index semantics (min over all rows = 'sad'
    // by definition index; lexical would pick 'happy')
    val w = sel("SELECT CAST(min(m) OVER () AS VARCHAR) AS mn FROM em_t")
      .collect().head
    assert(w.getString(0) == "sad")
  }

  test("ENUM casts: validation errors, TRY_CAST NULL, cross-enum, ::INT (probed v1.0)") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TYPE mood AS ENUM ('sad','ok','happy')")
    run("CREATE TYPE mood2 AS ENUM ('a','sad')")
    // out-of-domain label raises the conversion error
    val bad = intercept[Throwable](sel("SELECT 'nope'::mood AS v").collect())
    assert(firstMessage(bad).contains("Conversion Error"))
    // TRY_CAST yields NULL instead
    val tc = sel("SELECT TRY_CAST('nope' AS mood) AS v").collect().head
    assert(tc.isNullAt(0))
    // cross-enum cast re-validates via the label (probed: 'sad' lands)
    val cx = sel("SELECT CAST(('sad'::mood2) AS mood) < 'ok'::mood AS lt")
      .collect().head
    assert(cx.getBoolean(0)) // sad(0) < ok(1) by mood's definition index
    // cross-enum cast of a label missing in the target errors
    val miss = intercept[Throwable](
      sel("SELECT ('a'::mood2)::mood AS v").collect())
    assert(firstMessage(miss).contains("Conversion Error"))
    // enum::INT goes through the label (probed: conversion error)
    val ti = intercept[Throwable](sel("SELECT ('ok'::mood)::INT AS v").collect())
    assert(firstMessage(ti).toLowerCase.contains("cast") ||
      firstMessage(ti).contains("Conversion"))
    // INSERT of an invalid label errors at the write
    run("CREATE TABLE em_v (m mood)")
    val bi = intercept[Throwable](run("INSERT INTO em_v VALUES ('zzz')"))
    assert(firstMessage(bi).contains("Conversion Error"))
  }

  test("ENUM equality vs string literals lowers to the index field and PUSHES to parquet") {
    TypeSql.reset()
    DuckFunctions.register(spark)
    val wh = Files.createTempDirectory("graft_type_")
    val ex = new Executor(spark, wh.toString)
    def run(q: String) = ex.runStatement(Dialect.rewrite(q))
    run("CREATE TYPE pdmood AS ENUM ('sad','ok','happy')")
    run("CREATE TABLE pd_t (id BIGINT, m pdmood)")
    run("INSERT INTO pd_t SELECT id, (CASE WHEN id % 3 = 0 THEN 'sad' " +
      "WHEN id % 3 = 1 THEN 'ok' ELSE 'happy' END)::pdmood FROM range(300) t(id)")
    // read the table the way the next run's passthrough does: from its
    // warehouse parquet
    ex.persist()(scala.concurrent.ExecutionContext.global)
    spark.read.parquet(wh.resolve("pd_t").toString).createOrReplaceTempView("pd_t")
    // equality and IN lower to the SMALLINT index field — a nested-field
    // predicate the parquet scan pushes down (element_at decode cannot)
    val df = sel("SELECT count(*) AS n FROM pd_t WHERE m = 'ok'")
    assert(df.collect().head.getLong(0) == 100L)
    val scanText = df.queryExecution.executedPlan.toString
    assert(scanText.contains("PushedFilters: [IsNotNull(m"),
      s"expected a pushed enum-index filter in:\n$scanText")
    val in = sel("SELECT count(*) AS n FROM pd_t WHERE m IN ('sad','happy')")
    assert(in.collect().head.getLong(0) == 200L)
    // out-of-domain equality is FALSE (never an error — the label form's
    // behavior, probed), null-safe
    assert(sel("SELECT count(*) AS n FROM pd_t WHERE m = 'nope'")
      .collect().head.getLong(0) == 0L)
    // ordering comparisons stay LEXICAL via decode (only equality maps
    // to the index — the probed enum-vs-varchar rule)
    assert(sel("SELECT count(*) AS n FROM pd_t WHERE m > 'ok'")
      .collect().head.getLong(0) == 100L) // only 'sad' > 'ok' lexically
  }

  test("ENUM DDL edges: duplicate labels, drop-in-use, alias-over-enum (probed v1.0)") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    // duplicate labels error (probed message shape)
    val dup = intercept[UserException](
      run("CREATE TYPE em_dup AS ENUM ('a','b','a')"))
    assert(dup.getMessage.contains("duplicate value a"))
    // alias over an enum works and blocks the enum's drop (probed)
    run("CREATE TYPE em_base AS ENUM ('x','y')")
    run("CREATE TYPE em_alias AS em_base")
    val dra = intercept[UserException](run("DROP TYPE em_base"))
    assert(dra.getMessage.contains("depend") &&
      dra.getMessage.contains("em_alias"))
    run("DROP TYPE em_alias")
    // a table using the enum blocks the drop too (probed)
    run("CREATE TABLE em_dep (m em_base)")
    val drt = intercept[UserException](run("DROP TYPE em_base"))
    assert(drt.getMessage.contains("depend") && drt.getMessage.contains("em_dep"))
    run("DROP TABLE em_dep")
    run("DROP TYPE em_base")
    // CASCADE keeps a loud reject (we do not cascade-drop)
    run("CREATE TYPE em_c AS ENUM ('q')")
    val cas = intercept[UserException](run("DROP TYPE em_c CASCADE"))
    assert(cas.getMessage.contains("CASCADE"))
    run("DROP TYPE em_c")
  }

  test("ENUM types ride EXPORT/IMPORT DATABASE and the warehouse .types.sql passthrough") {
    TypeSql.reset()
    DuckFunctions.register(spark)
    val wh1 = Files.createTempDirectory("graft_etyp1_").toString
    val ex = new Executor(spark, wh1)
    def run(q: String) = ex.runStatement(Dialect.rewrite(q))
    run("CREATE TYPE exmood AS ENUM ('sad','ok','happy')")
    run("CREATE TYPE exmood_a AS exmood") // alias-over-enum round-trips too
    run("CREATE TABLE ep_t (id INT, m exmood)")
    run("INSERT INTO ep_t VALUES (1,'happy'),(2,'sad')")
    val dump = Files.createTempDirectory("graft_etyp_dump_").toString
    run(s"EXPORT DATABASE '$dump'")
    val schemaSql = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dump, "schema.sql"))
    assert(schemaSql.contains("CREATE TYPE exmood AS ENUM ('sad', 'ok', 'happy');"))
    assert(schemaSql.contains("CREATE TYPE exmood_a AS exmood;"))
    assert(schemaSql.contains("exmood")) // column exports under the NAME
    // IMPORT into a FRESH run (types reset per run, the Component rule)
    TypeSql.reset()
    val ex2 = new Executor(spark,
      Files.createTempDirectory("graft_etyp2_").toString)
    ex2.runStatement(Dialect.rewrite(s"IMPORT DATABASE '$dump'"))
    val r = sel("SELECT CAST(min(m) AS VARCHAR) AS mn FROM ep_t")
      .collect().head
    assert(r.getString(0) == "sad") // definition-index min survived replay
    // warehouse passthrough: a new executor over the ORIGINAL warehouse
    // re-attaches the catalog from .types.sql after a process-level reset
    ex.persist()(scala.concurrent.ExecutionContext.global)
    TypeSql.reset()
    new Executor(spark, wh1)
    assert(TypeSql.enumValues("exmood")
      .contains(IndexedSeq("sad", "ok", "happy")))
    val lbl = spark.read.parquet(s"$wh1/ep_t")
      .select(org.apache.spark.sql.functions.col("m").cast("string"))
      .collect().map(_.getString(0)).toSet
    assert(lbl == Set("happy", "sad"))
    TypeSql.reset()
  }

  test("DAG ordering: a later block's cast depends on the CREATE TYPE statement") {
    // typeDeps makes the cast statement wait for the type's node even
    // though the cast itself is a Spark parse error pre-substitution
    val a = SqlAnalyzer.analyzeStatement(spark,
      "CREATE TABLE out1 AS SELECT CAST(x AS ty_dag) AS v FROM src1")
    assert(a.dependencies.contains("ty_dag"))
    val c = SqlAnalyzer.analyzeStatement(spark, "CREATE TYPE ty_dag AS INTEGER")
    assert(c.outputs.contains("ty_dag"))
    // builtin type names never become dependencies
    val b = SqlAnalyzer.analyzeStatement(spark,
      "CREATE TABLE out2 AS SELECT x::BIGINT AS v, CAST(y AS STRING) AS w FROM src2")
    assert(!b.dependencies.exists(d => d.contains("bigint") || d.contains("string")))
    assert(b.dependencies == Set("src2"))
  }

  test("substitution never touches literals or lookalike identifiers") {
    TypeSql.reset()
    TypeSql.create(TypeSql.Create("ty_lit", "INTEGER", orReplace = false,
      ifNotExists = false))
    val s = TypeSql.substitute(
      "SELECT 'CAST(1 AS ty_lit)' AS a, ty_lit AS b, f(ty_lit) AS c FROM t")
    // the literal, a column reference and a function argument all keep
    // the name — only type positions substitute
    assert(s.contains("'CAST(1 AS ty_lit)'") && s.contains("ty_lit AS b") &&
      s.contains("f(ty_lit)"))
    assert(TypeSql.substitute("SELECT x::ty_lit FROM t") ==
      "SELECT x::INTEGER FROM t")
    TypeSql.reset()
  }
}
