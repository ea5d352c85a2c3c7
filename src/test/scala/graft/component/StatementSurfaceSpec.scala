package graft.component

import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The remaining DuckDB statement surface a migrating user's scripts
  * carry: `COPY ... TO` ([[CopyTo]]), `CREATE MACRO` ([[Macros]]) and
  * `PRAGMA`/`SET ... TO` engine-tuning statements — legal in the
  * reference because SQL goes to DuckDB verbatim. */
class StatementSurfaceSpec extends SparkSpec {

  import spark.implicits._

  // ── COPY ... TO ────────────────────────────────────────────────────

  test("CopyTo.parse: table and query sources, options, format inference") {
    val p = CopyTo.parse("COPY mytab TO '/tmp/out.csv' (HEADER, DELIMITER '|')").get
    assert(p.source == "mytab" && p.format == "CSV" && p.header &&
      p.delimiter == "|")
    val q = CopyTo.parse("COPY (SELECT a FROM t WHERE x > 1) TO '/tmp/o.parquet'").get
    assert(q.source.startsWith("(") && q.format == "PARQUET")
    assert(CopyTo.parse("COPY t TO '/tmp/x' (FORMAT PARQUET)").get.format == "PARQUET")
    assert(CopyTo.parse("COPY t TO '/tmp/x.json'").get.format == "JSON")
    assert(CopyTo.parse("COPY 'out.csv' TO '/tmp/y.csv'").get.source == "out.csv")
    // Postgres-compat WITH (...) spelling
    val w = CopyTo.parse("COPY t TO '/tmp/x.csv' WITH (HEADER, DELIMITER ';')").get
    assert(w.header && w.delimiter == ";")
    assert(CopyTo.parse("SELECT 1").isEmpty)
    // dependency stub: the source is the only dependency
    val a = SqlAnalyzer.analyzeStatement(spark,
      "COPY (SELECT * FROM orders o JOIN nation n ON o.k = n.k) TO '/tmp/z.csv'")
    assert(a.dependencies == Set("orders", "nation"))
  }

  test("USING SAMPLE: rows and percent forms, seeds, WHERE-after-sample") {
    def run(sql: String) = spark.sql(Dialect.rewrite(sql))
    // bare number = rows (DuckDB): exactly n random rows
    assert(run("SELECT count(*) AS n FROM range(1000) USING SAMPLE 10")
      .collect().head.getLong(0) == 10)
    assert(run("SELECT count(*) AS n FROM range(1000) USING SAMPLE 5 ROWS")
      .collect().head.getLong(0) == 5)
    // reservoir(n ROWS) + REPEATABLE: deterministic within the engine
    val q = "SELECT generate_series AS x FROM generate_series(1, 1000) " +
      "USING SAMPLE reservoir(7 ROWS) REPEATABLE (42)"
    val a = run(q).collect().map(_.getLong(0)).sorted.toList
    val b = run(q).collect().map(_.getLong(0)).sorted.toList
    assert(a == b && a.length == 7)
    // percent: a keep-probability filter — bounded, seeded-deterministic
    val p = "SELECT count(*) AS n FROM range(10000) USING SAMPLE 10% (bernoulli, 7)"
    val n1 = run(p).collect().head.getLong(0)
    val n2 = run(p).collect().head.getLong(0)
    assert(n1 == n2 && n1 > 500 && n1 < 1500)
    // the sample applies BEFORE the WHERE (probed DuckDB order): a
    // filter over a 5-row sample keeps at most 5 rows
    val w = run("SELECT count(*) AS n FROM range(100) USING SAMPLE 5 ROWS")
      .collect().head.getLong(0)
    assert(w == 5)
    // sampled JOIN segment wraps whole relation list
    spark.range(10).toDF("id").createOrReplaceTempView("us_a")
    val j = run("SELECT count(*) AS n FROM us_a a JOIN us_a b ON a.id = b.id " +
      "USING SAMPLE 4 ROWS").collect().head.getLong(0)
    assert(j == 4)
    // a join USING (cols) clause never triggers the sample rewrite
    assert(Dialect.rewrite("SELECT * FROM a JOIN b USING (k)")
      .contains("USING (k)"))
  }

  test("COPY TO PARTITION_BY writes a hive col=value directory tree") {
    val dir = Files.createTempDirectory("graft_copy_part_")
    Seq((1L, "us", 10.0), (2L, "de", 20.0), (3L, "us", 30.0))
      .toDF("id", "cc", "v").createOrReplaceTempView("cp_part")
    val ex = new Executor(spark, dir.resolve("wh").toString)
    val p = CopyTo.parse(
      "COPY cp_part TO '/x' (FORMAT PARQUET, PARTITION_BY (cc))").get
    assert(p.partitionBy == Seq("cc"))
    // the list value must not break neighboring options (depth-0 split)
    val p2 = CopyTo.parse(
      "COPY t TO '/x' (PARTITION_BY (a, b), HEADER false, DELIMITER ';')").get
    assert(p2.partitionBy == Seq("a", "b") && !p2.header && p2.delimiter == ";")
    val out = dir.resolve("tree")
    ex.runStatement(
      s"COPY cp_part TO '$out' (FORMAT PARQUET, PARTITION_BY (cc))")
    assert(Files.isDirectory(out.resolve("cc=us")) &&
      Files.isDirectory(out.resolve("cc=de")))
    // readable back with partition pruning intact
    val back = spark.read.parquet(out.toString)
    assert(back.count() == 3)
    assert(back.filter(col("cc") === "us").count() == 2)
    // partitioned CSV keeps per-file headers
    val outCsv = dir.resolve("treecsv")
    ex.runStatement(
      s"COPY cp_part TO '$outCsv' (FORMAT CSV, HEADER, PARTITION_BY (cc))")
    val deFile = {
      import scala.jdk.CollectionConverters._
      Files.list(outCsv.resolve("cc=de")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".csv")).get
    }
    assert(Files.readString(deFile).linesIterator.next() == "id,v")
  }

  test("CREATE TABLE t (query) without AS fails loudly and leaves no catalog table") {
    val ex = new Executor(spark, Files.createTempDirectory("graft_ct_paren_").toString)
    val e = intercept[UserException] {
      Dialect.prepare("CREATE TABLE ct_paren (SELECT 1 AS a)").foreach(ex.runStatement)
    }
    assert(e.getMessage.contains("without AS"), e.getMessage)
    assert(!spark.catalog.tableExists("ct_paren"))
  }

  test("COPY FROM appends a file into an existing table (positional)") {
    val dir = Files.createTempDirectory("graft_copy_from_")
    val ex = new Executor(spark, dir.resolve("wh").toString)
    ex.runStatement("CREATE TABLE cf_t AS SELECT 1 AS a, 'x' AS b FROM range(1)")
    // no HEADER option: first line is DATA (DuckDB's COPY FROM default)
    Files.writeString(dir.resolve("rows.csv"), "2,y\n3,z\n")
    Dialect.prepare(s"COPY cf_t FROM '${dir.resolve("rows.csv")}'")
      .foreach(ex.runStatement)
    assert(spark.table("cf_t").collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toList ==
      List((1, "x"), (2, "y"), (3, "z")))
    // HEADER skips the first line; its names are IGNORED (positional,
    // probed DuckDB behavior — a swapped header does not reorder)
    Files.writeString(dir.resolve("hdr.csv"), "b,a\n4,w\n")
    Dialect.prepare(s"COPY cf_t FROM '${dir.resolve("hdr.csv")}' (HEADER)")
      .foreach(ex.runStatement)
    assert(spark.table("cf_t").filter(col("a") === 4).collect()
      .map(_.getString(1)).toList == List("w"))
    // parquet: positional, arity-checked
    spark.sql("SELECT 9 AS p, 'q' AS q").write.mode("overwrite")
      .parquet(dir.resolve("add.parquet").toString)
    Dialect.prepare(s"COPY cf_t FROM '${dir.resolve("add.parquet")}'")
      .foreach(ex.runStatement)
    assert(spark.table("cf_t").count() == 5)
    // missing target table is a loud error
    val e = intercept[UserException](
      ex.runStatement("COPY cf_missing FROM '/tmp/nope.csv'"))
    assert(e.getMessage.contains("does not exist"))
    // static analysis: target is both dependency and output (INSERT shape)
    val an = SqlAnalyzer.analyzeStatement(spark, "COPY cf_t FROM '/tmp/x.csv'")
    assert(an.outputs == Set("cf_t"))
  }

  test("COPY TO writes single CSV/Parquet/JSON files from user SQL") {
    val dir = Files.createTempDirectory("graft_copy_spec_")
    Seq((1L, "a"), (2L, "b|c")).toDF("id", "s").createOrReplaceTempView("cp_src")
    val ex = new Executor(spark, dir.resolve("wh").toString)
    // CSV with delimiter; pipe inside a value gets quoted
    ex.runStatement(s"COPY cp_src TO '${dir.resolve("o.csv")}' (HEADER, DELIMITER '|')")
    val csv = Files.readString(dir.resolve("o.csv")).linesIterator.toList
    assert(csv.head == "id|s")
    assert(csv.contains("1|a") && csv.contains("2|\"b|c\""))
    // headerless
    ex.runStatement(s"COPY cp_src TO '${dir.resolve("nh.csv")}' (HEADER false)")
    assert(!Files.readString(dir.resolve("nh.csv")).startsWith("id"))
    // parquet from a query source
    ex.runStatement(s"COPY (SELECT id * 2 AS d FROM cp_src) TO '${dir.resolve("o.parquet")}'")
    val back = spark.read.parquet(dir.resolve("o.parquet").toString)
      .collect().map(_.getLong(0)).sorted
    assert(back.sameElements(Array(2L, 4L)))
    // json lines
    ex.runStatement(s"COPY cp_src TO '${dir.resolve("o.json")}'")
    assert(Files.readString(dir.resolve("o.json")).contains("\"id\":1"))
    // empty result still yields a file (header-only for CSV)
    ex.runStatement(s"COPY (SELECT * FROM cp_src WHERE id < 0) TO '${dir.resolve("e.csv")}'")
    assert(Files.readString(dir.resolve("e.csv")) == "id,s\n")
    // embedded quote doubles RFC4180-style ("" not \"), DuckDB's output
    ex.runStatement("CREATE TABLE cp_q AS SELECT 'say \"hi\"' AS s FROM range(1)")
    ex.runStatement(s"COPY cp_q TO '${dir.resolve("q.csv")}' (HEADER)")
    val qcsv = Files.readString(dir.resolve("q.csv")).linesIterator.toList
    assert(qcsv == List("s", "\"say \"\"hi\"\"\""), qcsv)
    // NULL 'str' option: the written NULL sentinel (round-trips with
    // COPY FROM's matching option)
    ex.runStatement(
      "CREATE TABLE cp_n AS SELECT 1 AS k, CAST(NULL AS STRING) AS v " +
        "UNION ALL SELECT 2, ''")
    ex.runStatement(s"COPY cp_n TO '${dir.resolve("n.csv")}' (HEADER, NULL 'NUL')")
    val ncsv = Files.readString(dir.resolve("n.csv")).linesIterator.toList
    assert(ncsv.contains("1,NUL") && ncsv.exists(_.startsWith("2,")), ncsv)
    ex.runStatement("CREATE TABLE cp_n2 (k INT, v VARCHAR)")
    ex.runStatement(s"COPY cp_n2 FROM '${dir.resolve("n.csv")}' " +
      "(FORMAT 'csv', HEADER true, NULL 'NUL')")
    val n2 = spark.table("cp_n2").orderBy("k").collect()
      .map(r => if (r.isNullAt(1)) null else r.getString(1))
    assert(n2.sameElements(Array(null, "")), n2.toSeq)
  }

  // ── CREATE MACRO ───────────────────────────────────────────────────

  test("CREATE MACRO registers; later statements expand textually") {
    Macros.clear()
    val reg = Dialect.rewrite("CREATE MACRO add_tax(p, rate) AS p * (1 + rate)")
    assert(reg.contains("__graft_macro_registered"))
    val used = Dialect.rewrite("SELECT add_tax(price, 0.2) AS total FROM t")
    assert(used.contains("((price) * (1 + (0.2)))"), used)
    // macros calling macros expand to fixpoint
    Dialect.rewrite("CREATE MACRO twice_taxed(p) AS add_tax(add_tax(p, 0.1), 0.1)")
    val nested = Dialect.rewrite("SELECT twice_taxed(x) FROM t")
    assert(!nested.toLowerCase.contains("twice_taxed(") &&
      !nested.toLowerCase.contains("add_tax("), nested)
    // a macro name inside a string literal is untouched
    val lit = Dialect.rewrite("SELECT 'call add_tax(1, 2) later' AS hint FROM t")
    assert(lit.contains("'call add_tax(1, 2) later'"), lit)
    // arity mismatch raises the DuckDB-shaped binder error (r15 — was a
    // leave-alone; the probed engine errors, so the loud message wins)
    val wrong = intercept[UserException](
      Dialect.rewrite("SELECT add_tax(1) FROM t"))
    assert(wrong.getMessage.contains("positional argument"))
    // default parameters (probed v1.0): named `k := v` binds only to
    // defaults; positionals cover exactly the non-default params
    Dialect.rewrite("CREATE MACRO with_def(x, y := 5) AS x + y")
    assert(Dialect.rewrite("SELECT with_def(1) AS a")
      .contains("((1) + (5))"))
    assert(Dialect.rewrite("SELECT with_def(1, y := 9) AS a")
      .contains("((1) + (9))"))
    val unk = intercept[UserException](
      Dialect.rewrite("SELECT with_def(1, z := 9)"))
    assert(unk.getMessage.contains("does not have default parameter z"))
    val posOver = intercept[UserException](
      Dialect.rewrite("SELECT with_def(1, 9)"))
    assert(posOver.getMessage.contains("positional argument"))
    // CREATE FUNCTION is the probed full alias; DROP MACRO deregisters
    Dialect.rewrite("CREATE FUNCTION fn_alias(x) AS x * 3")
    assert(Dialect.rewrite("SELECT fn_alias(2) AS a").contains("((2) * 3)"))
    Dialect.rewrite("DROP FUNCTION fn_alias")
    assert(Dialect.rewrite("SELECT fn_alias(2) AS a").contains("fn_alias(2)"))
    val dm = intercept[UserException](Dialect.rewrite("DROP MACRO fn_alias"))
    assert(dm.getMessage.contains("does not exist"))
    Dialect.rewrite("DROP MACRO IF EXISTS fn_alias") // silent
    // many independent calls are NOT mistaken for recursion
    val many = (1 to 40).map(i => s"add_tax($i, 0.1)").mkString("SELECT ", ", ", "")
    assert(!Dialect.rewrite(many).toLowerCase.contains("add_tax("))
    // a paren-carrying default no longer fails the whole head regex
    // (r16 ADVICE): the parameter list scans with matchingParen and the
    // non-constant default draws the probed v1.0 reject
    // (`Parser Error: Invalid parameter: '(1 + 2)'` — even `1+2` is out)
    val ncd = intercept[UserException](
      Dialect.rewrite("CREATE MACRO bad_def(x, y := f(1)) AS x + y"))
    assert(ncd.getMessage.contains("Invalid parameter"))
    val ncd2 = intercept[UserException](
      Dialect.rewrite("CREATE MACRO bad_def2(x, y := 1+2) AS x + y"))
    assert(ncd2.getMessage.contains("Invalid parameter"))
    // constant forms all register (probed v1.0 OK set)
    Dialect.rewrite("CREATE MACRO ok_def(x, y := -5, s := 'a', n := NULL) AS x")
    assert(Dialect.rewrite("SELECT ok_def(1) AS a").contains("(1)"))
    // a missing AS body is a clear message, not an opaque parse error
    val noAs = intercept[UserException](
      Dialect.rewrite("CREATE MACRO no_body(x) RETURNS INT"))
    assert(noAs.getMessage.contains("expected `AS"))
    Macros.clear()
  }

  test("COPY/PRAGMA statements survive the full Dialect.prepare pipeline") {
    val stmts = Dialect.prepare(
      "PRAGMA threads=4; COPY \"MyTab\" TO '/tmp/x.csv' (HEADER, DELIMITER '|');")
    assert(stmts.head == "SET threads = 4")
    val p = CopyTo.parse(stmts(1)).get
    assert(p.source == "MyTab" && p.delimiter == "|" && p.header)
  }

  test("macros execute end-to-end on the session") {
    Macros.clear()
    Seq((100.0, 1L), (200.0, 2L)).toDF("price", "id")
      .createOrReplaceTempView("m_src")
    val stmts = Dialect.prepare(
      "CREATE MACRO with_vat(p) AS p * 1.25; " +
        "CREATE OR REPLACE VIEW priced AS SELECT id, with_vat(price) AS gross FROM m_src;")
    val dir = Files.createTempDirectory("graft_macro_spec_")
    val ex = new Executor(spark, dir.toString)
    stmts.foreach(ex.runStatement)
    val got = spark.table("priced").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 125.0, 2L -> 250.0))
    // recursive macro fails loudly, never loops
    Dialect.rewrite("CREATE MACRO looper(x) AS looper(x)")
    intercept[UserException](Dialect.rewrite("SELECT looper(1)"))
    Macros.clear()
  }

  test("TABLE macros expand to derived tables in FROM") {
    Macros.clear()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "g")
      .createOrReplaceTempView("tm_src")
    val dir = Files.createTempDirectory("graft_tm_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement(Dialect.rewrite(
      "CREATE MACRO topn(k) AS TABLE SELECT id, g FROM tm_src ORDER BY id LIMIT k"))
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE tm_out AS SELECT g FROM topn(2) ORDER BY g"))
    assert(spark.table("tm_out").collect().map(_.getString(0)).toList ==
      List("a", "b"))
    // joins against a table-macro call; dependency analysis sees through
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE tm_j AS SELECT s.id FROM tm_src s JOIN topn(1) t ON s.id = t.id"))
    assert(spark.table("tm_j").collect().map(_.getLong(0)).toList == List(1L))
    val a = SqlAnalyzer.analyzeStatement(spark,
      Dialect.rewrite("SELECT * FROM topn(2)"))
    assert(a.dependencies == Set("tm_src"), a.dependencies)
    Macros.clear()
  }

  // ── FROM-first syntax + INSERT BY NAME ─────────────────────────────

  test("FROM-first: bare FROM and FROM..SELECT reorder; bodies handled") {
    assert(Dialect.fromFirst("FROM t") == "SELECT * FROM t")
    assert(Dialect.fromFirst("FROM t WHERE x > 1") == "SELECT * FROM t WHERE x > 1")
    assert(Dialect.fromFirst("FROM t SELECT a, b WHERE a > 1") ==
      "SELECT a, b FROM t WHERE a > 1")
    // not FROM-first: untouched
    assert(Dialect.fromFirst("SELECT * FROM t") == "SELECT * FROM t")
    // end-to-end through the executor: CREATE ... AS FROM <view>
    Seq((1L, "a"), (2L, "b")).toDF("id", "g").createOrReplaceTempView("ff_src")
    val dir = Files.createTempDirectory("graft_ff_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement("CREATE TABLE ff_out AS FROM ff_src")
    assert(spark.table("ff_out").count() == 2)
    // bare FROM statement through prepare (the interactive idiom)
    Dialect.prepare("FROM ff_src").foreach(ex.runStatement) // must not throw
    // analysis sees the same deps
    val a = SqlAnalyzer.analyzeStatement(spark, "CREATE TABLE x AS FROM orders")
    assert(a.dependencies == Set("orders") && a.outputs == Set("x"))
  }

  test("INSERT INTO ... BY NAME aligns by source column names") {
    Seq((1L, "a")).toDF("id", "g").createOrReplaceTempView("ibn_src")
    val dir = Files.createTempDirectory("graft_ibn_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement(
      "CREATE TABLE ibn_t AS SELECT id, g, CAST(0.0 AS DOUBLE) AS w FROM ibn_src")
    // source emits (g, id) in SWAPPED order and omits w — BY NAME must
    // align by name and NULL-fill w (positional INSERT would misalign)
    ex.runStatement(
      "INSERT INTO ibn_t BY NAME SELECT 'z' AS g, 9 AS id")
    val got = spark.table("ibn_t").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toList.sortBy(_._1)
    assert(got == List((1L, "a", Some(0.0)), (9L, "z", None)), got)
    // a source column absent from the target ERRORS (DuckDB behavior);
    // silently dropping it would lose a typoed column's data
    val err = intercept[UserException] {
      ex.runStatement("INSERT INTO ibn_t BY NAME SELECT 9 AS id, 'x' AS typo_col")
    }
    assert(err.getMessage.contains("typo_col"), err.getMessage)
    // classification/deps still see an INSERT with its target
    val a = SqlAnalyzer.analyzeStatement(spark,
      "INSERT INTO ibn_t BY NAME SELECT * FROM orders")
    assert(a.statementType == SqlAnalyzer.InsertStmt)
    assert(a.outputs == Set("ibn_t") && a.dependencies == Set("orders"))
  }

  test("INSERT column lists: quoted parens, comments and DEFAULT") {
    val dir = Files.createTempDirectory("graft_icl_")
    val ex = new Executor(spark, dir.toString)
    def run(sql: String): Unit = Dialect.prepare(sql).foreach(ex.runStatement)
    def rows(t: String) = spark.table(t).collect()
      .map(r => (0 until r.length).map(r.get).toList).toList
    // a ')' inside a quoted column name does not close the list
    run("CREATE TABLE icl_t AS SELECT 0 AS \"a)b\", 0 AS c WHERE false")
    run("INSERT INTO icl_t (\"a)b\", c) VALUES (1, 2)")
    assert(rows("icl_t") == List(List(1, 2)))
    // nor does one inside a comment, and the comment is no column name
    run("CREATE TABLE icl_u AS SELECT 0 AS a, 0 AS c WHERE false")
    run("INSERT INTO icl_u (a /* ) */, c) VALUES (1, 2)")
    run("INSERT INTO icl_u (c /* , */, a) VALUES (3, 4)")
    assert(rows("icl_u").sortBy(_.head.toString) == List(List(1, 2), List(4, 3)))
    // DEFAULT maps through a column list split at depth 0 only
    run("CREATE TABLE icl_d (\"x,y\" INT DEFAULT 7, z INT)")
    run("INSERT INTO icl_d (z, \"x,y\") VALUES (1, DEFAULT)")
    assert(rows("icl_d") == List(List(7, 1)))
  }

  // ── UNION BY NAME ──────────────────────────────────────────────────

  test("UNION BY NAME matches columns by name, NULL-fills, dedups without ALL") {
    Seq((1L, "a")).toDF("id", "g").createOrReplaceTempView("ubn1")
    Seq(("b", 2L), ("a", 1L)).toDF("g", "id").createOrReplaceTempView("ubn2")
    Seq((3L, 9.5)).toDF("id", "extra").createOrReplaceTempView("ubn3")
    val dir = Files.createTempDirectory("graft_ubn_")
    val ex = new Executor(spark, dir.toString)
    // column ORDER differs between legs: positional UNION would misalign
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE ubn_out AS SELECT * FROM ubn1 UNION BY NAME " +
        "SELECT * FROM ubn2 ORDER BY id"))
    val rows = spark.table("ubn_out").collect()
      .map(r => (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("g"))))
    assert(rows.toList == List((1L, "a"), (2L, "b")),
      "duplicate (1, a) dedups under set semantics; order by whole union")
    // ALL keeps duplicates; a leg with a missing column NULL-fills
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE ubn_all AS SELECT * FROM ubn1 UNION ALL BY NAME " +
        "SELECT * FROM ubn2 UNION ALL BY NAME SELECT * FROM ubn3"))
    val all = spark.table("ubn_all")
    assert(all.count() == 4)
    assert(all.columns.toSet == Set("id", "g", "extra"))
    assert(all.filter(col("id") === 3L).collect().head
      .isNullAt(all.columns.indexOf("g")))
    // dependency stub sees both sides
    val a = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "SELECT * FROM orders UNION ALL BY NAME SELECT * FROM nation"))
    assert(a.dependencies == Set("orders", "nation"))
    // trailing LIMIT applies to the union result
    val Body.UnionByName(p, _) = Body.parse(
      "SELECT * FROM a UNION BY NAME SELECT * FROM b ORDER BY x DESC LIMIT 2")
    assert(p.segments == Seq("SELECT * FROM a", "SELECT * FROM b"))
    assert(p.orderBy.contains("x DESC") && p.limit.contains(2))
    assert(p.ops == Seq(UnionByNameSql.SetOp("UNION", all = false, byName = true)))
    // ORDER BY with a function call: the comma inside the call must not
    // split the sort list
    val ex2 = new Executor(spark, dir.toString)
    ex2.runStatement(Dialect.rewrite(
      "CREATE TABLE ubn_fn AS SELECT * FROM ubn1 UNION ALL BY NAME " +
        "SELECT * FROM ubn2 ORDER BY coalesce(id, 0) DESC, g LIMIT 2"))
    val top = spark.table("ubn_fn").collect()
      .map(_.getLong(0)).toList
    assert(top == List(2L, 1L), top)
  }

  test("plain set operators after BY NAME fold left-associatively") {
    Seq(1L, 2L).toDF("id").createOrReplaceTempView("lsa")
    Seq(2L, 3L).toDF("id").createOrReplaceTempView("lsb")
    Seq(3L, 3L).toDF("id").createOrReplaceTempView("lsc")
    val dir = Files.createTempDirectory("graft_lsa_")
    val ex = new Executor(spark, dir.toString)
    // (distinct(a ∪ b)) UNION ALL c — c's duplicates MUST survive; a
    // split on the BY NAME spellings only would fold c into the last
    // BY NAME leg and compute distinct(a ∪ b ∪ c)
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE ls_out AS SELECT * FROM lsa UNION BY NAME " +
        "SELECT * FROM lsb UNION ALL SELECT * FROM lsc"))
    val got = spark.table("ls_out").collect().map(_.getLong(0)).sorted.toList
    assert(got == List(1L, 2L, 3L, 3L, 3L), got)
    // EXCEPT applies to the accumulated result (left-assoc)
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE ls_ex AS SELECT * FROM lsa UNION ALL BY NAME " +
        "SELECT * FROM lsb EXCEPT SELECT * FROM lsc"))
    val kept = spark.table("ls_ex").collect().map(_.getLong(0)).sorted.toList
    assert(kept == List(1L, 2L), kept)
    // INTERSECT binds tighter than UNION — reject loudly, never mis-fold
    val e = intercept[UserException] {
      ex.runStatement("SELECT * FROM lsa UNION BY NAME " +
        "SELECT * FROM lsb INTERSECT SELECT * FROM lsc")
    }
    assert(e.getMessage.toLowerCase.contains("intersect"), e.getMessage)
    // a star-modifier `* EXCEPT(..)` in a leg is a projection clause,
    // never a set-operator split point
    Seq((1L, "a", 9.0)).toDF("id", "g", "w").createOrReplaceTempView("lsd")
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE ls_star AS SELECT * EXCLUDE (w) FROM lsd " +
        "UNION BY NAME SELECT * FROM lsa"))
    val st = spark.table("ls_star")
    assert(st.columns.toSet == Set("id", "g"))
    assert(st.count() == 3)
  }

  // ── SELECT * REPLACE ───────────────────────────────────────────────

  test("* REPLACE substitutes in place, preserving column order") {
    Seq((1L, "ab", 2.0), (2L, "cd", 3.0)).toDF("id", "s", "w")
      .createOrReplaceTempView("sr_t")
    val dir = Files.createTempDirectory("graft_sr_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement(
      "CREATE TABLE sr_out AS SELECT * REPLACE (upper(s) AS s) FROM sr_t")
    val out = spark.table("sr_out")
    // replaced column keeps its ORIGINAL position (DuckDB semantics) —
    // the naive EXCEPT rewrite alone would move s to the end
    assert(out.columns.sameElements(Array("id", "s", "w")), out.columns.toSeq)
    assert(out.orderBy(col("id")).collect().map(_.getString(1)).toList ==
      List("AB", "CD"))
    // multiple entries; expression with its own CAST ... AS inside
    ex.runStatement("CREATE TABLE sr2 AS SELECT * REPLACE " +
      "(CAST(id AS STRING) AS id, w * 10 AS w) FROM sr_t")
    val o2 = spark.table("sr2")
    assert(o2.columns.sameElements(Array("id", "s", "w")))
    assert(o2.schema("id").dataType.typeName == "string")
    assert(o2.orderBy(col("id")).collect().map(_.getDouble(2)).toList ==
      List(20.0, 30.0))
    // combined with EXCLUDE: both modifiers on one star
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE sr3 AS SELECT * EXCLUDE (w) REPLACE (id + 100 AS id) FROM sr_t"))
    val o3 = spark.table("sr3")
    assert(o3.columns.sameElements(Array("id", "s")), o3.columns.toSeq)
    assert(o3.collect().map(_.getLong(0)).sorted.toList == List(101L, 102L))
    // inside a subquery: values replaced (outer refs are by name)
    ex.runStatement("CREATE TABLE sr4 AS SELECT s FROM " +
      "(SELECT * REPLACE (lower(s) AS s) FROM sr_t) WHERE s = 'ab'")
    assert(spark.table("sr4").collect().map(_.getString(0)).toList == List("ab"))
    // string function replace(s, from, to) is untouched by the rewrite
    ex.runStatement(
      "CREATE TABLE sr5 AS SELECT replace(s, 'a', 'x') AS r FROM sr_t")
    assert(spark.table("sr5").collect().map(_.getString(0)).sorted.toList ==
      List("cd", "xb"))
    // MULTIPLICATION by replace() is never a star modifier: the `*`
    // follows an operand (identifier / string literal), not a
    // select-list position
    for (q <- Seq("SELECT w * replace(s, 'a', 'b') FROM t",
        "SELECT 'x' * replace(s, 'a', 'b') FROM t"))
      assert(Body.parse(q) == Body.Plain(q), q)
    ex.runStatement("CREATE TABLE sr7 AS SELECT id * " +
      "CAST(replace('1,5', ',', '.') AS DOUBLE) AS v FROM sr_t")
    assert(spark.table("sr7").collect().map(_.getDouble(0)).sorted.toList ==
      List(1.5, 3.0))
    // dependency analysis sees through the modifier
    val a = SqlAnalyzer.analyzeStatement(spark,
      "SELECT * REPLACE (o_orderkey + 1 AS o_orderkey) FROM orders")
    assert(a.dependencies == Set("orders"), a.dependencies)
    // a REPLACE entry without AS is a loud error, not a silent pass-through
    intercept[UserException] {
      ex.runStatement("CREATE TABLE sr6 AS SELECT * REPLACE (upper(s)) FROM sr_t")
    }
  }

  // ── DESCRIBE / SUMMARIZE ───────────────────────────────────────────

  test("DESCRIBE and SUMMARIZE produce DuckDB-shaped profile tables") {
    Seq((1L, "a", 2.0), (2L, "b", 4.0), (3L, null.asInstanceOf[String], 6.0))
      .toDF("id", "s", "w").createOrReplaceTempView("dsc_t")
    val dir = Files.createTempDirectory("graft_dsc_")
    val ex = new Executor(spark, dir.toString)
    // DESCRIBE as a CTAS body — how a script materializes a schema table
    ex.runStatement("CREATE TABLE dsc_out AS DESCRIBE dsc_t")
    val d = spark.table("dsc_out")
    assert(d.columns.sameElements(
      Array("column_name", "column_type", "null", "key", "default", "extra")))
    val byName = d.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byName == Map("id" -> "BIGINT", "s" -> "VARCHAR", "w" -> "DOUBLE"),
      byName)
    // SUMMARIZE: one-pass per-column statistics, DuckDB's column set
    ex.runStatement("CREATE TABLE sum_out AS SUMMARIZE dsc_t")
    val s = spark.table("sum_out")
    assert(s.columns.sameElements(Array("column_name", "column_type", "min",
      "max", "approx_unique", "avg", "std", "q25", "q50", "q75", "count",
      "null_percentage")), s.columns.toSeq)
    val rows = s.collect().map(r => r.getString(0) -> r).toMap
    val idRow = rows("id")
    assert(idRow.getString(2) == "1" && idRow.getString(3) == "3")
    assert(idRow.getLong(4) == 3L) // approx_unique exact at this size
    assert(idRow.getString(5).toDouble == 2.0) // avg
    assert(idRow.getLong(10) == 3L) // count = total rows
    assert(idRow.getDecimal(11).doubleValue() == 0.0)
    val sRow = rows("s")
    assert(sRow.getDecimal(11).doubleValue() == 33.33, sRow.getDecimal(11))
    assert(sRow.isNullAt(5) && sRow.isNullAt(7)) // no avg/q25 for VARCHAR
    // SUMMARIZE over a query; DESCRIBE a query
    ex.runStatement(
      "CREATE TABLE sum_q AS SUMMARIZE SELECT id * 10 AS x FROM dsc_t")
    assert(spark.table("sum_q").collect().head.getString(3) == "30") // max
    ex.runStatement("CREATE TABLE dsc_q AS DESCRIBE SELECT id, w FROM dsc_t")
    assert(spark.table("dsc_q").count() == 2)
    // dependency analysis sees the target
    val a = SqlAnalyzer.analyzeStatement(spark, "SUMMARIZE orders")
    assert(a.dependencies == Set("orders"), a.dependencies)
    val a2 = SqlAnalyzer.analyzeStatement(spark,
      "CREATE TABLE p AS DESCRIBE lineitem")
    assert(a2.dependencies == Set("lineitem") && a2.outputs == Set("p"))
    // bare statements run without error (result discarded, like SELECT)
    ex.runStatement("DESCRIBE dsc_t")
    ex.runStatement("SUMMARIZE dsc_t")
    // nested types (array/struct columns) summarize without error:
    // min/max/moments skip, counts and distinct still compute
    Seq((1L, Seq(1.0f, 2.0f), ("a", 1)), (2L, Seq(3.0f), ("b", 2)))
      .toDF("id", "emb", "meta").createOrReplaceTempView("dsc_nested")
    ex.runStatement("CREATE TABLE sum_n AS SUMMARIZE dsc_nested")
    val nested = spark.table("sum_n").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(nested("emb").getString(1) == "FLOAT[]")
    assert(nested("emb").isNullAt(2)) // no min for arrays
    assert(nested("emb").getLong(10) == 2L)
    assert(nested("meta").getString(1).startsWith("STRUCT("))
  }

  // ── COLUMNS(*) / COLUMNS('regex') ─────────────────────────────────

  test("COLUMNS expands per matching column against the analyzed schema") {
    Seq((1L, 2.0, 3.0, "x"), (4L, 5.0, 6.0, "y"))
      .toDF("id", "p_a", "p_b", "tag").createOrReplaceTempView("cx_t")
    val dir = Files.createTempDirectory("graft_cx_")
    val ex = new Executor(spark, dir.toString)
    // wrapped call: one aggregate per column, BARE column names (probed
    // v1.0: max(COLUMNS('p.*')) outputs p_a, p_b — realigned r15)
    ex.runStatement("CREATE TABLE cx_max AS SELECT max(COLUMNS(*)) FROM cx_t")
    val m = spark.table("cx_max")
    assert(m.columns.sameElements(
      Array("id", "p_a", "p_b", "tag")), m.columns.toSeq)
    val r = m.collect().head
    assert(r.getLong(0) == 4L && r.getDouble(1) == 5.0 && r.getString(3) == "y")
    // bare regex call: projects the matching columns only
    ex.runStatement("CREATE TABLE cx_p AS SELECT COLUMNS('p_.*') FROM cx_t")
    assert(spark.table("cx_p").columns.sameElements(Array("p_a", "p_b")))
    // expression around a regex call; other items pass through
    ex.runStatement(
      "CREATE TABLE cx_r AS SELECT id, round(COLUMNS('p_.*') * 10, 1) FROM cx_t")
    val cr = spark.table("cx_r")
    assert(cr.columns.length == 3)
    assert(cr.orderBy(col("id")).collect().head.getDouble(1) == 20.0)
    // works with WHERE and GROUP BY around it
    ex.runStatement("CREATE TABLE cx_g AS SELECT tag, sum(COLUMNS('p_.*')) " +
      "FROM cx_t WHERE id > 0 GROUP BY tag")
    assert(spark.table("cx_g").columns.length == 3)
    // no match is a loud error
    intercept[UserException] {
      ex.runStatement("CREATE TABLE cx_n AS SELECT COLUMNS('zzz') FROM cx_t")
    }
    // IDENTICAL calls expand in LOCKSTEP — same column per replica, the
    // bare column name as the output alias (probed v1.0) — r15
    ex.runStatement("CREATE TABLE cx_l AS SELECT COLUMNS('p_.*') * 2 + " +
      "COLUMNS('p_.*') FROM cx_t")
    val cl = spark.table("cx_l")
    assert(cl.columns.sameElements(Array("p_a", "p_b")), cl.columns.toSeq)
    assert(cl.orderBy(col("p_a")).collect().head.getDouble(0) == 6.0) // 2*2+2
    // aggregates too: min(c) + max(c) per matched column
    ex.runStatement("CREATE TABLE cx_mm AS SELECT min(COLUMNS('p_.*')) + " +
      "max(COLUMNS('p_.*')) FROM cx_t")
    val mm = spark.table("cx_mm").collect().head
    assert(mm.getDouble(0) == 7.0 && mm.getDouble(1) == 9.0, mm)
    // DIFFERENT calls in one item stay DuckDB's own binder error
    assert(intercept[UserException] {
      ex.runStatement(
        "CREATE TABLE cx_d AS SELECT COLUMNS('p_a') + COLUMNS('p_b') FROM cx_t")
    }.getMessage.contains("DIFFERENT"))
    // COLUMNS(* EXCLUDE ...) — paren and paren-less, through the star
    // lowering (arrives as * EXCEPT); matched in TABLE order (probed) — r15
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE cx_e AS SELECT COLUMNS(* EXCLUDE (tag, id)) FROM cx_t"))
    assert(spark.table("cx_e").columns.sameElements(Array("p_a", "p_b")))
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE cx_e2 AS SELECT min(COLUMNS(* EXCLUDE tag)) FROM cx_t"))
    assert(spark.table("cx_e2").columns.length == 3)
    assert(intercept[UserException] {
      ex.runStatement(Dialect.rewrite(
        "CREATE TABLE cx_e3 AS SELECT COLUMNS(* EXCLUDE (nope)) FROM cx_t"))
    }.getMessage.contains("not found"))
    // explicit name list (bracket literal): TABLE order regardless of
    // list order; unknown names loud (probed v1.0) — r15
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE cx_ls AS SELECT COLUMNS(['tag', 'id']) FROM cx_t"))
    assert(spark.table("cx_ls").columns.sameElements(Array("id", "tag")))
    assert(intercept[UserException] {
      ex.runStatement(Dialect.rewrite(
        "CREATE TABLE cx_ln AS SELECT COLUMNS(['id', 'nope']) FROM cx_t"))
    }.getMessage.contains("was not found"))
    // name lambda: predicate over the column NAME (probed v1.0) — r15
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE cx_la AS SELECT COLUMNS(c -> c LIKE 'p%') FROM cx_t"))
    assert(spark.table("cx_la").columns.sameElements(Array("p_a", "p_b")))
    // WHERE-clause COLUMNS: the whole predicate replicates per matched
    // column, AND-joined (probed v1.0, incl. OR mixtures) — r15
    Seq((Some(1), Some(2)), (None, Some(3)), (Some(4), None))
      .toDF("wa", "wb").createOrReplaceTempView("cx_w")
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE cx_w1 AS SELECT * FROM cx_w WHERE COLUMNS(*) IS NOT NULL"))
    assert(spark.table("cx_w1").collect().map(r => (r.getInt(0), r.getInt(1)))
      .toSeq == Seq((1, 2)))
    ex.runStatement(Dialect.rewrite("CREATE TABLE cx_w2 AS SELECT * FROM cx_w " +
      "WHERE wa = 1 OR COLUMNS('w.*') > 2"))
    assert(spark.table("cx_w2").collect().map(_.getInt(0)).toSeq == Seq(1))
    // ... and composes with a select-list call in the same statement
    // (WHERE expands first, the list on the re-entry)
    ex.runStatement(Dialect.rewrite("CREATE TABLE cx_w3 AS SELECT " +
      "COLUMNS('wa') + 10 FROM cx_w WHERE COLUMNS(*) IS NOT NULL"))
    assert(spark.table("cx_w3").columns.sameElements(Array("wa")) &&
      spark.table("cx_w3").collect().map(_.getInt(0)).toSeq == Seq(11))
    // dependency analysis sees through the call
    val a = SqlAnalyzer.analyzeStatement(spark,
      "CREATE TABLE s AS SELECT min(COLUMNS(*)) FROM lineitem")
    assert(a.dependencies == Set("lineitem") && a.outputs == Set("s"))
    // ... and through the WHERE position (stubs to 1, not `*`)
    val aw = SqlAnalyzer.analyzeStatement(spark,
      "CREATE TABLE sw AS SELECT x FROM src WHERE COLUMNS(*) IS NOT NULL")
    assert(aw.dependencies == Set("src") && aw.outputs == Set("sw"), aw)
    // ... and through the lockstep form (multi-call stub)
    val a2 = SqlAnalyzer.analyzeStatement(spark,
      "CREATE TABLE s2 AS SELECT min(COLUMNS('x')) + max(COLUMNS('x')) FROM src")
    assert(a2.dependencies == Set("src") && a2.outputs == Set("s2"), a2)
  }

  // ── DROP / IF NOT EXISTS / TEMP ────────────────────────────────────

  test("DROP TABLE/VIEW, IF [NOT] EXISTS, TEMP objects") {
    val dir = Files.createTempDirectory("graft_drop_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement("CREATE TABLE dr_t AS SELECT 1 AS x FROM range(1)")
    assert(spark.catalog.tableExists("dr_t"))
    ex.runStatement("DROP TABLE dr_t")
    assert(!spark.catalog.tableExists("dr_t"))
    // missing without IF EXISTS is loud; with it, silent
    intercept[UserException] { ex.runStatement("DROP TABLE dr_t") }
    ex.runStatement("DROP TABLE IF EXISTS dr_t")
    ex.runStatement("DROP VIEW IF EXISTS dr_v")
    // IF NOT EXISTS skips an existing object, keeping its contents
    ex.runStatement("CREATE TABLE dr_k AS SELECT 7 AS v FROM range(1)")
    ex.runStatement(
      "CREATE TABLE IF NOT EXISTS dr_k AS SELECT 9 AS v FROM range(1)")
    assert(spark.table("dr_k").collect().head.getInt(0) == 7)
    // TEMP spelling is accepted (whole run = one session scope)
    ex.runStatement("CREATE TEMP TABLE dr_tmp AS SELECT 3 AS v FROM range(1)")
    assert(spark.table("dr_tmp").collect().head.getInt(0) == 3)
    ex.runStatement("CREATE TEMPORARY VIEW dr_tv AS SELECT 4 AS v FROM range(1)")
    assert(spark.table("dr_tv").collect().head.getInt(0) == 4)
    // a dropped name can be re-created fresh
    ex.runStatement("CREATE TABLE dr_t AS SELECT 42 AS x FROM range(1)")
    assert(spark.table("dr_t").collect().head.getInt(0) == 42)
  }

  test("ALTER TABLE RENAME TO moves the registration") {
    val dir = Files.createTempDirectory("graft_ren_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement("CREATE TABLE ren_a AS SELECT 7 AS x FROM range(1)")
    ex.runStatement("ALTER TABLE ren_a RENAME TO ren_b")
    assert(!spark.catalog.tableExists("ren_a"))
    assert(spark.table("ren_b").collect().head.getInt(0) == 7)
    // the renamed table keeps working as a source and a DML target
    ex.runStatement("INSERT INTO ren_b SELECT 8 FROM range(1)")
    assert(spark.table("ren_b").count() == 2)
    intercept[UserException] { ex.runStatement("ALTER TABLE ren_a RENAME TO z") }
    ex.runStatement("ALTER TABLE IF EXISTS ren_a RENAME TO z") // silent
    // re-creating the OLD name must not clobber the renamed table's
    // data (the warehouse files moved with the rename)
    ex.runStatement("CREATE TABLE ren_a AS SELECT 99 AS x FROM range(1)")
    assert(spark.table("ren_b").collect().map(_.getInt(0)).sorted.toList ==
      List(7, 8))
    assert(spark.table("ren_a").collect().head.getInt(0) == 99)
  }

  test("ALTER RENAME rebinds dependent views onto the moved files") {
    val dir = Files.createTempDirectory("graft_renv_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement("CREATE TABLE rv_t AS SELECT 5 AS x FROM range(1)")
    // direct dependent, transitive dependent, and a string literal that
    // spells the table name (must NOT be renamed)
    ex.runStatement(
      "CREATE VIEW rv_v AS SELECT x + 1 AS y, 'rv_t' AS tag FROM rv_t")
    ex.runStatement("CREATE VIEW rv_w AS SELECT y * 10 AS z FROM rv_v")
    ex.runStatement("ALTER TABLE rv_t RENAME TO rv_t2")
    // previously: FileNotFoundException — the views' captured file
    // indexes pointed at the moved parquet dir
    val v = spark.table("rv_v").collect().head
    assert(v.getInt(0) == 6 && v.getString(1) == "rv_t")
    assert(spark.table("rv_w").collect().head.getInt(0) == 60)
    // deps were renamed too: DML on the NEW name cascades through the
    // rebound view chain
    ex.runStatement("INSERT INTO rv_t2 SELECT 9 FROM range(1)")
    assert(spark.table("rv_v").collect().map(_.getInt(0)).sorted.toList ==
      List(6, 10))
    assert(spark.table("rv_w").collect().map(_.getInt(0)).sorted.toList ==
      List(60, 100))
  }

  test("bare DDL: CREATE TABLE (cols) makes an empty table INSERTs fill") {
    val dir = Files.createTempDirectory("graft_ddl_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE ddl_t (id BIGINT PRIMARY KEY, name VARCHAR, " +
        "w DOUBLE DEFAULT 0)"))
    val t = spark.table("ddl_t")
    assert(t.columns.sameElements(Array("id", "name", "w")))
    assert(t.count() == 0)
    assert(t.schema("name").dataType.typeName == "string")
    ex.runStatement("INSERT INTO ddl_t SELECT 1, 'x', 2.5 FROM range(1)")
    ex.runStatement("INSERT INTO ddl_t BY NAME SELECT 'y' AS name, 2 AS id")
    val got = spark.table("ddl_t").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).sortBy(_._1)
    // the missing `w` draws its declared DEFAULT 0 (probed v1.0 — the
    // earlier NULL expectation pinned a divergence, corrected r15)
    assert(got.toList == List((1L, "x", Some(2.5)), (2L, "y", Some(0.0))), got.toList)
    // IF NOT EXISTS skips; a parenthesized QUERY is still CTAS, not DDL
    ex.runStatement("CREATE TABLE IF NOT EXISTS ddl_t (zz INT)")
    assert(spark.table("ddl_t").columns.length == 3)
    ex.runStatement("CREATE TABLE ddl_q AS (SELECT 5 AS v FROM range(1))")
    assert(spark.table("ddl_q").collect().head.getInt(0) == 5)
    // classification: the DDL is a CREATE with its output
    val a = SqlAnalyzer.analyzeStatement(spark, "CREATE TABLE nt (a INT, b STRING)")
    assert(a.outputs == Set("nt") && a.dependencies.isEmpty)
  }

  // ── round-11 integration: one script, every new feature ───────────

  test("component end-to-end: a script using the round-11 surface") {
    val dd = Files.createTempDirectory("graft_r11_")
    def w(p: java.nio.file.Path, c: String): Unit = {
      Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w(dd.resolve("in/tables/src"), "id,grp,v\n1,a,10\n2,a,20\n3,b,30\n")
    w(dd.resolve("in/tables/src.manifest"),
      """{"columns": ["id", "grp", "v"]}""")
    val script = Seq(
      "CREATE MACRO dbl(x) AS TABLE SELECT id, CAST(v AS DOUBLE) * x AS v, grp FROM src",
      "CREATE TEMP TABLE base AS SELECT * REPLACE (upper(grp) AS grp) FROM dbl(2)",
      "DROP TABLE IF EXISTS scratch",
      "CREATE TABLE stats AS SELECT tag, sum(COLUMNS('v')) FROM " +
        "(SELECT v, grp AS tag FROM base) GROUP BY tag",
      "CREATE TABLE lists AS SELECT g.generate_series AS n, " +
        "['lo','hi'][CAST(1 + (g.generate_series % 2) AS INTEGER)] AS lbl, " +
        "list_sum([x * 1.0 FOR x IN [1, 2, 3] IF x > 1]) AS s " +
        "FROM generate_series(1, 2) g",
      "CREATE TABLE prof AS SUMMARIZE base",
      // the wrapped-COLUMNS output carries the BARE column name (probed
      // v1.0; realigned r15) — downstream references use s.v
      "CREATE TABLE outt AS SELECT b.id, b.v, s.v AS gsum " +
        "FROM base b JOIN stats s ON upper(b.grp) = upper(s.tag) ORDER BY b.id")
    val cfg =
      s"""{"parameters": {"blocks": [{"name": "B", "codes": [
         |  {"name": "q", "script": [${script.map(s => "\"" + s.replace("\"", "\\\"") + "\"").mkString(", ")}]}
         |]}]},
         |"storage": {
         | "input": {"tables": [{"source": "in.c-x.src", "destination": "src"}]},
         | "output": {"tables": [{"source": "outt", "destination": "out.c-y.outt"}]}}}""".stripMargin
    w(dd.resolve("config.json"), cfg)
    // the script validates cleanly before it runs
    val issues = Actions.syntaxCheck(spark, Config.parse(cfg))
    assert(issues.isEmpty, issues)
    Component.run(spark, dd.toString)
    val out = Files.readString(dd.resolve("out/tables/outt")).linesIterator.toList
    assert(out.head == "\"id\",\"v\",\"gsum\"")
    // v doubled by the macro; group sums: A = 20+40 = 60, B = 60
    assert(out.contains("\"1\",\"20.0\",\"60.0\"") &&
      out.contains("\"3\",\"60.0\",\"60.0\""), out)
    assert(spark.table("prof").count() == 3) // SUMMARIZE rows per column
    val lists = spark.table("lists").orderBy(col("n")).collect()
    assert(lists.map(_.getString(1)).toList == List("hi", "lo"))
    assert(lists.head.getDouble(2) == 5.0) // 2.0 + 3.0
  }

  test("component end-to-end: a script using the round-14 surface") {
    val dd = Files.createTempDirectory("graft_r14_")
    def w(p: java.nio.file.Path, c: String): Unit = {
      Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w(dd.resolve("in/tables/raw"),
      "name,score_a,score_b\nx,1,10\ny,2,\nz,3,30\nx,4,40\n")
    w(dd.resolve("in/tables/raw.manifest"),
      """{"columns": ["name", "score_a", "score_b"]}""")
    val script = Seq(
      // sequences + DDL PK + upsert + RETURNING, in one flow
      "CREATE SEQUENCE r14_ids",
      "CREATE TABLE keyed (id BIGINT PRIMARY KEY, name VARCHAR, sa DOUBLE)",
      "INSERT INTO keyed SELECT nextval('r14_ids'), name, " +
        "CAST(score_a AS DOUBLE) FROM raw RETURNING id",
      "INSERT INTO keyed VALUES (1, 'x', 99.0) " +
        "ON CONFLICT (id) DO UPDATE SET sa = excluded.sa",
      // star filters + RENAME + lambda + fill over the ingested table
      "CREATE TABLE scores AS SELECT * LIKE 'score%' FROM raw",
      "CREATE TABLE renamed AS SELECT * RENAME (score_a AS a) FROM scores",
      "CREATE TABLE filled AS SELECT CAST(score_a AS INT) AS o, " +
        "fill(CAST(score_b AS DOUBLE)) OVER (ORDER BY CAST(score_a AS INT)) AS fb " +
        "FROM raw",
      "CREATE TABLE lam AS SELECT list_sum(" +
        "list_transform([1, 2, 3], lambda x: x * 10)) AS s FROM range(1)",
      "CREATE TABLE outt AS SELECT k.id, k.name, k.sa FROM keyed k ORDER BY k.id")
    val cfg = // the DROP rides a SECOND block: blocks are sequential, so
              // it cannot race the first block's nextval readers
      s"""{"parameters": {"blocks": [{"name": "B", "codes": [
         |  {"name": "q", "script": [${script.map(s => "\"" + s.replace("\"", "\\\"") + "\"").mkString(", ")}]}
         |]}, {"name": "B2", "codes": [
         |  {"name": "cleanup", "script": ["DROP SEQUENCE r14_ids"]}
         |]}]},
         |"storage": {
         | "input": {"tables": [{"source": "in.c-x.raw", "destination": "raw"}]},
         | "output": {"tables": [{"source": "outt", "destination": "out.c-y.outt"}]}}}""".stripMargin
    w(dd.resolve("config.json"), cfg)
    val issues = Actions.syntaxCheck(spark, Config.parse(cfg))
    assert(issues.isEmpty, issues)
    Component.run(spark, dd.toString)
    val out = Files.readString(dd.resolve("out/tables/outt")).linesIterator.toList
    assert(out.head == "\"id\",\"name\",\"sa\"")
    assert(out.contains("\"1\",\"x\",\"99.0\""), out) // upsert applied
    assert(out.length == 5, out)                      // 4 rows + header
    assert(spark.table("scores").columns.toSeq == Seq("score_a", "score_b"))
    assert(spark.table("renamed").columns.toSeq == Seq("a", "score_b"))
    // fill: score_b NULL at o=2 interpolates between (1,10) and (3,30)
    val fb = spark.table("filled").orderBy("o").collect().map(_.getDouble(1))
    assert(fb.sameElements(Array(10.0, 20.0, 30.0, 40.0)), fb.toSeq)
    assert(spark.table("lam").collect().head.get(0).toString.toDouble == 60.0)
  }

  // ── PRAGMA / SET ... TO ────────────────────────────────────────────

  test("EXPLAIN and SHOW TABLES run natively in scripts (pinned)") {
    val dir = Files.createTempDirectory("graft_expl_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement("CREATE TABLE ex_t AS SELECT 1 AS x FROM range(1)")
    // both execute for effect without error; results are discarded like
    // any bare SELECT in a transformation script
    ex.runStatement("EXPLAIN SELECT * FROM ex_t")
    ex.runStatement("SHOW TABLES")
    // and validation accepts them
    val cfg = Config.parse(
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |  {"name": "q", "script": ["EXPLAIN SELECT 1 AS v FROM range(1)"]}
        |]}]}, "storage": {}}""".stripMargin)
    assert(Actions.syntaxCheck(spark, cfg).isEmpty)
  }

  test("transaction/maintenance statements: inert except ROLLBACK (loud)") {
    val dir = Files.createTempDirectory("graft_txn_")
    val ex = new Executor(spark, dir.toString)
    // BEGIN/COMMIT + maintenance run as no-ops; the script's real work
    // proceeds between them
    Dialect.prepare(
      "BEGIN TRANSACTION; CREATE TABLE txn_t AS SELECT 1 AS x FROM range(1); " +
        "CHECKPOINT; VACUUM; ANALYZE; COMMIT;").foreach(ex.runStatement)
    assert(spark.table("txn_t").count() == 1)
    // END TRANSACTION commits too; bare END inside CASE is untouched
    ex.runStatement(Dialect.rewrite("END TRANSACTION"))
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE txn_c AS SELECT CASE WHEN 1 = 1 THEN 'y' ELSE 'n' END AS v FROM range(1)"))
    assert(spark.table("txn_c").collect().head.getString(0) == "y")
    // ROLLBACK cannot be honored — loud at RUN time, never silently
    // inert; the rewrite itself produces a parseable sentinel so static
    // analysis can list the issue instead of crashing
    assert(Dialect.rewrite("ROLLBACK") == Dialect.RollbackSentinel)
    assert(Dialect.rewrite("rollback;") == Dialect.RollbackSentinel)
    val e = intercept[UserException] { ex.runStatement(Dialect.rewrite("ROLLBACK")) }
    assert(e.getMessage.contains("ROLLBACK"), e.getMessage)
    // every static-analysis action survives a script carrying ROLLBACK:
    // syntax_check lists it as the statement's issue; the analyzers and
    // visual reports keep working on the rest of the script
    val cfgRb = Config.parse(
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |  {"name": "q", "script": ["CREATE TABLE rb_t AS SELECT 1 AS x FROM range(1)", "ROLLBACK"]}
        |]}]}, "storage": {}}""".stripMargin)
    val issues = Actions.syntaxCheck(spark, cfgRb)
    assert(issues.map(_.message) == List(Dialect.RollbackMessage), issues)
    val analysis = SqlAnalyzer.analyzeScript(spark,
      "CREATE TABLE rb_t AS SELECT * FROM rb_src; ROLLBACK;")
    assert(analysis.outputs == Set("rb_t") && analysis.dependencies == Set("rb_src"))
    assert(Actions.expectedInputTables(spark, cfgRb) != null)
    assert(Actions.lineage(spark, cfgRb) != null)
    assert(Actions.executionPlan(spark, cfgRb) != null)
  }

  test("CREATE SEQUENCE / nextval / currval: catalog counter semantics") {
    DuckFunctions.register(spark)
    val dir = Files.createTempDirectory("graft_seq_")
    val ex = new Executor(spark, dir.toString)
    def q(sql: String) = spark.sql(Dialect.rewrite(sql))
    SequenceSql.clear()
    // defaults: START 1, INCREMENT 1; one draw per row (probed)
    ex.runStatement(Dialect.rewrite("CREATE SEQUENCE sq1"))
    assert(q("SELECT nextval('sq1') AS n FROM range(3)")
      .collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 2L, 3L)))
    assert(q("SELECT currval('sq1') AS c").collect().head.getLong(0) == 3L)
    // START WITH / INCREMENT BY, negative increment defaults to max -1
    ex.runStatement(Dialect.rewrite("CREATE SEQUENCE sq2 START WITH 10 INCREMENT BY 5"))
    assert(q("SELECT nextval('sq2') AS a, nextval('sq2') AS b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).head == ((10L, 15L)))
    ex.runStatement(Dialect.rewrite("CREATE SEQUENCE sq3 INCREMENT BY -2 START WITH -1"))
    assert(q("SELECT nextval('sq3') AS a, nextval('sq3') AS b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).head == ((-1L, -3L)))
    // MAXVALUE: the bound IS returned, the call after errors (probed);
    // CYCLE wraps to MINVALUE instead
    ex.runStatement(Dialect.rewrite("CREATE SEQUENCE sq4 MAXVALUE 3"))
    assert((1 to 3).map(_ => SequenceSql.next("sq4")) == Seq(1L, 2L, 3L))
    val eMax = intercept[UserException] { SequenceSql.next("sq4") }
    assert(eMax.getMessage.contains("maximum value"), eMax.getMessage)
    ex.runStatement(Dialect.rewrite("CREATE SEQUENCE sq5 MINVALUE 2 MAXVALUE 4 CYCLE START 3"))
    assert((1 to 6).map(_ => SequenceSql.next("sq5")) == Seq(3L, 4L, 2L, 3L, 4L, 2L))
    // currval before any nextval / unknown sequences: loud
    ex.runStatement(Dialect.rewrite("CREATE SEQUENCE sq6"))
    assert(intercept[UserException] { SequenceSql.curr("sq6") }
      .getMessage.contains("not yet defined"))
    assert(intercept[UserException] { SequenceSql.next("sq_missing") }
      .getMessage.contains("does not exist"))
    // TEMP/TEMPORARY spellings (every sequence is per-run session state)
    ex.runStatement(Dialect.rewrite("CREATE TEMP SEQUENCE sqt START 5"))
    assert(SequenceSql.next("sqt") == 5L)
    ex.runStatement(Dialect.rewrite("CREATE TEMPORARY SEQUENCE sqt2"))
    assert(SequenceSql.next("sqt2") == 1L)
    // OR REPLACE resets; IF NOT EXISTS keeps; DROP removes
    ex.runStatement(Dialect.rewrite("CREATE OR REPLACE SEQUENCE sq2 START WITH 100"))
    assert(SequenceSql.next("sq2") == 100L)
    ex.runStatement(Dialect.rewrite("CREATE SEQUENCE IF NOT EXISTS sq2 START WITH 999"))
    assert(SequenceSql.next("sq2") == 101L)
    ex.runStatement(Dialect.rewrite("DROP SEQUENCE sq2"))
    assert(intercept[UserException] { SequenceSql.next("sq2") }
      .getMessage.contains("does not exist"))
    ex.runStatement(Dialect.rewrite("DROP SEQUENCE IF EXISTS sq2")) // silent
    assert(intercept[UserException] {
      ex.runStatement(Dialect.rewrite("DROP SEQUENCE sq2"))
    }.getMessage.contains("does not exist"))
    // static analysis: CREATE SEQUENCE produces the name; nextval users
    // depend on it (the DAG orders the create first)
    val c = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite("CREATE SEQUENCE ord_seq"))
    assert(c.outputs == Set("ord_seq"), c)
    val u = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "CREATE TABLE keyed AS SELECT nextval('ord_seq') AS id, x FROM src"))
    assert(u.dependencies == Set("ord_seq", "src"), u)
    // end-to-end: surrogate keys through a component run
    val dd = Files.createTempDirectory("graft_seq_e2e_")
    Files.writeString(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |  {"name": "q", "script": [
        |    "CREATE SEQUENCE id_seq START WITH 7;",
        |    "CREATE TABLE keyed AS SELECT nextval('id_seq') AS id FROM range(3);"]}
        |]}]},
        |"storage": {
        | "output": {"tables": [{"source": "keyed", "destination": "out.c-y.keyed"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    val out = Files.readString(dd.resolve("out/tables/keyed")).linesIterator.toList
    assert(out.head == "\"id\"")
    assert(out.tail.map(_.replace("\"", "").toLong).sorted == List(7L, 8L, 9L), out)
  }

  test("INSERT ON CONFLICT / OR REPLACE / OR IGNORE: declared-key upserts") {
    val dir = Files.createTempDirectory("graft_upsert_")
    val ex = new Executor(spark, dir.toString)
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE up_t (k INT PRIMARY KEY, v VARCHAR, w INT)")
    run("INSERT INTO up_t VALUES (1, 'a', 10), (2, 'b', 20)")
    // DO UPDATE: unqualified names read the TARGET's current row,
    // excluded.* the incoming one (probed: w = w + excluded.w → 80)
    run("INSERT INTO up_t VALUES (1, 'A', 70), (3, 'c', 30) " +
      "ON CONFLICT (k) DO UPDATE SET v = excluded.v, w = w + excluded.w")
    def all() = spark.table("up_t").orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(all() == Seq((1, "A", 80), (2, "b", 20), (3, "c", 30)), all())
    // DO UPDATE ... WHERE false leaves the conflict row unchanged (probed)
    run("INSERT INTO up_t VALUES (1, 'z', 5) " +
      "ON CONFLICT (k) DO UPDATE SET v = excluded.v WHERE excluded.w > 100")
    assert(all().head == ((1, "A", 80)))
    // without an explicit target the declared PK is the key (probed)
    run("INSERT INTO up_t VALUES (1, 'd', 1) ON CONFLICT DO UPDATE SET v = excluded.v")
    assert(all().head == ((1, "d", 80)))
    // DO NOTHING / OR IGNORE: conflicting incoming rows drop, fresh insert
    run("INSERT INTO up_t (k, v) VALUES (9, 'n') ON CONFLICT (k) DO NOTHING")
    assert(all().exists(_ == ((9, "n", -1))))
    run("INSERT OR IGNORE INTO up_t VALUES (9, 'x', 0), (10, 'e', 0)")
    assert(all().exists(_ == ((9, "n", -1))) && all().exists(_ == ((10, "e", 0))))
    // OR REPLACE replaces the WHOLE row
    run("INSERT OR REPLACE INTO up_t VALUES (2, 'B', 99)")
    assert(all().exists(_ == ((2, "B", 99))))
    // probed constraint/binder errors, replicated loudly
    assert(intercept[UserException] {
      run("INSERT INTO up_t VALUES (5, 'x', 1), (5, 'y', 2) ON CONFLICT (k) DO NOTHING")
    }.getMessage.contains("duplicate key"))
    assert(intercept[UserException] {
      run("INSERT INTO up_t VALUES (1, 'q', 0) ON CONFLICT (v) DO NOTHING")
    }.getMessage.contains("conflict target"))
    run("CREATE TABLE up_nopk AS SELECT 1 AS a FROM range(1)")
    assert(intercept[UserException] {
      run("INSERT INTO up_nopk VALUES (2) ON CONFLICT DO NOTHING")
    }.getMessage.contains("no PRIMARY KEY"))
    // composite key via the table-level PRIMARY KEY (a, b) spelling
    run("CREATE TABLE up_c (a INT, b INT, s VARCHAR, PRIMARY KEY (a, b))")
    run("INSERT INTO up_c VALUES (1, 1, 'x'), (1, 2, 'y')")
    run("INSERT INTO up_c VALUES (1, 1, 'X'), (2, 1, 'z') " +
      "ON CONFLICT (a, b) DO UPDATE SET s = excluded.s")
    val c = spark.table("up_c").orderBy("a", "b").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
    assert(c == Seq((1, 1, "X"), (1, 2, "y"), (2, 1, "z")), c)
    // static analysis: same dependency/output sets as a plain INSERT
    val an = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "INSERT INTO up_t SELECT * FROM src ON CONFLICT (k) DO NOTHING"))
    assert(an.outputs == Set("up_t") && an.dependencies == Set("src"), an)
    val cfg = Config.parse(
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |  {"name": "q", "script": [
        |    "INSERT OR REPLACE INTO up_t VALUES (1, 'r', 0)"]}
        |]}]}, "storage": {}}""".stripMargin)
    assert(Actions.syntaxCheck(spark, cfg).isEmpty)
  }

  test("UPDATE ... FROM joins the source into the SET projection") {
    val dir = Files.createTempDirectory("graft_updfrom_")
    val ex = new Executor(spark, dir.toString)
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE uf_t AS SELECT range AS k, 'old' || CAST(range AS VARCHAR) AS v FROM range(4)")
    run("CREATE TABLE uf_s AS SELECT range * 2 AS k, 'new' || CAST(range * 2 AS VARCHAR) AS nv FROM range(2)")
    // matched rows take the source value; unmatched keep theirs (probed)
    run("UPDATE uf_t SET v = uf_s.nv FROM uf_s WHERE uf_t.k = uf_s.k")
    def all() = spark.table("uf_t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(all() == Seq((0L, "new0"), (1L, "old1"), (2L, "new2"), (3L, "old3")), all())
    // aliases on both sides + an extra target filter in the WHERE
    run("UPDATE uf_t AS t SET v = x.nv || '!' FROM uf_s AS x " +
      "WHERE t.k = x.k AND t.k > 0")
    assert(all() == Seq((0L, "new0"), (1L, "old1"), (2L, "new2!"), (3L, "old3")), all())
    // subquery source (alias required)
    run("UPDATE uf_t SET v = q.nv FROM (SELECT k, upper(nv) AS nv FROM uf_s) q " +
      "WHERE uf_t.k = q.k")
    assert(all().head == ((0L, "NEW0")), all())
    // multi-match: ONE arbitrary source row per target row, no row
    // duplication (DuckDB behaves the same, probed)
    run("CREATE TABLE uf_m AS SELECT 0 AS k, 'a' AS s UNION ALL SELECT 0, 'b'")
    run("UPDATE uf_t SET v = uf_m.s FROM uf_m WHERE uf_t.k = uf_m.k")
    assert(all().length == 4 && Set("a", "b").contains(all().head._2), all())
    // loud scope boundaries
    assert(intercept[UserException] {
      run("UPDATE uf_t SET v = uf_s.nv FROM uf_s")
    }.getMessage.contains("WHERE"))
    assert(intercept[UserException] {
      run("UPDATE uf_t SET v = a.nv FROM uf_s a, uf_s b WHERE uf_t.k = a.k")
    }.getMessage.contains("one source relation"))
    // static analysis: target is output AND dependency; source is a dep
    val an = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "UPDATE uf_t SET v = uf_s.nv FROM uf_s WHERE uf_t.k = uf_s.k"))
    assert(an.outputs == Set("uf_t") && an.dependencies == Set("uf_t", "uf_s"), an)
  }

  test("DELETE USING / TRUNCATE / CREATE INDEX / COMMENT ON") {
    val dir = Files.createTempDirectory("graft_delusing_")
    val ex = new Executor(spark, dir.toString)
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE du_t AS SELECT range AS k, 'v' || CAST(range AS VARCHAR) AS v FROM range(5)")
    run("CREATE TABLE du_bad AS SELECT range * 2 AS k FROM range(2)")
    // join-delete: rows matching the USING source go (probed)
    run("DELETE FROM du_t USING du_bad WHERE du_t.k = du_bad.k")
    assert(spark.table("du_t").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 3L, 4L)))
    // subquery source + aliases
    run("DELETE FROM du_t AS t USING (SELECT 3 AS k) q WHERE t.k = q.k")
    assert(spark.table("du_t").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 4L)))
    assert(intercept[UserException] {
      run("DELETE FROM du_t USING du_bad")
    }.getMessage.contains("WHERE"))
    // TRUNCATE [TABLE] empties in place (rewrites to the DELETE path)
    run("TRUNCATE du_bad")
    assert(spark.table("du_bad").count() == 0)
    run("TRUNCATE TABLE du_t")
    assert(spark.table("du_t").count() == 0)
    // CREATE INDEX is inert; CREATE UNIQUE INDEX declares an upsert key
    run("CREATE TABLE idx_t (a INT, b VARCHAR)")
    run("CREATE INDEX plain_idx ON idx_t (b)")
    assert(intercept[UserException] {
      run("INSERT INTO idx_t VALUES (1, 'x') ON CONFLICT (a) DO NOTHING")
    }.getMessage.contains("conflict target"))
    run("CREATE UNIQUE INDEX key_idx ON idx_t (a)")
    run("INSERT INTO idx_t VALUES (1, 'x'), (2, 'y')")
    run("INSERT INTO idx_t VALUES (1, 'X') ON CONFLICT (a) DO UPDATE SET b = excluded.b")
    assert(spark.table("idx_t").orderBy("a").collect()
      .map(_.getString(1)).sameElements(Array("X", "y")))
    // DROP INDEX retracts the key; duplicate CREATE INDEX names reject
    assert(intercept[UserException] {
      run("CREATE INDEX key_idx ON idx_t (b)")
    }.getMessage.contains("already exists"))
    run("DROP INDEX key_idx")
    assert(intercept[UserException] {
      run("INSERT INTO idx_t VALUES (1, 'z') ON CONFLICT (a) DO NOTHING")
    }.getMessage.contains("conflict target"))
    assert(intercept[UserException] { run("DROP INDEX key_idx") }
      .getMessage.contains("does not exist"))
    run("DROP INDEX IF EXISTS key_idx") // silent
    // COMMENT ON is inert catalog metadata
    run("COMMENT ON TABLE idx_t IS 'hello'")
    // static analysis survives all of them
    val cfg = Config.parse(
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |  {"name": "q", "script": [
        |    "DELETE FROM du_t USING du_bad WHERE du_t.k = du_bad.k",
        |    "TRUNCATE du_t",
        |    "CREATE UNIQUE INDEX i ON du_t (k)",
        |    "COMMENT ON TABLE du_t IS 'x'"]}
        |]}]}, "storage": {}}""".stripMargin)
    assert(Actions.syntaxCheck(spark, cfg).isEmpty, Actions.syntaxCheck(spark, cfg))
    val an = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "DELETE FROM du_t USING du_bad WHERE du_t.k = du_bad.k"))
    assert(an.outputs == Set("du_t") && an.dependencies == Set("du_t", "du_bad"), an)
  }

  test("key metadata lifecycle: PK vs UNIQUE index, replace/rename/drop") {
    val dir = Files.createTempDirectory("graft_keymeta_")
    val ex = new Executor(spark, dir.toString)
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    // a PK plus an IDENTICAL UNIQUE index is ONE conflict target (key
    // sets dedup), and DROP INDEX must NOT retract the PRIMARY KEY
    run("CREATE TABLE km_t (k INT PRIMARY KEY, v VARCHAR)")
    run("CREATE UNIQUE INDEX km_i ON km_t (k)")
    run("INSERT INTO km_t VALUES (1, 'a')")
    run("INSERT INTO km_t VALUES (1, 'b') ON CONFLICT DO UPDATE SET v = excluded.v")
    assert(spark.table("km_t").collect().map(_.getString(1)).sameElements(Array("b")))
    run("DROP INDEX km_i")
    run("INSERT INTO km_t VALUES (1, 'c') ON CONFLICT DO UPDATE SET v = excluded.v")
    assert(spark.table("km_t").collect().map(_.getString(1)).sameElements(Array("c")))
    // CREATE OR REPLACE TABLE clears stale keys AND the table's indexes
    run("CREATE UNIQUE INDEX km_i2 ON km_t (v)")
    run("CREATE OR REPLACE TABLE km_t (a INT, b VARCHAR)")
    run("INSERT INTO km_t VALUES (1, 'x')")
    assert(intercept[UserException] {
      run("INSERT INTO km_t VALUES (1, 'y') ON CONFLICT DO NOTHING")
    }.getMessage.contains("no PRIMARY KEY"))
    // ... and the replaced table's index NAMES are free again
    run("CREATE UNIQUE INDEX km_i2 ON km_t (a)")
    run("INSERT INTO km_t VALUES (1, 'z') ON CONFLICT (a) DO NOTHING")
    assert(spark.table("km_t").collect().map(_.getString(1)).sameElements(Array("x")))
    // DROP TABLE clears; a CTAS under the same name declares no keys
    run("DROP TABLE km_t")
    run("CREATE TABLE km_t AS SELECT 1 AS a FROM range(1)")
    assert(intercept[UserException] {
      run("INSERT INTO km_t VALUES (2) ON CONFLICT DO NOTHING")
    }.getMessage.contains("no PRIMARY KEY"))
    // ALTER ... RENAME carries the PK (and its indexes) to the new name
    run("CREATE TABLE km_r (k INT PRIMARY KEY, v VARCHAR)")
    run("INSERT INTO km_r VALUES (1, 'a')")
    run("ALTER TABLE km_r RENAME TO km_r2")
    run("INSERT INTO km_r2 VALUES (1, 'b') ON CONFLICT DO UPDATE SET v = excluded.v")
    assert(spark.table("km_r2").collect().map(_.getString(1)).sameElements(Array("b")))
  }

  test("upsert evaluates a nondeterministic insert source exactly once") {
    val dir = Files.createTempDirectory("graft_upseq_")
    DuckFunctions.register(spark) // nextval/currval live in the registry
    val ex = new Executor(spark, dir.toString)
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    def q(sql: String) = spark.sql(Dialect.rewrite(sql))
    run("CREATE SEQUENCE us_seq")
    run("CREATE TABLE us_t (id BIGINT PRIMARY KEY, v VARCHAR)")
    // OR REPLACE references the batch in TWO plan subtrees (anti-join +
    // union) besides the dup-check aggregate; without the localCheckpoint
    // pin each subtree would re-draw the sequence, writing ids the dup
    // check never saw
    run("INSERT OR REPLACE INTO us_t SELECT nextval('us_seq'), " +
      "'r' || CAST(range AS VARCHAR) FROM range(3)")
    val ids = spark.table("us_t").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(1L, 2L, 3L)), ids.toSeq)
    // the sequence advanced exactly three times: the next draw is 4
    assert(q("SELECT nextval('us_seq') AS n").collect().head.getLong(0) == 4L)
    // DO UPDATE path: two fresh draws (5, 6), nothing re-drawn
    run("INSERT INTO us_t SELECT nextval('us_seq'), 'x' FROM range(2) " +
      "ON CONFLICT (id) DO UPDATE SET v = excluded.v")
    val ids2 = spark.table("us_t").collect().map(_.getLong(0)).sorted
    assert(ids2.sameElements(Array(1L, 2L, 3L, 5L, 6L)), ids2.toSeq)
    assert(q("SELECT nextval('us_seq') AS n").collect().head.getLong(0) == 7L)
  }

  test("fill() window interpolates NULLs along the ORDER BY axis (1.4)") {
    DuckFunctions.register(spark)
    def q(sql: String) = spark.sql(Dialect.rewrite(sql))
    Seq((0, Some(10.0)), (1, None), (2, None), (3, Some(40.0)), (4, None))
      .toDF("o", "v").createOrReplaceTempView("fill_t")
    // interior NULLs interpolate linearly; the trailing edge takes the
    // NEAREST non-NULL (documented 1.4 semantics; spec-pinned — v1.0
    // has no fill to probe)
    val r = q("SELECT o, fill(v) OVER (ORDER BY o) AS f FROM fill_t ORDER BY o")
      .collect().map(_.getDouble(1))
    assert(r.sameElements(Array(10.0, 20.0, 30.0, 40.0, 40.0)), r.toSeq)
    // leading edge: nearest next value
    Seq((0, None: Option[Double]), (1, Some(5.0)), (2, None))
      .toDF("o", "v").createOrReplaceTempView("fill_e")
    val e = q("SELECT fill(v) OVER (ORDER BY o) AS f FROM fill_e ORDER BY o")
      .collect().map(_.getDouble(0))
    assert(e.sameElements(Array(5.0, 5.0, 5.0)), e.toSeq)
    // NON-equidistant keys weight by key distance: 0 → ? at o=1 with
    // neighbors (0, 0.0) and (5, 10.0) is 2.0
    Seq((0, Some(0.0)), (1, None), (5, Some(10.0)))
      .toDF("o", "v").createOrReplaceTempView("fill_d")
    val d = q("SELECT fill(v) OVER (ORDER BY o) AS f FROM fill_d ORDER BY o")
      .collect().map(_.getDouble(0))
    assert(d.sameElements(Array(0.0, 2.0, 10.0)), d.toSeq)
    // PARTITION BY: interpolation never crosses a partition
    Seq(("a", 0, Some(0.0)), ("a", 2, Some(4.0)), ("a", 1, None),
        ("b", 1, None), ("b", 2, Some(7.0)))
      .toDF("g", "o", "v").createOrReplaceTempView("fill_p")
    val p = q("SELECT g, o, fill(v) OVER (PARTITION BY g ORDER BY o) AS f " +
      "FROM fill_p ORDER BY g, o").collect()
      .map(r0 => (r0.getString(0), r0.getDouble(2)))
    assert(p.sameElements(Array(("a", 0.0), ("a", 2.0), ("a", 4.0),
      ("b", 7.0), ("b", 7.0))), p.toSeq)
    // a TIMESTAMP axis works through the same lowering
    val ts = q("SELECT fill(v) OVER (ORDER BY t) AS f FROM (" +
      "SELECT TIMESTAMP '2024-01-01 00:00:00' AS t, 1.0 AS v " +
      "UNION ALL SELECT TIMESTAMP '2024-01-01 00:00:30', NULL " +
      "UNION ALL SELECT TIMESTAMP '2024-01-01 00:01:00', 3.0) ORDER BY f")
      .collect().map(_.getDouble(0))
    assert(ts.sameElements(Array(1.0, 2.0, 3.0)), ts.toSeq)
    // DESC order: same interpolation line, frame-relative edges
    val desc = q("SELECT o, fill(v) OVER (ORDER BY o DESC) AS f FROM fill_t " +
      "ORDER BY o").collect().map(_.getDouble(1))
    assert(desc.sameElements(Array(10.0, 20.0, 30.0, 40.0, 40.0)), desc.toSeq)
    // duplicate ORDER BY keys cannot divide by zero (ANSI-safe guard)
    Seq((1, Some(2.0)), (1, None), (1, Some(6.0)))
      .toDF("o", "v").createOrReplaceTempView("fill_dup")
    val dup = q("SELECT fill(v) OVER (ORDER BY o) AS f FROM fill_dup")
      .collect().map(_.getDouble(0)).sorted
    assert(dup.length == 3 && dup.contains(2.0) && dup.contains(6.0), dup.toSeq)
    // unsupported shapes leave the text whole → loud unresolved fill
    assert(intercept[Exception] {
      q("SELECT fill(v) OVER (ORDER BY o, v) AS f FROM fill_t").collect()
    }.getMessage.toLowerCase.contains("fill"))
    // a NAMED window inlines first (WindowClauseSql, r15) — fill then
    // resolves exactly as the inline spelling (was a loud reject)
    val named = q("SELECT fill(v) OVER w AS f FROM fill_t " +
      "WINDOW w AS (ORDER BY o) ORDER BY o").collect().map(_.getDouble(0))
    assert(named.sameElements(Array(10.0, 20.0, 30.0, 40.0, 40.0)), named.toSeq)
  }

  test("star filters * LIKE/ILIKE/NOT LIKE/SIMILAR TO and * RENAME (post-1.0)") {
    Seq((1L, "ab", 2.0)).toDF("id", "p_one", "p_two")
      .createOrReplaceTempView("sl_t")
    val dir = Files.createTempDirectory("graft_starlike_")
    val ex = new Executor(spark, dir.toString)
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    def colsOf(ctas: String, out: String): Seq[String] = {
      run(ctas); spark.table(out).columns.toSeq
    }
    // name filters lower onto the COLUMNS('regex') expansion
    assert(colsOf("CREATE TABLE sl1 AS SELECT * LIKE 'p%' FROM sl_t", "sl1") ==
      Seq("p_one", "p_two"))
    assert(colsOf("CREATE TABLE sl2 AS SELECT * ILIKE 'P%' FROM sl_t", "sl2") ==
      Seq("p_one", "p_two"))
    assert(colsOf("CREATE TABLE sl3 AS SELECT * NOT LIKE 'p%' FROM sl_t", "sl3") ==
      Seq("id"))
    assert(colsOf("CREATE TABLE sl4 AS SELECT * SIMILAR TO 'p_(one|two)' FROM sl_t",
      "sl4") == Seq("p_one", "p_two"))
    // LIKE is case-sensitive: 'P%' matches nothing — loud, like DuckDB
    assert(intercept[UserException] {
      run("CREATE TABLE sl5 AS SELECT * LIKE 'P%' FROM sl_t")
    }.getMessage.contains("matches no column"))
    // * RENAME keeps each column's POSITION; combines with EXCLUDE
    assert(colsOf("CREATE TABLE sr1 AS SELECT * RENAME (p_one AS first_p) FROM sl_t",
      "sr1") == Seq("id", "first_p", "p_two"))
    assert(colsOf("CREATE TABLE sr2 AS SELECT * EXCLUDE (id) " +
      "RENAME (p_two AS t2) FROM sl_t", "sr2") == Seq("p_one", "t2"))
    assert(intercept[UserException] {
      run("CREATE TABLE sr3 AS SELECT * RENAME (nope AS x) FROM sl_t")
    }.getMessage.contains("does not exist"))
    // a rename landing on an existing column would project duplicates
    assert(intercept[UserException] {
      run("CREATE TABLE sr4 AS SELECT * RENAME (p_one AS id) FROM sl_t")
    }.getMessage.contains("collides"))
    // ... but SWAPPING via two renames is fine (both old names renamed away)
    assert(colsOf("CREATE TABLE sr5 AS SELECT * RENAME (p_one AS p_two, " +
      "p_two AS p_one) FROM sl_t", "sr5") == Seq("id", "p_two", "p_one"))
    // paren-less EXCLUDE takes exactly ONE column (probed v1.0:
    // `* EXCLUDE a, c` projects c as a separate item) — r15
    assert(colsOf("CREATE TABLE be1 AS SELECT * EXCLUDE id FROM sl_t",
      "be1") == Seq("p_one", "p_two"))
    assert(colsOf("CREATE TABLE be2 AS SELECT * EXCLUDE p_one, id AS id2 " +
      "FROM sl_t", "be2") == Seq("id", "p_two", "id2"))
    assert(colsOf("CREATE TABLE be3 AS SELECT sl_t.* EXCLUDE id FROM sl_t",
      "be3") == Seq("p_one", "p_two"))
    // multiplication by a column whose name starts with exclude… never
    // rewrites (star-position guard)
    assert(Dialect.rewrite("SELECT price * exclude_vat FROM t")
      .contains("* exclude_vat"))
    // qualified star name-filters expand against the QUALIFIER's schema
    // (DuckDB >= 1.4; v1.0 probes a binder error — spec-pinned) — r15
    assert(colsOf("CREATE TABLE ql1 AS SELECT sl_t.* LIKE 'p%' FROM sl_t",
      "ql1") == Seq("p_one", "p_two"))
    assert(colsOf("CREATE TABLE ql2 AS SELECT s.* NOT ILIKE 'P%' " +
      "FROM sl_t AS s", "ql2") == Seq("id"))
    assert(colsOf("CREATE TABLE ql3 AS SELECT s.* SIMILAR TO 'p_(one|two)' " +
      "FROM sl_t s WHERE s.id = 1", "ql3") == Seq("p_one", "p_two"))
    assert(intercept[UserException] {
      run("CREATE TABLE ql4 AS SELECT sl_t.* LIKE 'zz%' FROM sl_t")
    }.getMessage.contains("matches no column"))
    // the filter scopes to ONE side of a join (that is the point of the
    // qualified form)
    Seq((1L, "q")).toDF("id", "q_col").createOrReplaceTempView("sl_u")
    assert(colsOf("CREATE TABLE ql5 AS SELECT a.* LIKE 'p%', b.q_col " +
      "FROM sl_t a JOIN sl_u b ON a.id = b.id", "ql5") ==
      Seq("p_one", "p_two", "q_col"))
    // static analysis: the qualified filter collapses to the bare star
    val anq = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "CREATE TABLE o2 AS SELECT s.* LIKE 'p%' FROM src s"))
    assert(anq.outputs == Set("o2") && anq.dependencies == Set("src"), anq)
    // duplicates WITHIN the list reject (r15 ADVICE): two entries on one
    // new name, or one old name renamed twice
    assert(intercept[UserException] {
      run("CREATE TABLE sr6 AS SELECT * RENAME (p_one AS x, p_two AS x) FROM sl_t")
    }.getMessage.contains("more than once"))
    assert(intercept[UserException] {
      run("CREATE TABLE sr7 AS SELECT * RENAME (p_one AS x, p_one AS y) FROM sl_t")
    }.getMessage.contains("renamed more than once"))
    // values ride along unchanged
    assert(spark.table("sr1").collect().head.getString(1) == "ab")
    // static analysis: both forms stub to `*` with the same deps
    val an = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "CREATE TABLE o AS SELECT * RENAME (a AS b) FROM src"))
    assert(an.outputs == Set("o") && an.dependencies == Set("src"), an)
  }

  test("ALTER TABLE ADD PRIMARY KEY declares an upsert key (DuckDB >= 1.4)") {
    val dir = Files.createTempDirectory("graft_addpk_")
    val ex = new Executor(spark, dir.toString)
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE apk_t AS SELECT range AS k, 'v' AS v FROM range(3)")
    // no key yet: target-less upsert rejects
    assert(intercept[UserException] {
      run("INSERT INTO apk_t VALUES (9, 'x') ON CONFLICT DO NOTHING")
    }.getMessage.contains("no PRIMARY KEY"))
    run("ALTER TABLE apk_t ADD PRIMARY KEY (k)")
    run("INSERT INTO apk_t VALUES (1, 'up') ON CONFLICT DO UPDATE SET v = excluded.v")
    assert(spark.table("apk_t").filter("k = 1").collect()
      .map(_.getString(1)).sameElements(Array("up")))
    // non-unique existing data rejects, like DuckDB
    run("CREATE TABLE apk_dup AS SELECT 1 AS k UNION ALL SELECT 1")
    assert(intercept[UserException] {
      run("ALTER TABLE apk_dup ADD PRIMARY KEY (k)")
    }.getMessage.contains("not unique"))
    // a NULL in a key column rejects too (r15 ADVICE): PK columns are
    // NOT NULL in DuckDB, and a NULL key would silently miss the upsert
    // anti-join later (NULL never equals NULL)
    run("CREATE TABLE apk_null AS SELECT CAST(NULL AS BIGINT) AS k, 'a' AS v " +
      "UNION ALL SELECT 2, 'b'")
    assert(intercept[UserException] {
      run("ALTER TABLE apk_null ADD PRIMARY KEY (k)")
    }.getMessage.contains("NULL"))
    assert(intercept[UserException] {
      run("ALTER TABLE apk_none ADD PRIMARY KEY (k)")
    }.getMessage.contains("does not exist"))
    assert(intercept[UserException] {
      run("ALTER TABLE apk_t ADD PRIMARY KEY (nope)")
    }.getMessage.contains("column nope does not exist"))
    // syntax_check accepts the statement (inert stub)
    val cfg = Config.parse(
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |  {"name": "q", "script": ["ALTER TABLE apk_t ADD PRIMARY KEY (k)"]}
        |]}]}, "storage": {}}""".stripMargin)
    assert(Actions.syntaxCheck(spark, cfg).isEmpty, Actions.syntaxCheck(spark, cfg))
  }

  test("sequence block allocation: unique + monotonic across partitions") {
    val dir = Files.createTempDirectory("graft_seqblk_")
    DuckFunctions.register(spark)
    val ex = new Executor(spark, dir.toString)
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE SEQUENCE blk_seq")
    run("PRAGMA graft_sequence_blocks = 16")
    try {
      // a genuinely multi-partition draw: 8 partitions x 125 rows
      val rows = spark.range(0, 1000, 1, 8)
        .selectExpr("spark_partition_id() AS p", "nextval('blk_seq') AS id")
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      // cross-partition uniqueness — the whole point of the block path
      assert(rows.length == 1000)
      assert(rows.map(_._2).distinct.length == 1000)
      // monotonic WITHIN each partition (blocks reserve in global order)
      rows.groupBy(_._1).values.foreach { part =>
        val ids = part.map(_._2)
        assert(ids.sameElements(ids.sorted), ids.take(10).toSeq)
      }
      // gaps bounded by the reserved blocks: counter advanced at most
      // 1000 + 8 blocks x 16
      val probe = spark.sql(Dialect.rewrite("SELECT nextval('blk_seq') AS n"))
        .collect().head.getLong(0)
      assert(probe > 1000 && probe <= 1000 + 8 * 16 + 1, probe)
      // MAXVALUE still exact under blocks: a partial block serves, the
      // draw after the bound errors (probed v1.0 contract)
      run("CREATE SEQUENCE blk_max MAXVALUE 5")
      val five = spark.range(0, 5, 1, 1)
        .selectExpr("nextval('blk_max') AS id").collect().map(_.getLong(0))
      assert(five.sorted.sameElements(Array(1L, 2L, 3L, 4L, 5L)))
      val e = intercept[Exception] {
        spark.sql(Dialect.rewrite("SELECT nextval('blk_max')")).collect()
      }
      assert(e.getMessage.contains("maximum value"), e.getMessage)
      // a stale thread-local block self-invalidates after re-CREATE
      run("CREATE OR REPLACE SEQUENCE blk_seq START 1")
      assert(spark.sql(Dialect.rewrite("SELECT nextval('blk_seq') AS n"))
        .collect().head.getLong(0) == 1L)
    } finally {
      run("PRAGMA graft_sequence_blocks = 1") // exact mode back on
      run("DROP SEQUENCE IF EXISTS blk_seq")  // process-global state
      run("DROP SEQUENCE IF EXISTS blk_max")
    }
    // the knob rejects nonsense loudly
    assert(intercept[UserException] {
      run("PRAGMA graft_sequence_blocks = 0")
    }.getMessage.contains(">= 1"))
  }

  test("RETURNING on INSERT / UPDATE / DELETE and the upsert forms") {
    val dir = Files.createTempDirectory("graft_ret_")
    DuckFunctions.register(spark) // nextval/currval live in the registry
    val ex = new Executor(spark, dir.toString)
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE r_t (k INT PRIMARY KEY, v VARCHAR, w INT)")
    // INSERT: one output row per source row, the target's columns in
    // scope, expressions + aliases allowed (probed v1.0)
    val ins = run("INSERT INTO r_t VALUES (1,'a',10),(2,'b',20) RETURNING *").get
    assert(ins.columns.toSeq == Seq("k", "v", "w"))
    assert(ins.orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1, "a", 10), (2, "b", 20)))
    val expr = run(
      "INSERT INTO r_t VALUES (4,'d',40) RETURNING k*10 AS kk, upper(v) AS uv").get
    assert(expr.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((40, "D")))
    // plain UPDATE: matched rows with their NEW values; no match = 0 rows
    val upd = run("UPDATE r_t SET w = w + 1 WHERE k < 3 RETURNING k, w").get
    assert(upd.orderBy("k").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 11), (2, 21)))
    assert(run("UPDATE r_t SET w = 0 WHERE k = 99 RETURNING k").get.count() == 0)
    // UPDATE ... FROM
    run("CREATE TABLE r_s AS SELECT 2 AS k, 'B' AS nv")
    val uf = run("UPDATE r_t SET v = r_s.nv FROM r_s " +
      "WHERE r_t.k = r_s.k RETURNING k, v").get
    assert(uf.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((2, "B")))
    // DELETE: the deleted rows' OLD values
    val del = run("DELETE FROM r_t WHERE k >= 4 RETURNING k, v").get
    assert(del.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((4, "d")))
    // DELETE ... USING
    run("CREATE TABLE r_bad AS SELECT 1 AS k")
    val du = run("DELETE FROM r_t USING r_bad WHERE r_t.k = r_bad.k RETURNING k").get
    assert(du.collect().map(_.getInt(0)).toSeq == Seq(1))
    // upserts (probed v1.0: every PROPOSED row verbatim — a DO NOTHING
    // conflict row comes back, a DO UPDATE row shows its PRE-merge image;
    // version-sensitive, so pinned here, never a hashed oracle row).
    // v1.0 itself crashes on this mixed conflict+fresh batch — an engine
    // bug not replicated.
    val up1 = run("INSERT INTO r_t VALUES (2,'Z',0),(7,'g',7) " +
      "ON CONFLICT (k) DO UPDATE SET v = excluded.v RETURNING *").get
    assert(up1.orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((2, "Z", 0), (7, "g", 7)))
    // ... while the TABLE merged only v (w kept)
    assert(spark.table("r_t").filter("k = 2").collect()
      .map(r => (r.getString(1), r.getInt(2))).toSeq == Seq(("Z", 21)))
    val up2 = run(
      "INSERT INTO r_t VALUES (7,'x',0) ON CONFLICT (k) DO NOTHING RETURNING k, v").get
    assert(up2.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((7, "x")))
    val up3 = run("INSERT OR REPLACE INTO r_t VALUES (7,'R',70) RETURNING *").get
    assert(up3.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((7, "R", 70)))
    // nextval through RETURNING: the generated keys come back, and the
    // returned ids are EXACTLY the written ids (single evaluation)
    run("CREATE SEQUENCE r_seq")
    run("CREATE TABLE r_ids (id BIGINT PRIMARY KEY, x VARCHAR)")
    val ids = run("INSERT INTO r_ids SELECT nextval('r_seq'), 'v' FROM range(3) " +
      "RETURNING id").get.collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(1L, 2L, 3L)), ids.toSeq)
    assert(spark.table("r_ids").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L)))
    // UPDATE ... RETURNING with a NONDETERMINISTIC SET (r15 ADVICE): the
    // returned rows must BE the written rows — one shared evaluation, so
    // the sequence advances exactly once per matched row
    run("CREATE SEQUENCE r_useq")
    run("CREATE TABLE r_upd AS SELECT range AS k, CAST(0 AS BIGINT) AS sid " +
      "FROM range(3)")
    val uret = run("UPDATE r_upd SET sid = nextval('r_useq') WHERE k >= 1 " +
      "RETURNING k, sid").get
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val ustored = spark.table("r_upd").filter("k >= 1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(uret.sameElements(ustored), s"${uret.toSeq} vs ${ustored.toSeq}")
    assert(uret.map(_._2).sorted.sameElements(Array(1L, 2L)), uret.toSeq)
    // same single-eval contract for the UPDATE ... FROM join form
    run("CREATE SEQUENCE r_fseq")
    run("CREATE TABLE r_updf AS SELECT range AS k, CAST(0 AS BIGINT) AS sid " +
      "FROM range(3)")
    run("CREATE TABLE r_fsrc AS SELECT range AS k FROM range(2)")
    val fret = run("UPDATE r_updf SET sid = nextval('r_fseq') FROM r_fsrc " +
      "WHERE r_updf.k = r_fsrc.k RETURNING k, sid").get
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val fstored = spark.table("r_updf").filter("k < 2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(fret.sameElements(fstored), s"${fret.toSeq} vs ${fstored.toSeq}")
    assert(fret.map(_._2).sorted.sameElements(Array(1L, 2L)), fret.toSeq)
    // `AS returning` is a legal column ALIAS (probed), not the clause
    run("CREATE TABLE r_al (returning INT)")
    run("INSERT INTO r_al SELECT 5 AS returning")
    assert(spark.table("r_al").collect().map(_.getInt(0)).toSeq == Seq(5))
    // static analysis: deps/outputs match the plain DML, syntax_check ok
    val an = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "INSERT INTO r_t SELECT * FROM src RETURNING k"))
    assert(an.outputs == Set("r_t") && an.dependencies == Set("src"), an)
    val cfg = Config.parse(
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |  {"name": "q", "script": [
        |    "INSERT INTO r_t VALUES (9, 'n', 0) RETURNING k, v"]}
        |]}]}, "storage": {}}""".stripMargin)
    assert(Actions.syntaxCheck(spark, cfg).isEmpty, Actions.syntaxCheck(spark, cfg))
  }

  test("PREPARE / EXECUTE / DEALLOCATE (probed v1.0 parameter rules)") {
    val dir = Files.createTempDirectory("graft_prep_")
    DuckFunctions.register(spark)
    val ex = new Executor(spark, dir.toString)
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE pr_t AS SELECT range AS a FROM range(5)")
    // `?` auto-increment positional through a DML + RETURNING
    run("PREPARE pq AS CREATE TABLE pr_o AS SELECT a FROM pr_t WHERE a > ?")
    run("EXECUTE pq(2)")
    assert(spark.table("pr_o").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L))
    // numbered $1/$2 index the positional list (probed: $2 + $1 works)
    run("PREPARE pn AS CREATE TABLE pr_n AS SELECT $2 + $1 AS s FROM range(1)")
    run("EXECUTE pn(10, 1)")
    assert(spark.table("pr_n").collect().head.get(0).toString == "11")
    // named $param via name := expr; the same slot reused twice
    run("PREPARE pm AS CREATE TABLE pr_m AS " +
      "SELECT a, $lo + 0 AS lo FROM pr_t WHERE a >= $lo")
    run("EXECUTE pm(lo := 3)")
    assert(spark.table("pr_m").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L))
    // argument expressions splice parenthesized (precedence survives)
    run("PREPARE px AS CREATE TABLE pr_x AS SELECT ? * 2 AS v FROM range(1)")
    run("EXECUTE px(1 + 1)")
    assert(spark.table("pr_x").collect().head.get(0).toString == "4")
    // RETURNING inside a prepared DML returns its rows through EXECUTE
    run("PREPARE pi AS INSERT INTO pr_t VALUES (?) RETURNING a")
    assert(run("EXECUTE pi(99)").get.collect().head.getLong(0) == 99L)
    // missing parameters error NAMING them (probed message shape)
    assert(intercept[UserException] {
      run("PREPARE p2 AS SELECT ? + ?"); run("EXECUTE p2(1)")
    }.getMessage.contains("parameters: 2"))
    // EXECUTE of an unknown / deallocated name errors; DEALLOCATE of an
    // unknown name is silent; re-PREPARE replaces silently
    assert(intercept[UserException] { run("EXECUTE nope(1)") }
      .getMessage.contains("does not exist"))
    run("DEALLOCATE pq")
    assert(intercept[UserException] { run("EXECUTE pq(1)") }
      .getMessage.contains("does not exist"))
    run("DEALLOCATE PREPARE never_was") // silent no-op (probed)
    run("PREPARE pr AS CREATE TABLE pr_r AS SELECT 1 AS v FROM range(1)")
    run("PREPARE pr AS CREATE TABLE pr_r AS SELECT 2 AS v FROM range(1)")
    run("EXECUTE pr")
    assert(spark.table("pr_r").collect().head.getInt(0) == 2)
    // static analysis: PREPARE carries the body's deps/outputs (the
    // code-level union covers the EXECUTE), EXECUTE itself is inert
    val ap = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "PREPARE z AS CREATE TABLE zt AS SELECT x FROM src WHERE x > $n"))
    assert(ap.outputs == Set("zt") && ap.dependencies == Set("src"), ap)
    val ae = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "EXECUTE z(n := 2)"))
    assert(ae.outputs.isEmpty && ae.dependencies.isEmpty, ae)
    // syntax_check accepts the family
    val cfg = Config.parse(
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |  {"name": "q", "script": [
        |    "PREPARE s1 AS SELECT a FROM pr_t WHERE a > ?",
        |    "EXECUTE s1(1)", "DEALLOCATE s1"]}
        |]}]}, "storage": {}}""".stripMargin)
    assert(Actions.syntaxCheck(spark, cfg).isEmpty,
      Actions.syntaxCheck(spark, cfg))
  }

  test("ordered aggregates, tuple SET, BY POSITION, WITH NO DATA (probed v1.0)") {
    val dir = Files.createTempDirectory("graft_oagg_")
    DuckFunctions.register(spark)
    val ex = new Executor(spark, dir.toString)
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    def one(sql: String): Any =
      spark.sql(Dialect.rewrite(sql)).collect().head.get(0)
    Seq(("b", 2), ("a", 1), ("c", 3)).toDF("x", "k")
      .createOrReplaceTempView("oa_t")
    // first/last/arbitrary pick the key-extreme row's value
    assert(one("SELECT first(x ORDER BY k) FROM oa_t") == "a")
    assert(one("SELECT first(x ORDER BY k DESC) FROM oa_t") == "c")
    assert(one("SELECT last(x ORDER BY k) FROM oa_t") == "c")
    assert(one("SELECT arbitrary(x ORDER BY k) FROM oa_t") == "a")
    // multi-key pick via struct ordering
    assert(one("SELECT first(x ORDER BY k % 2, k) FROM oa_t") == "b")
    // list collectors sort by the key, DESC reverses
    assert(one("SELECT array_agg(x ORDER BY k DESC) FROM oa_t")
      .asInstanceOf[scala.collection.Seq[Any]] == Seq("c", "b", "a"))
    assert(one("SELECT list(x ORDER BY k) FROM oa_t")
      .asInstanceOf[scala.collection.Seq[Any]] == Seq("a", "b", "c"))
    // string joiners ride listagg WITHIN GROUP (default sep ',')
    assert(one("SELECT string_agg(x ORDER BY k DESC) FROM oa_t") == "c,b,a")
    assert(one("SELECT string_agg(x, '|' ORDER BY k) FROM oa_t") == "a|b|c")
    // order-insensitive aggregates: the modifier is a documented no-op
    assert(one("SELECT sum(k ORDER BY x) FROM oa_t").toString == "6")
    // unknown function + ORDER BY is loud, never silently dropped
    assert(intercept[UserException] {
      Dialect.rewrite("SELECT my_udaf(x ORDER BY k) FROM oa_t")
    }.getMessage.contains("ordered-aggregate"))
    // windows / WITHIN GROUP / subqueries are untouched by the scan
    assert(one("SELECT max(cnt) FROM (SELECT count(*) OVER " +
      "(ORDER BY k) AS cnt FROM oa_t) q").toString == "3")
    assert(one("SELECT (SELECT x FROM oa_t ORDER BY k LIMIT 1)") == "a")
    // tuple SET lowers to the plain assignment list
    run("CREATE TABLE ts_t AS SELECT 1 AS a, 2 AS b FROM range(1)")
    run("UPDATE ts_t SET (a, b) = (b, a) WHERE a = 1") // simultaneous swap
    val ts = spark.table("ts_t").collect().head
    assert(ts.getInt(0) == 2 && ts.getInt(1) == 1, ts)
    assert(intercept[UserException] {
      Dialect.rewrite("UPDATE ts_t SET (a, b) = (SELECT 1, 2)")
    }.getMessage.contains("row-subquery"))
    assert(intercept[UserException] {
      Dialect.rewrite("UPDATE ts_t SET (a, b) = (1, 2, 3)")
    }.getMessage.contains("2 columns but 3"))
    // INSERT BY POSITION spells out the default mapping
    run("INSERT INTO ts_t BY POSITION SELECT 7, 8")
    assert(spark.table("ts_t").count() == 2)
    // WITH NO DATA: schema only, zero rows (wrapped, so a query-final
    // ORDER BY survives)
    run("CREATE TABLE nd_t AS SELECT a, b FROM ts_t ORDER BY a WITH NO DATA")
    assert(spark.table("nd_t").columns.sameElements(Array("a", "b")) &&
      spark.table("nd_t").count() == 0)
    // percent LIMIT: FLOOR(total * n/100) rows AFTER the offset (probed
    // v1.0: 10 rows LIMIT 25% -> 2; 15% OFFSET 2 -> row 2 only)
    run("CREATE TABLE lp_t AS SELECT range AS a FROM range(10)")
    run("CREATE TABLE lp1 AS SELECT a FROM lp_t ORDER BY a LIMIT 25%")
    assert(spark.table("lp1").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L))
    run("CREATE TABLE lp2 AS SELECT a FROM lp_t ORDER BY a LIMIT 33 PERCENT")
    assert(spark.table("lp2").count() == 3)
    run("CREATE TABLE lp3 AS SELECT a FROM lp_t ORDER BY a LIMIT 15% OFFSET 2")
    assert(spark.table("lp3").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // statics: the stand-in keeps the dependency set
    val alp = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "CREATE TABLE o3 AS SELECT x FROM src ORDER BY x LIMIT 30%"))
    assert(alp.outputs == Set("o3") && alp.dependencies == Set("src"), alp)
  }

  test("SET VARIABLE / RESET VARIABLE / getvariable (DuckDB >= 1.1)") {
    val dir = Files.createTempDirectory("graft_var_")
    DuckFunctions.register(spark)
    val ex = new Executor(spark, dir.toString)
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    def one(sql: String): Any =
      spark.sql(Dialect.rewrite(sql)).collect().head.get(0)
    run("SET VARIABLE v_lim = 30 + 12")       // evaluated ONCE at SET
    assert(one("SELECT getvariable('v_lim')") == 42)
    // typed values survive (list)
    run("SET VARIABLE v_list = ['a', 'b']")
    assert(one("SELECT getvariable('v_list')")
      .asInstanceOf[scala.collection.Seq[Any]] == Seq("a", "b"))
    // a variable in a predicate is an ordinary pushed-down literal
    run("CREATE TABLE var_t AS SELECT range AS a FROM range(10)")
    run("CREATE TABLE var_o AS SELECT a FROM var_t " +
      "WHERE a >= getvariable('v_lim') - 37")
    assert(spark.table("var_o").count() == 5)
    // re-SET replaces; RESET removes; undefined → NULL (documented)
    run("SET VARIABLE v_lim = 1")
    assert(one("SELECT getvariable('v_lim')") == 1)
    run("RESET VARIABLE v_lim")
    assert(one("SELECT getvariable('v_lim')") == null)
    assert(one("SELECT getvariable('never_set')") == null)
    // a column reference in the SET expression fails loudly (binder rule)
    intercept[Exception] { run("SET VARIABLE bad = some_column + 1") }
    // statics: SET/RESET VARIABLE are inert, getvariable carries no deps
    val av = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "SET VARIABLE x = 5"))
    assert(av.outputs.isEmpty && av.dependencies.isEmpty, av)
    val cfg = Config.parse(
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |  {"name": "q", "script": [
        |    "SET VARIABLE lim = 3",
        |    "CREATE TABLE vo AS SELECT a FROM vt WHERE a > getvariable('lim')",
        |    "RESET VARIABLE lim"]}
        |]}]}, "storage": {}}""".stripMargin)
    assert(Actions.syntaxCheck(spark, cfg).isEmpty,
      Actions.syntaxCheck(spark, cfg))
  }

  test("EXPORT DATABASE / IMPORT DATABASE round-trip the warehouse") {
    val wh1 = Files.createTempDirectory("graft_expdb_wh1_")
    val ex1 = new Executor(spark, wh1.toString)
    Dialect.prepare(
      "CREATE TABLE exp_t1 AS SELECT range AS id, 'x' || CAST(range AS VARCHAR) AS v FROM range(5); " +
        "CREATE TABLE exp_t2 AS SELECT range AS k FROM range(3); " +
        "CREATE VIEW exp_v1 AS SELECT id FROM exp_t1 WHERE id > 2;")
      .foreach(ex1.runStatement)
    val dump = Files.createTempDirectory("graft_expdb_dump_").toString
    ex1.runStatement(Dialect.rewrite(s"EXPORT DATABASE '$dump' (FORMAT PARQUET)"))
    // the DuckDB layout: schema.sql + load.sql + one data dir per table
    val schemaSql = Files.readString(java.nio.file.Paths.get(dump, "schema.sql"))
    assert(schemaSql.contains("CREATE TABLE exp_t1(id BIGINT, v VARCHAR);"), schemaSql)
    assert(schemaSql.contains("CREATE TABLE exp_t2(k BIGINT);"), schemaSql)
    assert(schemaSql.contains("CREATE VIEW exp_v1 AS"), schemaSql)
    val loadSql = Files.readString(java.nio.file.Paths.get(dump, "load.sql"))
    assert(loadSql.contains("COPY exp_t1 FROM") &&
      loadSql.contains("(FORMAT 'parquet');"), loadSql)
    // restore into a FRESH warehouse: replayed through the dialect
    // pipeline (bare DDL + CopyFrom + view registration)
    spark.catalog.dropTempView("exp_t1")
    spark.catalog.dropTempView("exp_t2")
    spark.catalog.dropTempView("exp_v1")
    val wh2 = Files.createTempDirectory("graft_expdb_wh2_")
    val ex2 = new Executor(spark, wh2.toString)
    ex2.runStatement(Dialect.rewrite(s"IMPORT DATABASE '$dump'"))
    assert(spark.table("exp_t1").count() == 5)
    assert(spark.table("exp_t1").orderBy("id").collect().map(_.getString(1)).head == "x0")
    assert(spark.table("exp_t2").count() == 3)
    assert(spark.table("exp_v1").collect().map(_.getLong(0)).sorted
      .sameElements(Array(3L, 4L)))
    // CSV is the DuckDB default format; round-trips too
    val dumpCsv = Files.createTempDirectory("graft_expdb_csv_").toString
    ex1.runStatement(Dialect.rewrite(s"EXPORT DATABASE '$dumpCsv'"))
    assert(Files.readString(java.nio.file.Paths.get(dumpCsv, "load.sql"))
      .contains("FORMAT 'csv', HEADER true"), "csv load.sql")
    val wh3 = Files.createTempDirectory("graft_expdb_wh3_")
    new Executor(spark, wh3.toString)
      .runStatement(Dialect.rewrite(s"IMPORT DATABASE '$dumpCsv'"))
    assert(spark.table("exp_t1").count() == 5)
    // a dir without schema.sql rejects loudly; static analysis parses both
    assert(intercept[UserException] {
      ex2.runStatement(Dialect.rewrite("IMPORT DATABASE '/tmp/not_a_dump_dir'"))
    }.getMessage.contains("schema.sql"))
    val cfg = Config.parse(
      s"""{"parameters": {"blocks": [{"name": "B", "codes": [
         |  {"name": "q", "script": ["EXPORT DATABASE '$dump'", "IMPORT DATABASE '$dump'"]}
         |]}]}, "storage": {}}""".stripMargin)
    assert(Actions.syntaxCheck(spark, cfg).isEmpty)
  }

  test("EXPORT DATABASE fidelity: PK, UNIQUE indexes, sequences, CSV NULLs") {
    val wh1 = Files.createTempDirectory("graft_expfid_wh1_")
    DuckFunctions.register(spark)
    val ex1 = new Executor(spark, wh1.toString)
    def run1(sql: String) = ex1.runStatement(Dialect.rewrite(sql))
    run1("CREATE SEQUENCE fid_seq START 1")
    run1("CREATE TABLE fid_t (id BIGINT PRIMARY KEY, v VARCHAR)")
    run1("INSERT INTO fid_t SELECT nextval('fid_seq'), 'r' FROM range(3)")
    run1("UPDATE fid_t SET v = NULL WHERE id = 2")
    run1("UPDATE fid_t SET v = '' WHERE id = 3")
    run1("CREATE TABLE fid_u (a INT, b VARCHAR)")
    run1("INSERT INTO fid_u VALUES (1, 'x')")
    run1("CREATE UNIQUE INDEX fid_u_key ON fid_u (a)")
    val dump = Files.createTempDirectory("graft_expfid_dump_").toString
    run1(s"EXPORT DATABASE '$dump'") // CSV, the DuckDB default format
    val schemaSql = Files.readString(java.nio.file.Paths.get(dump, "schema.sql"))
    assert(schemaSql.contains("PRIMARY KEY (id)"), schemaSql)
    assert(schemaSql.contains("CREATE UNIQUE INDEX fid_u_key ON fid_u (a);"),
      schemaSql)
    // the sequence resumes at its CURRENT counter (3 draws happened)
    assert(schemaSql.contains(
      "CREATE OR REPLACE SEQUENCE fid_seq START WITH 4"), schemaSql)
    assert(Files.readString(java.nio.file.Paths.get(dump, "load.sql"))
      .contains("NULL '\\N'"))
    // a fresh run: sequences are per-run state — drop before the replay
    // (the reference's import happens in a new process the same way)
    run1("DROP SEQUENCE fid_seq")
    spark.catalog.dropTempView("fid_t")
    spark.catalog.dropTempView("fid_u")
    val wh2 = Files.createTempDirectory("graft_expfid_wh2_")
    val ex2 = new Executor(spark, wh2.toString)
    def run2(sql: String) = ex2.runStatement(Dialect.rewrite(sql))
    run2(s"IMPORT DATABASE '$dump'")
    // NULL vs empty VARCHAR survived the default-format round-trip
    // DISTINCTLY (the '\N' sentinel pair on write + COPY NULL option)
    val vs = spark.table("fid_t").orderBy("id").collect()
      .map(r => if (r.isNullAt(1)) null else r.getString(1))
    assert(vs.sameElements(Array("r", null, "")), vs.toSeq)
    // the PRIMARY KEY survived the replay: a target-less upsert resolves
    run2("INSERT INTO fid_t VALUES (2, 'up') ON CONFLICT DO UPDATE SET v = excluded.v")
    assert(spark.table("fid_t").filter("id = 2").collect()
      .map(_.getString(1)).sameElements(Array("up")))
    // the UNIQUE index survived too
    run2("INSERT INTO fid_u VALUES (1, 'up2') ON CONFLICT (a) DO UPDATE SET b = excluded.b")
    assert(spark.table("fid_u").collect().map(_.getString(1))
      .sameElements(Array("up2")))
    // ... and fresh surrogate keys continue PAST the loaded rows
    val nxt = run2("INSERT INTO fid_t SELECT nextval('fid_seq'), 'new' " +
      "FROM range(1) RETURNING id").get
    assert(nxt.collect().map(_.getLong(0)).sameElements(Array(4L)))
    run2("DROP SEQUENCE fid_seq") // leave no per-run state behind
  }

  test("ATTACH / DETACH / CREATE TYPE / ALTER SEQUENCE reject loudly") {
    val dir = Files.createTempDirectory("graft_rej_")
    val ex = new Executor(spark, dir.toString)
    // rewrite → parseable sentinel (static analysis lists, executor throws)
    assert(Dialect.rewrite("ATTACH 'other.db' AS other") ==
      Dialect.rejectSentinel("ATTACH"))
    assert(Dialect.rewrite("DETACH other") == Dialect.rejectSentinel("DETACH"))
    // ENUM executes since r16 (TypeSqlSpec matrix); UNION keeps the reject
    assert(Dialect.rejectedKind(
      Dialect.rewrite("CREATE TYPE mood AS ENUM ('sad', 'ok')")).isEmpty)
    assert(Dialect.rewrite("CREATE TYPE u AS UNION(i INTEGER, s VARCHAR)") ==
      Dialect.rejectSentinel("CREATE_TYPE"))
    assert(Dialect.rewrite("ALTER SEQUENCE s RESTART") ==
      Dialect.rejectSentinel("ALTER_SEQUENCE"))
    // MERGE INTO executes since r15 (MergeSpec) — the rewrite passes it
    // through for MergeSql to parse, no sentinel
    assert(MergeSql.parse(Dialect.rewrite("MERGE INTO t USING s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v")).isDefined)
    // frame GROUPS mode / EXCLUDE triage: rewritable forms EXECUTE since
    // r15 (FrameSqlSpec); only non-rewritable ones keep the reject —
    // EXCLUDE NO OTHERS (the default, probed v1.0) strips
    assert(Dialect.rejectedKind(Dialect.rewrite("SELECT sum(b) OVER " +
      "(ORDER BY a GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t"))
      .isEmpty)
    assert(Dialect.rejectedKind(Dialect.rewrite("SELECT sum(b) OVER " +
      "(ORDER BY a ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      "EXCLUDE CURRENT ROW) FROM t")).isEmpty)
    // min/max are not subtraction-distributive: still a loud reject
    assert(Dialect.rewrite("SELECT min(b) OVER (ORDER BY a " +
      "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) FROM t") ==
      Dialect.rejectSentinel("FRAME_EXCLUDE"))
    val stripped = Dialect.rewrite("SELECT sum(b) OVER (ORDER BY a " +
      "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE NO OTHERS) AS s FROM t")
    assert(!stripped.toUpperCase.contains("EXCLUDE"), stripped)
    assert(stripped.toUpperCase.contains("ROWS BETWEEN 1 PRECEDING"), stripped)
    // transaction & maintenance statements are inert (probed v1.0: all
    // accepted; this executor commits as it runs), ABORT = ROLLBACK
    for (s <- Seq("BEGIN TRANSACTION", "BEGIN", "COMMIT", "END",
        "VACUUM", "VACUUM ANALYZE", "ANALYZE", "CHECKPOINT",
        "FORCE CHECKPOINT")) {
      val r = Dialect.rewrite(s)
      assert(r.startsWith("SET __graft_inert"), s"$s -> $r")
      ex.runStatement(r) // runs as an inert SET
    }
    assert(Dialect.rewrite("ABORT") == Dialect.RollbackSentinel)
    // star GLOB filter (1.4 star-filter op; v1.0 binder error → spec-pin)
    Seq((1, "x")).toDF("f_a1", "g").createOrReplaceTempView("sg_t")
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE sg1 AS SELECT * GLOB 'f_*' FROM sg_t"))
    assert(spark.table("sg1").columns.sameElements(Array("f_a1")))
    // the scan is scoped to each OVER(...) span (r15 ADVICE): a column
    // named groups in the WHERE, or a column exclude aliased `ties`
    // (bare-alias spelling), are valid identifiers OUTSIDE the frame
    // clause and must not trip the triage
    assert(Dialect.rewrite("SELECT count(*) OVER () AS c FROM t " +
      "WHERE groups BETWEEN 1 AND 5") !=
      Dialect.rejectSentinel("FRAME_GROUPS"))
    assert(Dialect.rewrite("SELECT count(*) OVER () AS c, exclude ties " +
      "FROM t") != Dialect.rejectSentinel("FRAME_EXCLUDE"))
    // ... while the same keywords INSIDE the OVER span hit the triage —
    // since r15 the rewritable forms EXECUTE (dense_rank re-expression,
    // FrameSqlSpec); a non-rewritable one (no window ORDER BY) rejects
    assert(Dialect.rewrite("SELECT count(*) OVER (ORDER BY a GROUPS " +
      "BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t WHERE groups > 1")
      .contains("DENSE_RANK()"))
    assert(Dialect.rewrite("SELECT count(*) OVER (PARTITION BY p GROUPS " +
      "BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t") ==
      Dialect.rejectSentinel("FRAME_GROUPS"))
    // literals with the trigger words never fire; star-EXCLUDE untouched
    assert(Dialect.rewrite("SELECT 'GROUPS BETWEEN x' AS s, " +
      "count(*) OVER () AS c FROM t").contains("'GROUPS BETWEEN x'"))
    assert(Dialect.rewrite("SELECT * EXCLUDE (a) FROM t, " +
      "(SELECT count(*) OVER () AS c FROM t) q").contains("EXCEPT"))
    for (kind <- Seq("ATTACH", "DETACH", "CREATE_TYPE", "ALTER_SEQUENCE",
        "FRAME_GROUPS", "FRAME_EXCLUDE")) {
      val e = intercept[UserException] {
        ex.runStatement(Dialect.rejectSentinel(kind))
      }
      assert(e.getMessage == Dialect.RejectMessages(kind), e.getMessage)
    }
    // syntax_check lists the issue per statement instead of crashing
    val cfg = Config.parse(
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |  {"name": "q", "script": [
        |    "ATTACH 'other.db' AS other",
        |    "CREATE TYPE u AS UNION(i INTEGER, s VARCHAR)",
        |    "SELECT 1 AS x FROM range(1)"]}
        |]}]}, "storage": {}}""".stripMargin)
    val issues = Actions.syntaxCheck(spark, cfg)
    assert(issues.map(_.message) ==
      List(Dialect.RejectMessages("ATTACH"), Dialect.RejectMessages("CREATE_TYPE")),
      issues)
    // the visual/analysis actions survive scripts carrying them
    assert(Actions.lineage(spark, cfg) != null)
    assert(Actions.executionPlan(spark, cfg) != null)
  }

  test("PRAGMA and SET..TO become inert Spark SET statements") {
    assert(Dialect.rewrite("PRAGMA threads=4") == "SET threads = 4")
    assert(Dialect.rewrite("PRAGMA memory_limit='8GB'") == "SET memory_limit = '8GB'")
    assert(Dialect.rewrite("PRAGMA enable_progress_bar") ==
      "SET enable_progress_bar = true")
    assert(Dialect.rewrite("PRAGMA threads(2)") == "SET threads = 2")
    assert(Dialect.rewrite("SET threads TO 4") == "SET threads = 4")
    // they run without error on the session
    val dir = Files.createTempDirectory("graft_pragma_spec_")
    val ex = new Executor(spark, dir.toString)
    Dialect.prepare("PRAGMA threads=4; SET memory_limit TO '8GB';")
      .foreach(ex.runStatement)
    // and validation accepts a script carrying them
    val cfg = Config.parse(
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |  {"name": "q", "script": ["PRAGMA threads=4", "SELECT 1 AS x FROM range(1)"]}
        |]}]}, "storage": {}}""".stripMargin)
    assert(Actions.syntaxCheck(spark, cfg).isEmpty)
  }

  test("syntax_check parses what the executor runs: CREATE TYPE, ALTER COLUMN forms") {
    val issues = Seq(
        "CREATE TYPE mood AS ENUM ('a', 'b')",
        "ALTER TABLE t ALTER COLUMN c TYPE BIGINT USING c * 2",
        "ALTER TABLE t ADD COLUMN IF NOT EXISTS d INT DEFAULT 3").map { stmt =>
      stmt -> Actions.syntaxCheck(spark, Config.parse(
        s"""{"parameters": {"blocks": [{"name": "B", "codes": [
           |  {"name": "q", "script": ["$stmt"]}
           |]}]}, "storage": {}}""".stripMargin))
    }.filter(_._2.nonEmpty)
    assert(issues.isEmpty, issues.mkString("\n"))
  }
}
