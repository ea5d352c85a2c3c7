package graft.component

import org.scalatest.funsuite.AnyFunSuite

class DialectSpec extends AnyFunSuite {

  test("splitStatements splits on ; outside quotes and comments") {
    val script =
      """CREATE VIEW a AS SELECT 'x;y' AS s; -- trailing; comment
        |SELECT * FROM a;
        |/* block; comment */ SELECT 2""".stripMargin
    val stmts = Dialect.splitStatements(script)
    assert(stmts.length == 3)
    assert(stmts.head.contains("'x;y'"))
    // the line comment (with its ';') attaches to the following statement
    assert(stmts(1).endsWith("SELECT * FROM a"))
    assert(stmts(1).startsWith("--"))
  }

  test("splitStatements: a block comment opening with /*/ stays open") {
    // the star of the opener never closes the comment (maskQuoted's rule)
    val stmts = Dialect.splitStatements("SELECT 1 /*/ ; */ AS a; SELECT 2")
    assert(stmts == List("SELECT 1 /*/ ; */ AS a", "SELECT 2"))
  }

  test("double-quoted names become backticked identifiers everywhere") {
    assert(Dialect.rewrite("""select "t1"."c" from "t1"""") ==
      "select `t1`.`c` from `t1`")
  }

  test("single-quoted names are identifiers only in table position") {
    val in = """CREATE VIEW 'out-table.csv' AS SELECT 'lit' AS v FROM 'days.csv'"""
    val out = Dialect.rewrite(in)
    assert(out.contains("`out_table_csv`"))
    assert(out.contains("'lit'"))           // string literal untouched
    assert(out.contains("FROM `days_csv`"))
  }

  test("::VARCHAR becomes ::STRING; integral casts route to duck_icast (r16 rounding)") {
    assert(Dialect.rewrite("SELECT a::VARCHAR, b::INT FROM t") ==
      "SELECT a::STRING, duck_icast(b, 'INT') FROM t")
    // non-integral casts pass through
    assert(Dialect.rewrite("SELECT b::DATE FROM t") ==
      "SELECT b::DATE FROM t")
    // every cast site rewrites, however many the statement has
    val wide = Dialect.rewrite(
      (1 to 300).map(i => s"c$i::INTEGER").mkString("SELECT ", ", ", " FROM t"))
    assert("duck_icast\\(".r.findAllIn(wide).length == 300, wide)
  }

  test("escaped quote inside string literal survives") {
    val s = "SELECT 'it''s fine' FROM t"
    assert(Dialect.rewrite(s) == s)
  }

  test("escaped quote before a table-position identifier stays in sync") {
    val out = Dialect.rewrite("SELECT 'it''s' AS v FROM 'days.csv'")
    assert(out == "SELECT 'it''s' AS v FROM `days_csv`")
  }

  test("double-quoted COLUMN names are backticked verbatim, not sanitized") {
    assert(Dialect.rewrite("""SELECT "my col" FROM t""") == "SELECT `my col` FROM t")
    // table position still sanitizes
    assert(Dialect.rewrite("""SELECT x FROM "my.table"""") == "SELECT x FROM `my_table`")
  }

  test("textual rewrites never touch string literals") {
    val s = "SELECT a::VARCHAR FROM t WHERE note = 'a::VARCHAR b' AND x = '* EXCLUDE ('"
    val out = Dialect.rewrite(s)
    assert(out.contains("a::STRING FROM"))
    assert(out.contains("'a::VARCHAR b'"))
    assert(out.contains("'* EXCLUDE ('"))
  }

  test("date_diff/struct_pack rewrites skip literals and comments") {
    // the function-name rewrites live in the same quote-aware flushPlain
    // as ::VARCHAR — a literal or comment containing the spelling must
    // survive verbatim while live SQL around it still rewrites
    val s = "SELECT date_diff('day', a, b), 'date_diff(' AS lit FROM t -- date_diff(x\n"
    val out = Dialect.rewrite(s)
    assert(out.contains("duck_date_diff('day'"))
    assert(out.contains("'date_diff(' AS lit"))
    assert(out.contains("-- date_diff(x"))
    val sp = "SELECT struct_pack(a := 1), 'struct_pack(b := 2)' AS lit FROM t"
    val outSp = Dialect.rewrite(sp)
    assert(outSp.contains("named_struct('a', 1)"))
    assert(outSp.contains("'struct_pack(b := 2)' AS lit"))
  }

  test("^ and ** power operators lower to power() — never Spark's XOR") {
    def r(s: String) = Dialect.rewrite(s)
    assert(r("SELECT 2^3") == "SELECT power(2, 3)")
    assert(r("SELECT 2 ** 3") == "SELECT power(2, 3)")
    // probed v1.0 precedence: tighter than * (2*3^2=18)
    assert(r("SELECT 2*3^2") == "SELECT 2*power(3, 2)")
    // left-associative (2^3^2=64)
    assert(r("SELECT 2^3^2") == "SELECT power(power(2, 3), 2)")
    // unary minus joins the LEFT operand (probed: -2^2 = 4, unlike Postgres)
    assert(r("SELECT -2^2") == "SELECT power(-2, 2)")
    // power then integer division folds as (2^3)//2 (probed: 4.0)
    assert(r("SELECT 2^3//2") == "SELECT divide(power(2, 3), 2)")
    // calls and casts are one primary
    assert(r("SELECT f(x)^2 FROM t") == "SELECT power(f(x), 2) FROM t")
    assert(r("SELECT x::INT ^ 2 FROM t") ==
      "SELECT power(duck_icast(x, 'INT'), 2) FROM t")
    // literals keep their carets; regex patterns are quoted → untouched
    assert(r("SELECT 'a^b' AS s") == "SELECT 'a^b' AS s")
    assert(r("SELECT regexp_matches(x, '^ab') FROM t")
      .contains("'^ab'"))
    // an unparsable extent goes LOUD (unresolvable name), never XOR
    assert(r("SELECT ^ 2").contains("__graft_power_unparsable"))
    // executed values: DOUBLE result, the probed numbers
    DuckFunctions.register(graft.TestSpark.spark)
    val out = graft.TestSpark.spark.sql(r(
      "SELECT 2*3^2 AS a, 2^3^2 AS b, -2^2 AS c, 2^3//2 AS d, 2**-3 AS e"))
      .collect().head
    assert(out.getDouble(0) == 18.0 && out.getDouble(1) == 64.0 &&
      out.getDouble(2) == 4.0 && out.getDouble(3) == 4.0 &&
      out.getDouble(4) == 0.125)
  }

  test("^@ starts-with, bare FILTER, EXTRACT(epoch), DATE-DATE days (probed v1.0)") {
    DuckFunctions.register(graft.TestSpark.spark)
    def one(q: String) = graft.TestSpark.spark
      .sql(Dialect.rewrite("SELECT " + q + " AS r")).collect().head
    // ^@ maps to startswith, never to the power rewrite
    assert(one("'abc' ^@ 'ab'").getBoolean(0))
    assert(!one("'abc' ^@ 'bc'").getBoolean(0))
    // bare aggregate FILTER (cond) takes Spark's required WHERE; the
    // filter() HOF is untouched (no preceding close-paren)
    assert(Dialect.rewrite("SELECT count(*) FILTER (x > 1) FROM t") ==
      "SELECT count(*) FILTER (WHERE x > 1) FROM t")
    assert(Dialect.rewrite("SELECT count(*) FILTER (WHERE x > 1) FROM t") ==
      "SELECT count(*) FILTER (WHERE x > 1) FROM t")
    assert(Dialect.rewrite("SELECT filter(l, x -> x > 1) FROM t") ==
      "SELECT filter(l, x -> x > 1) FROM t")
    // EXTRACT(epoch FROM ts) -> epoch(): fractional double seconds
    assert(one("EXTRACT(epoch FROM TIMESTAMP '2020-01-01 00:00:30')")
      .getDouble(0) == 1577836830.0)
    // DATE - DATE is BIGINT days via the analyzed-plan rule (Spark's
    // native answer is a day-time interval — a silent type divergence)
    val dd = one("DATE '2020-01-10' - DATE '2020-01-01'")
    assert(dd.getLong(0) == 9L)
    // TIMESTAMP - TIMESTAMP stays an interval (both engines agree)
    val ts = graft.TestSpark.spark.sql(Dialect.rewrite(
      "SELECT TIMESTAMP '2020-01-02 00:00:00' - TIMESTAMP '2020-01-01 00:00:00' AS r"))
    assert(ts.schema.head.dataType.typeName.contains("interval"))
  }

  test("dollar-quoted strings convert to standard literals (probed v1.0)") {
    // basic + embedded single quote doubles
    assert(Dialect.rewrite("SELECT $$it's here$$ AS s") ==
      "SELECT 'it''s here' AS s")
    // tagged form; inner $$ is CONTENT (probed: $tag$a$$b$tag$ = a$$b)
    assert(Dialect.rewrite("SELECT $tag$a$$b$tag$ AS s") ==
      "SELECT 'a$$b' AS s")
    // a ; inside the body must not split the script
    val stmts = Dialect.prepare("SELECT $$a;b$$ AS s; SELECT 2 AS t")
    assert(stmts.length == 2 && stmts.head.contains("'a;b'"))
    // $$ inside an ordinary literal never triggers; PREPARE params pass
    assert(Dialect.rewrite("SELECT '$$' AS s") == "SELECT '$$' AS s")
    assert(Dialect.rewrite("SELECT $1 + 1").contains("$1"))
    // executed value
    val r = graft.TestSpark.spark.sql(Dialect.rewrite(
      "SELECT $$don't; -- stop$$ AS s")).collect().head.getString(0)
    assert(r == "don't; -- stop")
  }

  test("in-paren IGNORE/RESPECT NULLS moves between the call and OVER (probed v1.0)") {
    // (the window key also gains NULLS LAST — the r16 default-null-order
    // mapping; DuckDB sorts null keys last where bare Spark leads ASC
    // with them)
    assert(Dialect.rewrite("SELECT lag(x IGNORE NULLS) OVER (ORDER BY i) FROM t") ==
      "SELECT lag(x) IGNORE NULLS OVER (ORDER BY i NULLS LAST) FROM t")
    assert(Dialect.rewrite("SELECT first_value(x RESPECT NULLS) OVER w FROM t WINDOW w AS (ORDER BY i)")
      .contains(") RESPECT NULLS OVER"))
    // no OVER -> untouched (aggregate args never shift)
    assert(Dialect.rewrite("SELECT f(x IGNORE NULLS) FROM t") ==
      "SELECT f(x IGNORE NULLS) FROM t")
    val out = graft.TestSpark.spark.sql(Dialect.rewrite(
      "SELECT lag(x IGNORE NULLS) OVER (ORDER BY i) AS r FROM " +
        "(VALUES (1,1),(2,CAST(NULL AS INT)),(3,3)) t(i,x) ORDER BY i"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getInt(0)).toSeq
    assert(out == Seq(null, 1, 1))
  }

  test("// integer division lowers to divide() with correct grouping") {
    def r(s: String) = Dialect.rewrite(s)
    assert(r("SELECT 7 // 2") == "SELECT divide(7, 2)")
    // left extent greedily takes the multiplicative chain (left-assoc)
    assert(r("SELECT a * b // c FROM t") == "SELECT divide(a * b, c) FROM t")
    assert(r("SELECT a // b // c FROM t") ==
      "SELECT divide(divide(a, b), c) FROM t")
    // right extent is ONE primary
    assert(r("SELECT a // b * c FROM t") == "SELECT divide(a, b) * c FROM t")
    // additive neighbors stay outside
    assert(r("SELECT a + b // c FROM t") == "SELECT a + divide(b, c) FROM t")
    assert(r("SELECT a - b // 2 FROM t") == "SELECT a - divide(b, 2) FROM t")
    // parens, calls, casts, unary sign
    assert(r("SELECT (a + b) // f(x, y) FROM t") ==
      "SELECT divide((a + b), f(x, y)) FROM t")
    assert(r("SELECT x::INT // 2 FROM t") ==
      "SELECT divide(duck_icast(x, 'INT'), 2) FROM t")
    assert(r("SELECT a // x::DECIMAL(5,2) FROM t") ==
      "SELECT divide(a, x::DECIMAL(5,2)) FROM t")
    assert(r("SELECT -a // 2 FROM t") == "SELECT divide(-a, 2) FROM t")
    assert(r("SELECT CASE WHEN x THEN a // 2 ELSE 0 END FROM t") ==
      "SELECT CASE WHEN x THEN divide(a, 2) ELSE 0 END FROM t")
    // literals and comments keep their slashes
    assert(r("SELECT 'a // b' AS s") == "SELECT 'a // b' AS s")
    assert(r("SELECT a FROM t -- x // y\n") == "SELECT a FROM t -- x // y\n")
    // clause keywords are NOT operands: an unparenthesized CASE end has
    // no scannable left extent — the text passes through WHOLE for
    // Spark's parser to reject loudly, never `divide(END, 2)`
    assert(r("SELECT CASE WHEN x THEN a ELSE b END // 2 FROM t") ==
      "SELECT CASE WHEN x THEN a ELSE b END // 2 FROM t")
  }

  test("~ / SIMILAR TO / GLOB operators lower to full-match functions") {
    def r(s: String) = Dialect.rewrite(s)
    assert(r("SELECT a ~ 'x.*' FROM t") ==
      "SELECT regexp_full_match(a, 'x.*') FROM t")
    assert(r("SELECT a !~ 'x' FROM t") ==
      "SELECT (NOT regexp_full_match(a, 'x')) FROM t")
    assert(r("SELECT a SIMILAR TO 'x' FROM t") ==
      "SELECT regexp_full_match(a, 'x') FROM t")
    assert(r("SELECT a NOT SIMILAR TO 'x' FROM t") ==
      "SELECT (NOT regexp_full_match(a, 'x')) FROM t")
    assert(r("SELECT p GLOB '*.csv' FROM t") ==
      "SELECT duck_glob(p, '*.csv') FROM t")
    assert(r("SELECT p ~~~ '*.csv' FROM t") ==
      "SELECT duck_glob(p, '*.csv') FROM t")
    // left-assoc at the arithmetic level (probed): concat folds into
    // the LEFT operand; the right extent is one primary
    assert(r("SELECT a || b ~ 'x' FROM t") ==
      "SELECT regexp_full_match(a || b, 'x') FROM t")
    // the ~~ LIKE family is owned by the keyword swaps, untouched here
    assert(r("SELECT a ~~ 'x%' FROM t") == "SELECT a  LIKE  'x%' FROM t")
    assert(r("SELECT a ~~* 'x%' FROM t") == "SELECT a  ILIKE  'x%' FROM t")
    // unary bitwise ~ has no left operand and stays (Spark parses it)
    assert(r("SELECT ~5 AS b FROM t") == "SELECT ~5 AS b FROM t")
    assert(r("SELECT '~ stays' AS s") == "SELECT '~ stays' AS s")
    // GLOB the keyword only rewrites INFIX: `FROM glob('*.csv')` is the
    // file-listing TABLE FUNCTION — it becomes a lazy file view (never
    // duck_glob(FROM, …)); the operator spelling still lowers
    val tf = r("SELECT * FROM glob('*.csv')")
    assert(tf.contains("__graft_read_glob_"), tf)
    assert(!tf.toLowerCase.contains("duck_glob"), tf)
  }

  test("~~ operator family becomes LIKE/ILIKE keywords") {
    def r(s: String) = Dialect.rewrite(s)
    assert(r("SELECT a ~~ 'x%' FROM t") == "SELECT a  LIKE  'x%' FROM t")
    assert(r("SELECT a !~~ 'x%' FROM t") == "SELECT a  NOT LIKE  'x%' FROM t")
    assert(r("SELECT a ~~* 'x%' FROM t") == "SELECT a  ILIKE  'x%' FROM t")
    assert(r("SELECT a !~~* 'x%' FROM t") == "SELECT a  NOT ILIKE  'x%' FROM t")
    assert(r("SELECT '~~ stays' AS s") == "SELECT '~~ stays' AS s")
    // a ~~~ whose operand extents did not parse (END is not an operand)
    // must pass through WHOLE — the LIKE swaps refuse an adjacent third
    // tilde rather than decaying it to ` LIKE ~`
    val kept = r("SELECT CASE WHEN x THEN a ELSE b END ~~~ 'p*' FROM t")
    assert(kept.contains("~~~"), kept)
    assert(!kept.contains("LIKE"), kept)
  }

  test("Python-style lambdas (DuckDB >= 1.3) map to the arrow spelling") {
    def r(s: String) = Dialect.rewrite(s)
    assert(r("SELECT list_transform(l, lambda x: x + 1) FROM t") ==
      "SELECT list_transform(l, x ->  x + 1) FROM t")
    assert(r("SELECT list_reduce(l, lambda acc, x: acc + x) FROM t") ==
      "SELECT list_reduce(l, (acc, x) ->  acc + x) FROM t")
    // the word inside a literal stays; `::` casts are not lambda colons
    assert(r("SELECT 'lambda x: keep' AS s") == "SELECT 'lambda x: keep' AS s")
    assert(r("SELECT x::INT FROM t") == "SELECT duck_icast(x, 'INT') FROM t")
  }

  test("lint ignores parens and keywords inside literals") {
    assert(Actions.lint("SELECT ':-)' AS emoji FROM t").isEmpty)
    assert(Actions.lint("SELECT 'PERCENTILE_CONT(' FROM t").isEmpty)
    assert(Actions.lint("SELECT ((1").nonEmpty)
  }

  test("QUALIFY inside a parenthesized view body or CTE is rewritten in its block") {
    val view = Dialect.rewrite(
      "CREATE VIEW v AS (SELECT k, x FROM t QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY x) = 1)")
    assert(!view.toUpperCase.contains("QUALIFY"))
    assert(view.startsWith("CREATE VIEW v AS (SELECT * EXCEPT (__q)"))
    assert(view.endsWith(")"))
    val cte = Dialect.rewrite(
      "WITH c AS (SELECT k FROM t QUALIFY RANK() OVER (ORDER BY k) = 1) SELECT * FROM c")
    assert(!cte.toUpperCase.contains("QUALIFY"))
    assert(cte.startsWith("WITH c AS (SELECT * EXCEPT (__q)"))
    assert(cte.endsWith("SELECT * FROM c"))
  }

  test("DISTINCT ON with LIMIT but no ORDER BY dedups before limiting") {
    val out = Dialect.rewrite("SELECT DISTINCT ON (k) k, v FROM t LIMIT 5")
    assert(!out.toUpperCase.contains("DISTINCT ON"))
    // the generated filter must precede LIMIT so the limit applies after dedup
    assert(out.indexOf("WHERE __q") < out.indexOf("LIMIT 5"))
  }

  test("block comments shield their content from every rewrite and scanner") {
    // QUALIFY / DISTINCT ON / ::VARCHAR / EXCLUDE inside /* */ are not SQL
    val s = "SELECT a /* QUALIFY rank() = 1 */ FROM t /* x::VARCHAR ' ( */ WHERE a > 0"
    assert(Dialect.rewrite(s) == s)
    val d = "SELECT a /* SELECT DISTINCT ON (k) */ FROM t"
    assert(Dialect.rewrite(d) == d)
    // maskQuoted blanks block comments like splitStatements does
    assert(Dialect.maskQuoted("a /* 'lit' QUALIFY */ b") == "a                     b")
    // an apostrophe inside a block comment must not desync quote state:
    // the ::VARCHAR AFTER the comment is live SQL and still rewrites
    val desync = "SELECT a /* it's */ , b::VARCHAR FROM t"
    assert(Dialect.rewrite(desync) == "SELECT a /* it's */ , b::STRING FROM t")
    // a table name after a block comment is still in table position
    assert(Dialect.rewrite("FROM /*c*/ \"x.y\"").contains("`x_y`"))
  }

  test("backtick-quoted identifiers pass through rewrites verbatim") {
    val s = "SELECT `weird::VARCHAR name` FROM t"
    assert(Dialect.rewrite(s) == s)
  }

  test("Names round-trips originals") {
    val v = Names.view("out-table.csv")
    assert(v == "out_table_csv")
    assert(Names.original(v) == "out-table.csv")
  }

  test("frame triage scans only OVER spans: a long statement after `groups` prepares") {
    val sql = "SELECT row_number() OVER (ORDER BY a) AS rn FROM t WHERE groups = 1 AND " +
      (1 to 1000).map(i => s"c$i = $i").mkString(" AND ")
    val out = Dialect.prepare(sql)
    assert(out.length == 1 && out.head.endsWith("c1000 = 1000"), out)
  }
}
