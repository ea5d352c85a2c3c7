package graft.component

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property coverage for the dialect layer: the splitter/rewriter must be
  * total (never throw) and structure-preserving on arbitrary input.
  * (Plain scalacheck generators sampled deterministically — the
  * scalatest/scalacheck bridge artifact isn't on the offline classpath.) */
class DialectPropSpec extends AnyFunSuite {

  private val sqlish: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumStr.map(_.take(8)),
    Gen.oneOf("SELECT", "FROM", "JOIN", "WHERE", "'lit'", "\"q\"", "';'",
      "--c\n", "/*b*/", ";", "(", ")", "::INT", "''", " ",
      // round-11 trigger characters: brackets, braces, colons, and the
      // keyword heads of the new rewrites — rewrite must stay total on
      // any garbage arrangement of them
      "[", "]", "{", "}", ":", ",", "FOR", "IN", "IF", "REPLACE",
      "COLUMNS(", "DESCRIBE", "SUMMARIZE", "generate_series(", "range(",
      "USING", "DROP",
      // round-12 trigger tokens: unnest/positional/sample/copy/dot-call —
      // every new rewrite must stay total on garbage arrangements
      "unnest(", "POSITIONAL", "SAMPLE", "COPY", "TO", ".", ".f(",
      "ROWS", "%", "PERCENT", "REPEATABLE(",
      // round-13 trigger tokens: operator spellings, the match family,
      // sequences/indexes/upserts — the extent scanners must stay total
      // (and terminate) on any garbage arrangement of their triggers
      "//", "~~", "~", "!~", "~~~", "~~*", "GLOB", "SIMILAR", "NOT",
      "SEQUENCE", "nextval(", "ON", "CONFLICT", "DO", "UPDATE", "SET",
      "EXCLUDED.", "TRUNCATE", "INDEX", "UNIQUE", "EXPORT", "IMPORT",
      "DATABASE", "ATTACH", "+", "-", "*", "/", "||", "'a.csv'",
      // round-14 trigger tokens: RETURNING, lambdas, star filters/RENAME,
      // frame triage, MERGE, glob() — the splitters, extent scanners, and
      // star matchers must stay total on garbage arrangements
      "RETURNING", "lambda", ":", "lambda x:", "LIKE", "ILIKE", "RENAME",
      "MERGE", "INTO", "GROUPS", "EXCLUDE", "TIES", "OTHERS", "OVER",
      "glob(", "uuidv7(", "ALTER", "PRIMARY", "KEY", "FILL",
      // the shared operand scanner and lowering loop: every operator
      // level, escaped literals, keyword operands, call-shaped keywords
      "->", "->>", "^", "**", "^@", "'it''s'", "END", "left(")))
    .map(_.mkString(" "))

  private def samples(g: Gen[String], n: Int): Seq[String] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("splitStatements and rewrite are total and only drop separators/space") {
    for (s <- samples(sqlish, 500)) {
      val parts = Dialect.splitStatements(s)
      parts.foreach(Dialect.rewrite) // must not throw
      val joined = parts.mkString.filterNot(c => c == ';' || c.isWhitespace)
      val orig = s.filterNot(c => c == ';' || c.isWhitespace)
      assert(joined.length <= orig.length, s"input: $s")
    }
  }

  test("rewrite is idempotent on statements without quoted identifiers") {
    for (s <- samples(Gen.alphaNumStr, 300)) {
      val once = Dialect.rewrite(s)
      assert(Dialect.rewrite(once) == once, s"input: $s")
    }
  }

  test("string literals survive rewrite verbatim in non-table position") {
    for (lit <- samples(Gen.alphaNumStr.map(_.take(12)), 300)) {
      val stmt = s"SELECT '$lit' AS v WHERE x = '$lit'"
      assert(Dialect.rewrite(stmt) == stmt, s"literal: $lit")
    }
  }

  test("round-10 statement keywords inside literals never trigger rewrites") {
    // every statement-level trigger added this round, embedded in a
    // string literal: the masked matchers must leave them verbatim
    Macros.clear()
    val traps = Seq(
      "PRAGMA threads=4", "SET x TO 4", "UNION ALL BY NAME",
      "COPY t TO 'f.csv'", "read_csv('x.csv')", "CREATE MACRO m(a) AS a",
      "FROM t SELECT a", "INSERT INTO t BY NAME",
      // round-11 triggers
      "* REPLACE (a AS b)", "COLUMNS(*)", "[1, 2, 3]", "l[4]",
      "FROM generate_series(1, 5)", "x FOR x IN y", "DROP TABLE t")
    for (trap <- traps) {
      val stmt = s"SELECT 'use $trap here' AS hint FROM real_table"
      val out = Dialect.rewrite(Dialect.fromFirst(stmt))
      assert(out.contains(s"'use $trap here'"), s"trap: $trap → $out")
      assert(Body.parse(stmt) == Body.Plain(stmt), s"body trap: $trap")
    }
  }

  test("fromFirst and Body.parse are total on arbitrary input") {
    for (s <- samples(sqlish, 500)) {
      Dialect.fromFirst(s)      // must not throw
      Body.parse(s)             // the body model is total
      Macros.expand(s)          // must not throw (no defs registered)
      Stmt.parse(s)             // the statement model is total too
    }
  }

  test("round-12 rewrites are identity when their trigger is absent") {
    // no `.name(` → DotCall identity; no `unnest(` → UnnestSql identity
    // (beyond totality: these rewrites must never perturb unrelated SQL)
    for (s <- samples(sqlish, 400)) {
      if (!"(?i)\\.\\s*[a-z_][a-z0-9_]*\\s*\\(".r
            .findFirstIn(Dialect.maskQuoted(s)).isDefined)
        assert(DotCall.rewrite(s) == s, s"DotCall perturbed: $s")
      if (!"(?i)\\bunnest\\s*\\(".r
            .findFirstIn(Dialect.maskQuoted(s)).isDefined)
        assert(UnnestSql.rewrite(s) == s, s"UnnestSql perturbed: $s")
      if (!"(?i)\\bPOSITIONAL\\s+JOIN\\b".r
            .findFirstIn(Dialect.maskQuoted(s)).isDefined)
        assert(!Body.parse(s).isInstanceOf[Body.Positional], s"Positional matched: $s")
    }
  }

  test("round-12 statement keywords inside literals never trigger rewrites") {
    val traps = Seq(
      "unnest([1,2])", "a POSITIONAL JOIN b", "USING SAMPLE 10%",
      "COPY t FROM 'f.csv'", "s.lower().len()", "USING SAMPLE 5 ROWS")
    for (trap <- traps) {
      val stmt = s"SELECT 'use $trap here' AS hint FROM real_table"
      val out = Dialect.rewrite(Dialect.fromFirst(stmt))
      assert(out.contains(s"'use $trap here'"), s"trap: $trap → $out")
    }
  }
}
