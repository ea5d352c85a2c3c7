package graft.component

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

/** DuckDB `POSITIONAL JOIN` statement support — pair two relations row
  * by row, in order, NULL-padding the shorter side. Legal in the
  * reference because user SQL goes to its engine verbatim
  * (`/root/reference/src/query_orchestrator.py:351`). Spark's grammar
  * has no POSITIONAL token; the engine core is
  * [[graft.ops.Positional]] (pinned-layout `zipWithIndex` + one dense
  * index join), and this front-end maps the canonical statement shape
  * onto it:
  * {{{
  *   SELECT <selList>
  *   FROM <left> [alias] POSITIONAL JOIN <right> [alias]
  *   [WHERE ...] [GROUP BY ...] [ORDER BY ...] [LIMIT n]
  * }}}
  * Sources are table names or parenthesized subqueries (an ORDER BY'd
  * subquery's order is the zip order, as in DuckDB). Trailing clauses
  * apply after the join, over the zipped columns — left's then right's,
  * DuckDB's output order. Side aliases are accepted; their qualified
  * references in the select list / tail are resolved by prefix-stripping
  * (the zipped relation is one flat view). Chained positional joins and
  * mixing with other join types are rejected with a clear validation
  * message ([[unsupportedForm]]) rather than an opaque parse error.
  *
  * For session-free static analysis, [[stub]] rewrites the keyword pair
  * to CROSS JOIN: parseable by Catalyst with the identical dependency
  * set. */
object PositionalSql {

  private val posJoinRe = "(?is)\\bPOSITIONAL\\s+JOIN\\b".r
  private val viewSeq = new AtomicInteger(0)

  final case class Parsed(selList: String, leftSrc: String,
                          leftAlias: Option[String], rightSrc: String,
                          rightAlias: Option[String], tail: String)

  def has(stmt: String): Boolean =
    posJoinRe.findFirstIn(Dialect.maskQuoted(stmt)).isDefined

  /** Static-analysis twin: CROSS JOIN parses and carries the same deps. */
  def stub(stmt: String): String = {
    if (!has(stmt)) return stmt
    val masked = Dialect.maskQuoted(stmt)
    val sb = new StringBuilder
    var last = 0
    for (m <- posJoinRe.findAllMatchIn(masked)) {
      sb.append(stmt.substring(last, m.start)).append("CROSS JOIN")
      last = m.end
    }
    sb.append(stmt.substring(last))
    sb.toString
  }

  /** A clear message for shapes the executor cannot run (the stub would
    * otherwise let them validate cleanly and fail opaquely later). */
  def unsupportedForm(stmt: String): Option[String] = {
    val masked = Dialect.maskQuoted(stmt)
    val n = posJoinRe.findAllMatchIn(masked).size
    if (n == 0) None
    else if (n > 1)
      Some("chained POSITIONAL JOINs are not supported — zip two relations " +
        "per statement (nest via a subquery or temp table)")
    else if (parse(stmt).isEmpty)
      Some("unsupported POSITIONAL JOIN form — supported: SELECT ... FROM " +
        "<table|(subquery)> [alias] POSITIONAL JOIN <table|(subquery)> " +
        "[alias] [WHERE/GROUP BY/ORDER BY/LIMIT ...]")
    else None
  }

  def parse(stmt0: String): Option[Parsed] = {
    val stmt = stmt0.trim.stripSuffix(";")
    val masked = Dialect.maskQuoted(stmt)
    val dep = Dialect.depths(masked)
    val pj = posJoinRe.findAllMatchIn(masked).filter(m => dep(m.start) == 0).toList
    val m = pj match {
      case one :: Nil => one
      case _ => return None
    }
    if (!"(?is)^\\s*SELECT\\b".r.findFirstIn(masked).isDefined) return None
    val fromM = "(?i)\\bFROM\\b".r.findAllMatchIn(masked)
      .find(f => dep(f.start) == 0 && f.start < m.start).getOrElse(return None)
    val selList = stmt.substring(
      masked.indexWhere(!_.isWhitespace) + "SELECT".length, fromM.start).trim
    val (leftSrc, leftAlias, lEnd) =
      parseRel(stmt, masked, fromM.end).getOrElse(return None)
    if (stmt.substring(lEnd, m.start).trim.nonEmpty) return None
    val (rightSrc, rightAlias, rEnd) =
      parseRel(stmt, masked, m.end).getOrElse(return None)
    val tail = stmt.substring(rEnd).trim
    if (tail.nonEmpty &&
        !"(?is)^(WHERE|GROUP\\s+BY|HAVING|QUALIFY|ORDER\\s+BY|LIMIT|OFFSET)\\b".r
          .findFirstIn(tail).isDefined) return None
    Some(Parsed(selList, leftSrc, leftAlias, rightSrc, rightAlias, tail))
  }

  /** One relation at `from`: `(subquery)` or a (possibly backticked)
    * name, then an optional non-keyword alias. Returns (source text,
    * alias, end index). */
  private def parseRel(stmt: String, masked: String,
                       from: Int): Option[(String, Option[String], Int)] = {
    var i = from
    while (i < stmt.length && stmt.charAt(i).isWhitespace) i += 1
    if (i >= stmt.length) return None
    val (src, end) =
      if (stmt.charAt(i) == '(') {
        val close = Dialect.matchingParen(masked, i)
        if (close < 0) return None
        (stmt.substring(i, close + 1), close + 1)
      } else if (stmt.charAt(i) == '`') {
        val close = stmt.indexOf('`', i + 1)
        if (close < 0) return None
        (stmt.substring(i, close + 1), close + 1)
      } else {
        val m = "^[A-Za-z_][A-Za-z0-9_.]*".r
          .findFirstIn(stmt.substring(i)).getOrElse(return None)
        (m, i + m.length)
      }
    // optional alias
    val aliasM = "(?is)^\\s*(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*)".r
      .findFirstMatchIn(stmt.substring(end))
    aliasM match {
      case Some(a) if !stopWord(a.group(1).toLowerCase) =>
        Some((src, Some(a.group(1)), end + a.end))
      case _ => Some((src, None, end))
    }
  }

  private val stopWord = Set(
    "positional", "where", "group", "having", "qualify", "order", "limit",
    "offset", "union", "intersect", "except", "join", "inner", "left",
    "right", "full", "cross", "natural", "semi", "anti", "on", "using",
    "select", "from", "lateral", "window").contains _

  /** Execute a recognized statement; None if the text is not a
    * positional join. */
  def df(spark: SparkSession, stmt: String): Option[DataFrame] =
    parse(stmt).map { p =>
      val zipped = graft.ops.Positional.zip(
        relDf(spark, p.leftSrc), relDf(spark, p.rightSrc))
      val view = s"__positional_${viewSeq.incrementAndGet()}"
      zipped.createOrReplaceTempView(view)
      val body = stripAliases(
        s"SELECT ${p.selList} FROM $view ${p.tail}",
        Seq(p.leftAlias, p.rightAlias).flatten)
      // the view stays registered (unique name, session-scoped): the
      // returned DataFrame's lazy plan reads through it
      spark.sql(body)
    }

  private def relDf(spark: SparkSession, src: String): DataFrame = {
    val t = src.trim
    if (t.startsWith("(")) // run the inner query directly: its ORDER BY is
      spark.sql(t.substring(1, t.length - 1)) // the plan root → order kept
    else spark.sql(s"SELECT * FROM $t")
  }

  /** `alias.col` → `col` outside quotes (the zipped view is one flat
    * relation). */
  private def stripAliases(sql: String, aliases: Seq[String]): String = {
    if (aliases.isEmpty) return sql
    val masked = Dialect.maskQuoted(sql)
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val hit = aliases.find { a =>
        val fl = a.length
        masked.regionMatches(true, i, a, 0, fl) &&
          i + fl < sql.length && sql.charAt(i + fl) == '.' &&
          (i == 0 || !(sql.charAt(i - 1).isLetterOrDigit || sql.charAt(i - 1) == '_'))
      }
      hit match {
        case Some(a) => i += a.length + 1 // drop `alias.`
        case None    => sb.append(sql.charAt(i)); i += 1
      }
    }
    sb.toString
  }

}
