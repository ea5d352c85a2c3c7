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
  * (the zipped relation is one flat view), and so are those of an
  * unaliased source's own name (`l.k` for `FROM l`). Chained positional
  * joins and mixing with other join types make the body
  * [[Body.Unsupported]], a clear message rather than an opaque parse
  * error. */
object PositionalSql {

  private val posJoinRe = "(?is)\\bPOSITIONAL\\s+JOIN\\b".r
  private val viewSeq = new AtomicInteger(0)

  final case class Parsed(selList: String, leftSrc: String,
                          leftAlias: Option[String], rightSrc: String,
                          rightAlias: Option[String], tail: String)

  /** Parse a normalized body ([[Body.parse]]) and its mask as one
    * supported positional join. */
  private[component] def parse(stmt: String, masked: String): Option[Parsed] = {
    val hits = posJoinRe.findAllMatchIn(masked).toList
    if (hits.isEmpty || !"(?is)^\\s*SELECT\\b".r.findFirstIn(masked).isDefined) return None
    val dep = Dialect.depths(masked)
    val m = hits.filter(m => dep(m.start) == 0) match {
      case one :: Nil => one
      case _ => return None
    }
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
    Body.parse(stmt) match {
      case Body.Positional(p) => Some(df(spark, p))
      case _ => None
    }

  /** Run a parsed positional join. */
  def df(spark: SparkSession, p: Parsed): DataFrame = {
    val zipped = graft.ops.Positional.zip(
      relDf(spark, p.leftSrc), relDf(spark, p.rightSrc))
    val view = s"__positional_${viewSeq.incrementAndGet()}"
    zipped.createOrReplaceTempView(view)
    // an unaliased bare table name qualifies its own columns (`l.k`)
    def qualifier(src: String, alias: Option[String]) =
      alias.orElse(Some(src).filter(_.matches("[A-Za-z_][A-Za-z0-9_]*")))
    val body = stripAliases(
      s"SELECT ${p.selList} FROM $view ${p.tail}",
      Seq(qualifier(p.leftSrc, p.leftAlias), qualifier(p.rightSrc, p.rightAlias)).flatten)
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

  /** `qualifier.col` → `col` outside quotes (the zipped view is one flat
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
