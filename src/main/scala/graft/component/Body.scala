package graft.component

import scala.util.control.NonFatal

import graft.component.{Pivot => PivotSql}

/** One query body, classified once: which of the DuckDB-only body forms
  * it is, with the parse record its execution and its dependencies both
  * read. The body-level twin of [[Stmt]]: the reference hands every body
  * to DuckDB verbatim (`src/query_orchestrator.py:351`), so one engine
  * decides what a body is; here [[Body.parse]] decides it, and four
  * readers match on the result:
  *
  *  - `Executor.bodyDf` runs it;
  *  - [[SqlAnalyzer]] reads its dependencies: a [[Body.Plain]] body
  *    through Catalyst's parser, every other variant through its
  *    [[Body.parts]];
  *  - [[Stmt.parse]] calls a bare statement an `EngineQuery` exactly when
  *    its body is not [[Body.Plain]];
  *  - [[Actions.syntaxCheck]] lists an [[Body.Unsupported]] body's message,
  *    which a run throws verbatim.
  */
sealed trait Body {
  /** The bodies whose reads are this body's dependencies. */
  def parts: Seq[Body] = Nil
}

object Body {

  /** `PIVOT <src> ON <col> USING <agg> [GROUP BY ...]`. */
  final case class Pivot(p: PivotSql.Parsed) extends Body {
    override def parts = Seq(source(p.src))
  }
  /** `SELECT ... FROM l ASOF [LEFT] JOIN r ON|USING ...`. */
  final case class AsOf(p: AsOfSql.Parsed) extends Body {
    override def parts = Seq(source(p.leftSrc), source(p.rightSrc))
  }
  /** `SELECT ... FROM l POSITIONAL JOIN r [tail]`. */
  final case class Positional(p: PositionalSql.Parsed) extends Body {
    override def parts = Seq(source(p.leftSrc), source(p.rightSrc))
  }
  /** Depth-0 set operations with at least one `UNION [ALL] BY NAME`;
    * one leg per segment, in order. */
  final case class UnionByName(p: UnionByNameSql.Parsed, legs: Seq[Body]) extends Body {
    override def parts = legs
  }
  /** `DESCRIBE` / `SUMMARIZE` of a table (`query` empty) or a query. */
  final case class Describe(p: DescribeSql.Parsed, query: Option[Body]) extends Body {
    override def parts = Seq(query.getOrElse(source(p.target)))
  }
  /** A `COLUMNS(...)` star expression; its stand-in reads `1` for each
    * call (same FROM clause, so the same dependencies). */
  final case class Columns(sql: String) extends Body {
    override def parts = Seq(standIn(sql) { masked =>
      ColumnsSql.callRe.findFirstMatchIn(masked).flatMap { m =>
        val close = Dialect.matchingParen(masked, m.end - 1)
        if (close < 0) None else Some((m.start, close + 1, "1"))
      }
    })
  }
  /** `* [EXCEPT (...)] RENAME (...)`; its stand-in reads the bare `*`. */
  final case class StarRename(sql: String) extends Body {
    override def parts = Seq(standIn(sql) { masked =>
      StarRenameSql.occ(sql, masked).map { case (star, _, _, close) => (star, close + 1, "*") }
    })
  }
  /** `qual.* [NOT] LIKE 'pat'`; its stand-in reads the bare `qual.*`. */
  final case class QualifiedLike(sql: String) extends Body {
    override def parts = Seq(standIn(sql) { masked =>
      StarReplaceSql.findQualifiedLike(sql, masked).map(q => (q.starIdx + 1, q.qEnd, ""))
    })
  }
  /** A depth-0 trailing `LIMIT n% [OFFSET m]` over `inner`. */
  final case class LimitPercent(inner: Body, percent: Double, offset: Long) extends Body {
    override def parts = Seq(inner)
  }
  /** `* [EXCEPT (...)] REPLACE (...)`; its stand-in is the except-form
    * the executor computes the values with. */
  final case class StarReplace(sql: String) extends Body {
    override def parts = Seq(parse(StarReplaceSql.except(sql)))
  }
  /** A body no variant runs: an ASOF or POSITIONAL JOIN outside the
    * supported shapes (nested in a subquery or CTE included), or a form
    * whose parser refused it. */
  final case class Unsupported(message: String) extends Body
  /** Spark SQL as written. */
  final case class Plain(sql: String) extends Body

  /** What reading or running an [[Unsupported]] body throws. */
  final class UnsupportedBody(message: String) extends UserException(message)

  private val fromFirst = "(?is)^FROM\\b".r
  private val asofJoin = "(?is)\\bASOF\\s+(?:LEFT\\s+)?JOIN\\b".r
  private val positionalJoin = "(?is)\\bPOSITIONAL\\s+JOIN\\b".r

  private val asofMessage =
    "unsupported ASOF JOIN form: supported shapes are SELECT ... FROM l " +
      "ASOF [LEFT] JOIN r ON <equalities AND one >=/<= bound> and " +
      "... ASOF [LEFT] JOIN r USING (keys..., ts) " +
      "[WHERE ...] [ORDER BY ...] [LIMIT n] as a whole query body; " +
      "GROUP BY/HAVING/QUALIFY after an ASOF join, and an ASOF join " +
      "inside a subquery or CTE, are not supported"
  private val positionalMessage =
    "unsupported POSITIONAL JOIN form — supported: SELECT ... FROM " +
      "<table|(subquery)> [alias] POSITIONAL JOIN <table|(subquery)> " +
      "[alias] [WHERE/GROUP BY/ORDER BY/LIMIT ...] as a whole query body"
  private val chainedMessage =
    "chained POSITIONAL JOINs are not supported — zip two relations " +
      "per statement (nest via a subquery or temp table)"

  /** Classify one query body. Pure and total: a form parser's refusal is
    * [[Unsupported]]. The text is normalized first (FROM-first order,
    * surrounding whitespace, a trailing `;` and fully wrapping
    * parentheses dropped) and masked once; the form parsers read that
    * mask, in the order the executor has always tried them. */
  def parse(text: String): Body = {
    var sql = Dialect.stripLeadingComments(text).trim
    var masked = Dialect.maskQuoted(sql)
    if (fromFirst.findFirstIn(masked).isDefined) {
      sql = Dialect.fromFirst(sql).trim
      masked = Dialect.maskQuoted(sql)
    }
    def cut(from: Int, to: Int): Unit = {
      val s = sql.substring(from, to)
      val a = s.indexWhere(!_.isWhitespace) max 0
      val b = s.lastIndexWhere(!_.isWhitespace) + 1
      sql = s.substring(a, b max a)
      masked = masked.substring(from, to).substring(a, b max a)
    }
    if (masked.endsWith(";")) cut(0, sql.length - 1)
    while (sql.startsWith("(") && Dialect.matchingParen(masked, 0) == sql.length - 1)
      cut(1, sql.length - 1)
    try classify(sql, masked)
    catch { case NonFatal(e) => Unsupported(Option(e.getMessage).getOrElse(e.toString)) }
  }

  private def classify(sql: String, masked: String): Body =
    PivotSql.parse(sql, masked).map(Pivot)
      .orElse(AsOfSql.parse(sql, masked).map(AsOf))
      .orElse(PositionalSql.parse(sql, masked).map(Positional))
      .orElse(UnionByNameSql.parse(sql, masked).map(u => UnionByName(u, u.segments.map(parse))))
      .orElse(DescribeSql.parse(sql).map(d => Describe(d, d.query.map(parse))))
      .orElse(if (ColumnsSql.has(masked)) Some(Columns(sql)) else None)
      .orElse(if (StarRenameSql.has(sql, masked)) Some(StarRename(sql)) else None)
      .orElse(if (StarReplaceSql.hasQualifiedLike(sql, masked)) Some(QualifiedLike(sql)) else None)
      .orElse(Dialect.parseLimitPercent(sql, masked).map { case (inner, pct, off) =>
        LimitPercent(parse(inner), pct, off) })
      .orElse(if (StarReplaceSql.has(sql, masked)) Some(StarReplace(sql)) else None)
      .getOrElse {
        if (asofJoin.findFirstIn(masked).isDefined) Unsupported(asofMessage)
        else positionalJoin.findAllIn(masked).size match {
          case 0 => Plain(sql)
          case 1 => Unsupported(positionalMessage)
          case _ => Unsupported(chainedMessage)
        }
      }

  /** The body that reads one FROM source (a name or a parenthesized
    * query), as the form executors read it. */
  private def source(src: String): Body = parse(s"SELECT * FROM $src")

  /** A star variant's stand-in: `site` finds its first occurrence in the
    * mask as (from, to, replacement), and the rest is classified again,
    * the way the executor re-enters `bodyDf` on the expansion. An
    * occurrence it cannot find (unbalanced) leaves the text to Catalyst,
    * which rejects it as the run would. */
  private def standIn(sql: String)(site: String => Option[(Int, Int, String)]): Body =
    site(Dialect.maskQuoted(sql)) match {
      case Some((from, to, text)) => parse(sql.substring(0, from) + text + sql.substring(to))
      case None => Plain(sql)
    }
}
