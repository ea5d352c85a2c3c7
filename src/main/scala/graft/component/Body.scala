package graft.component

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import graft.component.{Pivot => PivotSql}

/** One query body, classified once: which of the DuckDB-only body forms
  * it is, with the parse record its execution and its dependencies both
  * read. The body-level twin of [[Stmt]]: the reference hands every body
  * to DuckDB verbatim (`src/query_orchestrator.py:351`), so one engine
  * decides what a body is; here [[Body.parse]] decides it, and four
  * readers match on the result:
  *
  *  - [[Body.run]] runs it, for the Executor and for every view read;
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

  /** Run one classified body: plain Spark SQL through the session, each
    * DuckDB-only form through its module. A star form expands against
    * the analyzed schema and the expansion runs as a body of its own. */
  def run(spark: SparkSession, body: Body): DataFrame = {
    def df(text: String): DataFrame = run(spark, parse(text))
    body match {
      case Plain(sql) => spark.sql(sql)
      case Pivot(p) => PivotSql.df(spark, p)
      case AsOf(p) => AsOfSql.df(spark, p)
      case Positional(p) => PositionalSql.df(spark, p)
      case UnionByName(p, legs) => UnionByNameSql.df(p, legs.map(run(spark, _)))
      case Describe(p, query) => DescribeSql.df(spark, p, query.map(run(spark, _)))
      case Columns(sql) => df(expanded("COLUMNS(...)", ColumnsSql.expand(sql, df)))
      case StarRename(sql) => df(expanded("* RENAME", StarRenameSql.expand(sql, df)))
      case QualifiedLike(sql) =>
        df(expanded("t.* LIKE", StarReplaceSql.expandQualifiedLike(sql, df)))
      // percent LIMIT (probed v1.0: FLOOR(total · n/100) rows after the
      // offset) — one count job to learn the total, then the ordinary
      // offset+limit over the same plan
      case LimitPercent(inner, pct, off) =>
        val in = run(spark, inner)
        val n = math.floor(in.count() * pct / 100.0).toInt
        (if (off > 0) in.offset(off.toInt) else in).limit(n)
      case StarReplace(sql) =>
        // except-form computes the values; the strip-form's ANALYZED
        // schema (never executed) gives DuckDB's column order back
        val out = df(StarReplaceSql.except(sql))
        val order = scala.util.Try(df(StarReplaceSql.strip(sql)).schema.map(_.name)).toOption
        order match {
          case Some(names)
              if names.map(_.toLowerCase).distinct.length == names.length &&
                names.map(_.toLowerCase).sorted ==
                  out.columns.map(_.toLowerCase).sorted.toSeq =>
            out.select(names.map(n => col(s"`$n`")): _*)
          case _ => out // duplicate/mismatched names: keep except order
        }
      case Unsupported(message) => throw new UnsupportedBody(message)
    }
  }

  private def expanded(form: String, text: Option[String]): String =
    text.getOrElse(throw new UnsupportedBody(
      s"$form expands only in the select list or WHERE clause of a top-level SELECT ... FROM block"))

  /** The session table function every view reads through:
    * `__graft_body('<body>', '<columns at CREATE, as schema JSON>')`
    * runs the body at each analysis of a statement that reads the view,
    * so a view binds late, as a DuckDB view does: each read sees its
    * sources' current state, and a read fails once a source is gone or
    * the body's column types or names (nullability aside) differ from
    * the recorded ones — the latter with DuckDB's binder message. */
  private val viewFunction = "__graft_body"

  /** Bind [[viewFunction]] on `spark`; it reads nothing but the session
    * and its two literal arguments, so executors share it. */
  def register(spark: SparkSession): Unit =
    GraftSqlBridge.registerTableFunction(spark, viewFunction, args => {
      val Seq(text, columns) = args.map(_.eval().toString)
      val out = viewOf(spark, text)
      contentCheck(DataType.fromJson(columns).asInstanceOf[StructType], out.schema)
      GraftSqlBridge.logicalPlan(out)
    })

  /** Register `name` as a late-bound view over `text`. The body runs
    * once here: one that does not analyze fails the CREATE, and its
    * columns become the view's recorded ones. */
  def createView(spark: SparkSession, name: String, text: String): Unit = {
    // backslash is an escape in a Spark SQL string literal
    def literal(s: String) = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val out = viewOf(spark, text)
    GraftSqlBridge.createSqlTempView(spark, name,
      s"SELECT * FROM $viewFunction(${literal(text)}, ${literal(out.schema.json)})", out, Seq(viewFunction))
  }

  /** A body's rows as its view reads them: a repeated column name `k`
    * (case aside) reads as `k_1`, `k_2`, ..., as in a DuckDB view. */
  private def viewOf(spark: SparkSession, text: String): DataFrame = {
    val out = run(spark, parse(text))
    val seen = scala.collection.mutable.Map[String, Int]()
    val names = out.columns.map { c =>
      val n = seen.getOrElse(c.toLowerCase, 0)
      seen(c.toLowerCase) = n + 1
      if (n == 0) c else s"${c}_$n"
    }
    if (names.sameElements(out.columns)) out else out.toDF(names.toIndexedSeq: _*)
  }

  private def contentCheck(recorded: StructType, now: StructType): Unit =
    Seq[(String, StructType => Seq[String])]("types" -> (_.map(_.dataType.sql)), "names" -> (_.map(_.name)))
      .find { case (_, show) => show(recorded) != show(now) }
      .foreach { case (what, show) =>
        throw new UserException(s"Binder Error: Contents of view were altered: $what don't match! " +
          s"Expected ${show(recorded).mkString("[", ", ", "]")}, but found " +
          s"${show(now).mkString("[", ", ", "]")} instead")
      }
}
