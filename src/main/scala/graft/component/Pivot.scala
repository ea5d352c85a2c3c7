package graft.component

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DuckDB's simplified `PIVOT` / `UNPIVOT` statements
  * (reference scope: the component delegates ALL DuckDB SQL verbatim,
  * `src/query_orchestrator.py:351`; these two are the most common
  * statements a user writes that have no direct Spark SQL spelling).
  *
  * Grammar supported (the documented simplified forms):
  * {{{
  *   PIVOT <src> ON <col> USING <fn>(<arg>) [GROUP BY <cols>]
  *   UNPIVOT <src> ON c1, c2, ... INTO NAME <n> VALUE <v>
  * }}}
  * `<src>` is a table/view name or a parenthesized subquery.
  *
  * UNPIVOT is a purely textual rewrite to Spark's own UNPIVOT clause
  * (both engines drop NULL cells by default — semantics line up).
  *
  * PIVOT is DYNAMIC: the output columns are the pivot column's distinct
  * values at execution time, so no static rewrite exists. [[pivotDf]]
  * runs it as `df.groupBy(...).pivot(col).agg(...)` — Spark computes the
  * distinct values itself (one extra job), sorts them ascending like
  * DuckDB, names the columns by value text like DuckDB, and caps the
  * width at `spark.sql.pivotMaxValues` (default 10k — a pivot's width
  * must be driver-bounded in ANY engine; the cap turns a runaway pivot
  * into a clear error instead of an OOM). With no GROUP BY clause the
  * implicit grouping is every source column not pivoted on and not
  * referenced by the aggregate — DuckDB's rule.
  *
  * [[Body.parse]] recognizes the form; its dependencies are the source's. */
object Pivot {

  final case class Parsed(
      src: String, on: String, aggFn: String, aggArg: String,
      groupCols: Option[Seq[String]])

  /** First depth-0 occurrence of keyword `kw` at/after `from`, or -1. */
  private def findKw(masked: String, dep: Array[Int], kw: String, from: Int): Int =
    ("(?i)\\b" + kw + "\\b").r.findAllMatchIn(masked).map(_.start)
      .find(p => p >= from && dep(p) == 0).getOrElse(-1)

  /** Parse a normalized body ([[Body.parse]]) and its mask as a
    * simplified PIVOT. Returns None when the body is anything else. */
  private[component] def parse(stmt: String, masked: String): Option[Parsed] = {
    val afterKw = "(?is)^\\s*PIVOT\\b".r.findFirstMatchIn(masked).getOrElse(return None).end
    val dep = Dialect.depths(masked)
    // source: identifier or parenthesized subquery
    var i = afterKw
    while (i < stmt.length && stmt.charAt(i).isWhitespace) i += 1
    val srcEnd =
      if (i < stmt.length && stmt.charAt(i) == '(') {
        val close = Dialect.matchingParen(masked, i)
        if (close < 0) return None
        close + 1
      } else {
        var j = i
        while (j < stmt.length && !stmt.charAt(j).isWhitespace) j += 1
        j
      }
    val src = stmt.substring(i, srcEnd).trim
    if (src.isEmpty) return None
    val onPos = findKw(masked, dep, "ON", srcEnd)
    val usingPos = findKw(masked, dep, "USING", srcEnd)
    if (onPos < 0 || usingPos < 0 || usingPos < onPos) return None
    val on = stmt.substring(onPos + 2, usingPos).trim
    val groupPos = findKw(masked, dep, "GROUP", usingPos)
    val aggSeg = (if (groupPos < 0) stmt.substring(usingPos + 5)
                  else stmt.substring(usingPos + 5, groupPos)).trim
    val aggM = "(?is)^([A-Za-z_][A-Za-z0-9_]*)\\s*\\((.*)\\)\\s*$".r
      .findFirstMatchIn(aggSeg).getOrElse(return None)
    val groupCols = if (groupPos < 0) None else {
      val byM = "(?is)^GROUP\\s+BY\\b".r
        .findFirstMatchIn(stmt.substring(groupPos)).getOrElse(return None)
      Some(stmt.substring(groupPos + byM.end).split(",").toSeq
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")
          .stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty))
    }
    Some(Parsed(src, stripIdentQuotes(on), aggM.group(1), aggM.group(2).trim,
      groupCols))
  }

  private def stripIdentQuotes(s: String): String =
    s.stripPrefix("\"").stripSuffix("\"").stripPrefix("`").stripSuffix("`")

  /** Execute a simplified-PIVOT body on the live session; None when the
    * body is not a PIVOT. */
  def pivotDf(spark: SparkSession, body: String): Option[DataFrame] =
    Body.parse(body) match {
      case Body.Pivot(p) => Some(df(spark, p))
      case _ => None
    }

  /** Run a parsed PIVOT. */
  def df(spark: SparkSession, p: Parsed): DataFrame = {
    // one resolution path for both source shapes — the same name
    // resolution any statement body gets
    val in = spark.sql(s"SELECT * FROM ${p.src} __piv_src")
    val cols = in.columns
    def isCol(name: String) = cols.exists(_.equalsIgnoreCase(name))
    if (!isCol(p.on))
      throw new UserException(s"PIVOT ON column '${p.on}' not in ${cols.mkString(", ")}")
    // DuckDB's implicit grouping: every column not pivoted on and not
    // referenced inside the USING aggregate. Token comparison is
    // case-INSENSITIVE like every other column check here — DuckDB
    // excludes aggregate-referenced columns regardless of case
    // (`USING max(N_CHARS)` must exclude n_chars).
    val argTokens = "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(p.aggArg)
      .map(_.toLowerCase).toSet
    val groups = p.groupCols.getOrElse(
      cols.toSeq.filterNot(c => c.equalsIgnoreCase(p.on) ||
        argTokens.contains(c.toLowerCase)))
    groups.filterNot(isCol) match {
      case missing if missing.nonEmpty =>
        throw new UserException(s"PIVOT GROUP BY column(s) ${missing.mkString(", ")} not in source")
      case _ =>
    }
    in.groupBy(groups.map(col): _*)
      .pivot(p.on)
      .agg(expr(s"${p.aggFn}(${p.aggArg})"))
  }

  /** Textual UNPIVOT rewrite: DuckDB
    * `UNPIVOT <src> ON c1, c2 INTO NAME n VALUE v` becomes Spark
    * `SELECT * FROM <src> UNPIVOT (v FOR n IN (c1, c2))`. Applies at the
    * statement head or after a CREATE ... AS; other text is untouched. */
  def rewriteUnpivot(stmt: String): String =
    Dialect.run(stmt, Dialect.Whole(rewriteUnpivot(_, _)))

  def rewriteUnpivot(stmt: String, masked: String): String = {
    val m = "(?is)(^\\s*|\\bAS\\s+)UNPIVOT\\b".r.findFirstMatchIn(masked)
      .getOrElse(return stmt)
    val dep = Dialect.depths(masked)
    val start = masked.toUpperCase.indexOf("UNPIVOT", m.start)
    if (dep(start) != 0) return stmt
    val tail = stmt.substring(start)
    val tm = ("(?is)^UNPIVOT\\s+(.+?)\\s+ON\\s+(.+?)\\s+INTO\\s+NAME\\s+" +
      "([^\\s]+)\\s+VALUE\\s+([^\\s;]+)\\s*$").r.findFirstMatchIn(tail)
      .getOrElse(return stmt)
    val (src, cols, n, v) =
      (tm.group(1), tm.group(2), stripIdentQuotes(tm.group(3)),
        stripIdentQuotes(tm.group(4)))
    stmt.substring(0, start) +
      s"SELECT * FROM $src UNPIVOT (`$v` FOR `$n` IN ($cols))"
  }
}
