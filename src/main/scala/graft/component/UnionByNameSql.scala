package graft.component

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DuckDB `UNION [ALL] BY NAME` — column-matching set union, a DuckDB
  * extension users lean on when stacking tables whose column ORDER
  * differs (the positional SQL UNION silently mis-aligns them). Spark's
  * parser has no BY NAME spelling, but the engine op exists as
  * `Dataset.unionByName(allowMissingColumns = true)` — columns match by
  * name, absent columns NULL-fill, exactly DuckDB's rule — so this is a
  * front-end mapping like [[AsOfSql]].
  *
  * Shape: two or more depth-0 segments joined by set operators, at least
  * one of which is `UNION [ALL] BY NAME`; each segment is a SELECT (or
  * parenthesized query, PIVOT, ASOF — anything [[Executor]]'s bodyDf
  * runs). The split covers ALL depth-0 set operators (plain
  * UNION/UNION ALL/EXCEPT [ALL] too), folded LEFT-ASSOCIATIVELY like
  * DuckDB: `a UNION BY NAME b UNION ALL c` is (distinct(a ∪ b)) UNION ALL
  * c, never distinct(a ∪ b ∪ c) — splitting only on the BY NAME spellings
  * would silently fold trailing plain operators into the last BY NAME
  * leg and drop c's duplicates. A non-ALL UNION applies SET semantics
  * (distinct over the accumulated result, standard folding). INTERSECT
  * binds tighter than UNION/EXCEPT in both engines, so a depth-0
  * INTERSECT mixed with BY NAME is rejected loudly (parenthesize it)
  * rather than mis-folded. A trailing ORDER BY / LIMIT after the last
  * segment applies to the WHOLE union, DuckDB's reading — left attached
  * to the last leg it would silently reorder only that leg. */
object UnionByNameSql {

  /** One depth-0 set operator: kind ∈ UNION | EXCEPT, `all` keeps
    * duplicates, `byName` matches columns by name (UNION only). */
  final case class SetOp(kind: String, all: Boolean, byName: Boolean)

  final case class Parsed(segments: Seq[String], ops: Seq[SetOp],
                          orderBy: Option[String], limit: Option[Int])

  def parse(stmt0: String): Option[Parsed] = {
    val stmt = stmt0.trim.stripSuffix(";")
    val masked = Dialect.maskQuoted(stmt)
    val dep = Dialect.depths(masked)
    // a star-modifier `* EXCEPT(c)` (or pre-rewrite `* EXCLUDE`) is a
    // PROJECTION clause, not a set operator — an EXCEPT preceded by `*`
    // must not split the statement
    def afterStar(at: Int): Boolean = {
      var j = at - 1
      while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
      j >= 0 && stmt.charAt(j) == '*'
    }
    val ops0 = "(?is)\\b(UNION|EXCEPT|INTERSECT)(\\s+ALL)?(\\s+BY\\s+NAME)?\\b".r
      .findAllMatchIn(masked)
      .filter(m => dep(m.start) == 0 && !afterStar(m.start)).toList
    val ops = ops0.map { m =>
      SetOp(m.group(1).toUpperCase, m.group(2) != null, m.group(3) != null)
    }
    if (!ops.exists(_.byName)) return None
    // depth-0 INTERSECT binds tighter than UNION/EXCEPT; a left fold
    // would mis-associate it — reject loudly (repo convention) rather
    // than compute the wrong relation
    if (ops.exists(_.kind == "INTERSECT"))
      throw new UserException(
        "INTERSECT mixed with UNION BY NAME at the top level is not " +
          "supported (INTERSECT binds tighter); parenthesize the INTERSECT")
    if (ops.exists(o => o.byName && o.kind != "UNION"))
      throw new UserException("BY NAME is only valid on UNION")
    val bounds = (0 +: ops0.map(_.end)).zip(ops0.map(_.start) :+ stmt.length)
    val segments0 = bounds.map { case (a, b) => stmt.substring(a, b).trim }
    if (segments0.exists(_.isEmpty)) return None
    // trailing ORDER BY / LIMIT on the LAST segment applies to the union
    val lastMasked = Dialect.maskQuoted(segments0.last)
    val lastDep = Dialect.depths(lastMasked)
    val tailKws = "(?is)\\b(ORDER\\s+BY|LIMIT)\\b".r
      .findAllMatchIn(lastMasked).filter(m => lastDep(m.start) == 0).toList
    val (lastSeg, orderBy, limit) = tailKws.headOption match {
      case None => (segments0.last, None, None)
      case Some(first) =>
        val segs = tailKws.zipWithIndex.map { case (m, i) =>
          val end = if (i + 1 < tailKws.length) tailKws(i + 1).start
            else segments0.last.length
          m.group(1).toUpperCase.replaceAll("\\s+", " ") ->
            segments0.last.substring(m.end, end).trim
        }.toMap
        (segments0.last.substring(0, first.start).trim,
          segs.get("ORDER BY"),
          segs.get("LIMIT").flatMap(v => scala.util.Try(v.trim.toInt).toOption))
    }
    Some(Parsed(segments0.init :+ lastSeg, ops, orderBy, limit))
  }

  /** Session-free stand-in for static analysis: positional UNION ALL has
    * the identical dependency set (schemas don't matter unresolved). */
  def stub(stmt: String): String =
    parse(stmt) match {
      case Some(p) => p.segments.mkString(" UNION ALL ")
      case None => stmt
    }

  def df(spark: SparkSession, p: Parsed,
         bodyDf: String => DataFrame): DataFrame = {
    def leg(s: String): DataFrame = {
      val t = s.trim
      if (t.startsWith("(") && t.endsWith(")")) bodyDf(t.substring(1, t.length - 1))
      else bodyDf(t)
    }
    // left-associative fold: each operator combines the ACCUMULATED
    // result with the next leg, so set semantics (distinct / except)
    // apply at the point the operator appears, exactly DuckDB's reading
    val unioned = p.segments.tail.zip(p.ops)
      .foldLeft(leg(p.segments.head)) { case (acc, (seg, op)) =>
        val r = leg(seg)
        op.kind match {
          case "UNION" =>
            val u = if (op.byName) acc.unionByName(r, allowMissingColumns = true)
              else acc.union(r)
            if (op.all) u else u.distinct()
          case "EXCEPT" =>
            if (op.all) acc.exceptAll(r) else acc.except(r)
          case other =>
            throw new UserException(s"unsupported set operator: $other")
        }
      }
    val sorted = p.orderBy match {
      case Some(ob) =>
        // depth-0 comma split: a bare split(",") would break
        // `ORDER BY coalesce(a, b)` at the call's comma
        val cols: Seq[Column] = Dialect.splitTop(ob).filter(_.nonEmpty).map { piece =>
          // ASC/DESC and the NULLS qualifier (rewriteNullsLast appends
          // one) split off — Column sort modifiers, not expression text
          val m = "(?is)^(.*?)(?:\\s+(ASC|DESC))?(?:\\s+NULLS\\s+(FIRST|LAST))?\\s*$".r
            .findFirstMatchIn(piece).get
          val base = expr(m.group(1))
          val desc = Option(m.group(2)).exists(_.equalsIgnoreCase("DESC"))
          Option(m.group(3)).map(_.toLowerCase) match {
            case Some("first") => if (desc) base.desc_nulls_first else base.asc_nulls_first
            case Some("last") => if (desc) base.desc_nulls_last else base.asc_nulls_last
            case _ => if (desc) base.desc else base.asc
          }
        }
        unioned.orderBy(cols: _*)
      case None => unioned
    }
    p.limit.map(sorted.limit).getOrElse(sorted)
  }
}
