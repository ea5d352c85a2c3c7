package graft.component

import org.apache.spark.sql.{Column, DataFrame}
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
  * one of which is `UNION [ALL] BY NAME`; each segment is a query body
  * of its own ([[Body]]: a SELECT, a parenthesized query, PIVOT, ASOF,
  * ...). The split covers ALL depth-0 set operators (plain
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

  private val setOp = "(?is)\\b(UNION|EXCEPT|INTERSECT)(\\s+ALL)?(\\s+BY\\s+NAME)?\\b".r

  /** Parse a normalized body ([[Body.parse]]) and its mask as set
    * operations with a BY NAME union; throws on the shapes DuckDB reads
    * differently from a left fold. */
  private[component] def parse(stmt: String, masked: String): Option[Parsed] = {
    if ("(?i)\\bBY\\s+NAME\\b".r.findFirstIn(masked).isEmpty) return None
    val dep = Dialect.depths(masked)
    // a star-modifier `* EXCEPT(c)` (or pre-rewrite `* EXCLUDE`) is a
    // PROJECTION clause, not a set operator — an EXCEPT preceded by `*`
    // must not split the statement
    def afterStar(at: Int): Boolean = {
      var j = at - 1
      while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
      j >= 0 && stmt.charAt(j) == '*'
    }
    val ops0 = setOp.findAllMatchIn(masked)
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
    val lastStart = bounds.last._1
    val tailKws = "(?is)\\b(ORDER\\s+BY|LIMIT)\\b".r.findAllMatchIn(masked)
      .filter(m => m.start > lastStart && dep(m.start) == 0).toList
    val (lastSeg, orderBy, limit) = tailKws.headOption match {
      case None => (segments0.last, None, None)
      case Some(first) =>
        val segs = tailKws.zipWithIndex.map { case (m, i) =>
          val end = if (i + 1 < tailKws.length) tailKws(i + 1).start else stmt.length
          m.group(1).toUpperCase.replaceAll("\\s+", " ") -> stmt.substring(m.end, end).trim
        }.toMap
        (stmt.substring(lastStart, first.start).trim,
          segs.get("ORDER BY"),
          segs.get("LIMIT").flatMap(v => scala.util.Try(v.trim.toInt).toOption))
    }
    Some(Parsed(segments0.init :+ lastSeg, ops, orderBy, limit))
  }

  /** Fold the legs' DataFrames, one per segment, under `p`'s operators. */
  def df(p: Parsed, legs: Seq[DataFrame]): DataFrame = {
    // left-associative fold: each operator combines the ACCUMULATED
    // result with the next leg, so set semantics (distinct / except)
    // apply at the point the operator appears, exactly DuckDB's reading
    val unioned = legs.tail.zip(p.ops)
      .foldLeft(legs.head) { case (acc, (r, op)) =>
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
    val sorted = p.orderBy.map(ob => unioned.orderBy(sortColumns(ob): _*)).getOrElse(unioned)
    p.limit.map(sorted.limit).getOrElse(sorted)
  }

  /** An ORDER BY list as sort Columns. The split is at depth-0 commas (a
    * bare split(",") would break `ORDER BY coalesce(a, b)` at the call's
    * comma); ASC/DESC and the NULLS qualifier (the dialect's nulls-last
    * pass appends one) are Column sort modifiers, not expression text. */
  private[component] def sortColumns(orderBy: String): Seq[Column] =
    Dialect.splitTop(orderBy).filter(_.nonEmpty).map { piece =>
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
}
