package graft.component

import org.apache.spark.sql.DataFrame

/** DuckDB's `* [EXCEPT(...)] RENAME (old AS new, ...)` star modifier
  * (≥1.3 — the reference pins 1.4.4/1.5.2; local v1.0 probes a parse
  * error, so semantics come from the public docs and are spec-pinned):
  * project every column, the listed ones renamed IN PLACE.
  *
  * Expansion follows [[ColumnsSql]]'s schema-probe technique: the
  * select-list star's source columns come from analyzing (never
  * executing) `SELECT * <same FROM..WHERE>`, then the star span is
  * replaced textually with the explicit projection in schema order —
  * the rename keeps each column's position for free. One RENAME star
  * per statement (more is loud), top-level select list only. */
object StarRenameSql {

  private[component] def has(stmt: String, masked: String): Boolean =
    occ(stmt, masked).isDefined

  /** (starIdx, exceptList, listOpen, listClose) of the first
    * `* [EXCEPT(...)] RENAME (` occurrence. */
  private[component] def occ(stmt: String,
                             masked: String): Option[(Int, Option[String], Int, Int)] = {
    var i = 0
    while (i < masked.length) {
      if (masked.charAt(i) == '*' && StarReplaceSql.isStar(stmt, i)) {
        var j = i + 1
        while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
        var exceptList: Option[String] = None
        "(?is)^(EXCEPT|EXCLUDE)\\s*\\(".r.findFirstMatchIn(masked.substring(j))
          .foreach { m =>
            val open = j + m.end - 1
            val close = Dialect.matchingParen(masked, open)
            if (close > 0) {
              exceptList = Some(stmt.substring(open + 1, close))
              j = close + 1
              while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
            }
          }
        val rm = "(?is)^RENAME\\s*\\(".r.findFirstMatchIn(masked.substring(j))
        rm match {
          case Some(m) =>
            val open = j + m.end - 1
            val close = Dialect.matchingParen(masked, open)
            if (close > 0) return Some((i, exceptList, open, close))
          case None => ()
        }
      }
      i += 1
    }
    None
  }

  private def unq(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && ((t.head == '"' && t.last == '"') ||
      (t.head == '`' && t.last == '`'))) t.substring(1, t.length - 1)
    else t
  }

  /** Expand against the analyzed schema; None when absent. */
  def expand(body: String, bodyDf: String => DataFrame): Option[String] = {
    val masked = Dialect.maskQuoted(body)
    val (starIdx, exceptList, listOpen, listClose) = occ(body, masked) match {
      case Some(o) => o
      case None => return None
    }
    // schema probe over the block's FROM..WHERE tail
    val dep = Dialect.depths(masked)
    val fromM = "(?is)\\bFROM\\b".r.findAllMatchIn(masked)
      .find(m => dep(m.start) == 0 && m.start > listClose)
      .getOrElse(throw new UserException(
        "* RENAME needs a FROM clause to expand against"))
    val cols: Seq[String] =
      bodyDf(s"SELECT * ${ColumnsSql.probeTail(body, masked, dep, fromM)}").schema.map(_.name)
    val excluded = exceptList.toSeq.flatMap(_.split(","))
      .map(e => unq(e).toLowerCase).filter(_.nonEmpty).toSet
    val renames: Seq[(String, String)] =
      body.substring(listOpen + 1, listClose).split(",").toSeq.map { piece =>
        "(?is)^(.+?)\\s+AS\\s+(.+)$".r.findFirstMatchIn(piece.trim) match {
          case Some(m) => (unq(m.group(1)), unq(m.group(2)))
          case None => throw new UserException(
            s"RENAME entry needs `old AS new`: ${piece.trim}")
        }
      }
    // duplicates WITHIN the rename list: two entries landing on one new
    // name (`a AS x, b AS x`) would silently project duplicate columns,
    // and one old name renamed twice has no defined winner — loud, like
    // DuckDB errors on both (* RENAME is 1.4 surface; spec-pinned)
    locally {
      val newLower = renames.map(_._2.toLowerCase)
      newLower.diff(newLower.distinct).headOption.foreach(d =>
        throw new UserException(
          s"* RENAME: new name $d appears more than once"))
      val oldLower = renames.map(_._1.toLowerCase)
      oldLower.diff(oldLower.distinct).headOption.foreach(d =>
        throw new UserException(
          s"* RENAME: column $d is renamed more than once"))
    }
    val byLower = renames.map { case (o, n) => o.toLowerCase -> n }.toMap
    renames.foreach { case (o, _) =>
      if (!cols.exists(_.equalsIgnoreCase(o)))
        throw new UserException(
          s"* RENAME: column $o does not exist (have: ${cols.mkString(", ")})")
      if (excluded(o.toLowerCase))
        throw new UserException(
          s"* RENAME: column $o is excluded by the EXCEPT list")
    }
    val kept = cols.filterNot(c => excluded(c.toLowerCase))
    if (kept.isEmpty)
      throw new UserException("* RENAME: the EXCEPT list removed every column")
    // a NEW name colliding with a kept column (that is not itself being
    // renamed away) would project duplicate names — loud, like DuckDB
    val renamedAway = renames.map(_._1.toLowerCase).toSet
    val landing = kept.filterNot(c => renamedAway(c.toLowerCase))
      .map(_.toLowerCase).toSet
    renames.foreach { case (_, n) =>
      if (landing(n.toLowerCase))
        throw new UserException(
          s"* RENAME: new name $n collides with an existing column")
    }
    val projection = kept.map { c =>
      byLower.get(c.toLowerCase) match {
        case Some(n) => s"`$c` AS `$n`"
        case None => s"`$c`"
      }
    }.mkString(", ")
    Some(body.substring(0, starIdx) + projection + body.substring(listClose + 1))
  }
}
