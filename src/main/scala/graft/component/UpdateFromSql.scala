package graft.component

/** `UPDATE t [AS a] SET ... FROM <rel> [AS b] WHERE <cond>` — DuckDB's
  * join-update (reference behavior: user SQL reaches DuckDB verbatim,
  * `src/query_orchestrator.py:351`; the FROM-join form is the standard
  * dimension-refresh idiom). Spark's parser has no FROM clause in
  * UPDATE, so the statement is parsed here and executed by
  * [[Executor.runStatement]] as a re-derivation: one left join of the
  * target against the source on the WHERE condition, one projection
  * applying the SET expressions to matched rows — the distributed
  * MERGE-update shape, no per-row path.
  *
  * Probed v1.0 semantics pinned in StatementSurfaceSpec: rows with no
  * match keep their values; when SEVERAL source rows match one target
  * row, DuckDB updates from an arbitrary one (no error) — this engine
  * keeps one arbitrary match per target row too (documented
  * nondeterminism shared with the reference engine). Scope: ONE source
  * relation or parenthesized subquery (comma-joined FROM lists reject
  * loudly); WHERE is required (an unconditioned cross-join update is
  * almost certainly a bug — DuckDB would update from an arbitrary row
  * of the whole source). */
object UpdateFromSql {

  final case class Parsed(target: String, targetAlias: Option[String],
                          sets: Seq[(String, String)],
                          fromText: String, where: String)

  private val head =
    "(?is)^\\s*UPDATE\\s+(`[^`]+`|\"[^\"]+\"|[A-Za-z_][\\w.]*)" +
      "(?:\\s+(?:AS\\s+)?(?!SET\\b)([A-Za-z_]\\w*))?\\s+SET\\s+"

  private def unq(s: String): String = {
    val t = s.trim
    if ((t.startsWith("\"") && t.endsWith("\"")) ||
      (t.startsWith("`") && t.endsWith("`"))) t.substring(1, t.length - 1)
    else t
  }

  def parse(stmt0: String): Option[Parsed] = {
    val stmt = stmt0.trim.stripSuffix(";")
    val masked = Dialect.maskQuoted(stmt)
    val hm = head.r.findFirstMatchIn(masked).getOrElse(return None)
    val target = unq(stmt.substring(hm.start(1), hm.end(1)))
    val alias = Option(hm.group(2))
    val rest = stmt.substring(hm.end)
    val rm = Dialect.maskQuoted(rest)
    val rd = Dialect.depths(rm)
    // depth-0 FROM (absent → the plain UPDATE path owns the statement)
    val fm = "(?is)\\bFROM\\b".r.findAllMatchIn(rm)
      .find(m => rd(m.start) == 0).getOrElse(return None)
    val setsTxt = rest.substring(0, fm.start)
    val afterFrom = rest.substring(fm.end)
    val am = Dialect.maskQuoted(afterFrom)
    val ad = Dialect.depths(am)
    val wm = "(?is)\\bWHERE\\b".r.findAllMatchIn(am)
      .find(m => ad(m.start) == 0).getOrElse(throw new UserException(
        s"UPDATE $target ... FROM: a WHERE join condition is required " +
          "(an unconditioned cross-join update takes an arbitrary source row)"))
    val fromText = afterFrom.substring(0, wm.start).trim
    if (am.substring(0, wm.start).zipWithIndex
        .exists { case (c, i) => c == ',' && ad(i) == 0 })
      throw new UserException(
        s"UPDATE $target ... FROM: only one source relation is supported " +
          "(pre-join multiple sources in a subquery)")
    val where = afterFrom.substring(wm.end).trim
    val sets = Dialect.splitTop(setsTxt).filter(_.nonEmpty).map { a =>
      val eq = Dialect.maskQuoted(a).indexOf('=')
      if (eq < 0) return None
      (unq(a.substring(0, eq).trim.split("\\.").last), a.substring(eq + 1).trim)
    }
    if (sets.isEmpty) return None
    Some(Parsed(target, alias, sets, fromText, where))
  }

  /** The source relation split into (text-to-run, alias): a bare name
    * (optionally aliased) or a parenthesized subquery (alias required —
    * DuckDB requires one too). */
  def sourceOf(p: Parsed): (String, String) = {
    val t = p.fromText.trim
    if (t.startsWith("(")) {
      val close = Dialect.matchingParen(Dialect.maskQuoted(t), 0)
      val alias = "(?is)^\\s*(?:AS\\s+)?([A-Za-z_]\\w*)\\s*$".r
        .findFirstMatchIn(t.substring(close + 1))
        .map(_.group(1)).getOrElse(throw new UserException(
          s"UPDATE ... FROM (subquery): an alias is required"))
      (t.substring(1, close), alias)
    } else {
      val m = "(?is)^(`[^`]+`|\"[^\"]+\"|[A-Za-z_][\\w.]*)(?:\\s+(?:AS\\s+)?([A-Za-z_]\\w*))?\\s*$".r
        .findFirstMatchIn(t).getOrElse(throw new UserException(
          s"UPDATE ... FROM: unrecognized source relation '$t'"))
      val name = unq(m.group(1))
      (s"SELECT * FROM `${Names.view(name)}`",
        Option(m.group(2)).getOrElse(name))
    }
  }

  private val delHead =
    "(?is)^\\s*DELETE\\s+FROM\\s+(`[^`]+`|\"[^\"]+\"|[A-Za-z_][\\w.]*)" +
      "(?:\\s+(?:AS\\s+)?(?!USING\\b)([A-Za-z_]\\w*))?\\s+USING\\s+"

  /** `DELETE FROM t [AS a] USING <rel> [AS b] WHERE <cond>` — the
    * join-delete twin (same scope rules; `sets` is empty). */
  def parseDelete(stmt0: String): Option[Parsed] = {
    val stmt = stmt0.trim.stripSuffix(";")
    val masked = Dialect.maskQuoted(stmt)
    val hm = delHead.r.findFirstMatchIn(masked).getOrElse(return None)
    val target = unq(stmt.substring(hm.start(1), hm.end(1)))
    val alias = Option(hm.group(2))
    val afterUsing = stmt.substring(hm.end)
    val am = Dialect.maskQuoted(afterUsing)
    val ad = Dialect.depths(am)
    val wm = "(?is)\\bWHERE\\b".r.findAllMatchIn(am)
      .find(m => ad(m.start) == 0).getOrElse(throw new UserException(
        s"DELETE FROM $target USING: a WHERE join condition is required " +
          "(an unconditioned cross-join delete empties the table on any " +
          "non-empty source)"))
    val fromText = afterUsing.substring(0, wm.start).trim
    if (am.substring(0, wm.start).zipWithIndex
        .exists { case (c, i) => c == ',' && ad(i) == 0 })
      throw new UserException(
        s"DELETE FROM $target USING: only one source relation is supported " +
          "(pre-join multiple sources in a subquery)")
    Some(Parsed(target, alias, Nil, fromText, afterUsing.substring(wm.end).trim))
  }

  /** Static-analysis twin: an UpdateTable/DeleteFromTable plan whose
    * EXISTS subquery carries the source dependency — same kind (target
    * is output AND dependency), same dependency set. */
  def stub(stmt: String): String =
    parse(stmt) match {
      case Some(p) =>
        s"UPDATE `${Names.view(p.target)}` SET __graft_stub = 1 " +
          s"WHERE EXISTS (SELECT 1 FROM ${p.fromText})"
      case None => parseDelete(stmt) match {
        case Some(p) =>
          s"DELETE FROM `${Names.view(p.target)}` " +
            s"WHERE EXISTS (SELECT 1 FROM ${p.fromText})"
        case None => stmt
      }
    }
}
