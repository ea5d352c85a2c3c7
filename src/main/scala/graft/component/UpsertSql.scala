package graft.component

/** DuckDB's upsert statements — `INSERT ... ON CONFLICT [(cols)] DO
  * NOTHING | DO UPDATE SET ... [WHERE ...]` and the `INSERT OR REPLACE /
  * OR IGNORE INTO` shorthands (reference behavior: user SQL reaches
  * DuckDB verbatim, `src/query_orchestrator.py:351`, where upserts are
  * built in; they are the standard incremental-load idiom).
  *
  * Parsing only — execution is [[Executor.runStatement]]'s re-derivation
  * (anti-join + left-join projection; one pass over the target, no
  * per-row RPC — the distributed shape of MERGE). Semantics probed on
  * DuckDB v1.0 and pinned in StatementSurfaceSpec:
  *  - the conflict target must be the table's declared PRIMARY KEY
  *    (DuckDB: "not referenced by a UNIQUE/PRIMARY KEY constraint");
  *    without an explicit target the PK is used; a table with no PK
  *    rejects loudly (DuckDB: binder error);
  *  - duplicate keys WITHIN the inserted batch are a constraint error
  *    in every form (probed — even DO NOTHING / OR IGNORE);
  *  - in DO UPDATE expressions, `excluded.c` is the incoming row and
  *    unqualified names are the TARGET's current row (probed:
  *    `SET w = w + excluded.w` reads the stored w);
  *  - `DO UPDATE ... WHERE` leaves non-matching conflict rows unchanged.
  */
object UpsertSql {

  sealed trait Action
  /** OR REPLACE: conflicting target rows are replaced WHOLESALE. */
  case object Replace extends Action
  /** DO NOTHING / OR IGNORE: conflicting incoming rows are dropped. */
  case object Ignore extends Action
  final case class Update(sets: Seq[(String, String)],
                          where: Option[String]) extends Action

  final case class Parsed(insertHead: String, target: String,
                          keyCols: Option[Seq[String]], action: Action)

  private val insertTarget =
    "(?is)^\\s*INSERT\\s+INTO\\s+`?([^`\\s(]+)`?".r

  def parse(stmt0: String): Option[Parsed] = {
    val stmt = stmt0.trim.stripSuffix(";")
    val masked = Dialect.maskQuoted(stmt)
    val orForm =
      "(?is)^\\s*INSERT\\s+OR\\s+(REPLACE|IGNORE)\\s+INTO\\b".r
        .findFirstMatchIn(masked)
    if (orForm.isDefined) {
      val action =
        if (orForm.get.group(1).equalsIgnoreCase("REPLACE")) Replace else Ignore
      val head = "(?is)^(\\s*INSERT)\\s+OR\\s+(?:REPLACE|IGNORE)\\s+(INTO)".r
        .replaceFirstIn(stmt, "$1 $2")
      val target = insertTarget.findFirstMatchIn(head)
        .map(_.group(1)).getOrElse(return None)
      return Some(Parsed(head, target, None, action))
    }
    val target = insertTarget.findFirstMatchIn(masked)
      .map(m => MergeSql.unq(stmt.substring(m.start(1), m.end(1)))).getOrElse(return None)
    val dep = Dialect.depths(masked)
    val oc = "(?is)\\bON\\s+CONFLICT\\b".r.findAllMatchIn(masked)
      .find(m => dep(m.start) == 0).getOrElse(return None)
    val head = stmt.substring(0, oc.start).trim
    var tail = stmt.substring(oc.end).trim
    val keyCols: Option[Seq[String]] =
      if (tail.startsWith("(")) {
        val close = Dialect.matchingParen(Dialect.maskQuoted(tail), 0)
        if (close < 0) return None
        val cols = tail.substring(1, close).split(",").map(MergeSql.unq).toSeq
        tail = tail.substring(close + 1).trim
        Some(cols)
      } else None
    val action: Action =
      if ("(?is)^DO\\s+NOTHING\\s*$".r.findFirstIn(tail).isDefined) Ignore
      else {
        val m = "(?is)^DO\\s+UPDATE\\s+SET\\s+(.*)$".r
          .findFirstMatchIn(tail).getOrElse(return None)
        val rest = m.group(1)
        val rm = Dialect.maskQuoted(rest)
        val rd = Dialect.depths(rm)
        val wh = "(?is)\\bWHERE\\b".r.findAllMatchIn(rm).find(x => rd(x.start) == 0)
        val (setsTxt, whereTxt) = wh match {
          case Some(w) =>
            (rest.substring(0, w.start), Some(rest.substring(w.end).trim))
          case None => (rest, None)
        }
        // SET lhs may carry the table qualifier — DuckDB resolves it to
        // the target; only the bare column name matters here
        Update(MergeSql.setList(setsTxt).getOrElse(return None), whereTxt)
      }
    Some(Parsed(head, target, keyCols, action))
  }
}
