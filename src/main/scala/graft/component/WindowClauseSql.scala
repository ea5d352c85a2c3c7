package graft.component

import java.util.regex.MatchResult

import Dialect.{Sites, Skip, Splice, Step}

/** Named-window (`WINDOW w AS (...)`) INLINING.
  *
  * Spark parses the plain reference form (`sum(x) OVER w ... WINDOW w AS
  * (spec)`) natively, but DuckDB scripts also carry the standard's wider
  * surface (all probed v1.0):
  *  - EXTENSION: `OVER (w ROWS BETWEEN ...)` / `OVER (w ORDER BY x)` —
  *    the named spec plus extra clauses (a Spark parse error);
  *  - CHAINING: `WINDOW w1 AS (PARTITION BY p), w2 AS (w1 ORDER BY x)`;
  *  - frame EXCLUDE (and 1.4 GROUPS) inside a named definition, which
  *    [[FrameSql]] can only rewrite once the spec is inline.
  *
  * So every named window inlines: definitions resolve their chains, each
  * `OVER name` / `OVER (name extras)` usage splices the resolved spec,
  * and the WINDOW clause is removed. Inlining is semantics-preserving —
  * Spark's CollapseWindow plans identical inline specs exactly as it
  * plans a shared name (one Window operator per distinct spec, one
  * exchange per distinct partitioning). Usages are matched through the
  * owning-SELECT scope walk, so a subquery's same-named window shadows
  * correctly. Invalid extension combos (e.g. adding PARTITION BY to a
  * spec that has one) inline to text Spark rejects loudly — the binder
  * error DuckDB would raise, never a silent re-interpretation.
  *
  * One splice per WINDOW clause, over the owning block from its first
  * edit to its last; a clause that does not parse, has no owning
  * SELECT, or names an unresolvable chain ends the pass (loud later). */
object WindowClauseSql {

  private case class Clause(start: Int, end: Int, // [WINDOW .. last ')')
      defs: Seq[(String, String)]) // name (lower) -> raw spec text

  /** Parse the WINDOW clause whose head is `head`. */
  private def parseClause(stmt: String, masked: String,
      head: MatchResult): Option[Clause] = {
    var pos = head.start + "WINDOW".length
    val defs = scala.collection.mutable.ListBuffer[(String, String)]()
    var done = false
    var end = head.start
    while (!done) {
      val m = "(?is)^\\s*([A-Za-z_]\\w*)\\s+AS\\s*\\(".r
        .findFirstMatchIn(masked.substring(pos)).getOrElse(return None)
      val open = pos + m.end - 1
      val close = Dialect.matchingParen(masked, open)
      if (close < 0) return None
      defs += ((m.group(1).toLowerCase, stmt.substring(open + 1, close)))
      end = close + 1
      val rest = masked.substring(end)
      val comma = "(?s)^\\s*,".r.findFirstMatchIn(rest)
      if (comma.isDefined) pos = end + comma.get.end else done = true
    }
    Some(Clause(head.start, end, defs.toList))
  }

  /** Chain-resolve: a spec whose first token names another definition
    * splices that definition's resolved text in front. */
  private def resolve(name: String, defs: Map[String, String],
      seen: Set[String]): Option[String] = {
    if (seen.contains(name)) return None // cycle: leave for a loud error
    val spec = defs.getOrElse(name, return None)
    "(?is)^\\s*([A-Za-z_]\\w*)\\b".r.findFirstMatchIn(spec) match {
      case Some(m) if defs.contains(m.group(1).toLowerCase) =>
        resolve(m.group(1).toLowerCase, defs, seen + name)
          .map(base => (base + " " + spec.substring(m.end).trim).trim)
      case _ => Some(spec.trim)
    }
  }

  /** The SELECT keyword owning a position: closest preceding SELECT whose
    * block is never left on the way (the FrameSql scope walk). */
  private def owningSelect(masked: String, dep: Array[Int], pos: Int)
      : Option[Int] =
    "(?i)\\bSELECT\\b".r.findAllMatchIn(masked).map(_.start)
      .filter(_ < pos).toList.reverse.find { s =>
        val d = dep(s)
        (s until pos).forall(dep(_) >= d)
      }

  private[component] val inline =
    Sites("(?i)\\bWINDOW\\s+[A-Za-z_]\\w*\\s+AS\\s*\\(".r, lowerClause)

  private def lowerClause(stmt: String, masked: String, head: MatchResult): Step = {
    val stop = Skip(stmt.length)
    val cl = parseClause(stmt, masked, head).getOrElse(return stop)
    val dep = Dialect.depths(masked)
    val defMap = cl.defs.toMap
    val resolved = cl.defs.map(_._1)
      .map(n => n -> resolve(n, defMap, Set.empty)).toMap
    val clauseSel = owningSelect(masked, dep, cl.start)
    // block extent of the clause's SELECT: usages live inside it
    val blockStart = clauseSel.getOrElse(return stop)
    val d = dep(blockStart)
    var blockEnd = blockStart
    while (blockEnd < stmt.length && dep(blockEnd) >= d) blockEnd += 1
    // the clause itself goes away; a clause with zero usages in scope
    // goes too (DuckDB accepts an unused definition; Spark would too,
    // but the clause may carry EXCLUDE/GROUPS text Spark cannot parse)
    val edits = scala.collection.mutable.ListBuffer((cl.start, cl.end, ""))
    // usages: OVER name | OVER ( name [extras] ) owned by this SELECT
    "(?i)\\bOVER\\s*(\\()?\\s*([A-Za-z_]\\w*)\\b".r
      .findAllMatchIn(masked).foreach { m =>
        val nm = m.group(2).toLowerCase
        val inBlock = m.start >= blockStart && m.start < blockEnd &&
          (m.start >= cl.end || m.end <= cl.start)
        if (inBlock && defMap.contains(nm) &&
            owningSelect(masked, dep, m.start) == clauseSel) {
          resolved(nm) match {
            case Some(spec) if m.group(1) != null =>
              // parenthesized: splice the spec over the name token
              edits += ((m.start(2), m.end(2), spec))
            case Some(spec) =>
              // bare: OVER name -> OVER (spec)
              edits += ((m.start(2), m.end(2), s"($spec)"))
            case None => return stop // unresolvable chain: loud later
          }
        }
      }
    val from = edits.map(_._1).min
    val to = edits.map(_._2).max
    val sb = new java.lang.StringBuilder(stmt.substring(from, to))
    edits.sortBy(-_._1).foreach { case (s, e, r) => sb.replace(s - from, e - from, r) }
    Splice(from, to, sb.toString)
  }
}
