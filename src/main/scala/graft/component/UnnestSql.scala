package graft.component

import java.util.regex.MatchResult

import scala.collection.mutable.ArrayBuffer

import Dialect.{Sites, Skip, Splice, Step}

/** DuckDB `UNNEST` — array expansion in the select list and in FROM
  * position. Legal in the reference because user SQL goes to its engine
  * verbatim (`/root/reference/src/query_orchestrator.py:351`); Spark has
  * generators (`explode`/`inline`) with stricter placement rules, so the
  * statement is rewritten pre-parse:
  *
  *  - `FROM unnest(e) [AS t(c)]` → `FROM (SELECT explode(e) AS c) t`
  *    (table-function position; default column name `unnest`, DuckDB's).
  *  - Select-list `unnest(e)` — including inside larger expressions,
  *    `unnest(l) + 1` — becomes a generated column of a `LATERAL VIEW`
  *    appended to the block's FROM segment. Multiple unnests in one
  *    block zip in lockstep, NULL-padded to the longest (DuckDB's
  *    documented semantics), via `inline(arrays_zip(e1, …, eN))` —
  *    `arrays_zip` pads exactly that way. A single unnest lowers to
  *    `explode(e)`, whose empty/NULL-array behavior (zero rows, matching
  *    DuckDB) comes for free from the non-OUTER lateral view.
  *
  * Both lowerings keep the expansion a Spark GENERATOR — a streaming,
  * whole-stage-codegen'd operator that never materializes the expanded
  * relation, so a 100-TB scan with a per-row array expands inside the
  * scan stage with no extra shuffle.
  *
  * Scope (documented): one expansion level (DuckDB's default,
  * `recursive := false`); arrays only (struct-unnest flattening is a
  * different feature); select-list and FROM positions. `unnest` anywhere
  * else (WHERE, GROUP BY) is rejected loudly — DuckDB's binder does the
  * same ("UNNEST not supported here"). Unaliased bare `unnest(e)` items
  * are surfaced as a column named `unnest` (DuckDB renders the full call
  * text; a stable short name is this engine's documented deviation).
  */
object UnnestSql {

  private val callRe = "(?i)\\bunnest\\s*\\(".r

  def rewrite(stmt: String): String = Dialect.run(stmt, fromPosition, selectLists)

  // ---------------------------------------------------------------- FROM

  private val keywordAlias = Set(
    "where", "group", "having", "qualify", "window", "order", "limit",
    "offset", "union", "intersect", "except", "join", "inner", "left",
    "right", "full", "cross", "natural", "semi", "anti", "positional",
    "on", "using", "as", "select", "lateral")

  /** FROM-position unnest:
    *  - `FROM|JOIN unnest(e) [AS t(c)]` → derived explode subquery
    *    (uncorrelated table function);
    *  - `FROM rel, unnest(e) [AS t(c)]` — the correlated lateral idiom
    *    (probed DuckDB: per-row expansion, cross-product when repeated,
    *    row dropped on empty array) → ` LATERAL VIEW explode(e) t AS c`,
    *    which has exactly those semantics in Spark.
    * An unbalanced call ends the pass. */
  private[component] val fromPosition =
    Sites("(?is)(\\bFROM\\s+|\\bJOIN\\s+|,\\s*)unnest\\s*\\(".r, lowerFrom)

  private def lowerFrom(stmt: String, masked: String, m: MatchResult): Step = {
    if (m.group(1).trim == ",") {
      // a comma introduces a lateral unnest only in a FROM list: the
      // last same-depth clause keyword before it must be FROM
      val dep = Dialect.depths(masked)
      val dc = dep(m.start)
      val inFromList =
        "(?is)\\b(SELECT|FROM|WHERE|GROUP|HAVING|QUALIFY|WINDOW|ORDER|LIMIT|SET|VALUES|USING|ON)\\b".r
          .findAllMatchIn(masked.substring(0, m.start))
          .filter(k => dep(k.start) == dc)
          .toList.lastOption.exists(_.group(1).equalsIgnoreCase("FROM"))
      if (!inFromList) return Skip(m.end)
    }
    val open = m.end - 1
    val close = Dialect.matchingParen(masked, open)
    if (close < 0) return Skip(stmt.length)
    val arg = stmt.substring(open + 1, close).trim
    // optional alias: AS t(c) | AS t | t(c) | t  (never a keyword)
    val tail = stmt.substring(close + 1)
    val aliasRe =
      "(?is)^\\s*(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*(?:\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\))?".r
    val (tbl, colName, consumed) = aliasRe.findFirstMatchIn(tail) match {
      case Some(a) if !keywordAlias(a.group(1).toLowerCase) =>
        (a.group(1), Option(a.group(2)).getOrElse("unnest"), a.end)
      case _ => ("__unnest_t", "unnest", 0)
    }
    Splice(m.start, close + 1 + consumed,
      if (m.group(1).trim == ",") s" LATERAL VIEW explode($arg) $tbl AS $colName"
      else s"${m.group(1)}(SELECT explode($arg) AS $colName) $tbl")
  }

  // -------------------------------------------------------- select list

  private val clauseKw =
    "(?is)\\b(WHERE|GROUP\\s+BY|HAVING|QUALIFY|WINDOW|ORDER\\s+BY|LIMIT|OFFSET)\\b"

  /** Select-list unnest: one select block per splice, innermost blocks
    * first (their `unnest` occurrence IS the first remaining site). A
    * call with no owning SELECT, or outside any select list, or
    * unbalanced, ends the pass and stays verbatim: this runs inside
    * Dialect.prepare, the front door of every static-analysis action,
    * which must LIST problems, not crash (the ROLLBACK lesson) —
    * Actions.lint flags the residual unnest, and at run time Spark
    * rejects the unregistered function by name. */
  private[component] val selectLists = Sites(callRe, lowerSelectList)

  private def lowerSelectList(stmt: String, masked: String, u: MatchResult): Step = {
    val stop = Skip(stmt.length)
    val dep = Dialect.depths(masked)
    // owning SELECT: walking left from the call, the first SELECT seen
    // at the running minimum depth — closer SELECTs at deeper depths
    // belong to sibling subqueries already closed before the call
    val selects = "(?i)\\bSELECT\\b".r.findAllMatchIn(masked)
      .map(_.start).toArray
    var owner = -1
    var minDep = dep(u.start)
    var i = u.start
    while (i >= 0 && owner < 0) {
      if (dep(i) < minDep) minDep = dep(i)
      if (dep(i) == minDep && selects.contains(i)) owner = i
      i -= 1
    }
    if (owner < 0) return stop
    val bd = dep(owner)
    val blockEnd = Dialect.blockEnd(masked, dep, owner)
    def firstAt(re: String, from: Int): Option[Int] =
      re.r.findAllMatchIn(masked).map(_.start)
        .find(p => p >= from && p < blockEnd && dep(p) == bd)
    val selStart = owner + "SELECT".length
    val fromPos = firstAt("(?i)\\bFROM\\b", selStart)
    val listEnd = fromPos
      .orElse(firstAt(clauseKw, selStart))
      .getOrElse(blockEnd)

    // collect this block's calls within its select list
    final case class Call(start: Int, end: Int, arg: String)
    val calls = ArrayBuffer[Call]()
    for (m <- callRe.findAllMatchIn(masked)
           if m.start >= selStart && m.start < listEnd) {
      // owned by this block: depth never dips below bd on the way back
      var j = m.start; var mn = dep(m.start); var own = -1
      while (j >= 0 && own < 0) {
        if (dep(j) < mn) mn = dep(j)
        if (dep(j) == mn && selects.contains(j)) own = j
        j -= 1
      }
      if (own == owner) {
        val close = Dialect.matchingParen(masked, m.end - 1)
        if (close < 0) return stop // unbalanced: leave for the lint/parser
        calls += Call(m.start, close + 1, stmt.substring(m.end, close).trim)
      }
    }
    if (calls.isEmpty) return stop // e.g. unnest in WHERE — lint flags it

    val distinctArgs = calls.map(_.arg).distinct
    val colOf = distinctArgs.zipWithIndex.toMap.map {
      case (a, k) => (a, s"__un$k") }
    // lateral view after the FROM segment (or a one-row FROM if absent)
    val lateral =
      if (distinctArgs.length == 1)
        s" LATERAL VIEW explode(${distinctArgs.head}) __unnest AS __un0 "
      else {
        val cols = distinctArgs.indices.map(k => s"__un$k").mkString(", ")
        s" LATERAL VIEW inline(arrays_zip(${distinctArgs.mkString(", ")})) __unnest AS $cols "
      }
    val insertAt = fromPos match {
      case Some(f) => firstAt(clauseKw, f).getOrElse(blockEnd)
      case None    => listEnd
    }
    val prefix = if (fromPos.isEmpty) " FROM (SELECT 1)" else ""
    // one splice from the first call to the insert point: each call
    // becomes its column (a bare unaliased `unnest(e)` select item keeps
    // a user-facing name), the lateral view lands at the end
    val from = calls.head.start
    val sb = new java.lang.StringBuilder(stmt.substring(from, insertAt))
    for (c <- calls.reverseIterator) {
      val repl =
        if (isBareItem(stmt, masked, dep, bd, selStart, listEnd, c.start, c.end))
          s"${colOf(c.arg)} AS unnest"
        else colOf(c.arg)
      sb.replace(c.start - from, c.end - from, repl)
    }
    Splice(from, insertAt, sb.append(prefix + lateral).toString)
  }

  /** Is [start,end) exactly one whole select item (no wrapping
    * expression, no alias)? Bounds = nearest block-depth commas. */
  private def isBareItem(stmt: String, masked: String, dep: Array[Int],
                         bd: Int, selStart: Int, listEnd: Int,
                         start: Int, end: Int): Boolean = {
    var a = start
    while (a > selStart && !(masked.charAt(a - 1) == ',' && dep(a - 1) == bd))
      a -= 1
    var b = end
    while (b < listEnd && !(masked.charAt(b) == ',' && dep(b) == bd)) b += 1
    stmt.substring(a, b).trim == stmt.substring(start, end).trim
  }

}
