package graft.component

/** DuckDB's json extraction operators — `j -> 'key'` ≡ `json_extract`,
  * `j ->> 'key'` ≡ `json_extract_string`, an integer right operand
  * indexes an array (0-based, probed v1.0: `'[1,2]' -> 1` = `"2"`) —
  * rewritten into the function spellings [[DuckFunctions]] binds, so
  * chains (`j -> 'a' ->> 'b'`) migrate verbatim. The reference executes
  * user SQL on DuckDB directly (src/query_orchestrator.py:351), where
  * these operators are idiomatic for JSON columns.
  *
  * Disambiguation: `->` is ALSO the lambda arrow — in DuckDB's list
  * functions, in Spark SQL's higher-order functions, and in this
  * dialect layer's own list-comprehension output (Brackets runs first
  * and emits `transform(l, x -> …)`). Two independent guards keep
  * lambdas intact:
  *   1. the right operand must be a string or integer LITERAL (a lambda
  *      body almost never is, and a json key always is — a computed key
  *      stays unsupported, documented);
  *   2. a bare-identifier (or identifier-tuple) left operand whose
  *      innermost enclosing call is a known higher-order function is a
  *      lambda parameter list, never a json value.
  * A lambda like `x -> 'const'` inside transform() survives via guard 2;
  * `j -> 'key'` in select-list/WHERE position rewrites via guard 1.
  */
object JsonArrows {

  private val arrowRe = "->>?".r

  def has(stmt: String): Boolean =
    arrowRe.findFirstIn(Dialect.maskQuoted(stmt)).isDefined

  /** Higher-order functions whose direct arguments may be lambdas —
    * Spark natives plus the DuckDB list_* names DuckFunctions maps. */
  private val hofs = Set(
    "transform", "filter", "aggregate", "reduce", "fold", "exists",
    "forall", "zip_with", "map_filter", "map_zip_with", "transform_keys",
    "transform_values", "array_sort", "list_transform", "list_filter",
    "list_reduce", "list_apply", "apply", "list_where", "array_transform",
    "array_filter", "array_apply")

  private val bareId = "^[A-Za-z_][A-Za-z0-9_]*$".r
  private val idTuple =
    "^\\(\\s*[A-Za-z_][A-Za-z0-9_]*(\\s*,\\s*[A-Za-z_][A-Za-z0-9_]*)*\\s*\\)$".r

  private[component] val arrows = Dialect.Sites(arrowRe, { (stmt, masked, m) =>
    (for {
      (path, end) <- rhsLiteral(stmt, masked, m.end)
      rs <- Dialect.operandStart(stmt, masked, m.start, Dialect.Postfix)
      receiver = stmt.substring(rs, m.start).trim
      if !lambdaParams(stmt, masked, rs, receiver)
    } yield {
      val fn = if (m.end - m.start == 3) "json_extract_string" else "json_extract"
      Dialect.Splice(rs, end, s"$fn($receiver, $path)")
    }).getOrElse(Dialect.Skip(m.end))
  })

  def rewrite(stmt: String): String = Dialect.run(stmt, arrows)

  /** A lambda parameter list is a bare identifier (or identifier tuple)
    * sitting at the START of an argument of a known HOF — `filter`/
    * `exists` double as SQL keywords (`FILTER (WHERE j -> …)`), so the
    * argument-start check is what keeps json arrows inside those
    * clauses rewritable. */
  private def lambdaParams(stmt: String, masked: String, rs: Int,
                           receiver: String): Boolean =
    (bareId.findFirstIn(receiver).isDefined ||
      idTuple.findFirstIn(receiver).isDefined) && {
      var k = rs - 1
      while (k >= 0 && stmt.charAt(k).isWhitespace) k -= 1
      k >= 0 && (masked.charAt(k) == '(' || masked.charAt(k) == ',')
    } && hofs.contains(enclosingCall(masked, rs))

  /** The right operand as a path literal: a string literal passes
    * through (DuckFunctions' path grammar handles bare keys and '$…'
    * forms alike); an integer literal becomes '$[n]'. */
  private def rhsLiteral(stmt: String, masked: String, from: Int)
      : Option[(String, Int)] = {
    var i = from
    while (i < stmt.length && stmt.charAt(i).isWhitespace) i += 1
    if (i >= stmt.length) return None
    val c = stmt.charAt(i)
    if (c == '\'') {
      val end = Dialect.spanEnd(stmt, i)
      Some((stmt.substring(i, end), end))
    } else if (c.isDigit) {
      var j = i
      while (j < stmt.length && masked.charAt(j).isDigit) j += 1
      // a digit run followed by an ident char / '.' is not an int literal
      if (j < stmt.length &&
        (masked.charAt(j) == '.' || masked.charAt(j).isLetter ||
          masked.charAt(j) == '_')) None
      else Some((s"'$$[${stmt.substring(i, j)}]'", j))
    } else None
  }

  /** Lowercased name of the innermost call enclosing position `pos`,
    * or "" when `pos` is not inside any call's argument list. */
  private def enclosingCall(masked: String, pos: Int): String = {
    val open = Dialect.openingParen(masked, pos)
    if (open < 0) return ""
    var e = open - 1
    while (e >= 0 && masked.charAt(e).isWhitespace) e -= 1
    val stop = e
    while (e >= 0 && isIdentChar(masked.charAt(e))) e -= 1
    masked.substring(e + 1, stop + 1).toLowerCase
  }

  private def isIdentChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_'
}
