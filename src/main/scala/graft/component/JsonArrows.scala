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

  def rewrite(stmt0: String): String = {
    var stmt = stmt0
    var guard = 0
    while (guard < 256) {
      guard += 1
      val masked = Dialect.maskQuoted(stmt)
      firstRewritable(stmt, masked) match {
        case None => return stmt
        case Some((lhsFrom, arrowAt, isText, path, end)) =>
          val fn = if (isText) "json_extract_string" else "json_extract"
          val receiver = stmt.substring(lhsFrom, arrowAt).trim
          stmt = stmt.substring(0, lhsFrom) +
            s"$fn($receiver, $path)" + stmt.substring(end)
      }
    }
    stmt
  }

  /** (lhsStart, arrowStart, isTextForm, pathLiteral, rhsEnd) of the
    * leftmost arrow that passes both guards. */
  private def firstRewritable(stmt: String, masked: String)
      : Option[(Int, Int, Boolean, String, Int)] = {
    arrowRe.findAllMatchIn(masked).flatMap { m =>
      val isText = m.end - m.start == 3
      rhsLiteral(stmt, masked, m.end).flatMap { case (path, rhsEnd) =>
        lhsStart(stmt, masked, m.start).flatMap { rs =>
          val receiver = stmt.substring(rs, m.start).trim
          // a lambda parameter list is a bare identifier (or identifier
          // tuple) sitting at the START of an argument of a known HOF —
          // `filter`/`exists` double as SQL keywords (`FILTER (WHERE j
          // -> …)`), so the argument-start check is what keeps json
          // arrows inside those clauses rewritable
          val looksLambdaParam =
            (bareId.findFirstIn(receiver).isDefined ||
              idTuple.findFirstIn(receiver).isDefined) && {
              var k = rs - 1
              while (k >= 0 && stmt.charAt(k).isWhitespace) k -= 1
              k >= 0 && (masked.charAt(k) == '(' || masked.charAt(k) == ',')
            }
          if (looksLambdaParam && hofs.contains(enclosingCall(masked, rs)))
            None
          else Some((rs, m.start, isText, path, rhsEnd))
        }
      }
    }.nextOption()
  }

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

  /** Start of the left operand: identifier chains, quoted identifiers,
    * call/paren/subscript results (the DotCall receiver grammar), PLUS
    * string literals — `'{"a":1}' -> 'a'` is legal DuckDB. */
  private def lhsStart(stmt: String, masked: String, arrow: Int): Option[Int] = {
    var i = arrow - 1
    while (i >= 0 && stmt.charAt(i).isWhitespace) i -= 1
    if (i < 0) return None
    var start = -1
    var continueScan = true
    while (continueScan) {
      continueScan = false
      val c = stmt.charAt(i)
      if (masked.charAt(i) != c) {
        if (c == '"' || c == '`') {
          val openQ = stmt.lastIndexOf(c, i - 1)
          if (openQ < 0) return None
          start = openQ; i = openQ - 1
        } else if (c == '\'') {
          val openQ = literalStart(stmt, i)
          if (openQ < 0) return None
          start = openQ; i = openQ - 1
        } else return None
      } else if (c == ')' || c == ']') {
        val open = Dialect.openingParen(masked, i, if (c == ')') '(' else '[', c)
        if (open < 0) return None
        start = open; i = open - 1
        if (i >= 0 && isIdentChar(masked.charAt(i))) {
          val e = i
          while (i >= 0 && isIdentChar(masked.charAt(i))) i -= 1
          if (keyword(stmt.substring(i + 1, e + 1).toLowerCase)) i = e
          else start = i + 1
        }
      } else if (isIdentChar(c)) {
        while (i >= 0 && isIdentChar(masked.charAt(i))) i -= 1
        start = i + 1
        if (stmt.charAt(start).isDigit) return None
      } else return None
      if (i >= 0 && stmt.charAt(i) == '.' && masked.charAt(i) == '.') {
        i -= 1
        while (i >= 0 && stmt.charAt(i).isWhitespace) i -= 1
        if (i < 0) return None
        continueScan = true
      }
    }
    Some(start)
  }

  /** Opening quote of the string literal whose CLOSING quote is at
    * `close`, or -1 — a forward span scan (doubled '' escapes make a
    * back-scan ambiguous). */
  private def literalStart(stmt: String, close: Int): Int = {
    val open = Dialect.spanAt(stmt, close)
    if (open >= 0 && stmt.charAt(open) == '\'' &&
        Dialect.spanEnd(stmt, open) == close + 1) open
    else -1
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

  private val keyword = Set(
    "select", "from", "where", "join", "on", "and", "or", "not", "in",
    "exists", "between", "like", "ilike", "is", "as", "by", "group",
    "order", "having", "qualify", "limit", "offset", "union", "all",
    "distinct", "over", "partition", "values", "when", "then", "else",
    "case", "end", "set", "using", "cross", "inner", "left", "right",
    "full", "outer", "semi", "anti", "lateral", "window", "intersect",
    "except", "asof", "positional")
}
