package graft.component

/** DuckDB function chaining — `expr.f(args)` ≡ `f(expr, args)` — an
  * idiomatic DuckDB spelling (`s.lower().string_split(' ').len()`)
  * migrating scripts carry. Spark's parser reads `a.f(x)` as an
  * (unresolvable) qualified function, so the chain is flattened here,
  * innermost call first; each pass exposes the next link (`'…'.f().g()`
  * → after one pass the receiver of `.g(` ends in `)`).
  *
  * Receiver grammar (matched by a masked-text back-scan): identifier
  * chains (`a.b`), quoted identifiers, parenthesized expressions,
  * function-call results, and bracket/subscript results — exactly the
  * shapes DuckDB v1.0 accepts (probed: a bare string LITERAL receiver is
  * a DuckDB parse error too, so `'x'.f()` is deliberately left alone).
  * A dotted name straight after FROM/JOIN is schema-qualified table
  * access, not a chain — skipped.
  */
object DotCall {

  private val callRe = "\\.\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\(".r

  def has(stmt: String): Boolean =
    callRe.findFirstIn(Dialect.maskQuoted(stmt)).isDefined

  def rewrite(stmt0: String): String = {
    var stmt = stmt0
    var guard = 0
    while (guard < 128) {
      guard += 1
      val masked = Dialect.maskQuoted(stmt)
      val hit = callRe.findAllMatchIn(masked).flatMap { m =>
        receiverStart(stmt, masked, m.start).map(rs => (m, rs))
      }.find { case (m, rs) =>
        // not a qualified table(-function) ref in table position —
        // `FROM main.range(3)`, `INSERT INTO out.csv (a, b)`
        !"(?is)\\b(FROM|JOIN|INTO|UPDATE|TABLE|VIEW)\\s*$".r
          .findFirstIn(masked.substring(0, rs)).isDefined
      }
      hit match {
        case None => return stmt
        case Some((m, rs)) =>
          val open = m.end - 1
          val close = Dialect.matchingParen(masked, open)
          if (close < 0) return stmt
          val receiver = stmt.substring(rs, m.start).trim
          val fn = m.group(1)
          val args = stmt.substring(open + 1, close).trim
          val call =
            if (args.isEmpty) s"$fn($receiver)"
            else s"$fn($receiver, $args)"
          stmt = stmt.substring(0, rs) + call + stmt.substring(close + 1)
      }
    }
    stmt
  }

  /** Start index of the receiver expression ending just before the `.`
    * at `dot`, or None when the preceding text is not a chainable
    * receiver (e.g. a string literal, a number, start of statement). */
  private def receiverStart(stmt: String, masked: String,
                            dot: Int): Option[Int] = {
    var i = dot - 1
    while (i >= 0 && stmt.charAt(i).isWhitespace) i -= 1
    if (i < 0) return None
    var start = -1
    var continueScan = true
    while (continueScan) {
      continueScan = false
      val c = stmt.charAt(i)
      if (masked.charAt(i) != c) {
        // inside a masked span: a closing '"'/'`' is a quoted-identifier
        // receiver; a "'" is a string literal (not chainable in DuckDB)
        if (c == '"' || c == '`') {
          val openQ = stmt.lastIndexOf(c, i - 1)
          if (openQ < 0) return None
          start = openQ; i = openQ - 1
        } else return None
      } else if (c == ')' || c == ']') {
        val open = Dialect.openingParen(masked, i, if (c == ')') '(' else '[', c)
        if (open < 0) return None
        start = open; i = open - 1
        // a call's name (or an array base) belongs to the receiver — but
        // a KEYWORD before the paren (`WHERE (x).f()`, `IN (…)`) does not
        if (i >= 0 && isIdentChar(masked.charAt(i))) {
          val e = i
          while (i >= 0 && isIdentChar(masked.charAt(i))) i -= 1
          if (keyword(stmt.substring(i + 1, e + 1).toLowerCase)) i = e
          else start = i + 1
        }
      } else if (isIdentChar(c)) {
        while (i >= 0 && isIdentChar(masked.charAt(i))) i -= 1
        start = i + 1
        if (stmt.charAt(start).isDigit) return None // numeric literal
      } else return None
      // a '.' before the consumed segment extends the receiver
      // (identifier chains a.b.c, chained results f(x).g(y))
      if (i >= 0 && stmt.charAt(i) == '.' && masked.charAt(i) == '.') {
        i -= 1
        while (i >= 0 && stmt.charAt(i).isWhitespace) i -= 1
        if (i < 0) return None
        continueScan = true
      }
    }
    Some(start)
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
