package graft.component

/** DuckDB function chaining — `expr.f(args)` ≡ `f(expr, args)` — an
  * idiomatic DuckDB spelling (`s.lower().string_split(' ').len()`)
  * migrating scripts carry. Spark's parser reads `a.f(x)` as an
  * (unresolvable) qualified function, so the chain is flattened here,
  * innermost call first; each lowering exposes the next link (`s.f().g()`
  * → the receiver of `.g(` is the call `f(s)`).
  *
  * The receiver is the dialect's postfix operand ([[Dialect.operandStart]]
  * at [[Dialect.Postfix]]): identifier chains, quoted identifiers,
  * parenthesized expressions, call, subscript and window results. A bare
  * string LITERAL receiver is a DuckDB v1.0 parse error (probed), so
  * `'x'.f()` is deliberately left alone; a dotted name straight after
  * FROM/JOIN is schema-qualified table access, not a chain — skipped.
  */
object DotCall {

  private val callRe = "\\.\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\(".r
  private val tablePosition = "(?is)\\b(FROM|JOIN|INTO|UPDATE|TABLE|VIEW)\\s*$".r

  private[component] val chains = Dialect.Sites(callRe, { (stmt, masked, m) =>
    (for {
      rs <- Dialect.operandStart(stmt, masked, m.start, Dialect.Postfix)
      if stmt.charAt(rs) != '\''
      // not a qualified table(-function) ref in table position —
      // `FROM main.range(3)`, `INSERT INTO out.csv (a, b)`
      if tablePosition.findFirstIn(masked.substring(0, rs)).isEmpty
      close = Dialect.matchingParen(masked, m.end - 1)
      if close >= 0
    } yield {
      val receiver = stmt.substring(rs, m.start).trim
      val args = stmt.substring(m.end, close).trim
      Dialect.Splice(rs, close + 1,
        if (args.isEmpty) s"${m.group(1)}($receiver)"
        else s"${m.group(1)}($receiver, $args)")
    }).getOrElse(Dialect.Skip(m.end))
  })

  def rewrite(stmt: String): String = Dialect.run(stmt, chains)
}
