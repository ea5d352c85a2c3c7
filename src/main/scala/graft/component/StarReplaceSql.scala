package graft.component

/** DuckDB's `SELECT * REPLACE (expr AS col, ...)` star modifier — keep
  * every column of `*` but substitute the listed expressions for the
  * named columns, IN PLACE (the replaced column keeps its original
  * position). The reference accepts it because user SQL goes to DuckDB
  * verbatim (`/root/reference/src/query_orchestrator.py:351`); Spark has
  * no REPLACE spelling, only `* EXCEPT(...)`.
  *
  * Two session-free textual forms are derived from one scan:
  *   - [[except]]: `* EXCEPT(col, ...), expr AS col, ...` — value-correct
  *     everywhere (any nesting depth), but the replaced columns move to
  *     the end of the projection;
  *   - [[strip]]: the REPLACE list deleted (`*` kept) — same column NAMES
  *     and ORDER as DuckDB's result, wrong values.
  * [[Executor]] runs the except-form and restores DuckDB's column order
  * from the strip-form's ANALYZED (never executed) schema — exact order
  * parity at the statement's top level, zero execution cost. A REPLACE
  * inside a subquery still computes correct values via the except-form;
  * outer references are by name, where order is moot.
  *
  * The scan anchors on `*` (optionally qualified `t.*`, optionally
  * followed by an `EXCEPT(...)`/`EXCLUDE(...)` group, which merges into
  * the generated EXCEPT list) — never on the bare word REPLACE, which is
  * also the string function `replace(s, from, to)`. */
object StarReplaceSql {

  /** One `* [EXCEPT(...)] REPLACE(...)` occurrence: the span
    * [starIdx, listClose] is rebuilt by the transforms. `exceptSpan` is
    * the existing group's paren pair — inner text is re-read from the
    * ORIGINAL statement (masking blanks quoted names). */
  private final case class Occ(starIdx: Int, listOpen: Int, listClose: Int,
                               exceptSpan: Option[(Int, Int)])

  private[component] def has(stmt: String, masked: String): Boolean =
    occurrences(stmt, masked).nonEmpty

  /** Is the `*` at `idx` a STAR (projection) rather than multiplication?
    * A star follows a select-list context: start of text, `,`, `(`, a
    * qualifying `.` (`t.*`), or the keywords SELECT/DISTINCT/ALL. A `*`
    * after an operand (identifier char, `)`, `]`, a quote) is the
    * multiplication operator — `amount * replace(fmt, ',', '')` must
    * never read as a star modifier. */
  private[component] def isStar(stmt: String, idx: Int): Boolean = {
    // read the ORIGINAL text: masking blanks string literals, and a
    // literal before `*` ('a' * replace(..)) is an operand end too
    var j = idx - 1
    while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
    if (j < 0) return true
    stmt.charAt(j) match {
      case ',' | '(' | '.' => true
      case c if c.isLetterOrDigit || c == '_' =>
        var k = j
        while (k >= 0 && { val ch = stmt.charAt(k); ch.isLetterOrDigit || ch == '_' })
          k -= 1
        Set("select", "distinct", "all")(
          stmt.substring(k + 1, j + 1).toLowerCase)
      case _ => false // ), ], quote chars, operators: an operand ended
    }
  }

  private def occurrences(stmt: String, masked: String): List[Occ] = {
    val out = scala.collection.mutable.ListBuffer[Occ]()
    var i = 0
    while (i < masked.length) {
      if (masked.charAt(i) == '*' && isStar(stmt, i)) {
        var j = i + 1
        while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
        // optional existing EXCEPT/EXCLUDE group (EXCLUDE before
        // Dialect.rewrite's regex pass has run, EXCEPT after)
        var exceptSpan: Option[(Int, Int)] = None
        "(?is)^(EXCEPT|EXCLUDE)\\s*\\(".r.findFirstMatchIn(masked.substring(j))
          .foreach { m =>
            val open = j + m.end - 1
            val close = Dialect.matchingParen(masked, open)
            if (close > 0) {
              exceptSpan = Some((open, close))
              j = close + 1
              while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
            }
          }
        "(?is)^REPLACE\\s*\\(".r.findFirstMatchIn(masked.substring(j)).foreach { m =>
          val open = j + m.end - 1
          val close = Dialect.matchingParen(masked, open)
          if (close > 0) out += Occ(i, open, close, exceptSpan)
        }
      }
      i += 1
    }
    out.toList
  }

  /** Depth-0 comma split of the REPLACE list, each `expr AS name` —
    * the LAST depth-0 AS binds the name (`CAST(x AS INT) AS c` has one
    * inside the call). Loud on a missing alias: silently passing the
    * entry through would project an unnamed duplicate column. */
  private def items(stmt: String, o: Occ): Seq[(String, String)] = {
    val pieces = Dialect.splitTop(stmt.substring(o.listOpen + 1, o.listClose))
      .filter(_.nonEmpty).map(p => (p, Dialect.maskQuoted(p)))
    pieces.map { case (piece, pieceMasked) =>
      var lastAs = -1
      "(?is)\\bAS\\b".r.findAllMatchIn(pieceMasked).foreach { m =>
        val prefix = pieceMasked.substring(0, m.start)
        val depth = prefix.count(c => c == '(' || c == '[') -
          prefix.count(c => c == ')' || c == ']')
        if (depth == 0) lastAs = m.start
      }
      if (lastAs < 0)
        throw new UserException(
          s"REPLACE entry needs `expr AS name`: ${piece.trim}")
      val expr = piece.substring(0, lastAs).trim
      val name = piece.substring(lastAs + 2).trim
      if (expr.isEmpty || name.isEmpty)
        throw new UserException(
          s"REPLACE entry needs `expr AS name`: ${piece.trim}")
      (expr, name)
    }
  }

  private def transform(stmt: String)(
      render: (Occ, Seq[(String, String)], Option[String]) => String): String = {
    val masked = Dialect.maskQuoted(stmt)
    // right-to-left so earlier offsets stay valid
    occurrences(stmt, masked).sortBy(-_.starIdx).foldLeft(stmt) { (acc, o) =>
      val inner = o.exceptSpan.map { case (open, close) =>
        stmt.substring(open + 1, close) } // the qualifier (t.) sits BEFORE starIdx, kept
      acc.substring(0, o.starIdx) + render(o, items(stmt, o), inner) +
        acc.substring(o.listClose + 1)
    }
  }

  /** Value-correct form: the star's EXCEPT list gains the replaced
    * names, and the expressions append to the projection. */
  def except(stmt: String): String =
    transform(stmt) { (_, its, inner) =>
      val names = (inner.map(_.trim).filter(_.nonEmpty).toSeq ++
        its.map(_._2)).mkString(", ")
      val exprs = its.map { case (e, n) => s"$e AS $n" }.mkString(", ")
      s"* EXCEPT($names), $exprs"
    }

  /** Name/order-correct form: the REPLACE list deleted outright (any
    * EXCEPT/EXCLUDE group kept). Used only for schema analysis, never
    * executed. */
  def strip(stmt: String): String =
    transform(stmt) { (_, _, inner) =>
      inner match {
        case Some(in) => s"* EXCEPT($in)"
        case None => "*"
      }
    }

  /** DuckDB ≥1.2/1.3 star-expression FILTERS — `* LIKE 'pat'`,
    * `* ILIKE 'pat'`, `* NOT [I]LIKE 'pat'`, `* [NOT] SIMILAR TO 're'`
    * (select columns whose NAME matches) — lowered onto the
    * COLUMNS('regex') expansion machinery: LIKE patterns translate to
    * anchored regexes, ILIKE prefixes (?i), NOT wraps a negative
    * lookahead (the expansion matcher is java.util.regex, which supports
    * it; DuckDB's own RE2 does not — this regex never reaches another
    * engine). Post-1.0 surface: the reference pins DuckDB 1.4.4/1.5.2,
    * local v1.0 probes a binder error — semantics from the public docs,
    * spec-pinned (no oracle row possible). Runs BEFORE the match operators
    * so `* SIMILAR TO` is consumed as a star filter, not scanned as the
    * match operator. */
  private[component] val starLike = Dialect.Sites("\\*".r, { (stmt, masked, star) =>
    val i = star.start
    def qualified: Boolean = { // t.* — COLUMNS cannot carry the
      var j = i - 1            // qualifier; leave for a loud error
      while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
      j >= 0 && stmt.charAt(j) == '.'
    }
    var j = i + 1
    while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
    // no trailing \s* in the regex: maskQuoted blanks the LITERAL
    // (quotes included), so \s* would eat into it — skip only true
    // whitespace (same char in masked and original) by hand
    val opM = if (!isStar(stmt, i) || qualified) None
      else "(?is)^(NOT\\s+)?(LIKE|ILIKE|SIMILAR\\s+TO|GLOB)(?=[\\s'])".r
        .findFirstMatchIn(masked.substring(j))
    val qStartOpt = opM.map { m =>
      var k = j + m.end
      while (k < masked.length && masked.charAt(k) == stmt.charAt(k) &&
        stmt.charAt(k).isWhitespace) k += 1
      k
    }
    (opM, qStartOpt) match {
      case (Some(m), Some(qStart)) if qStart < stmt.length &&
          stmt.charAt(qStart) == '\'' =>
        val qEnd = Dialect.spanEnd(stmt, qStart)
        val raw = stmt.substring(qStart + 1, qEnd - 1).replace("''", "'")
        val core = m.group(2).toUpperCase.replaceAll("\\s+", " ") match {
          case "SIMILAR TO" => s"(?:$raw)"
          case "GLOB" => graft.functions.GapKernels.globToRegex(raw)
            .stripPrefix("^").stripSuffix("$")
          case _ => likeToRegex(raw)
        }
        val ci = if (m.group(2).equalsIgnoreCase("ilike")) "(?i)" else ""
        val re =
          if (m.group(1) != null) s"$ci^(?!$core$$).*$$"
          else s"$ci^$core$$"
        Dialect.Splice(i, qEnd, s"COLUMNS('${re.replace("'", "''")}')")
      case _ => Dialect.Skip(star.end)
    }
  })

  /** Paren-less `* EXCLUDE col` / `t.* EXCLUDE col` → the `* EXCEPT(col)`
    * group form the Spark parser knows. DuckDB takes exactly ONE bare
    * column name in this spelling (probed v1.0: `SELECT * EXCLUDE a, c`
    * projects `c` as a separate select item), so only the single
    * following identifier joins the group. Anchored on a true star via
    * [[isStar]] — `price * exclude_col` multiplication never rewrites —
    * and clause keywords after EXCLUDE pass through to a loud parse
    * error rather than swallowing the next clause. */
  private[component] val bareExclude = Dialect.Sites("\\*".r, { (stmt, masked, star) =>
    var j = star.end
    while (j < masked.length && masked.charAt(j) == stmt.charAt(j) &&
      stmt.charAt(j).isWhitespace) j += 1
    (if (isStar(stmt, star.start))
      "(?is)^EXCLUDE\\s+([A-Za-z_][A-Za-z0-9_]*)".r.findFirstMatchIn(masked.substring(j))
    else None) match {
      case Some(g) if !clauseWords(g.group(1).toLowerCase) =>
        Dialect.Splice(j, j + g.end, s"EXCEPT(${g.group(1)})")
      case _ => Dialect.Skip(star.end)
    }
  })

  private val clauseWords = Set("from", "where", "group", "order", "having",
    "limit", "qualify", "window", "union", "intersect", "except", "join",
    "on", "using", "as", "no", "current", "ties")

  /** One qualified star name-filter occurrence
    * (`qual.* [NOT] LIKE/ILIKE/SIMILAR TO 'pat'`). */
  private[component] final case class QLike(qualStart: Int, dotIdx: Int, starIdx: Int,
                                            not: Boolean, op: String,
                                            qStart: Int, qEnd: Int)

  private[component] def findQualifiedLike(stmt: String, masked: String): Option[QLike] = {
    var i = 0
    while (i < masked.length) {
      if (masked.charAt(i) == '*' && isStar(stmt, i)) {
        var j = i - 1
        while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
        if (j >= 0 && stmt.charAt(j) == '.') {
          var k = j - 1
          while (k >= 0 && (stmt.charAt(k).isLetterOrDigit ||
            stmt.charAt(k) == '_')) k -= 1
          if (k < j - 1) {
            var p = i + 1
            while (p < masked.length && masked.charAt(p) == stmt.charAt(p) &&
              stmt.charAt(p).isWhitespace) p += 1
            val opM = "(?is)^(NOT\\s+)?(LIKE|ILIKE|SIMILAR\\s+TO|GLOB)(?=[\\s'])".r
              .findFirstMatchIn(masked.substring(p))
            opM match {
              case Some(m) =>
                var q = p + m.end
                while (q < masked.length && masked.charAt(q) == stmt.charAt(q) &&
                  stmt.charAt(q).isWhitespace) q += 1
                if (q < stmt.length && stmt.charAt(q) == '\'')
                  return Some(QLike(k + 1, j, i, m.group(1) != null,
                    m.group(2).toUpperCase.replaceAll("\\s+", " "),
                    q, Dialect.spanEnd(stmt, q)))
              case None => ()
            }
          }
        }
      }
      i += 1
    }
    None
  }

  /** Does the statement carry a QUALIFIED star name-filter? The
    * unqualified form lowers textually onto COLUMNS in [[starLike]];
    * the qualified form needs the QUALIFIER's schema, so the executor
    * runs [[expandQualifiedLike]] on a [[Body.QualifiedLike]] body.
    * DuckDB ≥ 1.4 surface (v1.0 probes a binder error: "STAR expression
    * is only allowed as the root element"), so the semantics — a name
    * filter over the qualified relation's columns — are spec-pinned. */
  private[component] def hasQualifiedLike(stmt: String, masked: String): Boolean =
    findQualifiedLike(stmt, masked).isDefined

  /** Expand the first `qual.* [NOT] LIKE 'pat'` against the qualifier's
    * ANALYZED schema (the [[ColumnsSql]] probe: `SELECT qual.* FROM
    * <same sources>` is analyzed, never executed). The caller re-enters
    * its rewrite chain on the result, so several occurrences converge. */
  def expandQualifiedLike(body: String,
                          bodyDf: String => org.apache.spark.sql.DataFrame)
      : Option[String] = {
    val masked = Dialect.maskQuoted(body)
    val q = findQualifiedLike(body, masked).getOrElse(return None)
    val qual = body.substring(q.qualStart, q.dotIdx)
    val dep = Dialect.depths(masked)
    val fromM = "(?is)\\bFROM\\b".r.findAllMatchIn(masked)
      .find(m => dep(m.start) == 0 && m.start > q.starIdx)
      .getOrElse(return None)
    val cols: Seq[String] =
      bodyDf(s"SELECT `$qual`.* ${ColumnsSql.probeTail(body, masked, dep, fromM)}")
        .schema.map(_.name)
    val raw = body.substring(q.qStart + 1, q.qEnd - 1).replace("''", "'")
    val core = q.op match {
      case "SIMILAR TO" => s"(?:$raw)"
      case "GLOB" => graft.functions.GapKernels.globToRegex(raw)
        .stripPrefix("^").stripSuffix("$")
      case _ => likeToRegex(raw)
    }
    val re = ((if (q.op == "ILIKE") "(?i)" else "") + "^" + core + "$").r
    val keep = cols.filter(c => re.findFirstIn(c).isDefined != q.not)
    if (keep.isEmpty)
      throw new UserException(
        s"$qual.* ${if (q.not) "NOT " else ""}${q.op} '$raw' matches no " +
          s"column of (${cols.mkString(", ")})")
    Some(body.substring(0, q.qualStart) +
      keep.map(c => s"`$qual`.`$c`").mkString(", ") + body.substring(q.qEnd))
  }

  /** LIKE-pattern → regex CORE (no anchors): `%` any run, `_` one char,
    * everything else literal. */
  private def likeToRegex(pat: String): String = {
    val b = new StringBuilder
    pat.foreach {
      case '%' => b.append(".*")
      case '_' => b.append('.')
      case c if "\\^$.|?*+()[]{}".indexOf(c) >= 0 => b.append('\\').append(c)
      case c => b.append(c)
    }
    b.toString
  }
}
