package graft.component

import org.apache.spark.sql.DataFrame

/** DuckDB's `COLUMNS(*)` / `COLUMNS('regex')` star expression — apply a
  * select-list expression to EVERY matching column of the source:
  * `SELECT max(COLUMNS(*)) FROM t` computes the max of every column,
  * `SELECT COLUMNS('p_.*') FROM t` projects the columns whose name
  * matches the regex. Legal in the reference because user SQL goes to
  * DuckDB verbatim (`/root/reference/src/query_orchestrator.py:351`).
  *
  * Spark has no such spelling, so the executor expands it TEXTUALLY
  * against the source's ANALYZED schema (the [[StarReplaceSql]] probe
  * technique: `SELECT * FROM <same sources>` is analyzed — never
  * executed — to learn the column names; zero execution cost, no
  * catalog lookups beyond what the query itself does). Each select-list
  * item containing a COLUMNS call replicates once per matching column,
  * the call's span replaced by the quoted column name; a wrapped item
  * aliases as the rendered expression (`max(c)` — DuckDB prints
  * `max(t.c)`, same shape). The regex matches column names partially
  * (RE2 search semantics, DuckDB's rule), case-sensitively.
  *
  * Scope (corpus-driven): the TOP-LEVEL select list of a SELECT body —
  * where profiles and per-column normalizations live. A COLUMNS deeper
  * in the statement is left to fail loudly at parse, never silently
  * mis-expanded; one COLUMNS call per item (DuckDB's lockstep zip of
  * multiple calls is out of scope, also loud). */
object ColumnsSql {

  private[component] val callRe = "(?is)\\bCOLUMNS\\s*\\(".r

  /** Does the masked body call COLUMNS anywhere? */
  private[component] def has(masked: String): Boolean =
    callRe.findFirstMatchIn(masked).isDefined

  /** Expand, given the executor's bodyDf for the schema probe; None when
    * the statement has no COLUMNS call or is not a plain SELECT body. */
  def expand(body: String, bodyDf: String => DataFrame): Option[String] = {
    val masked = Dialect.maskQuoted(body)
    if (callRe.findFirstMatchIn(masked).isEmpty) return None
    val dep = Dialect.depths(masked)
    val selM = "(?is)^\\s*SELECT\\b(\\s+DISTINCT\\b)?".r
      .findFirstMatchIn(masked).getOrElse(return None)
    val fromM = "(?is)\\bFROM\\b".r.findAllMatchIn(masked)
      .find(m => dep(m.start) == 0).getOrElse(return None)
    // WHERE-clause COLUMNS: the WHOLE predicate replicates per matched
    // column, AND-joined (probed v1.0 — OR mixtures and compound
    // predicates replicate as one unit). Expanded FIRST and returned;
    // the caller re-enters the rewrite chain on the result, so the
    // select-list probe below never sees a COLUMNS inside its own
    // probe tail.
    locally {
      val whereM = "(?is)\\bWHERE\\b".r.findAllMatchIn(masked)
        .find(w => dep(w.start) == 0 && w.start > fromM.end)
      whereM.foreach { w =>
        val endW = ("(?is)\\b(GROUP\\s+BY|HAVING|ORDER\\s+BY|LIMIT|" +
          "QUALIFY|WINDOW)\\b").r.findAllMatchIn(masked)
          .find(m2 => dep(m2.start) == 0 && m2.start > w.end)
          .map(_.start).getOrElse(body.length)
        val wTxt = body.substring(w.end, endW)
        val wMasked = masked.substring(w.end, endW)
        val wCalls = callRe.findAllMatchIn(wMasked).toList
        if (wCalls.nonEmpty) {
          val spans = wCalls.map { c =>
            val cl = Dialect.matchingParen(wMasked, c.end - 1)
            if (cl < 0) throw new UserException(
              s"unbalanced COLUMNS(...) in WHERE: ${wTxt.trim}")
            (c.start, c.end - 1, cl)
          }
          val argTexts = spans.map { case (_, o, cl) =>
            wTxt.substring(o + 1, cl).trim }
          if (argTexts.distinct.length != 1)
            throw new UserException(
              "multiple DIFFERENT COLUMNS(...) calls in one WHERE " +
                "clause are not supported (DuckDB rejects them too)")
          val colsW = bodyDf(
            s"SELECT * ${body.substring(fromM.start, w.start)}")
            .schema.map(_.name)
          val ms = argMatches(argTexts.head, colsW, bodyDf)
          if (ms.isEmpty) throw new UserException(
            s"COLUMNS(${argTexts.head}) matches no column of " +
              s"(${colsW.mkString(", ")})")
          val replicas = ms.map { c =>
            val sb = new StringBuilder(wTxt)
            spans.sortBy { case (s0, _, _) => -s0 }.foreach {
              case (st, _, cl) => sb.replace(st, cl + 1, s"`$c`")
            }
            s"(${sb.toString.trim})"
          }
          return Some(body.substring(0, w.end) + " " +
            replicas.mkString(" AND ") + " " + body.substring(endW))
        }
      }
    }
    val cols: Seq[String] =
      bodyDf(s"SELECT * ${probeTail(body, masked, dep, fromM)}").schema.map(_.name)

    // depth-0 comma split of the select list
    val items = Dialect.splitTop(body.substring(selM.end, fromM.start))
      .filter(_.nonEmpty).map(i => (i, Dialect.maskQuoted(i)))
    // the call sits deeper (subquery, FROM item): unsupported — return
    // None so the statement fails loudly at parse instead of looping
    // through an expansion that changes nothing
    if (!items.exists(i => callRe.findFirstMatchIn(i._2).isDefined)) return None

    val expanded = items.flatMap { case (item, mItem) =>
      val calls = callRe.findAllMatchIn(mItem).toList
      if (calls.isEmpty) Seq(item.trim)
      else {
        val spans = calls.map { c =>
          val cl = Dialect.matchingParen(mItem, c.end - 1)
          if (cl < 0)
            throw new UserException(s"unbalanced COLUMNS(...): ${item.trim}")
          (c.start, c.end - 1, cl)
        }
        // IDENTICAL calls expand in LOCKSTEP (probed v1.0: legal, the
        // output column takes the bare matched name); DIFFERENT calls
        // in one expression are DuckDB's own binder error — same here
        val argTexts = spans.map { case (_, o, cl) =>
          item.substring(o + 1, cl).trim }
        if (argTexts.distinct.length != 1)
          throw new UserException(
            "multiple DIFFERENT COLUMNS(...) calls in one select item " +
              s"are not supported (DuckDB rejects them too): ${item.trim}")
        val m = calls.head
        val open = m.end - 1
        val close = spans.head._3
        val arg = argTexts.head
        val matches: Seq[String] = argMatches(arg, cols, bodyDf)
        if (matches.isEmpty)
          throw new UserException(
            s"COLUMNS($arg) matches no column of (${cols.mkString(", ")})")
        if (spans.length > 1) {
          // lockstep replica per matched column: every call span becomes
          // the SAME column; the item aliases as the bare column name
          // (probed v1.0) unless the user wrote one
          val lockAlias = "(?is)\\bAS\\s+\\S+\\s*$".r
            .findFirstIn(mItem.substring(spans.last._3 + 1)).isDefined
          if (lockAlias && matches.length > 1)
            throw new UserException(
              s"explicit alias with multi-column COLUMNS expansion: ${item.trim}")
          matches.map { c =>
            val sb = new StringBuilder(item)
            spans.sortBy { case (s, _, _) => -s }.foreach {
              case (st, _, cl) => sb.replace(st, cl + 1, s"`$c`")
            }
            if (lockAlias) sb.toString.trim
            else s"${sb.toString.trim} AS `$c`"
          }
        } else {
        // unpack(COLUMNS(...)) — DuckDB ≥ 1.3: splat the matched columns
        // as ARGUMENTS in place (`greatest(unpack(COLUMNS('x.*')))` →
        // `greatest(x1, x2)`), ONE item, no per-column replication. The
        // local v1.0 oracle lacks the name; spec-pinned from the docs.
        unpackSpan(mItem, m.start, close) match {
          case Some((us, ue)) =>
            return Some(body.substring(0, selM.end) + " " +
              items.map { case (it, mIt) =>
                if (it eq item)
                  (it.substring(0, us) +
                    matches.map(c => s"`$c`").mkString(", ") +
                    it.substring(ue + 1)).trim
                else it.trim
              }.mkString(", ") + " " + body.substring(fromM.start))
          case None => ()
        }
        // bare call: the item IS the COLUMNS(...) call — expands to the
        // plain columns, which alias themselves
        val bare = item.trim == item.substring(m.start, close + 1).trim
        val hasAlias = "(?is)\\bAS\\s+\\S+\\s*$".r
          .findFirstIn(mItem.substring(close + 1)).isDefined
        if (hasAlias && matches.length > 1)
          throw new UserException(
            s"explicit alias with multi-column COLUMNS expansion: ${item.trim}")
        matches.map { c =>
          val replaced = item.substring(0, m.start) + s"`$c`" +
            item.substring(close + 1)
          if (bare || hasAlias) replaced.trim
          // a wrapped call's replica takes the BARE matched column name
          // (probed v1.0: `max(COLUMNS('p.*'))` outputs p_a, p_b — NOT
          // `max(p_a)`; r15 realigned from the earlier rendered-name
          // convention, which let no wrapped query be an oracle row)
          else s"${replaced.trim} AS `$c`"
        }
        }
      }
    }
    Some(body.substring(0, selM.end) + " " + expanded.mkString(", ") + " " +
      body.substring(fromM.start))
  }

  /** The FROM..WHERE tail of a block from its depth-0 `from` match: the
    * source of a schema probe (`SELECT * <tail>`, analyzed, never
    * executed), cut before the clauses a bare SELECT * cannot carry. */
  private[component] def probeTail(body: String, masked: String, dep: Array[Int],
                                   from: scala.util.matching.Regex.Match): String = {
    val cut = "(?is)\\b(GROUP\\s+BY|HAVING|ORDER\\s+BY|LIMIT|QUALIFY|WINDOW)\\b".r
      .findAllMatchIn(masked).find(m => dep(m.start) == 0 && m.start > from.end)
    body.substring(from.start, cut.map(_.start).getOrElse(body.length))
  }

  /** The column names a COLUMNS argument selects (probed v1.0; matched
    * names come back in TABLE order for every form):
    *  - `*` — every column;
    *  - `'regex'` — RE2-style partial match on the name, case-sensitive;
    *  - `* EXCLUDE (a, b)` / `* EXCLUDE a` — all but the listed columns
    *    (arrives as `* EXCEPT(...)` after the dialect's star lowering;
    *    both spellings accepted); unknown names are loud, like the
    *    binder;
    *  - `['a', 'b']` — an explicit name list (arrives as `array(...)`
    *    after the bracket lowering); unknown names are loud;
    *  - `c -> predicate` — a lambda over the column NAME, evaluated as
    *    ONE constant Spark expression (`filter(array(names), c -> p)`) —
    *    a predicate referencing table columns fails loudly (no FROM in
    *    scope), exactly the binder's rule. */
  private def argMatches(arg: String, cols: Seq[String],
                         bodyDf: String => DataFrame): Seq[String] = {
    def unq(s: String): String = {
      val t = s.trim
      if (t.length >= 2 && t.head == '\'' && t.last == '\'')
        t.substring(1, t.length - 1).replace("''", "'")
      else if (t.length >= 2 && (t.head == '"' || t.head == '`') &&
        t.last == t.head) t.substring(1, t.length - 1)
      else t
    }
    val starEx =
      "(?is)^\\*\\s*(?:EXCEPT|EXCLUDE)\\s*(?:\\(([^)]*)\\)|([A-Za-z_]\\w*))\\s*$".r
    val listForm = "(?is)^(?:array\\s*\\((.*)\\)|\\[(.*)\\])\\s*$".r
    val lambdaForm = "(?is)^([A-Za-z_]\\w*)\\s*->\\s*(.+)$".r
    if (arg == "*") cols
    else if (arg.length >= 2 && arg.head == '\'' && arg.last == '\'') {
      val re = arg.substring(1, arg.length - 1).replace("''", "'").r
      cols.filter(c => re.findFirstIn(c).isDefined)
    } else arg match {
      case starEx(listTxt, single) =>
        val excluded = Option(listTxt)
          .map(_.split(",").toSeq).getOrElse(Seq(single))
          .map(e => unq(e)).filter(_.nonEmpty)
        excluded.foreach(e => if (!cols.exists(_.equalsIgnoreCase(e)))
          throw new UserException(
            s"COLUMNS(* EXCLUDE): column $e not found in " +
              s"(${cols.mkString(", ")})"))
        val ex = excluded.map(_.toLowerCase).toSet
        cols.filterNot(c => ex(c.toLowerCase))
      case listForm(a, b) =>
        val names = Option(a).getOrElse(b).split(",").toSeq
          .map(unq).filter(_.nonEmpty)
        if (names.isEmpty) throw new UserException(
          "COLUMNS([...]): the name list is empty")
        names.foreach(n => if (!cols.exists(_.equalsIgnoreCase(n)))
          throw new UserException(
            s"COLUMNS([...]): column $n was selected but was not found"))
        val want = names.map(_.toLowerCase).toSet
        cols.filter(c => want(c.toLowerCase))
      case lambdaForm(v, pred) =>
        val listed = cols.map(c => s"'${c.replace("'", "''")}'")
          .mkString(", ")
        val r = bodyDf(s"SELECT filter(array($listed), $v -> $pred) AS __c")
          .collect().head.getSeq[String](0)
        if (r == null) Seq.empty else r
      case _ => throw new UserException(
        "COLUMNS takes *, a quoted regex, a name list, a name lambda, " +
          s"or * EXCLUDE (...), got: $arg")
    }
  }

  /** The span of a DIRECT `unpack( ... )` wrapper around the COLUMNS
    * call at [callStart, callClose] — (unpack-name start, unpack close
    * paren), or None. */
  private def unpackSpan(masked: String, callStart: Int,
                         callClose: Int): Option[(Int, Int)] = {
    var b = callStart - 1
    while (b >= 0 && masked.charAt(b).isWhitespace) b -= 1
    if (b < 0 || masked.charAt(b) != '(') return None
    var c = b - 1
    while (c >= 0 && masked.charAt(c).isWhitespace) c -= 1
    val end = c
    while (c >= 0 && (masked.charAt(c).isLetterOrDigit ||
      masked.charAt(c) == '_')) c -= 1
    if (!masked.substring(c + 1, end + 1).equalsIgnoreCase("unpack") ||
      (c >= 0 && (masked.charAt(c) == '.' || masked.charAt(c) == '_' ||
        masked.charAt(c).isLetterOrDigit))) return None
    var d = callClose + 1
    while (d < masked.length && masked.charAt(d).isWhitespace) d += 1
    if (d < masked.length && masked.charAt(d) == ')') Some((c + 1, d))
    else None
  }
}
