package graft.component

/** `MERGE INTO` — DuckDB ≥ 1.4 surface (the reference pins engine
  * versions 1.4.4 / 1.5.2 and passes user SQL to the engine verbatim,
  * `/root/reference/src/query_orchestrator.py:351`). The local oracle is
  * DuckDB v1.0 (parse error), so semantics are SPEC-PINNED from the
  * published 1.4 statement docs, never hashed oracle rows — the
  * version-sensitive-renderer rule.
  *
  * Grammar (the documented 1.4 core):
  * {{{
  * MERGE INTO target [AS a] USING source [AS b] ON cond
  *   WHEN MATCHED [AND c] THEN {UPDATE [SET ...] | DELETE | DO NOTHING | ERROR [msg]}
  *   WHEN NOT MATCHED [BY TARGET] [AND c] THEN {INSERT [(cols)] VALUES (...) | INSERT | DO NOTHING | ERROR [msg]}
  *   WHEN NOT MATCHED BY SOURCE [AND c] THEN {UPDATE SET ... | DELETE | DO NOTHING | ERROR [msg]}
  * [RETURNING [merge_action,] ...]
  * }}}
  * Clause order is first-match-wins within each branch. The bare
  * `UPDATE` shorthand assigns every target column that has a same-named
  * source column; the bare `INSERT` shorthand inserts the source row BY
  * NAME (missing target columns NULL-fill). `merge_action` in RETURNING
  * renders 'UPDATE' / 'DELETE' / 'INSERT' per affected row.
  *
  * DuckDB's UPDATE and DELETE lower onto the same plan, as one-clause
  * merges (the join forms probed v1.0 and pinned in StatementSurfaceSpec;
  * a join form needs its WHERE, and comma-joined source lists reject
  * loudly — pre-join them in a subquery):
  * {{{
  * UPDATE t [AS a] SET ... FROM src WHERE c  ≡ MERGE INTO t USING src ON c WHEN MATCHED THEN UPDATE SET ...
  * DELETE FROM t [AS a] USING src WHERE c    ≡ MERGE INTO t USING src ON c WHEN MATCHED THEN DELETE
  * UPDATE t [AS a] SET ... [WHERE c]         ≡ the same one-clause merge with no source, ON c
  * DELETE FROM t [AS a] [WHERE c]            ≡ (ON TRUE without a WHERE)
  * }}}
  * Several source rows matching one target row update from ONE
  * arbitrary match (DuckDB does the same, no error). Column names that
  * both sides carry must be qualified with the table or alias name.
  * The lowered forms keep their own statement name in errors and have
  * no `merge_action`. Every statement that starts with UPDATE or DELETE
  * is one of these forms or a parse error: none reaches Spark's parser.
  *
  * Parsing only — [[Executor.executeMerge]] runs the plan: one
  * uid-annotated left join for the matched / not-matched-by-source
  * branches (one anti-join when every match is deleted), one anti-join
  * for the insert branch (the distributed shuffle-on-key MERGE shape;
  * no per-row path); a merge with no source marks the target's rows in
  * place.
  */
object MergeSql {

  sealed trait Action
  /** `sets` empty = the bare `UPDATE` by-name shorthand. */
  final case class Update(sets: Seq[(String, String)]) extends Action
  case object Delete extends Action
  case object DoNothing extends Action
  /** Raise on any row reaching the clause; `msg` is an optional string
    * literal (expression messages are out of scope, loud). */
  final case class Error(msg: Option[String]) extends Action
  /** `cols`/`values` None = the bare `INSERT` by-name shorthand. */
  final case class Insert(cols: Option[Seq[String]],
                          values: Option[Seq[String]]) extends Action

  sealed trait Kind
  case object Matched extends Kind            // WHEN MATCHED
  case object NotMatchedByTarget extends Kind // WHEN NOT MATCHED [BY TARGET]
  case object NotMatchedBySource extends Kind // WHEN NOT MATCHED BY SOURCE

  /** One WHEN clause; `idx` is the global clause position (first-match-
    * wins chains are built per branch in clause order). */
  final case class Clause(idx: Int, kind: Kind, cond: Option[String],
                          action: Action)

  /** `verb` is the statement the user wrote (`MERGE INTO`, or `UPDATE` /
    * `DELETE FROM` for the lowered forms): it names errors, and only a
    * MERGE has the `merge_action` pseudo-column. `source` is None for a
    * plain UPDATE / DELETE. */
  final case class Parsed(target: String, targetAlias: Option[String],
                          source: Option[String], on: String,
                          clauses: Seq[Clause], verb: String = Merge) {
    def isMerge: Boolean = verb == Merge
  }

  private val Merge = "MERGE INTO"

  /** `<lead> target [[AS] alias]`, then one of the keywords `kws`
    * (group 3) or, when `bare`, the end of the statement. The alias may
    * not be a keyword. The match runs on the statement text itself: the
    * target is the only quoted token it spans, and masking would blank it. */
  private def head(lead: String, kws: String, bare: Boolean) =
    (s"(?is)^\\s*$lead\\s+(`[^`]+`|\"[^\"]+\"|[A-Za-z_][\\w.]*)" +
      s"(?:\\s+(?:AS\\s+)?(?!(?:$kws)\\b)([A-Za-z_]\\w*))?" +
      s"(?:\\s+($kws)\\b${if (bare) "|\\s*$" else ""})").r
  private val mergeHead = head("MERGE\\s+INTO", "USING", bare = false)
  private val updateHead = head("UPDATE", "SET", bare = false)
  private val deleteHead = head("DELETE\\s+FROM", "USING|WHERE", bare = true)
  private val dmlStart = "(?is)^\\s*(UPDATE|DELETE)\\b".r

  /** Strip one pair of identifier quotes (`"x"` / `` `x` ``). */
  private[component] def unq(s: String): String = {
    val t = s.trim
    if ((t.startsWith("\"") && t.endsWith("\"")) ||
      (t.startsWith("`") && t.endsWith("`"))) t.substring(1, t.length - 1)
    else t
  }

  private val lastNamePart = "(\"[^\"]*\"|`[^`]*`|[^.]*)$".r

  /** A `col = expr, ...` SET list → (bare column, expression text) pairs;
    * a qualified target (`t.col`, `t."a.b"`) keeps its last name part.
    * None when an item has no `=` or the list is empty. */
  private[component] def setList(txt: String): Option[Seq[(String, String)]] = {
    val sets = Dialect.splitTop(txt).filter(_.nonEmpty).map { a =>
      val eq = Dialect.maskQuoted(a).indexOf('=')
      if (eq < 0) return None
      (unq(lastNamePart.findFirstIn(a.substring(0, eq).trim).get),
        a.substring(eq + 1).trim)
    }
    if (sets.isEmpty) None else Some(sets)
  }

  /** First depth-0 match of `re` in masked text. */
  private def topLevel(re: String, masked: String) = {
    val dep = Dialect.depths(masked)
    re.r.findAllMatchIn(masked).find(m => dep(m.start) == 0)
  }

  /** None for a statement that is not MERGE, UPDATE or DELETE; an
    * UPDATE or DELETE this parser cannot read throws. */
  def parse(stmt0: String): Option[Parsed] = {
    val stmt = stmt0.trim.stripSuffix(";")
    val masked = Dialect.maskQuoted(stmt)
    mergeHead.findFirstMatchIn(stmt).map(parseMerge(stmt, _)).orElse(
      dmlStart.findFirstMatchIn(masked).map(m =>
        if (m.group(1).equalsIgnoreCase("UPDATE")) parseUpdate(stmt, masked)
        else parseDelete(stmt)))
  }

  private def parseMerge(stmt: String, hm: scala.util.matching.Regex.Match): Parsed = {
    val target = unq(stmt.substring(hm.start(1), hm.end(1)))
    val alias = Option(hm.group(2))
    val rest = stmt.substring(hm.end)
    val onM = topLevel("(?is)\\bON\\b", Dialect.maskQuoted(rest))
      .getOrElse(throw new UserException(
        "MERGE INTO: an ON join condition is required"))
    val sourceText = rest.substring(0, onM.start).trim
    val afterOn = rest.substring(onM.end)
    val am = Dialect.maskQuoted(afterOn)
    val ad = Dialect.depths(am)
    val whens = "(?is)\\bWHEN\\b".r.findAllMatchIn(am)
      .filter(m => ad(m.start) == 0).toSeq
    if (whens.isEmpty) throw new UserException(
      "MERGE INTO: at least one WHEN clause is required")
    val on = afterOn.substring(0, whens.head.start).trim
    if (on.isEmpty) throw new UserException(
      "MERGE INTO: the ON condition is empty")
    // clause i spans from whens(i).end to whens(i+1).start (or the end)
    val spans = whens.zipWithIndex.map { case (w, i) =>
      val end = if (i + 1 < whens.length) whens(i + 1).start else afterOn.length
      afterOn.substring(w.end, end)
    }
    val clauses = spans.zipWithIndex.map { case (txt, i) =>
      parseClause(txt, i)
    }
    validate(target, clauses)
    Parsed(target, alias, Some(sourceText), on, clauses)
  }

  /** `UPDATE t [[AS] a] SET ... [FROM src] [WHERE c]`. The statement's
    * WHERE is its first depth-0 one, and a depth-0 FROM before it (not
    * the FROM of `IS [NOT] DISTINCT FROM`) starts the join form's source. */
  private def parseUpdate(stmt: String, masked: String): Parsed = {
    val hm = updateHead.findFirstMatchIn(stmt).getOrElse(throw new UserException(
      "UPDATE: expected UPDATE table [[AS] alias] SET col = expr, ... " +
        "[FROM source] [WHERE condition]"))
    val target = unq(stmt.substring(hm.start(1), hm.end(1)))
    val rest = stmt.substring(hm.end)
    val rm = masked.substring(hm.end)
    val wm = topLevel("(?is)\\bWHERE\\b", rm)
    val fm = topLevel("(?is)(?<!\\bDISTINCT\\s{1,64})\\bFROM\\b",
      rm.substring(0, wm.fold(rm.length)(_.start)))
    val sets = setList(rest.substring(0, fm.orElse(wm).fold(rest.length)(_.start)))
      .getOrElse(throw new UserException(
        s"UPDATE $target: SET needs a col = expr list"))
    lowered("UPDATE", target, Option(hm.group(2)),
      fm.map(f => rest.substring(f.end, wm.fold(rest.length)(_.start))),
      wm.map(w => rest.substring(w.end)), Update(sets))
  }

  /** `DELETE FROM t [[AS] a] [USING src] [WHERE c]`. */
  private def parseDelete(stmt: String): Parsed = {
    val hm = deleteHead.findFirstMatchIn(stmt).getOrElse(throw new UserException(
      "DELETE: expected DELETE FROM table [[AS] alias] [USING source] " +
        "[WHERE condition]"))
    val tail = stmt.substring(hm.end)
    val (source, where) = Option(hm.group(3)).map(_.toUpperCase) match {
      case Some("USING") =>
        val wm = topLevel("(?is)\\bWHERE\\b", Dialect.maskQuoted(tail))
        (Some(wm.fold(tail)(w => tail.substring(0, w.start))), wm.map(w => tail.substring(w.end)))
      case kw => (None, kw.map(_ => tail))
    }
    lowered("DELETE FROM", unq(stmt.substring(hm.start(1), hm.end(1))),
      Option(hm.group(2)), source, where, Delete)
  }

  /** A lowered UPDATE / DELETE: a one-clause WHEN MATCHED merge over the
    * FROM / USING `source`, if any, whose ON is the WHERE condition (TRUE
    * without a WHERE, which only a form without a source may omit). */
  private def lowered(verb: String, target: String, alias: Option[String],
                      source: Option[String], where: Option[String],
                      action: Action): Parsed = {
    source.foreach { src =>
      val what = if (action == Delete) s"$verb $target USING" else s"$verb $target ... FROM"
      if (where.isEmpty) throw new UserException(
        s"$what: a WHERE join condition is required (an unconditioned cross-join " +
          (if (action == Delete) "delete empties the table on any non-empty source"
           else "update takes an arbitrary source row") + ")")
      if (Dialect.splitTop(Dialect.maskQuoted(src)).length > 1) throw new UserException(
        s"$what: only one source relation is supported " +
          "(pre-join multiple sources in a subquery)")
    }
    val on = where.fold("TRUE")(_.trim)
    if (on.isEmpty) throw new UserException(s"$verb $target: the WHERE condition is empty")
    Parsed(target, alias, source.map(_.trim), on, Seq(Clause(0, Matched, None, action)), verb)
  }

  private def parseClause(txt0: String, idx: Int): Clause = {
    val txt = txt0.trim
    val masked = Dialect.maskQuoted(txt)
    val km =
      ("(?is)^\\s*(NOT\\s+)?MATCHED(\\s+BY\\s+(SOURCE|TARGET))?\\b").r
        .findFirstMatchIn(masked).getOrElse(throw new UserException(
          s"MERGE INTO: unrecognized WHEN clause: WHEN $txt"))
    val not = km.group(1) != null
    val by = Option(km.group(3)).map(_.toUpperCase)
    val kind = (not, by) match {
      case (false, None)           => Matched
      case (false, Some(_))        => throw new UserException(
        "MERGE INTO: BY SOURCE/TARGET applies to WHEN NOT MATCHED only")
      case (true, Some("SOURCE"))  => NotMatchedBySource
      case (true, _)               => NotMatchedByTarget
    }
    val rest = txt.substring(km.end)
    val rm = masked.substring(km.end)
    val rd = Dialect.depths(rm)
    val thenM = "(?is)\\bTHEN\\b".r.findAllMatchIn(rm)
      .find(m => rd(m.start) == 0).getOrElse(throw new UserException(
        s"MERGE INTO: WHEN clause missing THEN: WHEN $txt"))
    val pre = rest.substring(0, thenM.start)
    val cond = "(?is)^\\s*AND\\b(.*)$".r.findFirstMatchIn(pre) match {
      case Some(m) =>
        val c = m.group(1).trim
        if (c.isEmpty) throw new UserException(
          s"MERGE INTO: empty AND condition: WHEN $txt")
        Some(c)
      case None =>
        if (pre.trim.nonEmpty) throw new UserException(
          s"MERGE INTO: unexpected text before THEN: ${pre.trim}")
        None
    }
    Clause(idx, kind, cond, parseAction(rest.substring(thenM.end).trim))
  }

  private def parseAction(txt: String): Action = {
    val masked = Dialect.maskQuoted(txt)
    if ("(?is)^UPDATE\\s+SET\\s".r.findFirstIn(masked).isDefined) {
      val setsTxt = txt.substring(
        "(?is)^UPDATE\\s+SET\\s".r.findFirstMatchIn(masked).get.end - 1)
      Update(setList(setsTxt).getOrElse(throw new UserException(
        s"MERGE INTO: UPDATE SET needs a col = expr list: $setsTxt")))
    }
    else if ("(?is)^UPDATE\\s*$".r.findFirstIn(masked).isDefined) Update(Nil)
    else if ("(?is)^DELETE\\s*$".r.findFirstIn(masked).isDefined) Delete
    else if ("(?is)^DO\\s+NOTHING\\s*$".r.findFirstIn(masked).isDefined)
      DoNothing
    else if ("(?is)^ERROR\\b".r.findFirstIn(masked).isDefined) {
      val tail = txt.substring(5).trim
      if (tail.isEmpty) Error(None)
      else if (tail.startsWith("'") && tail.endsWith("'") && tail.length >= 2)
        Error(Some(tail.substring(1, tail.length - 1).replace("''", "'")))
      else throw new UserException(
        s"MERGE INTO: ERROR takes an optional string literal message: $tail")
    }
    else if ("(?is)^INSERT\\b".r.findFirstIn(masked).isDefined) {
      val afterIns = txt.substring(6)
      val mi = Dialect.maskQuoted(afterIns)
      if ("(?is)^\\s*DEFAULT\\s+VALUES".r.findFirstIn(mi).isDefined)
        throw new UserException(
          "MERGE INTO: INSERT DEFAULT VALUES is not supported — " +
            "use INSERT VALUES (...) with explicit expressions")
      if ("(?is)^\\s*$".r.findFirstIn(mi).isDefined) Insert(None, None)
      else {
        var i = 0
        while (i < mi.length && mi.charAt(i).isWhitespace) i += 1
        var cols: Option[Seq[String]] = None
        if (i < mi.length && mi.charAt(i) == '(') {
          val close = Dialect.matchingParen(mi, i)
          if (close < 0) throw new UserException(
            s"MERGE INTO: unbalanced INSERT column list: $txt")
          cols = Some(afterIns.substring(i + 1, close).split(",")
            .map(c => unq(c.trim)).toSeq)
          i = close + 1
        }
        val vm = "(?is)^\\s*VALUES\\s*\\(".r
          .findFirstMatchIn(mi.substring(i)).getOrElse(throw new UserException(
            s"MERGE INTO: INSERT action needs VALUES (...): $txt"))
        val open = i + vm.end - 1
        val close = Dialect.matchingParen(mi, open)
        if (close < 0) throw new UserException(
          s"MERGE INTO: unbalanced INSERT VALUES list: $txt")
        val tail = mi.substring(close + 1).trim
        if (tail.nonEmpty) throw new UserException(
          "MERGE INTO: INSERT takes ONE VALUES row per source row " +
            s"(unexpected trailing text: ${afterIns.substring(close + 1).trim})")
        val values =
          Dialect.splitTop(afterIns.substring(open + 1, close)).filter(_.nonEmpty)
        cols.foreach { cs =>
          if (cs.length != values.length) throw new UserException(
            s"MERGE INTO: INSERT column list has ${cs.length} names but " +
              s"VALUES has ${values.length} expressions")
        }
        Insert(cols, Some(values))
      }
    }
    else throw new UserException(s"MERGE INTO: unrecognized action: $txt")
  }

  private def validate(target: String, clauses: Seq[Clause]): Unit =
    clauses.foreach { c =>
      (c.kind, c.action) match {
        case (Matched, _: Insert) => throw new UserException(
          s"MERGE INTO $target: WHEN MATCHED cannot INSERT")
        case (NotMatchedBySource, _: Insert) => throw new UserException(
          s"MERGE INTO $target: WHEN NOT MATCHED BY SOURCE cannot INSERT " +
            "(there is no source row to insert)")
        case (NotMatchedBySource, Update(Nil)) => throw new UserException(
          s"MERGE INTO $target: WHEN NOT MATCHED BY SOURCE needs an " +
            "explicit UPDATE SET (there is no source row for the bare " +
            "UPDATE by-name shorthand)")
        case (NotMatchedByTarget, _: Update) | (NotMatchedByTarget, Delete) =>
          throw new UserException(
            s"MERGE INTO $target: WHEN NOT MATCHED [BY TARGET] supports " +
              "INSERT / DO NOTHING / ERROR only (no target row to modify)")
        case _ => ()
      }
    }

  /** When the ON condition is a pure conjunction of `t.a = s.b` equi
    * pairs (bare identifiers, each side qualified by one alias), the
    * SOURCE-side column of every pair — the key set whose uniqueness on
    * the source makes the multi-match dedup a no-op, letting the
    * executor skip the full-target uid shuffle + window pass (the
    * dominant MERGE cost at scale). Anything else → None (the executor
    * falls back to the always-correct window path). */
  def equiSourceKeys(on: String, tAlias: String,
                     sAlias: String): Option[Seq[String]] = {
    val masked = Dialect.maskQuoted(on)
    val dep = Dialect.depths(masked)
    val ands = "(?i)\\bAND\\b".r.findAllMatchIn(masked)
      .filter(m => dep(m.start) == 0).toSeq
    val bounds = (Seq((0, 0)) ++ ands.map(m => (m.start, m.end))) :+
      ((on.length, on.length))
    val parts = bounds.sliding(2).map {
      case Seq((_, a), (b, _)) => on.substring(a, b)
      case _ => ""
    }.toSeq
    val pair = ("(?is)^\\s*([A-Za-z_]\\w*)\\s*\\.\\s*([A-Za-z_]\\w*)" +
      "\\s*=\\s*([A-Za-z_]\\w*)\\s*\\.\\s*([A-Za-z_]\\w*)\\s*$").r
    val keys = parts.map { p =>
      pair.findFirstMatchIn(p).flatMap { m =>
        val (q1, c1, q2, c2) = (m.group(1), m.group(2), m.group(3), m.group(4))
        if (q1.equalsIgnoreCase(tAlias) && q2.equalsIgnoreCase(sAlias))
          Some(c2)
        else if (q1.equalsIgnoreCase(sAlias) && q2.equalsIgnoreCase(tAlias))
          Some(c1)
        else None
      }
    }
    if (keys.nonEmpty && keys.forall(_.isDefined)) Some(keys.map(_.get))
    else None
  }

  /** The source relation split into (text-to-run, alias): a bare name
    * (optionally aliased) or a parenthesized subquery (alias required —
    * DuckDB requires one too). None for a plain UPDATE / DELETE. */
  def sourceOf(p: Parsed): Option[(String, String)] = p.source.map { t0 =>
    val t = t0.trim
    if (t.startsWith("(")) {
      val close = Dialect.matchingParen(Dialect.maskQuoted(t), 0)
      val alias = "(?is)^\\s*(?:AS\\s+)?([A-Za-z_]\\w*)\\s*$".r
        .findFirstMatchIn(t.substring(close + 1))
        .map(_.group(1)).getOrElse(throw new UserException(
          s"${p.verb} ${p.target}: a subquery source needs an alias"))
      (t.substring(1, close), alias)
    } else {
      val m = "(?is)^(`[^`]+`|\"[^\"]+\"|[A-Za-z_][\\w.]*)(?:\\s+(?:AS\\s+)?([A-Za-z_]\\w*))?\\s*$".r
        .findFirstMatchIn(t).getOrElse(throw new UserException(
          s"${p.verb} ${p.target}: unrecognized source relation '$t'"))
      val name = unq(m.group(1))
      (s"SELECT * FROM `${Names.view(name)}`",
        Option(m.group(2)).getOrElse(name))
    }
  }
}
