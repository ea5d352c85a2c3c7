package graft.component

import scala.util.matching.Regex

import Dialect.{Skip, Splice}

/** Executes DuckDB window-frame EXCLUDE and GROUPS modes on Spark.
  *
  * Spark's frame grammar has neither (`SpecifiedWindowFrame` knows ROWS
  * and RANGE only, no exclusion), so both lower to compositions of frames
  * Spark does have:
  *
  *  - `EXCLUDE CURRENT ROW | GROUP | TIES` for the distributive
  *    aggregates sum / count / avg becomes windowed SUBTRACTION: the
  *    full-frame aggregate minus the excluded rows' contribution, with an
  *    excluded-count guard reproducing NULL-on-empty (probed DuckDB v1.0:
  *    `sum` over an emptied frame is NULL, `count` is 0, a NULL current
  *    row contributes nothing to TIES' add-back — all pinned in
  *    FrameSqlSpec). GROUP/TIES subtraction is gated to RANGE frames
  *    whose bounds keep the whole peer group in frame (start at-or-before
  *    CURRENT ROW, end at-or-after): a ROWS frame can cut a peer group
  *    and DuckDB then excludes only the IN-FRAME peers (probed v1.0) —
  *    full-group subtraction would over-subtract, so those forms keep the
  *    loud reject. EXCLUDE CURRENT ROW works for ANY frame mode; when the
  *    bounds provably exclude the current row already it is a no-op and
  *    is stripped.
  *  - `GROUPS` mode (a DuckDB v1.0 PARSE error — 1.4-era surface; the
  *    semantics here are the SQL standard's, spec-pinned) re-expresses as
  *    RANGE over a dense_rank: peer groups are exactly the distinct
  *    ORDER-BY prefixes, and dense_rank increments by one per group, so
  *    `GROUPS BETWEEN a AND b` over keys K equals `RANGE BETWEEN a AND b`
  *    over `DENSE_RANK() OVER (... ORDER BY K)`. Unbounded/current-row
  *    bounds map in place (RANGE's CURRENT ROW bounds are already
  *    peer-group bounds); numeric offsets inject the dense_rank as a
  *    helper column through a subquery wrap of the owning SELECT block
  *    (the QUALIFY lowering's technique). Works for EVERY window function —
  *    it is pure frame re-expression — and composes with EXCLUDE (the
  *    rewritten frame is RANGE over a single integer key, which passes
  *    the exclusion gate).
  *
  * All-or-nothing per statement: any occurrence this pass cannot prove
  * rewritable rejects the statement loudly ([[Dialect.rejectSentinel]])
  * — never a partial rewrite, never a silent wrong answer.
  *
  * Reference surface: keboola/component-duckdb-transformation pins DuckDB
  * 1.4.4/1.5.2 (src/versions.py:19-22) where both spellings run verbatim.
  */
object FrameSql {

  /** The dialect chain's window-frame pass (probed v1.0: GROUPS mode is
    * a parse error even there; EXCLUDE works in DuckDB but Spark frames
    * have no exclusion): GROUPS frames re-express first, then EXCLUDE
    * CURRENT ROW / GROUP / TIES execute, each where provably exact and
    * as the FRAME_GROUPS / FRAME_EXCLUDE reject sentinel where not
    * (never an opaque Spark parse error); EXCLUDE NO OTHERS restates
    * the default and is stripped. Scoped to the text INSIDE each
    * `OVER (...)` span, masked: a column named `groups` in a WHERE
    * (`groups BETWEEN 1 AND 5`) or `exclude` before a GROUP BY is a
    * valid identifier outside the frame clause, and literals with these
    * words never trigger. */
  def rewrite(stmt: String, masked: String): String = {
    if (overSpans(masked).isEmpty) return stmt
    var s = stmt
    var m = masked
    if (inOver(m, groupsFrame))
      lowerFrames(s, m, groupsMode)(lowerGroups) match {
        case Some((s2, m2)) => s = s2; m = m2
        case None => return Dialect.rejectSentinel("FRAME_GROUPS")
      }
    if (inOver(m, excludeFrame))
      lowerFrames(s, m, excludeMode)(lowerExclude) match {
        case Some((s2, m2)) => s = s2; m = m2
        case None => return Dialect.rejectSentinel("FRAME_EXCLUDE")
      }
    Dialect.splice(s, m, noOthers) { (_, masked, n) =>
      if (overSpans(masked).exists { case (_, open, close) => open < n.start && n.start < close })
        Splice(n.start, n.end, "")
      else Skip(n.end)
    }._1
  }

  /** Frame-position GROUPS: BETWEEN/UNBOUNDED/CURRENT ROW heads, or the
    * single-bound form `GROUPS <expr> PRECEDING|FOLLOWING` — tempered so
    * a COLUMN named `groups` (e.g. in PARTITION BY, where
    * ORDER/ROWS/RANGE intervenes before any PRECEDING) never
    * false-positives into the reject (r16 ADVICE: the digit-only bound
    * pattern let expression bounds die as opaque parse errors). */
  private val groupsFrame =
    ("(?i)\\bGROUPS\\s+(?:BETWEEN\\b|UNBOUNDED\\b|CURRENT\\s+ROW|" +
      "(?:\\([^()]*\\)|(?!\\b(?:ORDER|ROWS|RANGE|PARTITION|EXCLUDE|OVER)\\b)[^()])*?" +
      "\\b(?:PRECEDING|FOLLOWING)\\b)").r
  private val excludeFrame = "(?i)\\bEXCLUDE\\s+(CURRENT\\s+ROW|GROUP\\b|TIES\\b)".r
  /** The frame modes [[lowerExclude]] and [[lowerGroups]] lower, at a
    * spec's depth 0. */
  private val groupsMode = "(?i)\\bGROUPS\\b".r
  private val excludeMode = "(?i)\\bEXCLUDE\\s+(CURRENT\\s+ROW|GROUP|TIES)\\b".r
  private val noOthers = "(?i)\\bEXCLUDE\\s+NO\\s+OTHERS".r
  private val overSite = "(?i)\\bOVER\\s*\\(".r

  /** Does `re` match inside some OVER span? It runs on each span alone,
    * so a long statement outside the spans never reaches the tempered
    * lazy alternation of [[groupsFrame]]. */
  private def inOver(masked: String, re: Regex): Boolean =
    overSpans(masked).exists { case (_, open, close) =>
      re.findFirstIn(masked.substring(open + 1, close)).isDefined
    }

  /** Every OVER span whose spec carries `mode` at its own depth 0,
    * lowered by `lower(stmt, masked, overKw, open, close)`; None when one
    * resists (all-or-nothing). */
  private def lowerFrames(stmt: String, masked: String, mode: Regex)(
      lower: (String, String, Int, Int, Int) => Option[Splice]): Option[(String, String)] = {
    var resisted = false
    val out = Dialect.splice(stmt, masked, overSite) { (stmt, masked, o) =>
      val open = o.end - 1
      val close = Dialect.matchingParen(masked, open)
      val spec = if (close > 0) masked.substring(open + 1, close) else ""
      val dep = Dialect.depths(spec)
      if (close <= 0 || !mode.findAllMatchIn(spec).exists(m => dep(m.start) == 0)) Skip(o.end)
      else lower(stmt, masked, o.start, open, close).getOrElse {
        resisted = true
        Skip(stmt.length)
      }
    }
    if (resisted) None else Some(out)
  }

  /** One frame bound. `side` is the bound's position relative to the
    * current row: -1 PRECEDING, 0 CURRENT ROW (or a literal 0 offset),
    * +1 FOLLOWING. `definite` means the offset is a keyword or a
    * non-negative numeric literal — expression-valued offsets can't be
    * reasoned about statically and fail the gates. */
  private case class Bound(text: String, side: Int, definite: Boolean)

  private def parseBound(t0: String): Option[Bound] = {
    val t = t0.trim
    if ("(?is)^UNBOUNDED\\s+PRECEDING$".r.findFirstIn(t).isDefined)
      return Some(Bound(t, -1, definite = true))
    if ("(?is)^UNBOUNDED\\s+FOLLOWING$".r.findFirstIn(t).isDefined)
      return Some(Bound(t, 1, definite = true))
    if ("(?is)^CURRENT\\s+ROW$".r.findFirstIn(t).isDefined)
      return Some(Bound(t, 0, definite = true))
    val m = "(?is)^(.+?)\\s+(PRECEDING|FOLLOWING)$".r.findFirstMatchIn(t)
      .getOrElse(return None)
    val expr = m.group(1).trim
    val dir = if (m.group(2).equalsIgnoreCase("PRECEDING")) -1 else 1
    val num = "^\\d+(\\.\\d+)?$".r.findFirstIn(expr)
    num match {
      case Some(n) =>
        val zero = n.toDouble == 0.0
        Some(Bound(t, if (zero) 0 else dir, definite = true))
      case None => Some(Bound(t, dir, definite = false))
    }
  }

  /** A parsed OVER (...) spec carrying a frame clause. Offsets are
    * relative to the spec string (stmt offsets = overOpen + 1 + these). */
  private case class Spec(
      partOrder: String, // text before the mode keyword, verbatim
      hasOrder: Boolean,
      mode: String, // ROWS | RANGE | GROUPS (upper)
      modeStart: Int,
      start: Bound,
      end: Bound, // single-bound form gets CURRENT ROW
      frameEnd: Int, // end of the bounds text (exclusive)
      exclude: Option[(String, Int, Int)]) // kind (upper), start, end

  private def parseSpec(spec: String, specMasked: String): Option[Spec] = {
    val dep = Dialect.depths(specMasked)
    def top(re: String): List[scala.util.matching.Regex.Match] =
      re.r.findAllMatchIn(specMasked).filter(m => dep(m.start) == 0).toList
    val modeM = top("(?i)\\b(ROWS|RANGE|GROUPS)\\b").headOption
      .getOrElse(return None)
    val mode = modeM.group(1).toUpperCase
    val partOrder = spec.substring(0, modeM.start)
    val hasOrder = {
      val poMasked = specMasked.substring(0, modeM.start)
      val poDep = Dialect.depths(poMasked)
      "(?i)\\bORDER\\s+BY\\b".r.findAllMatchIn(poMasked)
        .exists(m => poDep(m.start) == 0)
    }
    val exclM = top("(?i)\\bEXCLUDE\\s+(CURRENT\\s+ROW|GROUP|TIES|NO\\s+OTHERS)\\b")
      .headOption
    val frameEnd = exclM.map(_.start).getOrElse(spec.length)
    exclM.foreach { m => // EXCLUDE must close the spec (frame grammar)
      if (spec.substring(m.end).trim.nonEmpty) return None
    }
    val frameBody = spec.substring(modeM.end, frameEnd)
    val frameBodyMasked = specMasked.substring(modeM.end, frameEnd)
    val (startB, endB) =
      if ("(?is)^\\s*BETWEEN\\b".r.findFirstIn(frameBodyMasked).isDefined) {
        val bm = "(?is)^\\s*BETWEEN\\b".r.findFirstMatchIn(frameBodyMasked).get
        val after = frameBody.substring(bm.end)
        val afterMasked = frameBodyMasked.substring(bm.end)
        val aDep = Dialect.depths(afterMasked)
        val andM = "(?i)\\bAND\\b".r.findAllMatchIn(afterMasked)
          .find(m => aDep(m.start) == 0).getOrElse(return None)
        val s = parseBound(after.substring(0, andM.start)).getOrElse(return None)
        val e = parseBound(after.substring(andM.end)).getOrElse(return None)
        (s, e)
      } else {
        val s = parseBound(frameBody).getOrElse(return None)
        (s, Bound("CURRENT ROW", 0, definite = true))
      }
    val excl = exclM.map(m =>
      (m.group(1).toUpperCase.replaceAll("\\s+", " "), m.start, m.end))
    Some(Spec(partOrder, hasOrder, mode, modeM.start, startB, endB,
      frameEnd, excl))
  }

  /** Current row statically inside the frame (both bounds definite). */
  private def currentInFrame(s: Spec): Option[Boolean] =
    if (!s.start.definite || !s.end.definite) None
    else Some(s.start.side <= 0 && s.end.side >= 0)

  /** The window-function call text immediately before an OVER keyword:
    * (callStart, fnName, argsText) — None when the preceding token
    * structure is not `ident ( args )` (e.g. a FILTER clause rides
    * between, or a named-window definition precedes). */
  private def fnBefore(stmt: String, masked: String, overKw: Int)
      : Option[(Int, String, String)] = {
    var i = overKw - 1
    while (i >= 0 && masked.charAt(i).isWhitespace) i -= 1
    if (i < 0 || masked.charAt(i) != ')') return None
    val close = i
    val open = Dialect.openingParen(masked, close)
    if (open < 0) return None
    var k = open - 1
    while (k >= 0 && masked.charAt(k).isWhitespace) k -= 1
    val nameEnd = k + 1
    while (k >= 0 && (masked.charAt(k).isLetterOrDigit || masked.charAt(k) == '_')) k -= 1
    val nameStart = k + 1
    if (nameStart == nameEnd) return None
    // a qualified name (schema.fn) or preceding dot means this is not a
    // bare aggregate call — bail to the reject
    if (nameStart > 0 && stmt.charAt(nameStart - 1) == '.') return None
    Some((nameStart, stmt.substring(nameStart, nameEnd),
      stmt.substring(open + 1, close)))
  }

  /** All OVER ( ... ) spans: (overKwStart, openParen, closeParen). */
  private def overSpans(masked: String): List[(Int, Int, Int)] =
    overSite.findAllMatchIn(masked).toList.flatMap { m =>
      val open = m.end - 1
      val close = Dialect.matchingParen(masked, open)
      if (close > 0) Some((m.start, open, close)) else None
    }

  // ---------------------------------------------------------------- EXCLUDE

  /** The splice that executes the EXCLUDE frame of the OVER span at
    * `overKw`, or None when it cannot be proved exact. */
  private def lowerExclude(stmt: String, masked: String, overKw: Int,
      open: Int, close: Int): Option[Splice] = {
    val spec = stmt.substring(open + 1, close)
    val sp = parseSpec(spec, masked.substring(open + 1, close)).getOrElse(return None)
    val (kind, exS, _) = sp.exclude.getOrElse(return None)
    if (kind == "NO OTHERS") // default restated — strip in place
      return Some(Splice(open + 1 + exS, close, ""))
    if (sp.mode == "GROUPS") return None // the GROUPS lowering runs first
    val inFrame = currentInFrame(sp).getOrElse(return None)
    if (kind == "CURRENT ROW" && !inFrame) {
      // current row provably outside the frame. Probed v1.0: for a
      // PRECEDING-only frame the exclusion is the standard no-op (strip);
      // for a FOLLOWING-only frame v1.0 instead SHIFTS the frame start
      // down by one (2F..4F EXCLUDE CURRENT ROW returns 1F..4F — an
      // engine quirk diverging from the standard's no-op), so that form
      // stays a loud reject rather than picking either behavior
      if (sp.end.side < 0) return Some(Splice(open + 1 + exS, close, ""))
      return None
    }
    val (fnStart, fnName, args) = fnBefore(stmt, masked, overKw)
      .getOrElse(return None)
    val fn = fnName.toLowerCase
    if (!Set("sum", "count", "avg").contains(fn)) return None
    if ("(?is)^\\s*DISTINCT\\b".r.findFirstIn(args).isDefined) return None
    val isStar = args.trim == "*"
    if (isStar && fn != "count") return None
    if (kind != "CURRENT ROW") {
      // full-group subtraction needs the whole peer group in frame:
      // RANGE mode with start at-or-before / end at-or-after CURRENT ROW
      // (peers sit at key-distance 0), plus an ORDER BY to define peers
      if (sp.mode != "RANGE" || !sp.hasOrder || !inFrame) return None
    }
    val x = args.trim
    val wf = s"OVER (${sp.partOrder}${spec.substring(sp.modeStart, sp.frameEnd).trim})"
    val wg = s"OVER (${sp.partOrder.trim} RANGE BETWEEN CURRENT ROW AND CURRENT ROW)"
    def cnt(w: String) = if (isStar) s"count(*) $w" else s"count($x) $w"
    def sum(w: String) = s"sum($x) $w"
    val curCnt = if (isStar) "1" else s"(CASE WHEN ($x) IS NULL THEN 0 ELSE 1 END)"
    val curSum = s"COALESCE(($x), 0)"
    val (cntE, sumE): (String, String) = kind match {
      case "CURRENT ROW" =>
        (s"(${cnt(wf)} - $curCnt)",
          s"${sum(wf)} - $curSum")
      case "GROUP" =>
        (s"(${cnt(wf)} - ${cnt(wg)})",
          s"${sum(wf)} - COALESCE(${sum(wg)}, 0)")
      case "TIES" =>
        (s"(${cnt(wf)} - ${cnt(wg)} + $curCnt)",
          s"${sum(wf)} - COALESCE(${sum(wg)}, 0) + $curSum")
      case _ => return None
    }
    Some(Splice(fnStart, close + 1, fn match {
      case "count" => cntE
      case "sum" => s"(CASE WHEN $cntE = 0 THEN NULL ELSE $sumE END)"
      case "avg" =>
        s"(CASE WHEN $cntE = 0 THEN NULL ELSE CAST($sumE AS DOUBLE) / $cntE END)"
    }))
  }

  // ----------------------------------------------------------------- GROUPS

  private def boundKeyworded(b: Bound): Boolean =
    b.definite && (b.side == 0 || b.text.toUpperCase.startsWith("UNBOUNDED"))

  private def rangeBound(b: Bound): String =
    if (b.side == 0) "CURRENT ROW" else b.text

  /** The splice that re-expresses the GROUPS frame of the OVER span at
    * `kw` (or its whole block, for offset bounds), or None when it
    * cannot be proved exact. */
  private def lowerGroups(stmt: String, masked: String, kw: Int, open: Int,
      close: Int): Option[Splice] = {
    val spec = stmt.substring(open + 1, close)
    val sp = parseSpec(spec, masked.substring(open + 1, close)).getOrElse(return None)
    if (sp.mode != "GROUPS" || !sp.hasOrder) return None
    // Spark RANGE frame offsets must be foldable — expression-valued
    // GROUPS offsets stay a loud reject
    if (!sp.start.definite || !sp.end.definite) return None
    if (boundKeyworded(sp.start) && boundKeyworded(sp.end))
      // RANGE's CURRENT ROW bounds ARE peer-group bounds: a direct
      // mode swap is exact, no helper column needed
      Some(Splice(open + 1 + sp.modeStart, close,
        s"RANGE BETWEEN ${rangeBound(sp.start)} AND ${rangeBound(sp.end)}" +
          spec.substring(sp.frameEnd)))
    else rewriteGroupsBlock(stmt, masked, kw)
  }

  /** Offset-bounded GROUPS: wrap the owning SELECT block in a subquery
    * that adds one DENSE_RANK helper per distinct window ordering, and
    * re-frame each GROUPS window as RANGE over its helper. */
  private def rewriteGroupsBlock(stmt: String, masked: String,
      anchorKw: Int): Option[Splice] = {
    val dep = Dialect.depths(masked)
    def owningSelect(pos: Int): Option[Int] = {
      val selects = "(?i)\\bSELECT\\b".r.findAllMatchIn(masked)
        .map(_.start).filter(_ < pos).toList
      selects.reverse.find { s =>
        val d = dep(s)
        (s until pos).forall(dep(_) >= d)
      }
    }
    val selKw = owningSelect(anchorKw).getOrElse(return None)
    val d = dep(selKw)
    var blockEnd = selKw
    while (blockEnd < stmt.length && dep(blockEnd) >= d) blockEnd += 1
    def topIn(re: String, from: Int, until: Int): List[Int] =
      re.r.findAllMatchIn(masked).map(_.start)
        .filter(p => p >= from && p < until && dep(p) == d).toList
    // a set operation caps the block: the first branch is the block
    val setOp = topIn("(?i)\\b(UNION|INTERSECT|EXCEPT)\\b", selKw, blockEnd)
      .headOption.getOrElse(blockEnd)
    val effEnd = setOp
    if (topIn("(?i)\\b(GROUP\\s+BY|HAVING|WINDOW)\\b", selKw, effEnd).nonEmpty)
      return None
    if ("(?is)^SELECT\\s+DISTINCT\\b".r
        .findFirstIn(masked.substring(selKw, effEnd)).isDefined) return None
    val selStart = selKw + "SELECT".length
    val fromStart = topIn("(?i)\\bFROM\\b", selStart, effEnd).headOption
      .getOrElse(return None)
    val tailStart = topIn("(?i)\\b(QUALIFY|ORDER|LIMIT|OFFSET)\\b",
      fromStart, effEnd).headOption.getOrElse(effEnd)
    // every GROUPS window owned by this block, each fully inside the
    // select list or the tail (never the FROM segment — those belong to
    // subquery blocks and get their own pass)
    case class G(kw: Int, open: Int, close: Int, sp: Spec, spec: String)
    val candidates = overSpans(masked).filter { case (okw, o, c) =>
      val sm = masked.substring(o + 1, c)
      val sdep = Dialect.depths(sm)
      "(?i)\\bGROUPS\\b".r.findAllMatchIn(sm)
        .exists(m => sdep(m.start) == 0) && owningSelect(okw).contains(selKw)
    }
    val gs = candidates.map { case (okw, o, c) =>
      val sp = parseSpec(stmt.substring(o + 1, c), masked.substring(o + 1, c))
        .filter(s => s.mode == "GROUPS" && s.hasOrder &&
          s.start.definite && s.end.definite)
        .getOrElse(return None) // one bad span fails the whole statement
      G(okw, o, c, sp, stmt.substring(o + 1, c))
    }
    if (gs.isEmpty) return None
    // the wrap is an ALIASLESS subquery: a table-qualified reference
    // (t.a) in the select list or tail would no longer resolve — a
    // confusing unresolved-column error instead of the loud reject.
    // Bail on any qualified identifier in those segments (r16 ADVICE).
    val qualRe = "[A-Za-z_]\\w*\\s*\\.\\s*[A-Za-z_*]".r
    if (qualRe.findFirstIn(masked.substring(selStart, fromStart)).isDefined ||
        qualRe.findFirstIn(masked.substring(tailStart, effEnd)).isDefined)
      return None
    val inSegment = (g: G) =>
      (g.kw >= selStart && g.close < fromStart) ||
        (g.kw >= tailStart && g.close < effEnd)
    if (!gs.forall(inSegment)) return None
    // one helper per distinct partition/order prefix
    val keys = gs.map(_.sp.partOrder.trim.replaceAll("\\s+", " ")).distinct
    val helper = keys.zipWithIndex
      .map { case (k, i) => k -> s"__graft_grp_${i + 1}" }.toMap
    def partOnly(sp: Spec): String = {
      val poMasked = Dialect.maskQuoted(sp.partOrder)
      val poDep = Dialect.depths(poMasked)
      "(?i)\\bORDER\\s+BY\\b".r.findAllMatchIn(poMasked)
        .find(m => poDep(m.start) == 0)
        .map(m => sp.partOrder.substring(0, m.start).trim)
        .getOrElse(sp.partOrder.trim)
    }
    def replOver(g: G): String = {
      val h = helper(g.sp.partOrder.trim.replaceAll("\\s+", " "))
      val p = partOnly(g.sp)
      val pPfx = if (p.isEmpty) "" else p + " "
      val tail = g.spec.substring(g.sp.frameEnd).trim
      s"OVER (${pPfx}ORDER BY $h RANGE BETWEEN " +
        s"${rangeBound(g.sp.start)} AND ${rangeBound(g.sp.end)}" +
        (if (tail.isEmpty) "" else " " + tail) + ")"
    }
    def applyRepls(from: Int, until: Int): String = {
      val mine = gs.filter(g => g.kw >= from && g.close < until)
        .sortBy(-_.kw)
      var seg = stmt.substring(from, until)
      mine.foreach { g =>
        seg = seg.substring(0, g.kw - from) + replOver(g) +
          seg.substring(g.close + 1 - from)
      }
      seg
    }
    val sel = applyRepls(selStart, fromStart)
    val tail = applyRepls(tailStart, effEnd)
    val rest = stmt.substring(fromStart, tailStart)
    val helpers = keys.map(k =>
      s"DENSE_RANK() OVER ($k) AS ${helper(k)}").mkString(", ")
    Some(Splice(selKw, effEnd, s"SELECT $sel FROM (SELECT *, $helpers $rest) " + tail))
  }
}
