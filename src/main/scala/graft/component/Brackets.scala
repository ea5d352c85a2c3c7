package graft.component

import java.util.regex.MatchResult

import Dialect.{Sites, Skip, Splice, Step}

/** DuckDB bracket syntax in user SQL — list literals `[1, 2, 3]`, struct
  * literals `{'k': v}`, 1-based subscripts `l[i]` and inclusive slices
  * `l[a:b]`. All legal in the reference (SQL goes to DuckDB verbatim,
  * `/root/reference/src/query_orchestrator.py:351`); Spark spells them
  * `array(...)`, `named_struct(...)`, `try_element_at(...)` (1-based like
  * DuckDB — the bare Spark `l[i]` subscript is 0-based, so passing
  * brackets through unchanged would silently shift every element; the
  * `try_` form returns NULL out-of-range where ANSI `element_at` throws)
  * and `slice(...)`. String-literal bases subscript/slice characters via
  * `substr`; negative bounds count from the end (`-1` = last); a trailing
  * `T[]` after a type name is the ARRAY type spelling, not a subscript.
  *
  * Classification is lexical: a `[` whose previous non-space character
  * belongs to a primary expression (identifier char, `)`, `]`, a quoted
  * identifier or string) reads as a SUBSCRIPT; anything else (operator,
  * `(`, comma, keyword boundary, start of text) starts a LITERAL. The
  * same rule every SQL lexer uses, applied on quote-masked text.
  *
  * Runs AFTER [[Macros]] and [[FileReads]] rewrites (their bracket forms
  * — path lists, `columns={...}` — are consumed before this pass). */
object Brackets {

  /** Unique lambda-variable suffix for slice-step rewrites (nested
    * lambdas must not share a name). */
  private val sliceVar = new java.util.concurrent.atomic.AtomicLong(0)

  /** Innermost pairs first, left to right: an outer pair is skipped
    * into, and a lowering re-splices from the opener enclosing it, so
    * the scan resumes there and meets that pair again once it is
    * innermost. Every pair the scan leaves is left for good (a pair it
    * cannot lower stays for Spark's parser, with position info). */
  private[component] val brackets = Sites("[\\[{]".r, lowerPair)

  private def lowerPair(stmt: String, masked: String, m: MatchResult): Step = {
    val i = m.start
    val (oc, cc) = if (masked.charAt(i) == '[') ('[', ']') else ('{', '}')
    val close = Dialect.matchingParen(masked, i, oc, cc)
    if (close <= 0 || !innermost(masked, i, close)) return Skip(m.end)
    val lowered: Option[(Int, String)] =
      if (oc == '{') rewriteStruct(stmt, masked, i, close)
      // not a struct literal (no key: value shape): the braces stay —
      // throwing here would abort validation instead of listing the
      // statement's issue
      else if (stmt.substring(i + 1, close).trim.isEmpty)
        // empty pair: a trailing T[] after a type name is an ARRAY
        // type spelling (`x::INT[]`, `CAST(x AS VARCHAR[])`, bare
        // DDL `a INT[]`), NOT a subscript — rewriting it to
        // element_at(INT, ) would turn legal DuckDB into an opaque
        // parse error. A non-type empty subscript stays untouched;
        // an empty pair in literal position is the empty list.
        typeSuffix(stmt, masked, i).orElse(
          if (isSubscript(stmt, i)) None else Some((i, "array()")))
      else if (!isSubscript(stmt, i))
        comprehension(stmt, masked, i, close).orElse(
          Some((i, "array(" + stmt.substring(i + 1, close) + ")")))
      else Dialect.operandStart(stmt, masked, i, Dialect.Postfix) match {
        // a slice form v1.0 itself rejects ends the pass
        case Some(start) => Some(subscript(stmt, masked, start, i, close)
          .map(start -> _).getOrElse(return Skip(stmt.length)))
        // no subscriptable base (a number, a keyword): the pair stays
        case None => None
      }
    lowered match {
      case None => Skip(m.end)
      case Some((from, text)) =>
        val outer = enclosingOpener(masked, from)
        if (outer < 0) Splice(from, close + 1, text)
        else Splice(outer, close + 1, stmt.substring(outer, from) + text)
    }
  }

  /** The innermost unclosed `[` or `{` before `pos`, or -1. */
  private def enclosingOpener(masked: String, pos: Int): Int = {
    var d = 0
    var j = pos - 1
    while (j >= 0) {
      masked.charAt(j) match {
        case ']' | '}' => d += 1
        case '[' | '{' => if (d == 0) return j else d -= 1
        case _ =>
      }
      j -= 1
    }
    -1
  }

  private def innermost(masked: String, open: Int, close: Int): Boolean =
    !masked.substring(open + 1, close).exists(c => c == '[' || c == '{')

  /** SQL keywords that can directly precede a literal — a bracket after
    * one starts a list, not a subscript (`SELECT [1,2]`, `WHEN [..]`). */
  private val keywordBefore = Set(
    "select", "from", "where", "when", "then", "else", "end", "and", "or",
    "not", "in", "by", "as", "on", "case", "values", "set", "having",
    "limit", "offset", "all", "distinct", "union", "except", "intersect",
    "join", "is", "like", "ilike", "between", "return", "returns", "using",
    "if", "coalesce", "array", "row", "interval", "exists", "over",
    "partition", "order", "group", "asc", "desc", "nulls", "first", "last")

  /** Previous token decides: part of a primary expression → subscript.
    * The check reads the ORIGINAL text — a string literal or quoted
    * identifier before the bracket (masked to spaces) is a subscript
    * base too (`'abc'[2]`, `"col"[1]`). A keyword reads as a literal
    * context even though it ends in a letter. */
  private def isSubscript(stmt: String, open: Int): Boolean = {
    var j = open - 1
    while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
    if (j < 0) return false
    val c = stmt.charAt(j)
    if (c == ')' || c == ']' || c == '\'' || c == '"' || c == '`') return true
    if (!(c.isLetterOrDigit || c == '_')) return false
    var k = j
    while (k >= 0 && { val ch = stmt.charAt(k); ch.isLetterOrDigit || ch == '_' })
      k -= 1
    val word = stmt.substring(k + 1, j + 1).toLowerCase
    !keywordBefore(word)
  }

  /** Type names whose trailing `[]` spells an ARRAY type in DuckDB. */
  private val typeWords = Set(
    "int", "integer", "bigint", "smallint", "tinyint", "hugeint",
    "utinyint", "usmallint", "uinteger", "ubigint", "int1", "int2", "int4",
    "int8", "float", "float4", "float8", "real", "double", "decimal",
    "numeric", "varchar", "char", "bpchar", "text", "string", "boolean",
    "bool", "date", "time", "timestamp", "timestamptz", "datetime", "blob",
    "bytea", "binary", "varbinary", "interval", "uuid", "json", "array",
    "struct", "map")

  /** A trailing empty `[]` whose preceding token is a type name (optionally
    * with a `(p, s)` argument list or an earlier `ARRAY<...>` wrap from a
    * prior pass) → `ARRAY<type>`; the later VARCHAR→STRING pass still sees
    * the inner name. None when the preceding token is not a type. */
  private def typeSuffix(stmt: String, masked: String,
                         open: Int): Option[(Int, String)] = {
    var j = open - 1
    while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
    if (j < 0) return None
    // consume one trailing group: (p, s) args or an ARRAY<...> wrap
    stmt.charAt(j) match {
      case cc @ (')' | '>') =>
        val found = Dialect.openingParen(masked, j, if (cc == ')') '(' else '<', cc)
        if (found < 0) return None
        j = found - 1
        while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
      case _ =>
    }
    if (j < 0 || !(stmt.charAt(j).isLetterOrDigit || stmt.charAt(j) == '_'))
      return None
    var k = j
    while (k >= 0 && { val ch = stmt.charAt(k); ch.isLetterOrDigit || ch == '_' })
      k -= 1
    val word = stmt.substring(k + 1, j + 1).toLowerCase
    if (!typeWords(word)) None
    else Some((k + 1, "ARRAY<" + stmt.substring(k + 1, open).trim + ">"))
  }

  private val nonNegIntLit = "^\\d+$".r
  private val negIntLit = "^-\\s*(\\d+)$".r

  /** The subscript or slice `[open, close]` over the base starting at
    * `start` (the dialect's postfix operand, [[Dialect.operandStart]]),
    * or None for a stepped slice v1.0 itself rejects. */
  private def subscript(stmt: String, masked: String, start: Int,
                        open: Int, close: Int): Option[String] = {
    val base = stmt.substring(start, open).trim
    val body = stmt.substring(open + 1, close)
    val mbody = masked.substring(open + 1, close)
    // a string-literal base subscripts/slices CHARACTERS (DuckDB
    // semantics); element_at only accepts arrays/maps
    val stringBase = base.startsWith("'")
    val lenExpr = if (stringBase) s"length($base)" else s"size($base)"
    // depth-0 `:` (not `::`) splits a slice
    val colon = {
      var found = -1
      var k = 0
      while (k < mbody.length && found < 0) {
        if (mbody.charAt(k) == ':' &&
            (k + 1 >= mbody.length || mbody.charAt(k + 1) != ':') &&
            (k == 0 || mbody.charAt(k - 1) != ':'))
          found = k
        k += 1
      }
      found
    }
    // normalize a 1-based inclusive bound: DuckDB's negative bounds count
    // from the end (-1 = last element), so -k maps to len - k + 1; a
    // non-literal bound needs the runtime CASE (a silent empty result for
    // l[2:-1] is wrong values, not an error)
    def bound(raw: String): String = raw match {
      case nonNegIntLit() => raw
      case negIntLit(k) => s"($lenExpr - ${k.toInt - 1})"
      case _ =>
        s"(CASE WHEN ($raw) < 0 THEN $lenExpr + ($raw) + 1 ELSE ($raw) END)"
    }
    val repl =
      if (colon < 0) {
        // try_element_at: NULL on out-of-range (DuckDB contract) where
        // Spark 4's ANSI element_at throws. A literal 0 index also yields
        // NULL in DuckDB but INVALID_INDEX_OF_ZERO here — a NULL index is
        // the NULL-yielding spelling. (A runtime-0 expression index still
        // errors; guarding every index with nullif would break string map
        // keys, so the literal is the supported case.)
        val idx = body.trim
        if (stringBase) s"substr($base, $idx, 1)"
        else if (idx.matches("[+]?0+")) s"duck_subscript($base, nullif(0, 0))"
        else s"duck_subscript($base, $idx)"
      } else {
        // a SECOND depth-0 `:` is the slice STEP (probed v1.0:
        // `[1:5:2]`=[1,3,5], negative steps walk down `[5:1:-2]`=[5,3,1],
        // bounds clamp to the list, crossed bounds give [], step 0 and
        // string bases error — string+step is unimplemented even there)
        val colon2 = {
          var found = -1
          var k = colon + 1
          while (k < mbody.length && found < 0) {
            if (mbody.charAt(k) == ':' && mbody.charAt(k + 1 min (mbody.length - 1)) != ':' &&
                mbody.charAt(k - 1) != ':')
              found = k
            k += 1
          }
          found
        }
        if (colon2 > 0) {
          val lo0 = body.substring(0, colon).trim
          val hi0 = body.substring(colon + 1, colon2).trim
          val step = body.substring(colon2 + 1).trim
          // bail (text passes through, loud on both engines) for the
          // forms v1.0 itself rejects: string base, omitted hi, no step
          if (stringBase || hi0.isEmpty || step.isEmpty) return None
          val lo = if (lo0.isEmpty) "1" else bound(lo0)
          val hi = bound(hi0)
          val v = s"__gs${Brackets.sliceVar.incrementAndGet()}"
          // sequence() IS the probed semantics per direction; bounds
          // clamp into the list so out-of-range never throws. The ELSE
          // branch fires only for step=0 — sequence(2,1,0) errors, the
          // v1.0 behavior — but must still TYPE as array<T>, hence the
          // transform over the base
          return Some(
            s"(CASE WHEN ($step) > 0 THEN " +
              s"CASE WHEN greatest(1, $lo) > least($lenExpr, $hi) THEN slice($base, 1, 0) " +
              s"ELSE transform(sequence(greatest(1, $lo), least($lenExpr, $hi), $step), $v -> try_element_at($base, $v)) END " +
            s"WHEN ($step) < 0 THEN " +
              s"CASE WHEN least($lenExpr, $lo) < greatest(1, $hi) THEN slice($base, 1, 0) " +
              s"ELSE transform(sequence(least($lenExpr, $lo), greatest(1, $hi), $step), $v -> try_element_at($base, $v)) END " +
            s"ELSE transform(sequence(2, 1, ($step)), $v -> try_element_at($base, $v)) END)")
        }
        val lo0 = body.substring(0, colon).trim
        val hi0 = body.substring(colon + 1).trim
        // DuckDB slice is 1-based INCLUSIVE; omitted bounds span the
        // list; a lower bound below 1 clamps (l[0:2] ≡ l[1:2])
        val lo = lo0 match {
          case "" => "1"
          case nonNegIntLit() => math.max(1, lo0.toInt).toString
          case _ => s"greatest(1, ${bound(lo0)})"
        }
        val hi = if (hi0.isEmpty) lenExpr else bound(hi0)
        if (stringBase) s"substr($base, $lo, greatest(0, $hi - $lo + 1))"
        else s"slice($base, $lo, greatest(0, $hi - $lo + 1))"
      }
    Some(repl)
  }

  /** DuckDB list comprehension `[expr FOR x IN list [IF cond]]` — maps
    * to the native higher-order functions: `transform(list, x -> expr)`,
    * with the IF clause as an inner `filter(list, x -> cond)`. Both are
    * codegen'd Catalyst array operators; the lambda variable binds the
    * same way in both dialects. */
  private def comprehension(stmt: String, masked: String,
                            open: Int, close: Int): Option[(Int, String)] = {
    val body = stmt.substring(open + 1, close)
    val mbody = masked.substring(open + 1, close)
    def depth0(re: String): Option[Int] =
      re.r.findAllMatchIn(mbody).find { m =>
        val prefix = mbody.substring(0, m.start)
        prefix.count(_ == '(') == prefix.count(_ == ')')
      }.map(_.start)
    for {
      forAt <- depth0("(?is)\\bFOR\\b")
      inAt <- depth0("(?is)\\bIN\\b").filter(_ > forAt)
    } yield {
      val expr = body.substring(0, forAt).trim
      val variable = body.substring(forAt + 3, inAt).trim
      val rest = body.substring(inAt + 2)
      val mrest = mbody.substring(inAt + 2)
      val ifAt = "(?is)\\bIF\\b".r.findAllMatchIn(mrest).find { m =>
        val prefix = mrest.substring(0, m.start)
        prefix.count(_ == '(') == prefix.count(_ == ')')
      }.map(_.start)
      val (list, cond) = ifAt match {
        case Some(at) => (rest.substring(0, at).trim,
          Some(rest.substring(at + 2).trim))
        case None => (rest.trim, None)
      }
      val source = cond match {
        case Some(c) => s"filter($list, $variable -> $c)"
        case None => list
      }
      (open, s"transform($source, $variable -> $expr)")
    }
  }

  private def rewriteStruct(stmt: String, masked: String,
                            open: Int, close: Int): Option[(Int, String)] = {
    // innermost: no `[` or `{` inside, so the shared split nests parens only
    val entries = Dialect.splitTop(stmt.substring(open + 1, close))
      .filter(_.nonEmpty).map(e => (e, Dialect.maskQuoted(e)))
    // a `MAP` keyword immediately before the brace makes this a MAP
    // literal (probed v1.0: `MAP {'a': 1}`) — Spark spells it
    // map(k1, v1, ...) and the keys stay EXPRESSIONS (numeric keys keep
    // their type); plain braces are a STRUCT, whose bare keys quote to
    // field-name strings
    val (isMap, start) = {
      var j = open - 1
      while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
      val e = j
      while (j >= 0 && (stmt.charAt(j).isLetterOrDigit || stmt.charAt(j) == '_')) j -= 1
      if (e > j && stmt.substring(j + 1, e + 1).equalsIgnoreCase("map") &&
          masked.charAt(j + 1) == stmt.charAt(j + 1))
        (true, j + 1)
      else (false, open)
    }
    val parts = entries.map { case (e, me) =>
      // first depth-0 single `:` separates key from value (`::` casts
      // live in the value)
      var colon = -1
      var d = 0
      var k = 0
      while (k < me.length && colon < 0) {
        me.charAt(k) match {
          case '(' => d += 1
          case ')' => d -= 1
          case ':' if d == 0 &&
              (k + 1 >= me.length || me.charAt(k + 1) != ':') &&
              (k == 0 || me.charAt(k - 1) != ':') => colon = k
          case _ =>
        }
        k += 1
      }
      if (colon < 0) return None // not a struct/map literal
      val key0 = e.substring(0, colon).trim
      val value = e.substring(colon + 1).trim
      if (key0.isEmpty || value.isEmpty) return None
      // bare identifier keys quote to string literals; quoted keys keep
      val key =
        if (isMap) key0
        else if (key0.startsWith("'")) key0
        else if (key0.startsWith("\"")) "'" + key0.substring(1, key0.length - 1) + "'"
        else "'" + key0 + "'"
      s"$key, $value"
    }
    val fn = if (isMap) "map" else "named_struct"
    Some((start, fn + "(" + parts.mkString(", ") + ")"))
  }
}
