package graft.component

import java.util.regex.MatchResult

import scala.collection.mutable.ListBuffer
import scala.util.matching.Regex

/** DuckDB-SQL → Spark-SQL pre-parse rewriter + statement splitter
  * (SURVEY §7 module 4). Corpus-driven and minimal: everything the
  * reference's test corpus exercises that Spark's parser does not accept
  * natively is rewritten here; everything else passes through verbatim.
  *
  * Rewrites:
  *  - `"quoted"` identifiers → backticks (double quotes are ALWAYS
  *    identifiers in DuckDB, never string literals);
  *  - `'quoted'` identifiers in table position (after FROM/JOIN/INTO/
  *    CREATE TABLE/VIEW/UPDATE/TABLE) → backticks — a DuckDB extension
  *    used throughout the reference corpus (`CREATE VIEW 'out.csv' ...`);
  *  - table names are additionally sanitized via [[Names.view]] so they
  *    are valid Spark temp-view identifiers (no dots);
  *  - `::TYPE` casts pass through (Spark 4 parses them; `::VARCHAR` is the
  *    one gap, rewritten to `::STRING`).
  */
object Dialect {

  /** What a ROLLBACK statement rewrites to: parseable (static analysis
    * lists it as an issue instead of crashing) yet detectable (the
    * executor rejects it loudly — pretending the undo happened is the one
    * unacceptable answer). */
  val RollbackSentinel = "SET __graft_rollback_rejected = true"

  val RollbackMessage: String =
    "ROLLBACK is not supported: statements commit as they run " +
      "(atomic per-table materialization); remove the transaction " +
      "control or restructure the script"

  /** Statement families with no meaning in this engine, rewritten to
    * parseable reject sentinels (the ROLLBACK pattern): static analysis
    * LISTS the issue per statement, the executor throws the same message
    * at run time — never an opaque parse error, never silent inertness. */
  val RejectMessages: Map[String, String] = Map(
    "ATTACH" -> ("ATTACH is not supported: the component operates on a " +
      "single workspace catalog; declare external tables in the input " +
      "mapping, or read files directly (read_parquet/read_csv/FROM 'path')"),
    "DETACH" -> "DETACH is not supported (no ATTACH to undo)",
    "CREATE_TYPE" -> ("this CREATE TYPE form is not supported: alias " +
      "and ENUM types execute, but UNION values are tagged — no exact " +
      "Spark twin; restructure as a STRUCT with one field per variant " +
      "or a (tag VARCHAR, value VARCHAR) pair"),
    "ALTER_SEQUENCE" -> ("ALTER SEQUENCE is not supported: re-create the " +
      "sequence (CREATE OR REPLACE SEQUENCE) with the new parameters"),
    "FRAME_GROUPS" -> ("this window frame GROUPS form is not rewritable: " +
      "GROUPS executes via a dense_rank re-ordering (any function; " +
      "offset bounds need a plain SELECT block without GROUP BY / " +
      "HAVING / DISTINCT / WINDOW and an ORDER BY in the window) — " +
      "restructure to that shape, or use ROWS/RANGE directly"),
    "FRAME_EXCLUDE" -> ("this window frame EXCLUDE form is not " +
      "rewritable: EXCLUDE CURRENT ROW / GROUP / TIES executes for " +
      "sum / count / avg via windowed subtraction (GROUP and TIES need " +
      "a RANGE frame spanning the current row's peers; offsets must be " +
      "literals) — for other functions subtract the excluded rows " +
      "explicitly (EXCLUDE NO OTHERS, the default, is always stripped)"))

  def rejectSentinel(kind: String): String = s"SET __graft_rejected_$kind = true"

  /** The reject kind a rewritten statement carries, if any. */
  def rejectedKind(stmt: String): Option[String] =
    "^SET __graft_rejected_([A-Z_]+) = true$".r
      .findFirstMatchIn(stmt.trim).map(_.group(1))

  /** Split a multi-statement script on `;`, respecting quotes/comments
    * (the reference sends whole scripts to DuckDB which splits internally;
    * `spark.sql` is single-statement). */
  def splitStatements(script: String): List[String] = {
    val out = ListBuffer[String]()
    var from = 0
    var i = 0
    while (i < script.length) {
      val e = spanEnd(script, i)
      if (e >= 0) i = e
      else {
        if (script.charAt(i) == ';') { out += script.substring(from, i); from = i + 1 }
        i += 1
      }
    }
    out += script.substring(from)
    out.toList.map(_.trim).filter(_.nonEmpty)
  }

  private val tableKeyword =
    """(?is)\b(FROM|JOIN|INTO|UPDATE|TABLE|VIEW|PIVOT|UNPIVOT)\s*$""".r
  /** MERGE's and DELETE's `USING <source>` is table position too; a
    * JOIN's `USING (k)` never has a name right after the keyword. */
  private val usingSource = """(?is)\bUSING\s*$""".r

  /** Emit a bare-filename file view with DuckDB's default alias (basename
    * up to the FIRST dot — probed: `FROM 'a.b.csv'` binds qualifier `a`,
    * `f.csv.gz` binds `f`) unless the user wrote their own alias right
    * after the path. `rest` is the statement text following the quoted
    * token. Non-identifier basenames (globs: `*.csv`) get no alias. */
  private def fileViewRef(view: String, path: String, rest: String): String = {
    val aliasFollows =
      "(?is)^\\s*(?:(AS)\\b|([A-Za-z_][A-Za-z0-9_]*))".r.findFirstMatchIn(rest) match {
        case Some(m) if m.group(1) != null => true
        case Some(m) => !aliasStopWord(m.group(2).toLowerCase)
        case None => false
      }
    val base = path.replace('\\', '/').split('/').last.takeWhile(_ != '.')
    if (aliasFollows || !base.matches("[A-Za-z_][A-Za-z0-9_]*")) s"`$view`"
    else s"`$view` AS `$base`"
  }

  private val aliasStopWord = Set(
    "where", "group", "having", "qualify", "order", "limit", "offset",
    "union", "intersect", "except", "join", "inner", "left", "right",
    "full", "cross", "natural", "semi", "anti", "on", "using", "select",
    "from", "lateral", "window", "positional", "asof", "tablesample",
    "pivot", "unpivot", "when", "then", "else", "end", "set", "returning")
    .contains _

  /** `CREATE TABLE t AS <query> WITH NO DATA` — schema-only CTAS
    * (probed v1.0) → the query wrapped under `WHERE 1 = 0` (appending
    * LIMIT 0 would clash with a query-final ORDER BY/LIMIT). */
  private def rewriteNoData(stmt: String, masked: String): String = {
    val m = ("(?is)^(\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?" +
      "(?:TEMP(?:ORARY)?\\s+)?TABLE\\s+\\S+\\s+AS\\s+)(.*?)" +
      "\\s+WITH\\s+NO\\s+DATA\\s*;?\\s*$").r
      .findFirstMatchIn(masked).getOrElse(return stmt)
    stmt.substring(m.start(1), m.end(1)) +
      s"SELECT * FROM (${stmt.substring(m.start(2), m.end(2))}) " +
      "__graft_nodata WHERE 1 = 0"
  }

  /** `UPDATE ... SET (a, b) = (e1, e2)` tuple assignment (probed v1.0)
    * → the plain `SET a = e1, b = e2` list. A row-subquery RHS
    * (`= (SELECT ...)`) rejects loudly — no single-statement Spark
    * spelling. */
  private val tupleSet = Sites("(?is)\\bSET\\s*\\(".r, lowerTupleSet)

  private def lowerTupleSet(stmt: String, masked: String, m: MatchResult): Step = {
    if ("(?is)^\\s*UPDATE\\b".r.findFirstIn(stmt).isEmpty) return Skip(stmt.length)
    val open = m.end - 1
    val close = matchingParen(masked, open)
    if (close < 0) return Skip(stmt.length)
    var i = close + 1
    while (i < masked.length && masked.charAt(i).isWhitespace) i += 1
    if (i >= masked.length || masked.charAt(i) != '=') return Skip(stmt.length)
    i += 1
    while (i < masked.length && masked.charAt(i).isWhitespace) i += 1
    if (i >= masked.length || masked.charAt(i) != '(') return Skip(stmt.length)
    val vOpen = i
    val vClose = matchingParen(masked, vOpen)
    if (vClose < 0) return Skip(stmt.length)
    if ("(?is)^\\s*SELECT\\b".r
        .findFirstIn(masked.substring(vOpen + 1, vClose)).isDefined)
      throw new UserException(
        "UPDATE SET (cols) = (SELECT ...): row-subquery assignment is " +
          "not supported — use UPDATE ... FROM with per-column SETs")
    def split(a: Int, b: Int) = splitTop(stmt.substring(a, b)).filter(_.nonEmpty)
    val names = split(open + 1, close)
    val values = split(vOpen + 1, vClose)
    if (names.length != values.length)
      throw new UserException(
        s"UPDATE SET (cols) = (values): ${names.length} columns but " +
          s"${values.length} values")
    Splice(m.start, vClose + 1, names.zip(values)
      .map { case (n, v) => s"$n = $v" }.mkString("SET ", ", ", ""))
  }

  private val orderedAggFns = Set("first", "last", "any_value", "arbitrary",
    "array_agg", "list", "string_agg", "group_concat", "listagg")

  /** Order-INSENSITIVE aggregates: DuckDB accepts `ORDER BY` inside them
    * as a documented no-op (probed: `sum(k ORDER BY x)` works) — the
    * modifier is STRIPPED, which is faithful, not silent corruption. */
  private val orderNoopAggFns = Set("sum", "avg", "mean", "count", "min",
    "max", "product", "median", "mode", "stddev", "stddev_pop",
    "stddev_samp", "var_pop", "var_samp", "variance", "entropy", "kurtosis",
    "kurtosis_pop", "skewness", "sem", "geomean", "geometric_mean", "fsum",
    "favg", "kahan_sum", "bit_and", "bit_or", "bit_xor", "bool_and",
    "bool_or", "corr", "covar_pop", "covar_samp", "quantile_cont",
    "quantile_disc", "approx_count_distinct", "approx_quantile",
    "reservoir_quantile", "arg_max", "arg_min", "max_by", "min_by",
    "weighted_avg", "wavg", "histogram", "histogram_exact", "bitstring_agg")

  /** Ordered-aggregate modifiers (probed v1.0: legal inside ANY
    * aggregate): `first(x ORDER BY k)` / `last` / `any_value` lower to
    * min_by/max_by (the k-extreme row's value — multi-key via struct);
    * `array_agg` / `list` sort-by-key via
    * `transform(array_sort(array_agg(named_struct(keys..., v))), s->s.v)`
    * (+ reverse for DESC); `string_agg` / `group_concat` / `listagg`
    * ride Spark's native `listagg(x, sep) WITHIN GROUP (ORDER BY ...)`.
    * An ORDER BY inside any OTHER function's parens rejects loudly —
    * silently dropping it would corrupt order-sensitive results.
    * Window `OVER (ORDER BY ...)`, `WITHIN GROUP (...)` and subquery
    * parens are skipped by construction. */
  private val orderedAgg = Sites("(?i)\\bORDER\\s+BY\\b".r, lowerOrderedAgg)

  private def lowerOrderedAgg(stmt: String, masked: String, ob: MatchResult): Step = {
    val open = openingParen(masked, ob.start) // innermost enclosing '('
    if (open < 0) return Skip(ob.end)
    var k = open - 1
    while (k >= 0 && masked.charAt(k).isWhitespace) k -= 1
    val nameEnd = k
    while (k >= 0 && (masked.charAt(k).isLetterOrDigit ||
      masked.charAt(k) == '_')) k -= 1
    val fn = if (nameEnd > k)
      masked.substring(k + 1, nameEnd + 1).toLowerCase else ""
    val close = matchingParen(masked, open)
    val isSubquery = "(?is)^\\s*(?:SELECT|WITH|FROM|VALUES|TABLE)\\b".r
      .findFirstIn(masked.substring(open + 1)).isDefined
    // skipped paren owners: OVER (window spec), WITHIN GROUP,
    // FILTER, and `WINDOW w AS (ORDER BY ...)` named-window specs
    if (close <= 0 || fn.isEmpty || isSubquery ||
        Set("over", "group", "filter", "as")(fn)) Skip(ob.end)
    else if (orderedAggFns(fn))
      Splice(k + 1, close + 1, orderedAggCall(stmt, fn, open, ob.start, ob.end, close))
    else if (orderNoopAggFns(fn))
      // order-insensitive: the modifier is a documented no-op — strip it
      // (keep the argument list); the head before it is trimmed whole
      Splice(0, close, stmt.substring(0, ob.start).trim.stripSuffix(","))
    else
      throw new UserException(
        s"ORDER BY inside $fn(...): the ordered-aggregate " +
          "lowering maps first/last/any_value/arbitrary/" +
          "array_agg/list/string_agg/group_concat/listagg and " +
          "strips the no-op modifier from order-insensitive " +
          "aggregates (dropping it for an unknown function " +
          "could corrupt order-sensitive results)")
  }

  /** The lowered call text of an ordered aggregate. */
  private def orderedAggCall(stmt: String, fn: String, open: Int,
                             obStart: Int, obEnd: Int, close: Int): String = {
    def splitSeg(a: Int, b: Int) = splitTop(stmt.substring(a, b)).filter(_.nonEmpty)
    val args = splitSeg(open + 1, obStart)
    val keySpecs = splitSeg(obEnd, close).map { piece =>
      val m = "(?is)^(.*?)(?:\\s+(ASC|DESC))?(?:\\s+NULLS\\s+(FIRST|LAST))?$".r
        .findFirstMatchIn(piece).get
      // explicit NULLS LAST restates DuckDB's default (probed v1.0:
      // nulls sort LAST under BOTH directions) — the lowering's
      // null-flag keys already produce it; NULLS FIRST stays out
      if (Option(m.group(3)).exists(_.equalsIgnoreCase("first")))
        throw new UserException(
          s"ordered aggregate $fn: NULLS FIRST is not supported (the " +
            "lowering reproduces DuckDB's default NULLS LAST)")
      (m.group(1).trim, Option(m.group(2)).exists(_.equalsIgnoreCase("desc")))
    }
    val descs = keySpecs.map(_._2).distinct
    if (descs.length > 1) throw new UserException(
      s"ordered aggregate $fn: mixed ASC/DESC keys are not supported")
    val desc = descs.headOption.getOrElse(false)
    val keys = keySpecs.map(_._1)
    // DuckDB sorts NULL keys LAST under both directions (probed v1.0);
    // a bare min_by/max_by/array_sort key would place them Spark-style.
    // A boolean null-flag AHEAD of each key reproduces the contract:
    // ASC → flag `k IS NULL` (false < true ⇒ nulls greatest); DESC (the
    // lowering reverses or max-picks) → flag `k IS NOT NULL` so the
    // flip still lands nulls last.
    def flagged(kx: String): Seq[String] =
      Seq(s"(($kx) IS ${if (desc) "NOT " else ""}NULL)", kx)
    fn match {
      case "first" | "any_value" | "arbitrary" | "last" =>
        if (args.length != 1) throw new UserException(
          s"ordered aggregate $fn takes one argument, got ${args.length}")
        val key = s"struct(${keys.flatMap(flagged).mkString(", ")})"
        val pickMax = (fn == "last") != desc // last+ASC or first+DESC → max
        s"${if (pickMax) "max_by" else "min_by"}(${args.head}, $key)"
      case "array_agg" | "list" =>
        if (args.length != 1) throw new UserException(
          s"ordered aggregate $fn takes one argument, got ${args.length}")
        val fields = keys.zipWithIndex.flatMap { case (kx, i) =>
          val Seq(f, k) = flagged(kx)
          Seq(s"'__n$i', $f", s"'__k$i', $k")
        } :+ s"'__v', ${args.head}"
        val sorted =
          s"array_sort(array_agg(named_struct(${fields.mkString(", ")})))"
        val dir = if (desc) s"reverse($sorted)" else sorted
        s"transform($dir, __oa -> __oa.__v)"
      case _ => // string_agg / group_concat / listagg
        if (args.isEmpty || args.length > 2) throw new UserException(
          s"ordered aggregate $fn takes (value[, separator]), got ${args.length}")
        val sep = if (args.length == 2) args(1) else "','"
        // explicit NULLS LAST per key — Spark's WITHIN GROUP default
        // would put null keys first (the probed DuckDB divergence)
        val ord = keys.map(k =>
          s"$k${if (desc) " DESC" else ""} NULLS LAST").mkString(", ")
        s"listagg(${args.head}, $sep) WITHIN GROUP (ORDER BY $ord)"
    }
  }

  /** DuckDB's numeric→integral casts ROUND where Spark's truncate
    * (probed v1.0: DECIMAL half-away, DOUBLE half-even, fractional
    * strings via the decimal path — [[graft.functions.DuckIntCast]]).
    * Both cast spellings in STATEMENT TEXT route through the
    * `duck_icast` registry function; internal Column-API casts (int8
    * quantization, bucketing) keep Spark semantics by design. An
    * unparsable `::` left extent stays a native cast (loud residual —
    * Spark re-parses whatever the scan could not). */
  private val intCastTargets =
    "TINYINT|INT1|SMALLINT|INT2|SHORT|INTEGER|INT4|SIGNED|BIGINT|INT8|LONG|HUGEINT|INT"
  private val castCall = "(?i)\\b(TRY_)?CAST\\s*\\(".r
  private val colonCast = s"(?i)::\\s*($intCastTargets)\\b".r
  /** The CAST / TRY_CAST type slot. */
  private val castSlots = Sites(castCall, { (stmt, masked, m) =>
    val open = m.end - 1
    val close = matchingParen(masked, open)
    val lowered = if (close <= 0) None else {
      val inner = masked.substring(open + 1, close)
      val dep = depths(inner)
      "(?i)\\bAS\\b".r.findAllMatchIn(inner).toList.reverse
        .find(a => dep(a.start) == 0)
        .map(a => stmt.substring(open + 1 + a.end, close).trim -> a.start)
        .collect { case (slot, as) if slot.matches(s"(?i)^(?:$intCastTargets)$$") =>
          val exprTxt = stmt.substring(open + 1, open + 1 + as).trim
          val lenient = if (m.group(1) != null) ", true" else ""
          Splice(m.start, close + 1,
            s"duck_icast($exprTxt, '${slot.toUpperCase}'$lenient)")
        }
    }
    lowered.getOrElse(Skip(m.end))
  })

  /** The `::` spelling: one LEFT primary binds (`::` is tightest). */
  private val colonCasts = Sites(colonCast, { (stmt, masked, m) =>
    operandStart(stmt, masked, m.start, Primary).map { ls =>
      Splice(ls, m.end,
        s"duck_icast(${stmt.substring(ls, m.start).trim}, '${m.group(1).toUpperCase}')")
    }.getOrElse(Skip(m.end))
  })

  /** Every CAST type slot lowers before the first `::` does. */
  private[component] def rewriteIntCasts(stmt: String): String =
    run(stmt, castSlots, colonCasts)

  /** DuckDB's DEFAULT null sort order is NULLS LAST for BOTH directions
    * (probed v1.0: `ORDER BY x` and `ORDER BY x DESC` both sort NULL
    * keys last); Spark's ASC default is NULLS FIRST — a silent ROW-SET
    * divergence wherever order feeds VALUES: ORDER BY + LIMIT, window
    * functions, rank/range frames. Every ORDER BY item without an
    * explicit NULLS qualifier and not DESC-ended (the DESC defaults
    * agree) gains `NULLS LAST`. ORDER BYs inside plain function calls
    * are left alone — [[orderedAgg]]'s lowering owns those (its
    * null-flag keys reproduce the same contract); OVER window specs and
    * subqueries in keyword positions (FROM/IN/EXISTS/...) rewrite. */
  private[component] def rewriteNullsLast(stmt: String): String =
    run(stmt, Whole(nullsLast))

  private def nullsLast(stmt0: String, masked: String): String = {
    val dep = depths(masked)
    // paren owners that are SQL keywords, not function names — their
    // parenthesized ORDER BYs are subqueries/window specs and rewrite
    val keywordOwners = Set("over", "from", "join", "where", "on", "and",
      "or", "select", "union", "all", "as", "in", "exists", "not", "then",
      "else", "when", "by", "lateral", "using", "values", "with", "case",
      "having", "intersect", "except", "distinct", "cross", "inner",
      "left", "right", "full", "semi", "anti", "end", "between", "like",
      "ilike", "glob", "asof", "table", "insert", "into", "create",
      "replace", "view", "limit", "offset", "qualify", "window")
    val terminators = Set("limit", "offset", "rows", "range", "groups",
      "exclude", "union", "intersect", "except", "fetch", "window",
      "having", "qualify")
    val appendAt = scala.collection.mutable.ListBuffer[Int]()
    for (m <- "(?i)\\bORDER\\s+BY\\b".r.findAllMatchIn(masked)) {
      // innermost enclosing '(' of this ORDER BY (-1 = top level)
      val open = openingParen(masked, m.start)
      val owner = if (open < 0) "" else {
        var k = open - 1
        while (k >= 0 && masked.charAt(k).isWhitespace) k -= 1
        val e = k
        while (k >= 0 && (masked.charAt(k).isLetterOrDigit ||
          masked.charAt(k) == '_')) k -= 1
        if (e > k) masked.substring(k + 1, e + 1).toLowerCase else ""
      }
      if (open < 0 || owner.isEmpty || keywordOwners(owner)) {
        val d0 = dep(m.start)
        var i = m.end
        var itemStart = -1
        var lastNonWs = -1
        var done = false
        def closeItem(): Unit = if (itemStart >= 0 && lastNonWs >= itemStart) {
          val item = stmt0.substring(itemStart, lastNonWs + 1)
          // `ORDER BY ALL` takes the qualifier too (probed: Spark parses
          // ALL NULLS LAST and returns DuckDB's row set)
          if ("(?is)\\bNULLS\\s+(FIRST|LAST)\\s*$".r.findFirstIn(item).isEmpty &&
              "(?is)\\bDESC\\s*$".r.findFirstIn(item).isEmpty)
            appendAt += (lastNonWs + 1)
          itemStart = -1; lastNonWs = -1
        }
        while (!done) {
          if (i >= masked.length || dep(i) < d0) { closeItem(); done = true }
          else {
            val ch = masked.charAt(i)
            if (ch == ',' && dep(i) == d0) { closeItem(); i += 1 }
            else if (ch == ';' && dep(i) == d0) { closeItem(); done = true }
            else if (ch.isLetter && dep(i) == d0 && masked.charAt(i) == stmt0.charAt(i)) {
              var e = i
              while (e < masked.length && (masked.charAt(e).isLetterOrDigit ||
                masked.charAt(e) == '_')) e += 1
              val w = masked.substring(i, e).toLowerCase
              if (itemStart >= 0 && terminators(w)) { closeItem(); done = true }
              else {
                if (itemStart < 0) itemStart = i
                lastNonWs = e - 1
                i = e
              }
            } else if (ch == ' ' && !stmt0.charAt(i).isWhitespace) {
              // a masked span: a QUOTED literal is item text (the append
              // must land AFTER it, not inside); a COMMENT is neither
              // item text nor an append target
              val e2 = spanEnd(stmt0, i)
              if (e2 >= 0 && "-/".indexOf(stmt0.charAt(i)) >= 0) i = e2
              else {
                if (itemStart < 0) itemStart = i
                lastNonWs = if (e2 >= 0) e2 - 1 else i
                i = if (e2 >= 0) e2 else i + 1
              }
            } else {
              if (!ch.isWhitespace) {
                if (itemStart < 0) itemStart = i
                lastNonWs = i
              }
              i += 1
            }
          }
        }
      }
    }
    if (appendAt.isEmpty) stmt0
    else {
      val sb = new StringBuilder(stmt0)
      appendAt.distinct.sorted(Ordering[Int].reverse)
        .foreach(p => sb.insert(p, " NULLS LAST"))
      sb.toString
    }
  }

  /** A depth-0 trailing `LIMIT n% [OFFSET m]` (DuckDB percent limit,
    * probed v1.0: row count = FLOOR(total · n/100), offset applies
    * first) → (body without the clause, percent, offset), read from a
    * normalized body and its mask ([[Body.parse]]). Executed by
    * `Body.run` as count-then-limit — the same two-pass price
    * the reference engine pays to know the total. */
  private[component] def parseLimitPercent(body: String, masked: String)
      : Option[(String, Double, Long)] =
    ("(?is)\\bLIMIT\\s+([0-9]+(?:\\.[0-9]+)?)\\s*(?:%|PERCENT\\b)" +
      "(?:\\s+OFFSET\\s+([0-9]+))?\\s*$").r
      .findFirstMatchIn(masked).filter(m => depths(masked)(m.start) == 0)
      .map(m => (body.substring(0, m.start), m.group(1).toDouble,
        Option(m.group(2)).map(_.toLong).getOrElse(0L)))

  /** Rewrite one DuckDB statement into Spark SQL: [[chain]], folded by
    * [[run]]. */
  def rewrite(stmt: String): String = run(stmt, chain: _*)

  /** The rewrite chain, in application order. Macros expand and named
    * windows inline before any pass reads a call or a window; brackets,
    * `.f()` chains and json arrows become plain calls before the operator
    * lowerings scan operands; the clause lowerings (UNNEST, DISTINCT ON
    * before QUALIFY, ordered aggregates) see operator-free text; the
    * lexical walk ([[lexical]]) runs last. */
  private lazy val chain: Seq[Pass] = Seq(
    Whole((s, _) => rewriteDollarStrings(s)),
    Whole(Macros.rewrite),
    WindowClauseSql.inline,
    Whole((s, _) => rewritePragma(s)),
    Whole(FrameSql.rewrite),
    Whole(IntrospectSql.rewrite),
    FileReads.tableFunctions,
    Brackets.brackets,
    DotCall.chains,
    JsonArrows.arrows,
    windowFilter, pow, intDiv, div, mod,
    StarReplaceSql.starLike, StarReplaceSql.bareExclude,
    matchOps, groupingId, quantified, fill,
    Whole(rewriteSeriesTableFns),
    usingSample,
    UnnestSql.fromPosition, UnnestSql.selectLists,
    Whole(Pivot.rewriteUnpivot(_, _)),
    Whole(rewriteWithCreate),
    distinctOn, qualify, orderedAgg, tupleSet,
    Whole(rewriteNoData),
    castSlots, colonCasts,
    Whole(nullsLast),
    Whole((s, _) => lexical(s)))

  /** The chain's last pass, one walk over the statement's lexical spans:
    * quoted identifiers become backticks (sanitized, or a file view, in
    * table position), and the regex rewrites (`::VARCHAR`, `* EXCLUDE (`,
    * the duck_ routing, ...) apply only OUTSIDE quoted regions. */
  private def lexical(stmt: String): String = {
    val out = new StringBuilder
    val plain = new StringBuilder // non-quoted text pending regex rewrites
    // all non-quoted, non-comment text seen so far — table-position
    // detection must survive flushes and skip comments ([[spanEnd]])
    val context = new StringBuilder
    // `COPY <t> FROM '<path>'`: the quoted token after a DEPTH-0 FROM is
    // a FILE PATH, not a table identifier — sanitizing it would destroy
    // the path. Inside a COPY's subquery (depth > 0) FROM is table
    // position as usual.
    val isCopyStmt = "(?is)^\\s*COPY\\b".r.findFirstIn(stmt).isDefined
    val isExecuteStmt = "(?is)^\\s*EXECUTE\\b".r.findFirstIn(stmt).isDefined
    val usingIsTable = "(?is)^\\s*(MERGE|DELETE)\\b".r.findFirstIn(stmt).isDefined
    def inTablePosition: Boolean = {
      val ctx = context.toString
      tableKeyword.findFirstIn(ctx).isDefined ||
        usingIsTable && usingSource.findFirstIn(ctx).isDefined
    }
    // Plain column-definition DDL (`CREATE TABLE t (b BLOB, ...)`,
    // ALTER TABLE): every bare BLOB-family word is a TYPE there. In any
    // other statement the word only maps in cast positions — a COLUMN
    // legitimately named blob must not silently rename (ADVICE r17).
    // CTAS does not match (the table name is followed by AS, not `(`),
    // so its select-list identifiers stay untouched.
    val isColumnDefDdl = ("(?is)^\\s*(?:CREATE\\s+(?:OR\\s+REPLACE\\s+)?" +
      "(?:TEMP\\w*\\s+)?TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "(?:\"[^\"]+\"|[\\w.]+)\\s*\\(|ALTER\\s)").r.findFirstIn(stmt).isDefined
    var parenDepth = 0

    def flushPlain(): Unit = {
      out.append(plain.toString
        .replaceAll("(?i)::\\s*VARCHAR\\b", "::STRING")
        // Spark rejects length-less VARCHAR (`CAST(x AS VARCHAR)`, corpus-
        // wide in the reference fixtures); VARCHAR(n) parses natively
        .replaceAll("(?i)\\bVARCHAR\\b(?!\\s*\\()", "STRING")
        // DuckDB's BLOB and its aliases are Spark's BINARY (r17 sweep:
        // `'ab'::BLOB` must reach to_base64/to_hex as binary). TYPE
        // positions only: after `::`, or after AS when a `)`/`[` follows
        // (CAST/TRY_CAST — an `AS blob` ALIAS is followed by a keyword
        // or comma instead); in column-def DDL every bare word is a
        // type. An identifier named blob elsewhere stays itself
        // (ADVICE r17: the bare-word rule silently renamed it).
        .replaceAll(
          if (isColumnDefDdl) "(?i)\\b(BLOB|BYTEA|VARBINARY)\\b"
          else "(?i)(?<=::\\s{0,20})(BLOB|BYTEA|VARBINARY)\\b", "BINARY")
        .replaceAll("(?i)(?<=\\bAS\\s{1,20})(BLOB|BYTEA|VARBINARY)\\b(?=\\s*[)\\[])",
          "BINARY")
        // shared-native function names whose DuckDB semantics differ
        // (r17 sweep) route to duck_-prefixed registry bindings in
        // STATEMENT TEXT only — the Column API (which resolves the same
        // names through the session registry) keeps Spark semantics:
        // date parts extract interval COMPONENTS, dayofweek is 0-based,
        // 2-arg trims are (string, chars), 1-arg greatest/least/trunc/
        // factorial exist, make_timestamp(µs), regexp_extract group-0
        // default, polymorphic length, byte-level levenshtein. The trim
        // family skips the standard TRIM(BOTH|LEADING|TRAILING ... FROM)
        // form, which both engines parse at the grammar level.
        // ...skipping DEFINITION sites (ADVICE r17: `WITH median(v) AS
        // (...)` must not become an unresolvable duck_median CTE): the
        // name is no call when WITH/RECURSIVE/MACRO precedes it, or when
        // its paren group is a bare column list followed by `AS (` (a
        // chained CTE definition)
        .replaceAll("(?i)(?<!\\bWITH\\s{1,20})(?<!\\bRECURSIVE\\s{1,20})(?<!\\bMACRO\\s{1,20})\\b(year|month|day|dayofmonth|quarter|hour|minute|second|dayofweek|greatest|least|trunc|factorial|make_timestamp|regexp_extract|length|levenshtein|median)\\s*\\((?!(?:\\s*[A-Za-z_]\\w*(?:\\s*,\\s*[A-Za-z_]\\w*)*)?\\s*\\)\\s+AS\\s*\\()",
          "duck_$1(")
        .replaceAll("(?i)(?<!\\bWITH\\s{1,20})(?<!\\bRECURSIVE\\s{1,20})(?<!\\bMACRO\\s{1,20})\\b(trim|ltrim|rtrim)\\s*\\((?!\\s*(?i:BOTH|LEADING|TRAILING)\\b)(?!(?:\\s*[A-Za-z_]\\w*(?:\\s*,\\s*[A-Za-z_]\\w*)*)?\\s*\\)\\s+AS\\s*\\()",
          "duck_$1(")
        // DuckDB star modifier: SELECT * EXCLUDE (c) ≡ Spark * EXCEPT (c)
        .replaceAll("(?i)\\*\\s*EXCLUDE\\s*\\(", "* EXCEPT(")
        // Spark's PARSER special-cases date_diff/datediff (unquoted unit
        // idents only) before function resolution ever runs — route
        // DuckDB's ('part', start, end) form to the registry name
        .replaceAll("(?i)\\b(date_diff|datediff)\\s*\\(", "duck_date_diff(")
        // DuckDB/Postgres operator spellings of LIKE: `~~` ≡ LIKE,
        // `!~~` ≡ NOT LIKE, `*`-suffixed ≡ ILIKE — keyword swaps at the
        // same precedence, longest spelling first. Lookarounds refuse an
        // adjacent third tilde: a `~~~` (glob) whose operand extents
        // [[matchOps]] could not parse must pass through WHOLE, not
        // decay to ` LIKE ~` (partial mangling)
        .replaceAll("(?<!~)!~~\\*(?!~)", " NOT ILIKE ")
        .replaceAll("(?<![~!])~~\\*(?!~)", " ILIKE ")
        .replaceAll("(?<!~)!~~(?![~*])", " NOT LIKE ")
        .replaceAll("(?<![~!])~~(?![~*])", " LIKE ")
        // DuckDB spells IGNORE/RESPECT NULLS INSIDE the window call's
        // parens (`lag(x IGNORE NULLS) OVER ...`, probed v1.0); Spark
        // wants it between the call and OVER — move it out (gated on a
        // following OVER so aggregate args never shift)
        .replaceAll("(?i)\\s+(IGNORE|RESPECT)\\s+NULLS\\s*\\)(\\s*OVER\\b)",
          ") $1 NULLS$2")
        // DuckDB's bare aggregate FILTER shorthand — `count(*) FILTER
        // (cond)` without WHERE (probed v1.0) — takes the keyword Spark
        // requires; the `)` before FILTER keeps the filter() HOF out
        .replaceAll("(?i)(\\))(\\s*FILTER\\s*\\()(?!\\s*WHERE\\b)", "$1$2WHERE ")
        // EXTRACT(epoch FROM x): Spark's EXTRACT has no epoch field —
        // route to the registry's epoch() (fractional double seconds,
        // the probed v1.0 contract); other DuckDB-only fields stay loud
        .replaceAll("(?i)\\bEXTRACT\\s*\\(\\s*EPOCH\\s+FROM\\b", "epoch(")
        // struct_pack(a := x, b := y) ≡ named_struct('a', x, 'b', y).
        // `:=` in a non-EXECUTE statement is struct_pack's binder, so
        // the name rewrite is safe within unquoted text there; EXECUTE
        // statements keep `:=` verbatim — it is the NAMED-parameter
        // binder PrepareSql parses (`EXECUTE q(lo := 2)`)
        .replaceAll("(?i)\\bstruct_pack\\s*\\(", "named_struct(")
        .replaceAll(
          if (isExecuteStmt) "(?!x)x" else "(\\w+)\\s*:=", "'$1',")
        // Python-style HOF lambdas — `lambda x, y: body` — are DuckDB
        // >= 1.3 surface (the reference pins 1.4.4/1.5.2; v1.0 probes a
        // parse error). Spark and DuckDB 1.0 share the arrow spelling,
        // so the prefix maps 1:1 — multi-param keeps parens, single is
        // bare (Spark's grammar rejects `(x) ->`). Bracket slices
        // (`l[a:b]`) are already lowered by Brackets before this pass,
        // so a stray identifier named lambda cannot collide here.
        .replaceAll("(?i)\\blambda\\s+([A-Za-z_][A-Za-z0-9_]*" +
          "(?:\\s*,\\s*[A-Za-z_][A-Za-z0-9_]*)+)\\s*:", "($1) -> ")
        .replaceAll("(?i)\\blambda\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*:",
          "$1 -> "))
      plain.clear()
    }

    var i = 0
    while (i < stmt.length) {
      val c = stmt.charAt(i)
      val end = spanEnd(stmt, i)
      if (end < 0) {
        if (c == '(') parenDepth += 1
        else if (c == ')') parenDepth -= 1
        plain.append(c); context.append(c); i += 1
      } else if (c == '"' && (end - 1 == i || stmt.charAt(end - 1) != '"')) {
        // unterminated: plain text for the regex rewrites
        plain.append(stmt.substring(i)); i = stmt.length
      } else if (c == '"') {
        val name = stmt.substring(i + 1, end - 1)
        val inTablePos = inTablePosition
        flushPlain()
        // table names must be sanitized (temp views reject dots); quoted
        // COLUMN names are backticked verbatim — they exist as-is in the
        // DataFrame schema. A path-shaped name in table position is
        // DuckDB's bare-filename shorthand (`FROM "data.csv"`) — a lazy
        // file view, exactly like the read_csv(...) rewrite
        (if (inTablePos) FileReads.pathView(name) else None) match {
          case Some(view) =>
            out.append(fileViewRef(view, name, stmt.substring(end)))
          case None =>
            val ident = if (inTablePos) Names.view(name) else name
            out.append('`').append(ident).append('`')
        }
        context.append('x') // the identifier reads as one plain token
        i = end
      } else if (c == '\'') {
        val body = stmt.substring(i + 1, math.max(i + 1, end - 1))
        val isIdentifier = !body.contains("''") &&
          inTablePosition &&
          !(isCopyStmt && parenDepth == 0)
        flushPlain()
        // a path-shaped quoted token in table position is the bare-filename
        // FROM shorthand (`FROM 'data.csv'`), not a table identifier
        if (isIdentifier) FileReads.pathView(body) match {
          case Some(view) =>
            out.append(fileViewRef(view, body, stmt.substring(end)))
          case None => out.append('`').append(Names.view(body)).append('`')
        }
        else out.append(stmt.substring(i, end)) // literal, verbatim
        context.append('x')
        i = end
      } else {
        // backtick identifiers and comments: verbatim, shielded from the
        // regex rewrites (a ::VARCHAR inside one is part of the name); a
        // comment is invisible to the table-position state too
        flushPlain()
        out.append(stmt.substring(i, end))
        context.append(if (c == '-' || c == '/') ' ' else 'x')
        i = end
      }
    }
    flushPlain()
    out.toString
  }

  /** `WITH <ctes> CREATE TABLE|VIEW t AS <query>` hoists the CTE clause
    * into the CREATE body (`CREATE ... AS WITH <ctes> <query>`) — a lenient
    * shape sqlglot accepts and the reference's own lineage unit test uses
    * (`tests/unit/test_lineage_visualization_action.py:16-25`); Spark's
    * parser (like DuckDB's executor, in fact) wants the CTEs inside. */
  private def rewriteWithCreate(stmt0: String, masked: String): String = {
    if (!"(?is)^\\s*WITH\\b".r.findFirstIn(masked).isDefined) return stmt0
    val dep = depths(masked)
    val create = "(?i)\\bCREATE\\b".r.findAllMatchIn(masked)
      .find(m => dep(m.start) == 0).getOrElse(return stmt0)
    val withPart = stmt0.substring(0, create.start).trim
    val rest = stmt0.substring(create.start)
    val header = "(?is)^(CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TABLE|VIEW)\\s+\\S+\\s+AS\\s+)".r
      .findFirstMatchIn(rest).getOrElse(return stmt0)
    rest.substring(0, header.end) + withPart + "\n" + rest.substring(header.end)
  }

  // ── DuckDB's lexical rules, written once ───────────────────────────
  // Every scanner of the dialect layer reads quotes, comments and
  // brackets through these helpers: one span rule ([[spanEnd]]), its
  // mask, one forward and one backward bracket matcher, one depth array,
  // one depth-0 comma split and one mask-aware regex replace. The
  // bracket helpers read [[maskQuoted]] output, so quoted and commented
  // brackets never count.

  /** End of the `'…'` literal opening at `start`: `''` is an escape. */
  private def quotedEnd(s: String, start: Int): Int = {
    var i = start + 1
    while (i < s.length) {
      if (s.charAt(i) != '\'') i += 1
      else if (i + 1 < s.length && s.charAt(i + 1) == '\'') i += 2
      else return i + 1
    }
    s.length
  }

  /** End (exclusive) of the quoted span or comment that opens at `i`, or
    * -1 when none opens there. The spans: `'…'` with `''` escapes; `"…"`
    * and `` `…` `` (no escapes); `--` through its newline; a block
    * comment through the first closer after its two-char opener (so a
    * slash-star-slash does not close itself); and the dollar string
    * `$tag$…$tag$` (tag optional), a span only when its closing
    * delimiter exists — `$1`/`$name` parameters are plain text. A span
    * opening with `-` or `/` is a comment. Unterminated quotes and
    * comments run to the end. */
  private[component] def spanEnd(s: String, i: Int): Int = {
    val n = s.length
    def through(at: Int, len: Int): Int = if (at < 0) n else at + len
    s.charAt(i) match {
      case '\'' => quotedEnd(s, i)
      case q @ ('"' | '`') => through(s.indexOf(q, i + 1), 1)
      case '-' if i + 1 < n && s.charAt(i + 1) == '-' => through(s.indexOf('\n', i), 1)
      case '/' if i + 1 < n && s.charAt(i + 1) == '*' => through(s.indexOf("*/", i + 2), 2)
      case '$' =>
        def letter(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_'
        def tagChar(c: Char) = letter(c) || (c >= '0' && c <= '9')
        var j = i + 1
        if (j < n && letter(s.charAt(j))) {
          j += 1
          while (j < n && tagChar(s.charAt(j))) j += 1
        }
        if (j >= n || s.charAt(j) != '$') -1
        else {
          val close = s.indexOf(s.substring(i, j + 1), j + 1)
          if (close < 0) -1 else close + j + 1 - i
        }
      case _ => -1
    }
  }

  /** Start of the span (see [[spanEnd]]) containing index `pos`, or -1. */
  private[component] def spanAt(s: String, pos: Int): Int = {
    var i = 0
    while (i <= pos) {
      val e = spanEnd(s, i)
      if (e < 0) i += 1
      else if (pos < e) return i
      else i = e
    }
    -1
  }

  /** The statement with quoted regions and comments blanked — the text
    * every textual heuristic scans, so literal content never matches. */
  def maskQuoted(stmt: String): String = {
    val out = stmt.toCharArray
    var i = 0
    while (i < out.length) {
      val e = spanEnd(stmt, i)
      if (e < 0) i += 1
      else { java.util.Arrays.fill(out, i, e, ' '); i = e }
    }
    new String(out)
  }

  /** `stmt` without its leading whitespace and comments. */
  private[component] def stripLeadingComments(stmt: String): String = {
    val t = stmt.dropWhile(_.isWhitespace)
    if (t.startsWith("--") || t.startsWith("/*"))
      stripLeadingComments(t.substring(spanEnd(t, 0)))
    else t
  }

  /** `s` with every comment replaced by one space. */
  private[component] def dropComments(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val e = spanEnd(s, i)
      if (e < 0) { sb.append(s.charAt(i)); i += 1 }
      else {
        sb.append(if ("-/".indexOf(s.charAt(i)) >= 0) " " else s.substring(i, e))
        i = e
      }
    }
    sb.toString
  }

  /** Index of the closer balancing the opener at `open` in masked text,
    * or -1. Counts the one bracket pair `oc`/`cc` (parens by default). */
  private[component] def matchingParen(masked: String, open: Int,
      oc: Char = '(', cc: Char = ')'): Int = {
    var d = 0
    var i = open
    while (i < masked.length) {
      val c = masked.charAt(i)
      if (c == oc) d += 1
      else if (c == cc) { d -= 1; if (d == 0) return i }
      i += 1
    }
    -1
  }

  /** Index of the innermost unclosed opener before `pos` in masked text,
    * or -1: the opener of a closer at `pos`, or the group enclosing a
    * token that starts there. Counts the one pair `oc`/`cc`. */
  private[component] def openingParen(masked: String, pos: Int,
      oc: Char = '(', cc: Char = ')'): Int = {
    var d = 0
    var j = pos - 1
    while (j >= 0) {
      val c = masked.charAt(j)
      if (c == cc) d += 1
      else if (c == oc) { if (d == 0) return j; d -= 1 }
      j -= 1
    }
    -1
  }

  /** Depth-0 comma split of `text`, quotes and comments masked; `(` and
    * `[` both nest. Every segment comes back trimmed (empty ones too —
    * callers that drop them filter), and blank input gives Nil. */
  private[component] def splitTop(text: String): List[String] = {
    if (text.trim.isEmpty) return Nil
    val masked = maskQuoted(text)
    val out = ListBuffer[String]()
    var d = 0
    var from = 0
    var i = 0
    while (i < masked.length) {
      masked.charAt(i) match {
        case '(' | '[' => d += 1
        case ')' | ']' => d -= 1
        case ',' if d == 0 => out += text.substring(from, i).trim; from = i + 1
        case _ =>
      }
      i += 1
    }
    (out += text.substring(from).trim).toList
  }

  /** Every match of `re` on the masked text replaced by `repl`, spliced
    * into the ORIGINAL string: quoted spans and comments never match
    * (`'see q.bid'` cannot match an alias pattern), and a match outside
    * them reads the same in both texts. */
  private[component] def replaceUnquoted(s: String, re: scala.util.matching.Regex)(
      repl: scala.util.matching.Regex.Match => String): String = {
    val sb = new StringBuilder
    var last = 0
    for (m <- re.findAllMatchIn(maskQuoted(s))) {
      sb.append(s.substring(last, m.start)).append(repl(m))
      last = m.end
    }
    sb.append(s.substring(last)).toString
  }

  /** Paren depth at every masked-text position (the paren chars
    * themselves report the OUTER depth). */
  private[component] def depths(masked: String): Array[Int] = {
    val out = new Array[Int](masked.length)
    var d = 0
    var i = 0
    while (i < masked.length) {
      val c = masked.charAt(i)
      if (c == '(') { out(i) = d; d += 1 }
      else if (c == ')') { d -= 1; out(i) = d }
      else out(i) = d
      i += 1
    }
    out
  }

  /** End of the query block that holds `from`: the first position where
    * the paren depth drops below `from`'s (the enclosing subquery
    * closes), or where a set operator at that depth starts the next leg
    * (`UNION`, `INTERSECT`, or an `EXCEPT` that is no `* EXCEPT (...)`
    * star modifier), or the end of the text. */
  private[component] def blockEnd(masked: String, dep: Array[Int], from: Int): Int = {
    val d = dep(from)
    var i = from
    while (i < masked.length && dep(i) >= d && !(dep(i) == d && setOpAt(masked, i))) i += 1
    i
  }

  private val setOps = Seq("UNION", "INTERSECT", "EXCEPT")

  private def setOpAt(masked: String, i: Int): Boolean =
    (i == 0 || !isWordChar(masked.charAt(i - 1))) && setOps.exists { w =>
      masked.regionMatches(true, i, w, 0, w.length) &&
        (i + w.length == masked.length || !isWordChar(masked.charAt(i + w.length))) &&
        (w != "EXCEPT" || {
          var j = i - 1
          while (j >= 0 && masked.charAt(j).isWhitespace) j -= 1
          j < 0 || masked.charAt(j) != '*'
        })
    }

  private def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'

  /** DuckDB `SELECT DISTINCT ON (keys) ...` (keep the first row per key
    * group under the block's ORDER BY) rewrites to a QUALIFY row_number
    * filter, which [[qualify]] then lowers to a window subquery.
    * Block-scoped: a DISTINCT ON inside a subquery/CTE/parenthesized view
    * body, or in one leg of a set operation, is rewritten within ITS
    * query block ([[blockEnd]]), iterating until none remain. */
  private val distinctOn =
    Sites("(?is)\\bSELECT\\s+DISTINCT\\s+ON\\s*\\(".r, lowerDistinctOn)

  private def lowerDistinctOn(stmt: String, masked: String, m: MatchResult): Step = {
    val dep = depths(masked)
    val blockDepth = dep(m.start)
    // key list: balanced parens from the opening paren
    val close = matchingParen(masked, m.end - 1)
    if (close < 0) return Skip(stmt.length)
    val keys = stmt.substring(m.end, close).trim
    val i = close + 1
    val end = blockEnd(masked, dep, i)
    def findAt(regex: String, from: Int): Option[Int] =
      regex.r.findAllMatchIn(masked).map(_.start)
        .find(p => p >= from && p < end && dep(p) == blockDepth)
    val ob = findAt("(?i)\\bORDER\\s+BY\\b", i)
    val lim = findAt("(?i)\\b(LIMIT|OFFSET)\\b", i)
    val windowOrder = ob match {
      case Some(p) =>
        val obEnd = "(?i)\\bORDER\\s+BY\\b".r.findFirstMatchIn(masked.substring(p)).get.end + p
        stmt.substring(obEnd, lim.getOrElse(end)).trim
      case None => keys
    }
    // splice before ORDER BY if present, else before LIMIT/OFFSET, else
    // at block end — the filter must precede the final LIMIT
    val at = ob.orElse(lim).getOrElse(end)
    findAt("(?i)\\bQUALIFY\\b", i).filter(_ < at) match {
      case None =>
        Splice(m.start, at, "SELECT" + stmt.substring(i, at) +
          s" QUALIFY ROW_NUMBER() OVER (PARTITION BY $keys ORDER BY $windowOrder) = 1 ")
      case Some(_) =>
        // DuckDB filters by the block's QUALIFY first and picks among the
        // survivors (probed v1.0): the block with its QUALIFY becomes the
        // inner query, which carries the keys and the order terms out as
        // hidden columns for the outer row-number filter
        // (expression, hidden column, sort modifiers)
        val from = findAt("(?i)\\bFROM\\b", i).getOrElse(return Skip(m.end))
        val keyCols = splitTop(keys).zipWithIndex.map { case (k, n) => (k, s"__dk$n", "") }
        val orderCols = splitTop(windowOrder).zipWithIndex.map { case (o, n) =>
          val t = "(?is)^(.*?)((?:\\s+(?:ASC|DESC))?(?:\\s+NULLS\\s+(?:FIRST|LAST))?)$".r
            .findFirstMatchIn(o).get
          (t.group(1), s"__do$n", t.group(2))
        }
        val hidden = keyCols ++ orderCols
        def refs(cs: Seq[(String, String, String)]) = cs.map(c => c._2 + c._3).mkString(", ")
        val inner = "SELECT" + stmt.substring(i, from).stripTrailing() +
          hidden.map { case (e, c, _) => s", $e AS $c" }.mkString + " " + stmt.substring(from, at)
        Splice(m.start, at, s"SELECT * EXCEPT (${hidden.map(_._2).mkString(", ")}) FROM ($inner) " +
          s"QUALIFY ROW_NUMBER() OVER (PARTITION BY ${refs(keyCols)} ORDER BY ${refs(orderCols)}) = 1 ")
    }
  }

  /** DuckDB QUALIFY (filter on window-function results) has no Spark
    * equivalent; rewrite
    * `SELECT <sel> FROM <rest> QUALIFY <pred> [<tail>]` into
    * `SELECT * EXCEPT (__q) FROM (SELECT <sel>, (<pred>) AS __q FROM <rest>)
    *  WHERE __q [<tail>]`.
    * Block-scoped: each QUALIFY is rewritten within its own query block
    * (subqueries, CTE bodies, parenthesized view bodies, set-operation
    * legs — [[blockEnd]]), iterating until none remain. */
  private val qualify = Sites("(?i)\\bQUALIFY\\b".r, lowerQualify)

  private def lowerQualify(stmt: String, masked: String, m: MatchResult): Step = {
    val dep = depths(masked)
    val q = m.start
    val blockDepth = dep(q)
    val end = blockEnd(masked, dep, q)
    def positions(regex: String): List[Int] =
      regex.r.findAllMatchIn(masked).map(_.start)
        .filter(p => p < end && dep(p) == blockDepth).toList
    val selects = positions("(?i)\\bSELECT\\b").filter(_ < q)
    val froms = positions("(?i)\\bFROM\\b").filter(_ < q)
    if (selects.isEmpty || froms.isEmpty) return Skip(stmt.length)
    val selKw = selects.last // the block's own SELECT (closest before QUALIFY)
    val selStart = selKw + "SELECT".length
    val fromStart = froms.find(_ > selKw).getOrElse(return Skip(stmt.length))
    val tailStart = positions("(?i)\\b(ORDER|LIMIT|OFFSET)\\b")
      .find(_ > q).getOrElse(end)
    val sel = stmt.substring(selStart, fromStart)
    val rest = stmt.substring(fromStart, q)
    val pred = stmt.substring(q + "QUALIFY".length, tailStart).trim
    Splice(selKw, tailStart,
      s"SELECT * EXCEPT (__q) FROM (SELECT $sel, ($pred) AS __q $rest) WHERE __q ")
  }

  // ── The rewrite driver ─────────────────────────────────────────────
  // [[rewrite]] folds one ordered list of passes ([[chain]]) over a
  // statement and its mask. A find-and-splice pass is a [[Sites]] pass
  // and runs on the one splice loop ([[splice]]); a [[Whole]] pass reads
  // the statement with the mask it is handed. [[run]] re-masks only
  // after a pass changed the text, so a pass that splices nothing hands
  // its mask on to the next, and no pass masks the text it was given.

  /** A lowering's answer for the site its pass found: replace
    * `[from, to)` with `text`, or resume the scan at `at` — past the
    * site; the statement's length ends the pass. */
  private[component] sealed trait Step
  private[component] final case class Splice(from: Int, to: Int, text: String) extends Step
  private[component] final case class Skip(at: Int) extends Step

  /** (statement, its mask, the site's match) => what to do there. */
  private[component] type Lowering = (String, String, MatchResult) => Step

  private[component] sealed trait Pass
  /** A find-and-splice pass: `site` finds its sites on the mask and
    * `lower` answers each one ([[splice]]). */
  private[component] final case class Sites(site: Regex, lower: Lowering) extends Pass
  /** A pass over the whole statement and its mask, answering the new
    * text. */
  private[component] final case class Whole(pass: (String, String) => String) extends Pass

  /** `stmt` through `passes`, in order. */
  private[component] def run(stmt: String, passes: Pass*): String = {
    var s = stmt
    var masked: String = null // computed when a pass first reads it
    def mask: String = { if (masked == null) masked = maskQuoted(s); masked }
    passes.foreach {
      case Sites(site, lower) =>
        val (s2, m2) = splice(s, mask, site)(lower)
        s = s2; masked = m2
      case Whole(pass) =>
        val s2 = pass(s, mask)
        if (s2 != s) { s = s2; masked = null }
    }
    s
  }

  /** The one splice loop: `site` finds sites on the mask from a cursor,
    * and `lower` answers the site found at or after it. After a splice
    * the statement is re-masked and the scan resumes at the splice
    * start, where the lowered text's own sites come next (a chain folds
    * left: `a / b / c`); a skip moves the cursor past the site.
    *
    * The contract that bounds the loop, in place of a step cap: a
    * lowering replaces its site with text that holds no site it would
    * lower again except copies of sites nested strictly inside the one
    * it lowered (an operand, an argument, a subquery). Each splice thus
    * trades one site for shallower ones, and between splices the cursor
    * only moves forward, so the loop ends when every site is lowered or
    * skipped, or when a lowering ends the pass on purpose
    * (`Skip(stmt.length)`) — never at a step count. Macro expansion
    * breaks the contract (a macro may call itself) and keeps a loud
    * budget of its own. Returns the statement and its mask. */
  private[component] def splice(stmt0: String, masked0: String, site: Regex)(
      lower: Lowering): (String, String) = {
    var stmt = stmt0
    var masked = masked0
    var m = site.pattern.matcher(masked)
    var cursor = 0
    while (cursor <= masked.length && m.find(cursor)) {
      lower(stmt, masked, m) match {
        case Splice(from, to, text) =>
          stmt = stmt.substring(0, from) + text + stmt.substring(to)
          masked = maskQuoted(stmt)
          m = site.pattern.matcher(masked)
          cursor = from
        case Skip(at) => cursor = at
      }
    }
    (stmt, masked)
  }

  /** Extents of the binary operator at `m`: the left operand at `level`,
    * the right operand one primary ([[operandEnd]]). None = unparsable. */
  private def operands(stmt: String, masked: String,
      m: MatchResult, level: Int): Option[(Int, Int)] =
    for {
      ls <- operandStart(stmt, masked, m.start, level)
      re <- operandEnd(stmt, masked, m.end)
    } yield (ls, re)

  /** The splice `fn(left, right)` over the operands `[ls, op)` and
    * `[op end, re)`. */
  private def call(stmt: String, m: MatchResult, ls: Int,
      re: Int, fn: String): Splice =
    Splice(ls, re, s"$fn(${stmt.substring(ls, m.start).trim}, " +
      s"${stmt.substring(m.end, re).trim})")

  /** DuckDB's `//` operator → the registry's `divide()` (integer division
    * on two integral operands, plain division otherwise — probed: 7//2=3,
    * 7.5//2=3.75). Spark's parser has no `//` spelling, and `DIV` would
    * change both the non-integral semantics and the result type, so the
    * lowering is a function call over scanned operand extents:
    * the LEFT extent greedily consumes a same-precedence multiplicative
    * chain (`a * b // c` is `(a*b)//c` — left-associative), the RIGHT
    * extent exactly one primary (`a // b * c` is `(a//b)*c`). An extent
    * the scanner cannot parse skips that operator and leaves its text
    * for Spark's parser to reject loudly (never a silent mis-grouping).
    * Runs after Brackets/DotCall/JsonArrows so subscripts and arrows are
    * already plain calls. */
  private val intDiv = Sites("//".r, { (stmt, masked, m) =>
    operands(stmt, masked, m, Mul).map { case (ls, re) => call(stmt, m, ls, re, "divide") }
      .getOrElse(Skip(m.end))
  })

  /** DuckDB types ALL `/` division DOUBLE (probed v1.0:
    * `typeof(dec(10,2)/dec(10,2))` = DOUBLE; FLOAT/FLOAT stays FLOAT)
    * and yields NULL on x/0 where Spark keeps DECIMAL for decimal
    * operands and raises DIVIDE_BY_ZERO under ANSI — both silent/loud
    * divergences on any migrating script doing `price/qty` over
    * DECIMAL columns. Every single `/` in statement text routes to the
    * registry's `duck_div` ([[graft.functions.DuckDiv]], which
    * dispatches on resolved operand types); operand extents are the
    * same scans as [[intDiv]] (left: a multiplicative chain;
    * right: one primary). An unparsable extent skips THAT operator and
    * scans on (Spark's own `/` keeps its semantics there — recorded
    * residual, never a mis-grouping). Runs after `//`, so
    * every surviving `/` is single; comments and quoted regions are
    * masked. Statement-text-only by design: internal Column-API
    * division keeps Spark semantics (the duck_icast scope rule). */
  private val div = Sites("(?<!/)/(?!/)".r, { (stmt, masked, m) =>
    operands(stmt, masked, m, Mul).map { case (ls, re) =>
      call(stmt, m, extendIntervalLiteral(stmt, masked, ls), re, "duck_div")
    }.getOrElse(Skip(m.end))
  })

  private[component] def rewriteDiv(stmt: String): String = run(stmt, div)

  /** The operand scanners see one PRIMARY, but `INTERVAL 2 DAY / 2`'s
    * left operand is the three-token interval literal — extend a left
    * extent backwards over `INTERVAL [<digits>]` so the literal travels
    * whole (`INTERVAL '2 days'` leaves a quoted-span extent, `INTERVAL
    * 2 DAY` a unit-identifier extent; both extend). A multi-unit
    * `INTERVAL 2 DAY TO HOUR / 2` stays unextended and fails loudly as
    * an unresolved identifier — never a silent mis-grouping. */
  private def extendIntervalLiteral(stmt: String, masked: String, ls: Int): Int = {
    var j = ls - 1
    while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
    // optional bare count: INTERVAL 2 DAY (the extent was the unit)
    var numStart = -1
    if (j >= 0 && stmt.charAt(j).isDigit && masked.charAt(j) == stmt.charAt(j)) {
      val e = j
      while (j >= 0 && stmt.charAt(j).isDigit) j -= 1
      numStart = j + 1
      if (e >= numStart) while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
    }
    if (j >= 7) {
      val e = j
      while (j >= 0 && (stmt.charAt(j).isLetter || stmt.charAt(j) == '_')) j -= 1
      if (e > j && stmt.substring(j + 1, e + 1).equalsIgnoreCase("interval") &&
          masked.charAt(j + 1) == stmt.charAt(j + 1))
        return j + 1
    }
    ls // no INTERVAL keyword: keep the plain extent
  }

  /** DuckDB yields NULL on `x % 0` where Spark's ANSI mode raises
    * DIVIDE_BY_ZERO (probed v1.0) — `%` in statement text routes to the
    * registry's `duck_mod` ([[graft.functions.DuckMod]]: Spark-identical
    * operand typing plus the zero → NULL divisor guard). Two `%`
    * spellings are NOT modulo and must survive untouched: the trailing
    * percent-LIMIT (`LIMIT 10%`, executed by [[parseLimitPercent]] at
    * body time) and the sample percentage (`USING SAMPLE 10%`,
    * `TABLESAMPLE ...%`) — both are a bare NUMERIC LITERAL directly
    * preceded by the LIMIT/SAMPLE keyword, which is exactly the guard
    * (a `%` whose right extent is unparsable — end of statement,
    * OFFSET, a sample-method paren — is also left alone). */
  private val mod = Sites("%".r, { (stmt, masked, m) =>
    def isPercentShorthand(ls: Int): Boolean =
      stmt.substring(ls, m.start).trim.matches("[0-9]+(\\.[0-9]+)?") && {
        var j = ls - 1
        while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
        val e = j
        while (j >= 0 && (stmt.charAt(j).isLetter || stmt.charAt(j) == '_')) j -= 1
        val w = if (e > j) stmt.substring(j + 1, e + 1).toLowerCase else ""
        w == "limit" || w == "sample" || w == "tablesample"
      }
    operands(stmt, masked, m, Mul).filterNot { case (ls, _) => isPercentShorthand(ls) }
      .map { case (ls, re) =>
        call(stmt, m, extendIntervalLiteral(stmt, masked, ls), re, "duck_mod")
      }.getOrElse(Skip(m.end))
  })

  private[component] def rewriteMod(stmt: String): String = run(stmt, mod)

  /** DuckDB's POWER operators `^` and `**` → `power()` calls. This one
    * cannot ride the leave-alone contract: Spark parses `^` as bitwise
    * XOR, so an untouched `2^3` would return 1 instead of 8 — a SILENT
    * wrong answer for a migrating script (DuckDB spells xor as the
    * xor() function, so every `^` in DuckDB SQL means power). Probed
    * v1.0 semantics: tighter than `*` (2*3^2=18), LEFT-associative
    * (2^3^2=64), unary minus binds tighter still (-2^2=4 — the sign
    * joins the left operand, unlike Postgres), result is always DOUBLE
    * (Spark's power matches). Operand extents are one signed primary
    * (+casts) per side; a `^`/`**` whose extents cannot be parsed is
    * replaced by an unresolvable identifier so analysis fails LOUDLY —
    * never left for Spark's XOR. `2^-3` is permissive here (v1.0's
    * parser fuses `^-` into an unknown operator and errors; `2**-3`
    * works there — one rule serves both spellings). `^@` is DuckDB's
    * starts-with operator, left for [[matchOps]]. Runs BEFORE `//`
    * so `2^3//2` folds as (2^3)//2, the probed grouping. */
  private val pow = Sites("\\*\\*|\\^(?!@)".r, { (stmt, masked, m) =>
    operands(stmt, masked, m, Primary)
      .map { case (ls, re) => call(stmt, m, ls, re, "power") }
      .getOrElse(Splice(m.start, m.end, " __graft_power_unparsable "))
  })

  private[component] def rewritePow(stmt: String): String = run(stmt, pow)

  /** Regex / glob MATCH operators with no Spark spelling — `~` / `!~`
    * (regexp FULL match, probed: 'abc' ~ 'b' is false), `~~~` / `!~~~`
    * and the `GLOB` keyword (glob match), `[NOT] SIMILAR TO` (DuckDB
    * maps SIMILAR TO to regexp full match — probed: no %/_ wildcard
    * semantics, 'axxc' SIMILAR TO 'a%c' is false) — lowered to the
    * registry's `regexp_full_match` / `duck_glob` over scanned operand
    * extents at the COMPARISON level (left extent crosses `+ - * / %
    * ||` chains; right extent likewise). The `~~`-family LIKE spellings
    * are NOT touched here (quote-aware keyword swaps in the rewrite's
    * final pass own them); the op regex refuses `~` adjacent to `~`,
    * `!` or `*`. Unparsable extents leave the text for Spark's parser
    * to reject loudly. */
  private val matchOpRe =
    ("(?i)~~~|!~(?!~)|(?<![~!])~(?![~*])|\\^@|" +
      "\\bNOT\\s+SIMILAR\\s+TO\\b|\\bSIMILAR\\s+TO\\b|\\bGLOB\\b").r

  private val matchOps = Sites(matchOpRe, { (stmt, masked, m) =>
    val (fn, negate) = m.group.toUpperCase.replaceAll("\\s+", " ") match {
      case "~" | "SIMILAR TO" => ("regexp_full_match", false)
      case "!~" | "NOT SIMILAR TO" => ("regexp_full_match", true)
      // DuckDB's starts-with operator (probed v1.0: 'abc' ^@ 'ab')
      case "^@" => ("startswith", false)
      // no negated glob spelling: DuckDB v1.0 has neither !~~~
      // nor NOT GLOB (probed parse errors)
      case _ => ("duck_glob", false) // ~~~ | GLOB
    }
    // probed associativity: these operators sit at the arithmetic
    // level, LEFT-associative — `'a' || 'bc' ~ 'abc'` matches the
    // concat, but `'abc' ~ 'a' || 'bc'` is ('abc' ~ 'a') || 'bc'
    // and `5 ~ 2 + 3` is (5 ~ 2) + 3. So the left extent crosses
    // the chain, the right extent is ONE primary.
    operands(stmt, masked, m, Add).map { case (ls, re) =>
      val c = call(stmt, m, ls, re, fn)
      if (negate) c.copy(text = s"(NOT ${c.text})") else c
    }.getOrElse(Skip(m.end))
  })

  /** Multi-argument `GROUPING(a, b, ...)` (r18 clause sweep): DuckDB's
    * GROUPING takes any number of grouped columns and returns the
    * bitmask (leftmost = highest bit, probed v1.0); Spark spells that
    * `grouping_id(a, b, ...)` and its `grouping()` is strictly unary —
    * same convention, different name. Multi-arg calls route to
    * grouping_id; unary stays native. `GROUPING SETS (...)` never
    * matches (the regex requires `(` directly after the name). */
  private val groupingId = Sites("(?i)\\bGROUPING\\s*\\(".r, { (stmt, masked, m) =>
    val open = m.end - 1
    val close = matchingParen(masked, open)
    if (close < 0) Skip(stmt.length)
    else {
      val dep = depths(masked) // a depth-0 comma inside the parens
      if ((open + 1 until close).exists(j =>
          masked.charAt(j) == ',' && dep(j) == dep(open) + 1))
        Splice(m.start, m.start + "grouping".length, "grouping_id")
      else Skip(close + 1)
    }
  })

  /** Quantified comparisons over subqueries — `x op ANY|SOME|ALL
    * (SELECT ...)` — which Spark's grammar lacks entirely (parse error)
    * while DuckDB runs the full standard three-valued semantics (all
    * probed v1.0: `3 = ANY` over a NULL-carrying set is NULL, `5 > ALL`
    * likewise, `1 > ALL (empty)` is TRUE vacuously, `1 > ANY (empty)`
    * FALSE). `= ANY/SOME` is exactly `IN` and `<> ALL` exactly `NOT IN`
    * (identical three-valued truth tables — and the projection-context
    * nullability of those is owned by NullFaithfulInRule); every other
    * operator lowers to the standard CASE over two EXISTS probes:
    * definite witness → true/false, else any UNKNOWN comparison → NULL,
    * else the vacuous value. The subquery must start with
    * SELECT/WITH/VALUES — DuckDB's array form `= ANY(array_col)` has no
    * subquery and stays untouched (loud). Operand extent is the
    * comparison-level left chain (the match-ops scanner). */
  private val quantified = Sites("(?i)\\b(ANY|SOME|ALL)\\s*\\(".r, lowerQuantified)

  private def lowerQuantified(stmt: String, masked: String, m: MatchResult): Step = {
    val quant = m.group(1).toLowerCase
    val open = m.end - 1
    val close = matchingParen(masked, open)
    if (close < 0) return Skip(stmt.length)
    // the comparison operator directly before the quantifier
    var j = m.start - 1
    while (j >= 0 && stmt.charAt(j).isWhitespace) j -= 1
    val opEnd = j + 1
    while (j >= 0 && "=!<>".indexOf(stmt.charAt(j)) >= 0) j -= 1
    val op = stmt.substring(j + 1, opEnd)
    // `UNION ALL (SELECT ...)` opens a set-operation leg, whose own
    // comparisons still lower
    if (op.isEmpty && setOps.exists(w => opEnd >= w.length && setOpAt(masked, opEnd - w.length)))
      return Skip(open)
    val sub = stmt.substring(open + 1, close).trim
    val isQuery =
      "(?is)^\\s*(SELECT|WITH|VALUES)\\b".r.findFirstIn(sub).isDefined
    // an unparsable left extent is left loudly for Spark, and so is the
    // whole group: a quantifier nested in it is no comparison's operand
    if (!Set("=", "!=", "<>", "<", "<=", ">", ">=").contains(op) || !isQuery)
      return Skip(close + 1)
    operandStart(stmt, masked, j + 1, Add).map { ls =>
      val left = stmt.substring(ls, j + 1).trim
      val cmp = s"(($left) $op __qv)"
      val src = s"(SELECT 1 FROM ($sub) __qa(__qv) WHERE"
      Splice(ls, close + 1,
        if (op == "=" && quant != "all") s"$left IN ($sub)"
        else if ((op == "<>" || op == "!=") && quant == "all")
          s"$left NOT IN ($sub)"
        else if (quant == "all")
          s"CASE WHEN EXISTS $src NOT $cmp) THEN false " +
            s"WHEN EXISTS $src ($cmp) IS NULL) THEN NULL ELSE true END"
        else
          s"CASE WHEN EXISTS $src $cmp) THEN true " +
            s"WHEN EXISTS $src ($cmp) IS NULL) THEN NULL ELSE false END")
    }.getOrElse(Skip(close + 1))
  }

  /** WINDOWED aggregate FILTER (r18 window sweep): DuckDB runs
    * `sum(x) FILTER (WHERE c) OVER (spec)` but Spark's planner rejects
    * a window aggregate with a filter predicate outright ("not
    * supported yet"). For NULL-IGNORING aggregates the filter is
    * exactly argument nulling — `sum(CASE WHEN c THEN x END) OVER
    * (spec)` — so those rewrite to the CASE form (count(*) counts a
    * CASE-guarded 1; string_agg guards its value argument and keeps
    * the separator). Both FILTER spellings are handled (standard
    * `WHERE c` and DuckDB's bare `c` shorthand — this pass runs before
    * flushPlain's shorthand regex). Aggregates outside the
    * null-ignoring list, DISTINCT arguments, and anything else
    * unparsable stay untouched and fail LOUDLY downstream on Spark's
    * own named error — never a silent reinterpretation. */
  private val filterableAggs = Set("sum", "avg", "min", "max", "count",
    "stddev", "stddev_pop", "stddev_samp", "var_pop", "var_samp",
    "variance", "median", "bool_and", "bool_or", "product",
    "first", "last", "first_value", "last_value", "string_agg")

  private val windowFilter = Sites("(?i)\\bFILTER\\s*\\(".r, lowerWindowFilter)

  private def lowerWindowFilter(stmt: String, masked: String, m: MatchResult): Step = {
    val fi = m.start
    val fOpen = m.end - 1
    val fClose = matchingParen(masked, fOpen)
    if (fClose < 0) return Skip(stmt.length)
    // must be followed by OVER (a bare aggregate FILTER is native)
    var j = fClose + 1
    while (j < stmt.length && stmt.charAt(j).isWhitespace) j += 1
    val e2 = j
    while (j < stmt.length && stmt.charAt(j).isLetter) j += 1
    val isWindow = j > e2 && stmt.substring(e2, j).equalsIgnoreCase("over")
    // the call directly before FILTER
    var k = fi - 1
    while (k >= 0 && stmt.charAt(k).isWhitespace) k -= 1
    if (!isWindow || k < 0 || masked.charAt(k) != ')') return Skip(m.end)
    val cOpen = openingParen(masked, k)
    if (cOpen < 0) return Skip(m.end)
    var q = cOpen - 1
    val e = q
    while (q >= 0 && (stmt.charAt(q).isLetterOrDigit || stmt.charAt(q) == '_')) q -= 1
    val nStart = q + 1
    // not a null-ignoring aggregate: left for Spark's loud reject
    if (e < nStart || !filterableAggs(stmt.substring(nStart, e + 1).toLowerCase))
      return Skip(m.end)
    val name = stmt.substring(nStart, cOpen).trim
    val args = stmt.substring(cOpen + 1, k).trim
    val cond = stmt.substring(fOpen + 1, fClose).trim
      .replaceFirst("(?is)^WHERE\\b\\s*", "")
    if (args.toLowerCase.startsWith("distinct")) return Skip(m.end)
    // top-level comma split: only string_agg keeps a tail (its
    // separator); other multi-arg shapes stay loud
    val depth0Comma = {
      var d = 0; var idx = -1; var q2 = 0
      while (q2 < args.length && idx < 0) {
        val c = masked.charAt(cOpen + 1 + q2)
        if (c == '(') d += 1 else if (c == ')') d -= 1
        else if (c == ',' && d == 0) idx = q2
        q2 += 1
      }
      idx
    }
    if (args == "*") // count(*): count a guarded constant
      Splice(nStart, fClose + 1, s"$name(CASE WHEN ($cond) THEN 1 END)")
    else if (depth0Comma < 0)
      Splice(nStart, fClose + 1, s"$name(CASE WHEN ($cond) THEN $args END)")
    else if (name.equalsIgnoreCase("string_agg"))
      Splice(nStart, fClose + 1, s"$name(CASE WHEN ($cond) THEN " +
        s"${args.substring(0, depth0Comma).trim} END,${args.substring(depth0Comma + 1)})")
    else Skip(m.end) // residual FILTER+OVER shapes fail loudly downstream
  }

  /** DuckDB ≥1.4's `fill(expr) OVER ([PARTITION BY p] ORDER BY k)` —
    * linear interpolation of NULL values along the ORDER BY axis, the
    * time-series repair idiom (the reference pins 1.4.4/1.5.2; local
    * v1.0 probes the name MISSING, so semantics follow the public 1.4
    * docs, spec-pinned: interior NULLs interpolate between the previous
    * and next non-NULL value weighted by the key distance; edge NULLs
    * take the NEAREST non-NULL value; integer columns promote to DOUBLE
    * through the fraction arithmetic — documented, not probed).
    *
    * Lowered textually onto four shared-window Spark primitives
    * (last_value/first_value IGNORE NULLS over the preceding/following
    * frames, positions via duck_fill_pos which maps numeric/DATE/
    * TIMESTAMP keys onto one DOUBLE axis). Unsupported shapes — named
    * windows, multi-key ORDER BY, explicit frames, missing OVER — end
    * the pass, leaving the text whole for Spark's loud
    * unresolved-function error. */
  private val fill = Sites("(?i)\\bfill\\s*\\(".r, lowerFill)

  private def lowerFill(stmt: String, masked: String, m: MatchResult): Step = {
    val stop = Skip(stmt.length)
    val argOpen = m.end - 1
    val argClose = matchingParen(masked, argOpen)
    if (argClose < 0) return stop
    val v = stmt.substring(argOpen + 1, argClose).trim
    val overM = "(?is)^\\s*OVER\\s*\\(".r
      .findFirstMatchIn(masked.substring(argClose + 1)).getOrElse(return stop)
    val overOpen = argClose + 1 + overM.end - 1
    val overClose = matchingParen(masked, overOpen)
    if (overClose < 0) return stop
    val spec = stmt.substring(overOpen + 1, overClose)
    val specMasked = masked.substring(overOpen + 1, overClose)
    val obM = "(?is)\\bORDER\\s+BY\\b".r.findFirstMatchIn(specMasked)
      .getOrElse(return stop)
    val partClause = {
      val head = spec.substring(0, obM.start).trim
      if (head.isEmpty) ""
      else if ("(?is)^PARTITION\\s+BY\\b".r.findFirstIn(head).isDefined)
        head + " "
      else return stop // named window / stray text: leave for the parser
    }
    val orderFull = spec.substring(obM.end).trim
    val orderMasked = specMasked.substring(obM.end)
    // single key, no explicit frame (DuckDB's fill has the same rules)
    if (depths(orderMasked).zip(orderMasked).exists {
          case (0, ',') => true
          case _ => false
        }) return stop
    if ("(?is)\\b(ROWS|RANGE|GROUPS)\\b".r.findFirstIn(orderMasked).isDefined)
      return stop
    if (orderFull.isEmpty) return stop
    val orderKey = "(?is)\\s+(ASC|DESC)(\\s+NULLS\\s+(FIRST|LAST))?\\s*$".r
      .replaceAllIn(orderFull, "").trim
    val pos = s"duck_fill_pos($orderKey)"
    val winPrev = s"OVER (${partClause}ORDER BY $orderFull " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    val winNext = s"OVER (${partClause}ORDER BY $orderFull " +
      "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
    val pv = s"last_value(($v), true) $winPrev"
    val po = s"last_value(CASE WHEN ($v) IS NOT NULL THEN $pos END, true) $winPrev"
    val nv = s"first_value(($v), true) $winNext"
    val no = s"first_value(CASE WHEN ($v) IS NOT NULL THEN $pos END, true) $winNext"
    // the $no = $po guard: duplicate ORDER BY keys would divide by
    // zero (an ANSI-mode runtime error, NULL otherwise) — the
    // bracketing values sit at one position, take the preceding one
    Splice(m.start, overClose + 1, s"(CASE WHEN ($v) IS NOT NULL THEN ($v) " +
      s"WHEN $pv IS NULL THEN $nv " +
      s"WHEN $nv IS NULL THEN $pv " +
      s"WHEN $no = $po THEN $pv " +
      s"ELSE $pv + ($nv - $pv) * (($pos - $po) / ($no - $po)) END)")
  }

  // ── The operand scanner ────────────────────────────────────────────
  // Every operator lowering reads its operands through [[operandStart]]
  // (back-scan, one binding level per operator family) and
  // [[operandEnd]] (forward scan, one primary). `signKeyword` and
  // `nonOperandParen` are the one "not an operand" word rule.

  /** Binding levels of [[operandStart]], tightest first. */
  private[component] final val Postfix = 0 // `.f()` receiver, `->` receiver, `[…]` base
  private[component] final val Primary = 1 // `^`, `::`: a signed postfix chain with casts
  private[component] final val Mul = 2 // `//`, `/`, `%`: a multiplicative chain
  private[component] final val Add = 3 // match operators, quantified comparisons

  /** Words that make a preceding `-`/`+` UNARY (sign of the operand)
    * rather than a binary operator whose right side the extent must not
    * cross — and, symmetrically, words an operand back-scan must NOT
    * consume as an identifier: `FROM glob('*.csv')` is a table function,
    * not a GLOB match with left operand `FROM`; `CASE ... END // 2` has
    * no parseable left extent. A bailed scan leaves the statement text
    * untouched for Spark's parser to reject loudly (the documented
    * leave-alone contract) instead of emitting a mangled call. Function-
    * shaped names (filter, left, right, first, last) stay OUT of the set:
    * they are legitimate call heads whose paren group must fold into the
    * primary. */
  private val signKeyword = Set(
    "select", "where", "when", "then", "else", "and", "or", "not", "in",
    "on", "by", "having", "return", "returning", "case", "between",
    "like", "ilike", "is", "all", "any", "some", "distinct", "as",
    "limit", "offset", "set", "values",
    "from", "end", "join", "using", "into", "group", "order", "union",
    "intersect", "except", "cross", "natural", "lateral", "exists",
    "escape", "qualify", "window", "over", "partition",
    "glob", "similar", "to").contains _

  /** Keyword-paren forms where the paren group is NOT an operand
    * (ADVICE r17: `y IN (1,2) / 2` mangled into `IN duck_div(...)`). */
  private val nonOperandParen = Set("in", "all", "any", "some", "exists",
    "using", "values", "window", "partition")

  /** Back-scan: start of the operand ending just before the operator at
    * `op`, at one binding level:
    *  - [[Postfix]]: a chain of elements joined by `.` — identifiers,
    *    quoted names and literals, call/paren/subscript results and
    *    window or FILTER expressions (`f(x) OVER (...)`). No sign, no
    *    cast, no numeric literal (`12.f()` lexes as the number `12.`);
    *  - [[Primary]]: a postfix chain with its `::type` casts and unary
    *    sign (numbers included);
    *  - [[Mul]]: a `*`/`/`/`%` chain of primaries (`a * b // c`);
    *  - [[Add]]: also crosses binary `+`/`-` and `||` (the comparison
    *    level — `a || b ~ p` matches the concatenation).
    * None = unparsable (the operator is left alone). */
  private[component] def operandStart(stmt: String, masked: String,
                                      op: Int, level: Int): Option[Int] = {
    var i = op - 1
    var start = -1
    def word(j: Int): Boolean = { val c = masked.charAt(j); c.isLetterOrDigit || c == '_' }
    def skipWs(): Unit = { while (i >= 0 && masked.charAt(i) == ' ' &&
      stmt.charAt(i).isWhitespace) i -= 1 }
    // `name ( ... )` call ending at the current position — the window
    // function (or FILTER-wrapped aggregate) a consumed OVER clause
    // belongs to. An aggregate-FILTER paren group chains back to its
    // call; failure means the operand is unparsable at this level
    // (None → the operator is skipped, Spark's native semantics — the
    // documented safe residual) — never a mis-grouping.
    def consumeCallBack(): Boolean = {
      skipWs()
      if (i < 0 || masked.charAt(i) != ')') return false
      val open = openingParen(masked, i)
      if (open < 0) return false
      i = open - 1
      skipWs() // the spaced spelling: `FILTER (WHERE ...)`, `count (*)`
      if (i < 0 || !word(i)) return false
      val e = i
      while (i >= 0 && word(i)) i -= 1
      val nm = stmt.substring(i + 1, e + 1).toLowerCase
      if (nm == "filter") return consumeCallBack() // FILTER (WHERE ...) clause
      if (signKeyword(nm)) return false
      start = i + 1
      true
    }
    // word (letters/underscore) ending at the current position, without
    // moving i — "" if none
    def peekWordBack(): String = {
      var j = i
      while (j >= 0 && masked.charAt(j) == ' ' && stmt.charAt(j).isWhitespace) j -= 1
      val e = j
      while (j >= 0 && (masked.charAt(j).isLetter || masked.charAt(j) == '_')) j -= 1
      if (e > j) stmt.substring(j + 1, e + 1).toLowerCase else ""
    }
    // optional `IGNORE|RESPECT NULLS` tokens directly before an OVER
    // keyword (Spark's spelling; DuckDB's in-paren spelling is moved out
    // later by flushPlain, so both shapes can reach this scanner)
    def consumeNullsModifier(): Unit = {
      if (peekWordBack() == "nulls") {
        skipWs()
        val save = i
        while (i >= 0 && word(i)) i -= 1
        val w = peekWordBack()
        if (w == "ignore" || w == "respect") {
          skipWs()
          while (i >= 0 && word(i)) i -= 1
        } else i = save
      }
    }
    // a name run (identifier chain or number: dots and exponents
    // included — 1.5e3; validated loosely, Spark re-parses)
    def consumeRun(): Unit =
      while (i >= 0 && (word(i) || masked.charAt(i) == '.')) i -= 1
    // one element of a postfix chain
    def consumeElement(): Boolean = {
      skipWs()
      if (i < 0) return false
      val c = stmt.charAt(i)
      if (masked.charAt(i) != c) {
        // a quoted span is one element (string literal / quoted ident);
        // a comment is not an operand
        val span = if ("'\"`".indexOf(c) >= 0) spanAt(stmt, i) else -1
        if (span >= 0 && span < i && stmt.charAt(span) == c) {
          start = span
          i = start - 1
          true
        } else false
      } else if (c == ')' || c == ']') {
        val open = openingParen(masked, i, if (c == ')') '(' else '[', c)
        if (open < 0) return false
        start = open; i = open - 1
        // a function name before the paren belongs to the element (the
        // space-separated call spelling too — `count (*)`, `OVER (spec)`:
        // without the ws skip a spaced OVER read as a bare paren primary,
        // the ADVICE r17 window mangling)
        skipWs()
        if (c == ']' && i >= 0 && !word(i) && (masked.charAt(i) == ')' ||
            masked.charAt(i) == ']' || "'\"`".indexOf(stmt.charAt(i)) >= 0)) {
          // a subscript of a call, paren, subscript or quoted result
          if (!consumeElement()) return false
        } else if (i < 0 || !word(i)) i = open - 1 // a bare paren: no name
        else {
          val e = i
          consumeRun()
          val w = stmt.substring(i + 1, e + 1).toLowerCase
          if (w == "over") {
            // window expression (ADVICE r17: treating the OVER spec as
            // a paren primary mangled `sum(x) OVER (...) / 2`): the
            // operand is the whole `call [FILTER (...)] [IGNORE NULLS]
            // OVER (spec)` — consume back to the call or fail
            consumeNullsModifier()
            if (!consumeCallBack()) return false
          } else if (w == "filter") {
            // aggregate FILTER clause when a call precedes; otherwise the
            // filter() HOF — a receiver or subscript base, never a
            // numeric operand (failing just skips the operator)
            val name = i
            if (!consumeCallBack()) {
              if (level != Postfix) return false
              i = name; start = name + 1
            }
          } else if (nonOperandParen(w)) return false
          else if (signKeyword(w)) i = e
          // a number is no call name (`2 (x)`), though it is a base (`2[1]`)
          else if (c == ')' && !w.exists(_.isLetter)) i = open - 1
          else start = i + 1
        }
        true
      } else if (word(i) || c == '.') {
        val e = i
        consumeRun()
        start = i + 1
        // a keyword is no operand; a bare name directly after OVER is a
        // NAMED-WINDOW reference (`rank() OVER w / 2` pre-inline)
        !signKeyword(stmt.substring(start, e + 1).toLowerCase) && peekWordBack() != "over"
      } else false
    }
    // elements joined by `.`: a name run carries its own dots, so a link
    // is a dot right before a quoted/paren element (`"t"."c"`) or a run
    // that starts with one after a paren or quote (`f(x).y`)
    def consumePostfix(): Boolean = {
      if (!consumeElement()) return false
      while (i >= 0 && (masked.charAt(i) == '.' || stmt.charAt(start) == '.' &&
          (masked.charAt(i) == ')' || masked.charAt(i) == ']' ||
            "'\"`".indexOf(stmt.charAt(i)) >= 0))) {
        if (masked.charAt(i) == '.') i -= 1
        if (!consumeElement()) return false
      }
      true
    }
    def consumeSignIfUnary(): Unit = {
      skipWs()
      if (i >= 0 && (masked.charAt(i) == '-' || masked.charAt(i) == '+')) {
        val signAt = i
        i -= 1; skipWs()
        val unary =
          if (i < 0) true
          else {
            val p = stmt.charAt(i)
            if ("(,=<>+-*/%|".indexOf(p) >= 0) true
            else if (word(i)) {
              val e = i; var j = i
              while (j >= 0 && word(j)) j -= 1
              signKeyword(stmt.substring(j + 1, e + 1).toLowerCase)
            } else false
          }
        if (unary) start = signAt
        else i = signAt // binary: restore, the chain stops here
      }
    }
    // `x::TYPE` binds tighter than `//`: a consumed primary preceded by
    // `::` is a cast's type — keep consuming down to the cast's base
    def consumePrimary(): Boolean = {
      if (!consumePostfix()) return false
      skipWs()
      while (i >= 1 && masked.charAt(i) == ':' && masked.charAt(i - 1) == ':') {
        i -= 2
        if (!consumePostfix()) return false
        skipWs()
      }
      consumeSignIfUnary()
      true
    }
    // a binary +/- has an operand before it; a unary sign has an
    // operator/keyword/open-paren (the inverse of consumeSignIfUnary)
    def signIsBinary(at: Int): Boolean = {
      var j = at - 1
      while (j >= 0 && masked.charAt(j) == ' ' && stmt.charAt(j).isWhitespace) j -= 1
      if (j < 0) return false
      val p = stmt.charAt(j)
      if (masked.charAt(j) != p) return p == '\'' || p == '"' || p == '`'
      if (word(j)) {
        val e = j
        while (j >= 0 && word(j)) j -= 1
        !signKeyword(stmt.substring(j + 1, e + 1).toLowerCase)
      } else p == ')' || p == ']'
    }
    if (level == Postfix)
      return if (consumePostfix() && !stmt.charAt(start).isDigit &&
        stmt.charAt(start) != '.') Some(start) else None
    if (!consumePrimary()) return None
    if (level == Primary) return Some(start)
    var more = true
    while (more) {
      more = false
      skipWs()
      if (i >= 0) {
        val c = masked.charAt(i)
        val isDiv = c == '/' && (i == 0 || stmt.charAt(i - 1) != '/')
        val isConcat = level == Add && c == '|' && i > 0 && masked.charAt(i - 1) == '|'
        val isAddSub = level == Add && (c == '+' || c == '-') && signIsBinary(i)
        if (c == '*' || c == '%' || isDiv || isConcat || isAddSub) {
          i -= (if (isConcat) 2 else 1)
          // an operator whose left side is no operand (`CASE … END * 3`)
          // leaves the whole chain unparsable
          if (!consumePrimary()) return None
          more = true
        }
      }
    }
    Some(start)
  }

  /** Forward-scan: end (exclusive) of the ONE primary starting after the
    * operator — the right side of a left-associative operator at the
    * arithmetic level (`a // b * c` is `(a//b)*c`; probed for the match
    * ops too: `5 ~ 2 + 3` is `(5 ~ 2) + 3`). None = unparsable. */
  private def operandEnd(stmt: String, masked: String,
                         from: Int): Option[Int] = {
    var i = from
    def skipWs(): Unit = { while (i < stmt.length && masked.charAt(i) == ' ' &&
      stmt.charAt(i).isWhitespace) i += 1 }
    skipWs()
    while (i < stmt.length && (masked.charAt(i) == '-' || masked.charAt(i) == '+')) {
      i += 1; skipWs()
    }
    if (i >= stmt.length) return None
    val c = stmt.charAt(i)
    if (masked.charAt(i) != c) {
      // quoted span = one primary (string literal / quoted identifier —
      // the usual shape of a regex/glob pattern operand)
      return if ("'\"`".indexOf(c) >= 0) Some(postfix(stmt, masked, spanEnd(stmt, i)))
      else None
    }
    if (c == '(') {
      val close = matchingParen(masked, i)
      if (close < 0) None else Some(postfix(stmt, masked, close + 1))
    } else if (c.isLetterOrDigit || c == '_' || c == '.') {
      val tokenStart = i
      while (i < stmt.length && (masked.charAt(i).isLetterOrDigit ||
          masked.charAt(i) == '_' || masked.charAt(i) == '.')) i += 1
      // exponent sign: 1e+3 — the +/- right after a trailing e of a number
      if (i < stmt.length && (stmt.charAt(i) == '+' || stmt.charAt(i) == '-') &&
        i > tokenStart && (stmt.charAt(i - 1) == 'e' || stmt.charAt(i - 1) == 'E') &&
        stmt.charAt(tokenStart).isDigit) {
        i += 1
        while (i < stmt.length && stmt.charAt(i).isDigit) i += 1
      }
      // a call: name directly (or via space) followed by (
      val save = i
      skipWs()
      if (i < stmt.length && stmt.charAt(i) == '(') {
        val close = matchingParen(masked, i)
        if (close < 0) None
        else windowSuffix(stmt, masked, postfix(stmt, masked, close + 1))
      } else { i = save; Some(postfix(stmt, masked, i)) }
    } else None
  }

  /** Extend a call primary's end over an attached window clause —
    * `[FILTER (...)] [IGNORE|RESPECT NULLS] OVER (spec)` — so
    * `n / count(*) OVER ()` keeps the whole window expression as the
    * right operand (ADVICE r17: stopping before OVER split the window
    * from its function, `duck_div(n, count(*)) OVER ()`). A FILTER
    * clause with no OVER is an aggregate filter and extends the primary
    * too. `OVER name` (a named window not yet inlined — WindowClauseSql
    * inlines every valid one before these scanners run) is unparsable
    * here → None, the operator is skipped (native Spark semantics, the
    * documented safe residual). */
  private def windowSuffix(stmt: String, masked: String,
      end0: Int): Option[Int] = {
    // (lower word, end-exclusive) after whitespace, outside quotes
    def word(from: Int): (String, Int) = {
      var j = from
      while (j < stmt.length && masked.charAt(j) == ' ' &&
        stmt.charAt(j).isWhitespace) j += 1
      val s = j
      while (j < stmt.length && masked.charAt(j) == stmt.charAt(j) &&
        (stmt.charAt(j).isLetter || stmt.charAt(j) == '_')) j += 1
      (stmt.substring(s, j).toLowerCase, j)
    }
    var cur = end0
    var (w, after) = word(cur)
    if (w == "filter") {
      var j = after
      while (j < stmt.length && stmt.charAt(j).isWhitespace) j += 1
      if (j < stmt.length && stmt.charAt(j) == '(' && masked.charAt(j) == '(') {
        val close = matchingParen(masked, j)
        if (close < 0) return None
        cur = close + 1
        val n = word(cur); w = n._1; after = n._2
      } else return Some(end0) // not a FILTER clause shape: stop at the call
    }
    if (w == "ignore" || w == "respect") {
      val n = word(after)
      if (n._1 == "nulls") {
        cur = n._2
        val n2 = word(cur); w = n2._1; after = n2._2
      } else return Some(cur)
    }
    if (w == "over") {
      var j = after
      while (j < stmt.length && stmt.charAt(j).isWhitespace) j += 1
      if (j < stmt.length && stmt.charAt(j) == '(' && masked.charAt(j) == '(') {
        val close = matchingParen(masked, j)
        if (close < 0) None else Some(postfix(stmt, masked, close + 1))
      } else None // OVER name — named window, skip this operator
    } else Some(cur)
  }

  /** Consume `::type(args)` cast suffixes after a primary. */
  private def postfix(stmt: String, masked: String, from0: Int): Int = {
    var i = from0
    var more = true
    while (more) {
      more = false
      var j = i
      while (j < stmt.length && stmt.charAt(j).isWhitespace) j += 1
      if (j + 1 < stmt.length && stmt.charAt(j) == ':' && stmt.charAt(j + 1) == ':') {
        j += 2
        while (j < stmt.length && stmt.charAt(j).isWhitespace) j += 1
        val s = j
        while (j < stmt.length && (stmt.charAt(j).isLetterOrDigit || stmt.charAt(j) == '_')) j += 1
        if (j > s) {
          var k = j
          while (k < stmt.length && stmt.charAt(k).isWhitespace) k += 1
          if (k < stmt.length && stmt.charAt(k) == '(') {
            val close = matchingParen(masked, k)
            if (close >= 0) j = close + 1
          }
          i = j
          more = true
        }
      }
    }
    i
  }

  /** DuckDB series TABLE functions in FROM position:
    * `FROM generate_series(a, b[, s])` (inclusive, column
    * `generate_series`) and `FROM range(a[, b[, s]])` (end-exclusive,
    * column `range`). Spark's native `range()` has the same bounds
    * semantics but names the column `id`, and has no generate_series
    * spelling — both map to explode(sequence(...)) subqueries carrying
    * DuckDB's column names, so scripts that reference them migrate
    * unchanged. The SCALAR generate_series (list-returning, outside
    * FROM) binds separately in [[DuckFunctions]]. One forward scan that
    * resumes PAST each replacement: the replacement holds a
    * `FROM range(` site itself, so this pass cannot resume at the
    * splice start the way [[splice]] does. */
  private def rewriteSeriesTableFns(stmt: String, masked: String): String = {
    val re = "(?is)\\b(FROM|JOIN)\\s+(generate_series|range)\\s*\\(".r.pattern.matcher(masked)
    val out = new StringBuilder
    var last = 0
    while (re.find(last)) {
      val open = re.end - 1
      val close = matchingParen(masked, open)
      if (close < 0) return out.append(stmt.substring(last)).toString
      val fn = re.group(2).toLowerCase
      val args = stmt.substring(open + 1, close).trim
      // Spark's native range() is LAZY AND DISTRIBUTED (splits the
      // interval across tasks) — the right 100-TB mapping; an
      // explode(sequence(...)) would materialize the whole series
      // as one array in one task. Both bounds-adjustments stay in
      // SQL so non-literal args work.
      val parts = splitTop(args).filter(_.nonEmpty)
      val rangeArgs = fn match {
        case "generate_series" => // inclusive stop → exclusive
          parts.length match {
            case 1 => s"0, ($args) + 1"
            case 2 => s"${parts(0)}, (${parts(1)}) + 1"
            case _ =>
              s"${parts(0)}, (${parts(1)}) + (CASE WHEN (${parts(2)}) < 0 " +
                s"THEN -1 ELSE 1 END), ${parts(2)}"
          }
        case _ => args // DuckDB range() is end-exclusive, like Spark's
      }
      out.append(stmt.substring(last, re.start))
        .append(s"${re.group(1)} (SELECT id AS $fn FROM range($rangeArgs))")
      last = close + 1
    }
    out.append(stmt.substring(last)).toString
  }

  /** DuckDB `USING SAMPLE` — `FROM <rels> USING SAMPLE <spec>` samples
    * the FROM result BEFORE the WHERE (probed v1.0: a trailing sample
    * with a WHERE filters the sampled rows). Forms:
    * `n [ROWS]` (reservoir: exactly n random rows), `p% | p PERCENT`
    * (per-row keep probability), `method(size)` /
    * `size (method[, seed])` / trailing `REPEATABLE (seed)`.
    *
    * Spark mapping, pure SQL so every later pass sees ordinary text:
    *  - rows: `(SELECT * FROM <rels> ORDER BY rand(seed) LIMIT n)` —
    *    plans as TakeOrderedAndProject (map-side partial top-n on a
    *    random key: a distributed reservoir, no global sort);
    *  - percent: `(SELECT * FROM <rels> WHERE rand(seed) < p/100)` —
    *    Bernoulli row sampling inside the scan stage's codegen.
    * DuckDB's default `system` method (vector-granular) is approximated
    * by Bernoulli — both are "≈p% of rows, non-deterministic"; seeded
    * runs are deterministic per engine but differ BETWEEN engines
    * (sampling never oracle-matches; the spec pins counts/determinism).
    */
  private val usingSample = Sites("(?is)\\bUSING\\s+SAMPLE\\s+".r, lowerUsingSample)

  /** An unparsable spec or a missing FROM ends the pass. */
  private def lowerUsingSample(stmt: String, masked: String, m: MatchResult): Step = {
    val spec =
      ("(?is)^(?:(reservoir|bernoulli|system)\\s*\\(\\s*([0-9.]+)\\s*(ROWS|%|PERCENT)?\\s*\\)" +
        "|([0-9.]+)\\s*(%|PERCENT|ROWS)?\\s*(?:\\(\\s*(reservoir|bernoulli|system)\\s*(?:,\\s*([0-9]+))?\\s*\\))?)" +
        "(?:\\s*REPEATABLE\\s*\\(\\s*([0-9]+)\\s*\\))?").r
        .findFirstMatchIn(masked.substring(m.end)).getOrElse(return Skip(stmt.length))
    val size = Option(spec.group(2)).getOrElse(spec.group(4))
    val unit = Option(spec.group(3)).orElse(Option(spec.group(5)))
      .map(_.toUpperCase).getOrElse("ROWS") // bare number = rows (DuckDB)
    val seed = Option(spec.group(7)).orElse(Option(spec.group(8)))
    val specEnd = m.end + spec.end
    // the sampled relation: everything from the block's last FROM
    val dep = depths(masked)
    val bd = dep(m.start)
    val fromM = "(?i)\\bFROM\\b".r.findAllMatchIn(masked)
      .filter(f => f.start < m.start && dep(f.start) == bd)
      .toList.lastOption.getOrElse(return Skip(stmt.length))
    val rels = stmt.substring(fromM.end, m.start).trim
    val rnd = seed.map(s => s"rand($s)").getOrElse("rand()")
    // single-relation segment: alias the wrapper back to the visible
    // name so qualified refs (`t.x`, `a.x` with an alias) still bind;
    // multi-relation segments get a fresh name (qualify inside a
    // subquery instead — documented)
    val outAlias =
      "(?is)^(?:[A-Za-z_][A-Za-z0-9_]*|`[^`]*`)(?:\\s+(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*))?$".r
        .findFirstMatchIn(rels) match {
        case Some(a) => Option(a.group(1)).getOrElse(rels.split("\\s+").head)
        case None => "__sample"
      }
    val sampled =
      if (unit == "ROWS")
        s"(SELECT * FROM $rels ORDER BY $rnd LIMIT $size) $outAlias"
      else
        s"(SELECT * FROM $rels WHERE $rnd < ($size) / 100.0) $outAlias"
    Splice(fromM.start, specEnd, "FROM " + sampled + " ")
  }

  /** DuckDB engine-tuning statements: `PRAGMA x[=v|(v)]` and
    * `SET x TO v` become Spark `SET` statements — inert session confs
    * under names Spark doesn't read, which is the right translation:
    * the reference's knobs (threads, memory_limit) configure ITS
    * embedded engine; this engine is tuned by the component layer
    * (A23/A24), so user SQL must not fail on them but must not
    * misconfigure Spark either. `SET k = v` already parses natively. */
  private def rewritePragma(stmt: String): String = {
    // transaction + maintenance statements. BEGIN/COMMIT/END are inert:
    // each block already runs as one session, and every table-state
    // swap is atomic (the new snapshot registers only once computed) —
    // the weaker statement-level atomicity is this engine's documented
    // semantics.
    // ROLLBACK must NOT be silently inert (the user asked for work to be
    // undone; pretending it happened is the one unacceptable answer) —
    // the executor surfaces it loudly. CHECKPOINT/VACUUM/ANALYZE are
    // DuckDB storage maintenance with no Spark meaning: inert, like the
    // PRAGMA knobs.
    val txn = "(?is)^\\s*(BEGIN(?:\\s+TRANSACTION)?|COMMIT|END(?:\\s+TRANSACTION)?|CHECKPOINT|FORCE\\s+CHECKPOINT|VACUUM(?:\\s+ANALYZE)?|ANALYZE)\\s*;?\\s*$".r
    txn.findFirstMatchIn(stmt).foreach { m =>
      val kw = m.group(1).toUpperCase.replaceAll("\\s+", "_")
      return s"SET __graft_inert_$kw = true"
    }
    // rewritten to a parseable SENTINEL, not thrown here: prepare() is
    // also the front door of every static-analysis action (syntax_check,
    // lineage, expected_input_tables, execution_plan), which must LIST a
    // script's ROLLBACK as an issue, not crash on it — only the executor
    // rejects it loudly at run time ([[Executor.runStatement]])
    if ("(?is)^\\s*ROLLBACK\\b".r.findFirstIn(stmt).isDefined)
      return Dialect.RollbackSentinel
    // ABORT is DuckDB's ROLLBACK alias (probed v1.0) — same loud path
    if ("(?is)^\\s*ABORT\\s*;?\\s*$".r.findFirstIn(stmt).isDefined)
      return Dialect.RollbackSentinel
    // TRUNCATE [TABLE] t ≡ DELETE FROM t: the executor's DELETE path
    // without a condition already re-materializes the empty state
    // atomically (both spellings probed on DuckDB v1.0)
    "(?is)^\\s*TRUNCATE\\s+(?:TABLE\\s+)?(.+?);?\\s*$".r
      .findFirstMatchIn(stmt)
      .foreach(m => return s"DELETE FROM ${m.group(1).trim}")
    // COMMENT ON ...: catalog metadata with no temp-view store — inert,
    // like the PRAGMA knobs
    if ("(?is)^\\s*COMMENT\\s+ON\\b".r.findFirstIn(stmt).isDefined)
      return "SET __graft_inert_COMMENT_ON = true"
    // same sentinel pattern for the unmappable statement families
    // (ATTACH/DETACH/CREATE TYPE/ALTER SEQUENCE — [[RejectMessages]])
    if ("(?is)^\\s*ATTACH\\b".r.findFirstIn(stmt).isDefined)
      return rejectSentinel("ATTACH")
    if ("(?is)^\\s*DETACH\\b".r.findFirstIn(stmt).isDefined)
      return rejectSentinel("DETACH")
    if ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?TYPE\\b".r.findFirstIn(stmt).isDefined) {
      // alias types EXECUTE (TypeSql substitution); ENUM bases EXECUTE
      // via dictionary encoding since r16 (definition-index SMALLINT
      // struct — [[TypeSql]] + DuckEnumRule); UNION bases keep the loud
      // reject — tagged values have no Spark twin
      val executable = TypeSql.baseOf(stmt).exists(b =>
        "(?is)^UNION\\b".r.findFirstIn(b.trim).isEmpty)
      if (executable) return stmt
      return rejectSentinel("CREATE_TYPE")
    }
    if ("(?is)^\\s*ALTER\\s+SEQUENCE\\b".r.findFirstIn(stmt).isDefined)
      return rejectSentinel("ALTER_SEQUENCE")
    val m = "(?is)^\\s*PRAGMA\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*(?:=\\s*(.+?)|\\(\\s*(.+?)\\s*\\))?\\s*;?\\s*$".r
      .findFirstMatchIn(stmt)
    m match {
      case Some(g) =>
        val v = Option(g.group(2)).orElse(Option(g.group(3)))
        v match {
          case Some(value) => s"SET ${g.group(1)} = ${value.trim}"
          case None => s"SET ${g.group(1)} = true"
        }
      case None =>
        "(?is)^(\\s*SET\\s+[A-Za-z_][A-Za-z0-9_.]*)\\s+TO\\s+".r
          .replaceFirstIn(stmt, "$1 = ")
    }
  }

  /** DuckDB FROM-first syntax: `FROM t` ≡ `SELECT * FROM t`, and
    * `FROM t SELECT a, b WHERE ...` moves the FROM segment after the
    * select list. Applied to bare statements in [[rewrite]] and to
    * CREATE/INSERT bodies by the executor (the body is where FROM-first
    * actually appears in scripts: `CREATE TABLE x AS FROM y`). */
  def fromFirst(stmt0: String): String = {
    val stmt = stmt0.trim
    val masked = maskQuoted(stmt)
    if (!"(?is)^\\s*FROM\\b".r.findFirstIn(masked).isDefined) return stmt0
    val dep = depths(masked)
    "(?is)\\bSELECT\\b".r.findAllMatchIn(masked).find(m => dep(m.start) == 0) match {
      case None => "SELECT * " + stmt
      case Some(sel) =>
        val fromSeg = stmt.substring(0, sel.start).trim
        val rest = stmt.substring(sel.start) // starts with SELECT
        val restMasked = masked.substring(sel.start)
        val restDep = dep.drop(sel.start)
        val listEnd =
          "(?is)\\b(WHERE|GROUP\\s+BY|HAVING|QUALIFY|ORDER\\s+BY|LIMIT)\\b".r
            .findAllMatchIn(restMasked)
            .find(m => restDep(m.start) == 0)
            .map(_.start).getOrElse(rest.length)
        rest.substring(0, listEnd).trim + " " + fromSeg + " " +
          rest.substring(listEnd).trim
    }
  }

  /** Dollar-quoted strings (`$$...$$`, `$tag$...$tag$` — probed v1.0:
    * tags nest nothing, backslash is not an escape) convert to standard
    * single-quoted literals with `''` doubling. Runs on the WHOLE script
    * BEFORE statement splitting — a `;`, quote or comment marker inside
    * the dollar body must never be seen by any later scanner. The walk
    * is quote/comment-aware so a `$$` inside an ordinary literal never
    * triggers; `$1`/`$name` PREPARE parameters lack the closing `$` and
    * pass through. An unterminated opener is left whole (loud parse
    * error downstream, the leave-alone contract). */
  private[component] def rewriteDollarStrings(script: String): String = {
    if (script.indexOf('$') < 0) return script
    val sb = new StringBuilder
    var i = 0
    while (i < script.length) {
      val end = spanEnd(script, i)
      if (end < 0) { sb.append(script.charAt(i)); i += 1 }
      else {
        if (script.charAt(i) == '$') {
          val tag = script.indexOf('$', i + 1) + 1 - i // delimiter length
          sb.append('\'').append(script.substring(i + tag, end - tag).replace("'", "''"))
            .append('\'')
        } else sb.append(script.substring(i, end))
        i = end
      }
    }
    sb.toString
  }

  /** Full script → rewritten single statements. */
  def prepare(script: String): List[String] =
    splitStatements(rewriteDollarStrings(script)).map(s => rewrite(fromFirst(s)))
}

/** SQL-visible table name → valid Spark temp-view identifier. Temp views
  * reject dots (multi-part names); the corpus uses names like
  * `out-table.csv`. The mapping is recorded so actions can report the
  * user's original names. */
object Names {
  private val reverse = scala.collection.concurrent.TrieMap[String, String]()

  def view(original: String): String = {
    val sanitized = original.map(c => if (c.isLetterOrDigit || c == '_') c else '_')
    reverse.putIfAbsent(sanitized.toLowerCase, original)
    sanitized
  }

  /** Original user-facing name for a sanitized view name (identity if
    * never registered). */
  def original(sanitized: String): String =
    reverse.getOrElse(sanitized.toLowerCase, sanitized)
}
