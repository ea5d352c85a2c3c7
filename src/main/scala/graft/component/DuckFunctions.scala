package graft.component

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._

/** DuckDB-named function surface for the component's SQL sessions —
  * dialect breadth BEYOND the reference's own test corpus (the corpus
  * itself is covered by [[Dialect]] rewrites + Spark's native names).
  *
  * The reference hands user SQL to DuckDB verbatim
  * (`src/query_orchestrator.py:351`), so a user migrating real
  * transformations will carry DuckDB spellings of functions Spark has
  * under different names (`list_transform` vs `transform`,
  * `array_to_string` vs `array_join`, `epoch_us` vs `unix_micros`).
  * Each entry here is a NAME BINDING to the same codegen'd Catalyst
  * expression Spark's own name resolves to — no UDFs, no wrappers, the
  * optimizer sees the native operator. Semantic differences that survive
  * renaming (1-based inclusive `list_slice` bounds, `list_prepend`'s
  * element-first argument order, C-style `strftime` codes) are mapped
  * structurally, not ignored. The surface stays corpus-driven: names are
  * added when a real query needs them, with a DialectSpec row each. */
object DuckFunctions {

  /** DuckDB C-style strftime/strptime codes → Spark datetime pattern.
    * Only literal formats translate (a computed format string would need
    * a per-row translator — no real transformation does that). */
  private[component] def translateFormat(fmt: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => out.append("yyyy")
          case 'y' => out.append("yy")
          case 'm' => out.append("MM")
          case 'd' => out.append("dd")
          case 'H' => out.append("HH")
          case 'M' => out.append("mm")
          case 'S' => out.append("ss")
          case 'f' => out.append("SSSSSS")
          case 'g' => out.append("SSS")
          case 'j' => out.append("DDD")
          case 'a' => out.append("EEE")
          case 'b' => out.append("MMM")
          case '%' => out.append('%')
          case other => throw new IllegalArgumentException(
            s"strftime code %$other has no Spark pattern mapping")
        }
        i += 2
      } else if (c.isLetter) {
        // quote literal text so it survives as-is (e.g. "T" in ISO) —
        // one quoted run per stretch of letters ('day', not 'd''a''y',
        // which the formatter reads as embedded escaped quotes)
        val start = i
        while (i < fmt.length && fmt.charAt(i).isLetter && fmt.charAt(i) != '%')
          i += 1
        out.append('\'').append(fmt.substring(start, i)).append('\'')
      } else {
        out.append(c)
        i += 1
      }
    }
    out.toString
  }

  private def literalString(e: Expression, fn: String): String = e match {
    case Literal(v, org.apache.spark.sql.types.StringType) if v != null => v.toString
    case _ => throw new IllegalArgumentException(
      s"$fn requires a literal format string")
  }

  /** The list with NULL elements dropped — DuckDB's list folds carry
    * SQL aggregate semantics (NULLs ignored; empty/all-NULL → NULL), so
    * a bare `acc + x` fold would poison the sum on the first NULL. */
  private def nonNulls(l: Expression): Expression = {
    val x = UnresolvedNamedLambdaVariable(Seq("x"))
    ArrayFilter(l, LambdaFunction(IsNotNull(x), Seq(x)))
  }

  /** `list_aggregate`'s literal-name dispatch — shared with the
    * `array_aggregate`/`*_aggr` twins. */
  private def listAggDispatch(a: Seq[Expression]): Expression =
    literalString(a(1), "list_aggregate").toLowerCase match {
      case "sum" => listFold(a.head)
      case "avg" | "mean" => listAvg(a.head)
      case "min" => ArrayMin(a.head)
      case "max" => ArrayMax(a.head)
      case "count" =>
        Cast(Size(nonNulls(a.head)), org.apache.spark.sql.types.LongType)
      // the statistics macro family (list_median/mode/var/… — see
      // unaryListStats) answers through the same dispatch, as DuckDB's
      // list_aggr does
      case other => listAggNames.get(other).map(_(a.head)).getOrElse(
        throw new IllegalArgumentException(
          s"list_aggregate supports sum/avg/min/max/count/" +
            s"${listAggNames.keys.toSeq.sorted.mkString("/")}, got '$other'"))
    }

  /** Euclidean distance between two numeric lists — a double-precision
    * zip-square-sum fold over native higher-order functions. */
  private def l2Distance(x: Expression, y: Expression): Expression = {
    val ax = UnresolvedNamedLambdaVariable(Seq("lx"))
    val by = UnresolvedNamedLambdaVariable(Seq("ly"))
    val diff = ZipWith(x, y, LambdaFunction(
      Subtract(Cast(ax, org.apache.spark.sql.types.DoubleType),
        Cast(by, org.apache.spark.sql.types.DoubleType)), Seq(ax, by)))
    val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
    val v = UnresolvedNamedLambdaVariable(Seq("v"))
    val fin = UnresolvedNamedLambdaVariable(Seq("fin"))
    Sqrt(ArrayAggregate(diff, Literal(0.0d),
      LambdaFunction(Add(acc, Multiply(v, v)), Seq(acc, v)),
      LambdaFunction(fin, Seq(fin))))
  }

  /** Σx as `aggregate(filter(l, x -> x IS NOT NULL), 0.0d, ...)`,
    * NULL when no non-null element exists (sum-aggregate semantics). */
  private def listFold(l: Expression): Expression = {
    val nn = nonNulls(l)
    val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
    val x = UnresolvedNamedLambdaVariable(Seq("x"))
    val fin = UnresolvedNamedLambdaVariable(Seq("fin"))
    val sum = ArrayAggregate(nonNulls(l), Literal(0.0d),
      LambdaFunction(Add(acc, Cast(x,
        org.apache.spark.sql.types.DoubleType)), Seq(acc, x)),
      LambdaFunction(fin, Seq(fin)))
    If(EqualTo(Size(nn), Literal(0)),
      Literal(null, org.apache.spark.sql.types.DoubleType), sum)
  }

  /** avg over non-null elements; NULL on empty (never a divide-by-zero,
    * which ANSI mode would raise). */
  private def listAvg(l: Expression): Expression = {
    val cnt = Size(nonNulls(l))
    If(EqualTo(cnt, Literal(0)),
      Literal(null, org.apache.spark.sql.types.DoubleType),
      Divide(listFold(l), Cast(cnt, org.apache.spark.sql.types.DoubleType)))
  }

  private def timeBucket(width: Expression, ts: Expression,
                         origin: Option[Expression]): Expression = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.CalendarInterval
    // the width must be a literal interval — Spark parses single-unit
    // spellings to ANSI interval types, multi-unit ones to CalendarInterval
    val (months, micros) = width match {
      case Literal(v: Long, _: DayTimeIntervalType) => (0, v)
      case Literal(v: Int, _: YearMonthIntervalType) => (v, 0L)
      case Literal(ci: CalendarInterval, CalendarIntervalType) =>
        (ci.months, ci.days * 86400000000L + ci.microseconds)
      case _ => throw new IllegalArgumentException(
        "time_bucket requires a literal INTERVAL width")
    }
    if (months != 0) {
      if (micros != 0 || origin.nonEmpty)
        throw new IllegalArgumentException(
          "time_bucket month widths must be pure months without origin")
      // months since 2000-01-01, floored to the bucket width
      val m = Add(Multiply(Subtract(Year(ts), Literal(2000)), Literal(12)),
        Subtract(Month(ts), Literal(1)))
      val bucket = Subtract(m, Pmod(m, Literal(months)))
      graft.functions.DuckSameDateKind(
        Cast(AddMonths(Literal(10957, DateType), bucket), TimestampType), // 2000-01-01
        ts)
    } else {
      require(micros > 0, "time_bucket width must be positive")
      // an INTERVAL origin offsets the default anchor (probed v1.0)
      val o: Expression = origin
        .map {
          case Literal(v: Long, _: DayTimeIntervalType) =>
            Literal(946857600000000L + v)
          case e => UnixMicros(Cast(e, TimestampType))
        }
        .getOrElse(Literal(946857600000000L)) // 2000-01-03 00:00:00 UTC
      val um = UnixMicros(Cast(ts, TimestampType))
      graft.functions.DuckSameDateKind(
        MicrosToTimestamp(Subtract(um, Pmod(Subtract(um, o), Literal(micros)))),
        ts)
    }
  }

  /** See the "substring" registration. Probed v1.0 3-arg semantics: a
    * negative start counts from the END (effStart = len+start+1 —
    * `(-1,5)`='f', Spark agrees natively), and an effStart ≤ 0 opens a
    * WINDOW whose positions before 1 don't exist (`(0,3)`='ab',
    * `(-10,3)`='' — length max(0, effStart+len−1) from position 1,
    * where Spark would clamp to 'abc'). */
  private val duckSubstringBuilder: Seq[Expression] => Expression = { a =>
    require(a.length == 2 || a.length == 3,
      s"substring expects 2-3 arguments, got ${a.length}")
    if (a.length == 2) Substring(a.head, a(1), Literal(Int.MaxValue))
    else {
      val effStart = CaseWhen(
        Seq((LessThan(a(1), Literal(0)),
          Add(Add(Length(a.head), a(1)), Literal(1)))), a(1))
      CaseWhen(
        Seq((GreaterThan(effStart, Literal(0)),
          Substring(a.head, a(1), a(2)))),
        Substring(a.head, Literal(1),
          Greatest(Seq(Subtract(Add(effStart, a(2)), Literal(1)),
            Literal(0)))))
    }
  }

  /** strptime with DuckDB's default date: a format with NO year
    * directive parses into year 1900 there, 1970 here (probed v1.0:
    * strptime('aBc','aBc') = 1900-01-01) — shift by the 70-year gap. */
  private def duckParseTs(input: Expression, duckFmt: String): Expression = {
    val p = new ParseToTimestamp(input, Literal(translateFormat(duckFmt)))
    if ("%[YyGg]".r.findFirstIn(duckFmt).isDefined) p
    else TimestampAddYMInterval(p, Literal.create(-840,
      org.apache.spark.sql.types.YearMonthIntervalType()))
  }

  /** A literal list-of-format-strings argument (strptime's list form). */
  private def formatList(e: Expression): Option[Seq[String]] = e match {
    case CreateArray(elems, _) if elems.nonEmpty =>
      val strs = elems.collect {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
          s.toString
      }
      if (strs.length == elems.length) Some(strs) else None
    case _ => None
  }

  /** Explicit casts for expressions built inside RuntimeReplaceable
    * fallbacks (replacements are not re-analyzed — no implicit
    * coercion, no ResolveTimeZone). */
  private def dateOf(e: Expression): Expression =
    Cast(e, org.apache.spark.sql.types.DateType,
      Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
  private def tsOf(e: Expression): Expression =
    Cast(e, org.apache.spark.sql.types.TimestampType,
      Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
  private def longOf(e: Expression): Expression =
    Cast(e, org.apache.spark.sql.types.LongType)

  /** DuckDB splits the EMPTY string into [''] where Spark's split
    * returns [] (probed v1.0 — r17 sweep). */
  private def emptySplit(str: Expression, split: Expression): Expression =
    If(EqualTo(Length(str), Literal(0)),
      CreateArray(Seq(Literal(""))), split)

  /** Numeric-list view for the f32/f64 kernels ([[graft.functions.DuckVecArg]]). */
  private def vecArg(e: Expression): Expression = graft.functions.DuckVecArg(e)

  /** DuckDB's levenshtein/editdist3 measure BYTES, not code points
    * (probed v1.0: editdist3('héllo','h') = 5) — the latin1 view maps
    * each UTF-8 byte to one char, so Spark's codegen'd char-level
    * Levenshtein computes the byte distance exactly. */
  private def byteView(e: Expression): Expression =
    StringDecode(Encode(e, Literal("UTF-8")), Literal("ISO-8859-1"))

  private def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
      : (String, Seq[Expression] => Expression) =
    name -> { args =>
      require(args.length == n, s"$name expects $n arguments, got ${args.length}")
      build(args)
    }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // list ↔ array renames (same Catalyst node Spark's own name builds)
    arity("list_transform", 2)(a => ArrayTransform(a.head, a(1))),
    arity("list_filter", 2)(a => ArrayFilter(a.head, a(1))),
    arity("list_distinct", 1)(a => ArrayDistinct(a.head)),
    arity("list_sort", 1)(a => SortArray(a.head, Literal(true))),
    arity("list_reverse_sort", 1)(a => SortArray(a.head, Literal(false))),
    arity("list_contains", 2)(a => ArrayContains(a.head, a(1))),
    arity("list_has", 2)(a => ArrayContains(a.head, a(1))),
    arity("list_position", 2)(a => ArrayPosition(a.head, a(1))),
    arity("list_indexof", 2)(a => ArrayPosition(a.head, a(1))),
    arity("list_append", 2)(a => ArrayAppend(a.head, a(1))),
    // DuckDB argument order is (element, list)
    arity("list_prepend", 2)(a => ArrayPrepend(a(1), a.head)),
    "list_concat" -> (a => Concat(a)),
    "list_value" -> (a => CreateArray(a)),
    arity("array_to_string", 2)(a => ArrayJoin(a.head, a(1), None)),
    // 1-based INCLUSIVE [begin, end]; strings slice by character and
    // 0/negative/overflowing bounds normalize (probed v1.0 — r17 sweep)
    arity("list_slice", 3)(a => graft.functions.DuckSlice(a.head, a(1), a(2))),
    // literal (non-regex) separator split — Spark's split() is regex.
    // DuckDB splits '' into [''] where Spark's split gives [] (probed)
    arity("string_split", 2)(a => emptySplit(a.head, StringSplitSQL(a.head, a(1)))),
    // REGEX separator split (DuckDB's _regex twins of the literal split)
    arity("string_split_regex", 2)(a =>
      emptySplit(a.head, StringSplit(a.head, a(1), Literal(-1)))),
    arity("regexp_split_to_array", 2)(a =>
      emptySplit(a.head, StringSplit(a.head, a(1), Literal(-1)))),
    // more list_* renames of native array nodes; extract accepts strings
    // (character pick) and yields NULL on out-of-range list indexes
    arity("list_extract", 2)(a => graft.functions.DuckExtract(a.head, a(1))),
    arity("list_element", 2)(a => graft.functions.DuckExtract(a.head, a(1))),
    arity("list_min", 1)(a => ArrayMin(a.head)),
    arity("list_max", 1)(a => ArrayMax(a.head)),
    arity("list_reverse", 1)(a => Reverse(a.head)),
    "list_zip" -> (a => ArraysZip(a)),
    arity("str_split", 2)(a => emptySplit(a.head, StringSplitSQL(a.head, a(1)))),
    arity("string_to_array", 2)(a => emptySplit(a.head, StringSplitSQL(a.head, a(1)))),

    // vector math over list columns (graft's codegen'd f32/f64 kernels;
    // DuckVecArg lets int/decimal lists ride them — probed v1.0 accepts
    // any numeric list and returns DOUBLE)
    arity("list_dot_product", 2)(a => graft.functions.DotF32(vecArg(a.head), vecArg(a(1)))),
    arity("list_inner_product", 2)(a => graft.functions.DotF32(vecArg(a.head), vecArg(a(1)))),
    arity("list_cosine_similarity", 2)(a => {
      import graft.functions.{DotF32, NormF32}
      Divide(DotF32(vecArg(a.head), vecArg(a(1))),
        Multiply(NormF32(vecArg(a.head)), NormF32(vecArg(a(1)))))
    }),

    // Unicode normalization (graft's Normalizer-backed expression — the
    // same UAX #15 NFC form DuckDB computes via utf8proc)
    arity("nfc_normalize", 1)(a => graft.functions.NfcNormalize(a.head)),

    // aggregates under their DuckDB names (the analyzer wraps bare
    // AggregateFunctions exactly as it does Spark's own registry rows)
    //
    // ORDER CAVEAT — list(): DuckDB's list() preserves arrival order;
    // CollectList's element order follows partition/task completion, so
    // multi-partition input yields a nondeterministic ordering (the
    // DuckFunctionsSpec order assertion holds only on single-partition
    // test data). User SQL that depends on element order should sort
    // explicitly (list_sort(list(x)), or listagg(x) WITHIN GROUP
    // (ORDER BY ...) for strings) — the same advice Spark's own docs
    // give for collect_list, and the only order contract that survives
    // a 1000-executor cluster anyway.
    arity("list", 1)(a =>
      org.apache.spark.sql.catalyst.expressions.aggregate.CollectList(a.head)),
    // DuckDB's arg_max/arg_min SKIP rows whose VALUE is NULL (probed:
    // arg_max over (1,'a'),(3,NULL),(2,'b') = 'b'); Spark's MaxBy skips
    // rows whose ORDERING is NULL, so the binding masks the ordering
    // wherever the value is NULL. arg_max_null (bound below) keeps them.
    arity("arg_max", 2)(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(
        a.head, maskIfValueNull(a.head, a(1)))),
    arity("arg_min", 2)(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(
        a.head, maskIfValueNull(a.head, a(1)))),
    // DuckDB string_agg is unordered; an ORDER BY needs listagg WITHIN
    // GROUP (which Spark SQL parses natively)
    arity("string_agg", 2)(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.ListAgg(a.head, a(1))),

    // time_bucket(width, ts[, origin]) — DuckDB's time-series bucketing.
    // Non-month widths floor onto a grid anchored at 2000-01-03 00:00:00
    // (DuckDB's documented origin — Monday, so week buckets align);
    // month widths anchor at 2000-01-01. Pure arithmetic over unix
    // micros (codegen'd Pmod — handles pre-origin timestamps exactly,
    // where a double floor-divide would round), no UDF.
    "time_bucket" -> { a =>
      require(a.length >= 2 && a.length <= 3,
        s"time_bucket expects 2-3 arguments, got ${a.length}")
      timeBucket(a.head, a(1), a.lift(2))
    },

    // scalar generate_series: list from an inclusive range (the FROM-
    // position TABLE form maps to Spark's distributed range() in
    // [[Dialect.rewriteSeriesTableFns]]); Sequence is inclusive with
    // default step 1 — exactly DuckDB's semantics, timestamps included
    "generate_series" -> { a =>
      require(a.length >= 1 && a.length <= 3,
        s"generate_series expects 1-3 arguments, got ${a.length}")
      if (a.length == 1) {
        // 1-arg form: [0..n] inclusive, [] for negative n (probed v1.0)
        val n = Cast(a.head, org.apache.spark.sql.types.LongType)
        If(LessThan(n, Literal(0L)),
          Literal.create(Seq.empty[Long],
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType, containsNull = false)),
          Sequence(Literal(0L), n, None))
      } else Sequence(a.head, a(1), a.lift(2))
    },

    // polymorphic len (string OR list/map — DuckDB's signature; Spark
    // splits it into length/size, resolved per type at analysis)
    arity("len", 1)(a => graft.functions.PolyLen(a.head)),

    // list folds via the native higher-order ArrayAggregate with
    // programmatically-built lambdas (the analyzer binds
    // UnresolvedNamedLambdaVariable exactly as for parsed `x -> ...`).
    // Accumulation is DOUBLE (DuckDB's list_sum of integers returns a
    // wider integer; the double fold covers both numeric families at
    // float precision — list_avg is double in both engines)
    arity("list_sum", 1)(a => listFold(a.head)),
    arity("list_avg", 1)(a => listAvg(a.head)),
    // list_aggregate(l, 'name'): literal-name dispatch onto the same
    // native nodes; count counts NON-NULL elements (aggregate semantics)
    arity("list_aggregate", 2)(a => listAggDispatch(a)),

    // scalar renames
    arity("regexp_matches", 2)(a => RLike(a.head, a(1))),
    arity("strpos", 2)(a => StringInstr(a.head, a(1))),
    arity("list_unique", 1)(a => Size(ArrayDistinct(a.head))),

    // epoch extractors (DATE and INTERVAL operands too — r17 sweep)
    arity("epoch_us", 1)(a => graft.functions.DuckEpoch(a.head, "us")),
    arity("epoch_ms", 1)(a => graft.functions.DuckEpoch(a.head, "ms")),

    // C-style datetime formatting. DuckDB binds BOTH argument orders
    // (probed v1.0: strftime(ts, fmt) and strftime(fmt, ts)); strptime
    // accepts a LIST of formats tried in order (try_strptime likewise)
    arity("strftime", 2)(a =>
      scala.util.Try(literalString(a(1), "strftime")) match {
        case scala.util.Success(f) =>
          DateFormatClass(a.head, Literal(translateFormat(f)))
        case scala.util.Failure(_) =>
          DateFormatClass(a(1),
            Literal(translateFormat(literalString(a.head, "strftime"))))
      }),
    arity("strptime", 2)(a => formatList(a(1)) match {
      case Some(fmts) =>
        // list form: first matching format; none matching raises, the
        // probed contract (NULL input stays NULL)
        val tries = fmts.map(f => TryEval(duckParseTs(a.head, f)))
        val coal = Coalesce(tries)
        If(IsNull(a.head),
          Literal.create(null, org.apache.spark.sql.types.TimestampType),
          If(IsNull(coal),
            Cast(RaiseError(Literal(
              "strptime: no format in the list matched the input")),
              org.apache.spark.sql.types.TimestampType),
            coal))
      case None =>
        duckParseTs(a.head, literalString(a(1), "strptime"))
    }))

  private val round12Builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // ── round-12 batch: a systematic duckdb_functions() gap scan,
    // keeping only names with an EXACT Spark mapping (same Catalyst
    // node or same-value arithmetic; every row probed against DuckDB
    // 1.0 in DuckFunctionsSpec). 380 raw gaps remain mostly internals
    // (__internal_*), ICU collations and functions whose semantics
    // Spark cannot reproduce exactly — recorded as out of scope, not
    // silently aliased. (The operator spellings — ~~ family, //, ~/!~,
    // GLOB/~~~, SIMILAR TO — moved IN scope in round 13 via the
    // dialect's operand-extent rewrites.)

    // array_* twins of the bound list_* names (DuckDB: array_x ≡ list_x)
    arity("array_transform", 2)(a => ArrayTransform(a.head, a(1))),
    arity("array_apply", 2)(a => ArrayTransform(a.head, a(1))),
    arity("list_apply", 2)(a => ArrayTransform(a.head, a(1))),
    arity("array_filter", 2)(a => ArrayFilter(a.head, a(1))),
    arity("array_where", 2)(a => ArrayFilter(a.head, a(1))),
    arity("array_unique", 1)(a => Size(ArrayDistinct(a.head))),
    "array_cat" -> (a => Concat(a)),
    "array_concat" -> (a => Concat(a)),
    "list_cat" -> (a => Concat(a)),
    "array_value" -> (a => CreateArray(a)),
    "list_pack" -> (a => CreateArray(a)),
    arity("array_length", 1)(a => Size(a.head)),
    arity("array_indexof", 2)(a => ArrayPosition(a.head, a(1))),
    arity("array_has", 2)(a => ArrayContains(a.head, a(1))),
    arity("array_extract", 2)(a => graft.functions.DuckExtract(a.head, a(1))),
    arity("array_reverse_sort", 1)(a => SortArray(a.head, Literal(false))),
    arity("array_slice", 3)(a => graft.functions.DuckSlice(a.head, a(1), a(2))),
    "array_zip" -> (a => ArraysZip(a)),
    // 1-based gather: list_select(l, idxs) picks elements at positions
    arity("list_select", 2)(a => {
      val i = UnresolvedNamedLambdaVariable(Seq("i"))
      ArrayTransform(a(1), LambdaFunction(ElementAt(a.head, i), Seq(i)))
    }),
    arity("array_select", 2)(a => {
      val i = UnresolvedNamedLambdaVariable(Seq("i"))
      ArrayTransform(a(1), LambdaFunction(ElementAt(a.head, i), Seq(i)))
    }),
    arity("array_aggregate", 2)(a => listAggDispatch(a)),
    arity("array_aggr", 2)(a => listAggDispatch(a)),
    arity("list_aggr", 2)(a => listAggDispatch(a)),

    // vector math: array_* twins + L2 distance via zip_with
    arity("array_dot_product", 2)(a =>
      graft.functions.DotF32(vecArg(a.head), vecArg(a(1)))),
    arity("array_inner_product", 2)(a =>
      graft.functions.DotF32(vecArg(a.head), vecArg(a(1)))),
    arity("array_cosine_similarity", 2)(a => {
      import graft.functions.{DotF32, NormF32}
      Divide(DotF32(vecArg(a.head), vecArg(a(1))),
        Multiply(NormF32(vecArg(a.head)), NormF32(vecArg(a(1)))))
    }),
    arity("list_distance", 2)(a => l2Distance(a.head, a(1))),
    arity("array_distance", 2)(a => l2Distance(a.head, a(1))),

    // string twins
    arity("starts_with", 2)(a => StartsWith(a.head, a(1))),
    arity("prefix", 2)(a => StartsWith(a.head, a(1))),
    arity("ends_with", 2)(a => EndsWith(a.head, a(1))),
    arity("suffix", 2)(a => EndsWith(a.head, a(1))),
    // strlen counts BYTES (probed v1.0: strlen('héllo') = 6 — r17 sweep)
    arity("strlen", 1)(a => OctetLength(a.head)),
    // codepoint of the first character (Spark's Ascii decodes the full
    // code point, not just 7-bit — probed equal on '€'); the EMPTY
    // string is -1 in DuckDB where Ascii gives 0 (probed — r17 sweep)
    arity("ord", 1)(a => If(EqualTo(Length(a.head), Literal(0)),
      Literal(-1), Ascii(a.head))),
    arity("unicode", 1)(a => If(EqualTo(Length(a.head), Literal(0)),
      Literal(-1), Ascii(a.head))),
    arity("to_base64", 1)(a => Base64(a.head)),
    arity("from_base64", 1)(a => UnBase64(a.head)),
    arity("to_hex", 1)(a => Hex(a.head)),
    arity("from_hex", 1)(a => Unhex(a.head)),
    arity("sha256", 1)(a => Sha2(a.head, Literal(256))),
    arity("gen_random_uuid", 0)(_ => Uuid()),
    // BYTE-level edit distance (probed v1.0: editdist3('héllo','h') = 5,
    // not the 4 code points — r17 sweep); levenshtein gets the same
    // binding so the shared name doesn't silently resolve char-based
    arity("editdist3", 2)(a => Levenshtein(byteView(a.head), byteView(a(1)))),
    // the shared `levenshtein` spelling maps in STATEMENT TEXT only
    // (duck_ prefix — the Column API keeps Spark's code-point distance)
    arity("duck_levenshtein", 2)(a =>
      Levenshtein(byteView(a.head), byteView(a(1)))),
    // to_base(v, radix[, min_length]) — the 3-arg form zero-pads (probed)
    "to_base" -> { a =>
      require(a.length == 2 || a.length == 3,
        s"to_base expects 2-3 arguments, got ${a.length}")
      val base = Conv(Cast(a.head, org.apache.spark.sql.types.StringType),
        Literal(10), a(1))
      if (a.length == 3) StringLPad(base, a(2), Literal("0")) else base
    },
    // whole-string regex match: anchor the pattern
    arity("regexp_full_match", 2)(a => RLike(a.head,
      Concat(Seq(Literal("^(?:"), a(1), Literal(")$"))))),
    // (parse_filename/parse_dirpath moved to gapBuilders — the probed
    // GapKernels versions with trim/separator arguments; the old
    // regex approximations here were silently superseded by
    // registration order, which is exactly the fragility to avoid)

    // struct/row construction + literal-name field extraction
    "row" -> (a => CreateStruct(a)),
    arity("struct_extract", 2)(a =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
        a.head, a(1))),

    // json: the _string/_text forms are exactly get_json_object with
    // DuckDB's path grammar on top (see normPath; json_extract itself —
    // quoted strings — lives in jsonBuilders below)
    arity("json_extract_string", 2)(a => GetJsonObject(a.head, normPath(a(1)))),
    arity("json_extract_path_text", 2)(a => GetJsonObject(a.head, normPath(a(1)))),
    arity("json_keys", 1)(a => JsonObjectKeys(a.head)),
    arity("json_valid", 1)(a =>
      If(IsNull(a.head),
        Literal(null, org.apache.spark.sql.types.BooleanType),
        IsNotNull(GetJsonObject(a.head, Literal("$"))))),

    // math predicates (NULL-propagating, probed; DATE/TIMESTAMP operands
    // are always finite here — r17 sweep, graft.functions.DuckFinite)
    arity("isinf", 1)(a => graft.functions.DuckFinite(a.head, inf = true)),
    arity("isfinite", 1)(a => graft.functions.DuckFinite(a.head, inf = false)),
    arity("xor", 2)(a => BitwiseXor(a.head, a(1))),

    // date parts (probed DuckDB values: century(2019)=21, decade=201,
    // isodow Mon=1..Sun=7, micro/millisecond are WITHIN-MINUTE,
    // epoch is fractional double seconds, yearweek=isoyear*100+week)
    // century/decade/millennium/microsecond/millisecond extract interval
    // COMPONENTS on interval operands (r17 sweep — DuckIntervalPart); the
    // fallbacks are the probed calendar formulas with explicit casts
    arity("century", 1)(a => graft.functions.DuckIntervalPart(a.head,
      "century", e =>
        Add(IntegralDivide(longOf(Subtract(Year(dateOf(e)), Literal(1))),
          Literal(100L)), Literal(1L)))),
    arity("decade", 1)(a => graft.functions.DuckIntervalPart(a.head,
      "decade", e => IntegralDivide(longOf(Year(dateOf(e))), Literal(10L)))),
    arity("millennium", 1)(a => graft.functions.DuckIntervalPart(a.head,
      "millennium", e =>
        Add(IntegralDivide(longOf(Subtract(Year(dateOf(e)), Literal(1))),
          Literal(1000L)), Literal(1L)))),
    arity("isodow", 1)(a => Add(WeekDay(a.head), Literal(1))),
    arity("week", 1)(a => WeekOfYear(a.head)),
    arity("microsecond", 1)(a => graft.functions.DuckIntervalPart(a.head,
      "microsecond", e => Pmod(UnixMicros(tsOf(e)), Literal(60000000L)))),
    arity("millisecond", 1)(a => graft.functions.DuckIntervalPart(a.head,
      "millisecond", e => IntegralDivide(
        Pmod(UnixMicros(tsOf(e)), Literal(60000000L)), Literal(1000L)))),
    arity("epoch", 1)(a => graft.functions.DuckEpoch(a.head, "s")),
    arity("epoch_ns", 1)(a => graft.functions.DuckEpoch(a.head, "ns")),
    arity("today", 0)(_ => CurrentDate()),
    arity("datetrunc", 2)(a => TruncTimestamp(a.head, a(1))),

    // aggregates (probed: quantile ≡ quantile_disc; group_concat
    // defaults ',' ; arbitrary = first; product is DOUBLE)
    arity("quantile_cont", 2)(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.Percentile(
        a.head, a(1))),
    arity("quantile_disc", 2)(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.PercentileDisc(
        a.head, a(1), false)),
    arity("quantile", 2)(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.PercentileDisc(
        a.head, a(1), false)),
    arity("approx_quantile", 2)(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile(
        a.head, a(1))),
    // NULL-value rows skipped like arg_max/arg_min (same DuckDB probe)
    arity("argmax", 2)(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(
        a.head, maskIfValueNull(a.head, a(1)))),
    arity("argmin", 2)(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(
        a.head, maskIfValueNull(a.head, a(1)))),
    "group_concat" -> { a =>
      require(a.length == 1 || a.length == 2,
        s"group_concat expects 1-2 arguments, got ${a.length}")
      new org.apache.spark.sql.catalyst.expressions.aggregate.ListAgg(
        a.head, a.lift(1).getOrElse(Literal(",")))
    },
    arity("arbitrary", 1)(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.First(a.head, false)),
    arity("product", 1)(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.Product(
        Cast(a.head, org.apache.spark.sql.types.DoubleType))),
    arity("count_star", 0)(_ =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Count(Literal(1))),
    arity("fsum", 1)(a =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Sum(a.head)),
    arity("kahan_sum", 1)(a =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Sum(a.head)),
    arity("sumkahan", 1)(a =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Sum(a.head)),
    arity("favg", 1)(a =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Average(a.head)))

  // ---------------------------------------------------------------------
  // json_extract family — EXACT DuckDB semantics (each probed v1.0).
  //
  // DuckDB `json_extract` returns minified JSON text: object key order
  // preserved, scalar strings QUOTED, missing path / JSON null → SQL
  // NULL. Spark's `get_json_object` already matches everything except
  // string quoting (it returns the raw span for objects/arrays, order
  // intact), and the variant path (`to_json(variant_get(...))`) quotes
  // strings but SORTS object keys. The composition takes each engine's
  // exact half: a variant probe decides string-ness and renders quoted
  // strings; every other shape comes from get_json_object. variant_get
  // demands a FOLDABLE path, so the string branch applies only to
  // constant paths (the overwhelming case); a computed path falls back
  // to get_json_object alone (strings unquoted — documented).
  //
  // Path grammar (probed): '$…' JSONPath passes through; '/a/b/0'
  // pointer → $['a']['b'][0]; anything else is ONE literal key (bare
  // 'a.b' means the key "a.b", not a nested path). Negative array
  // indexes ($[-1]) are DuckDB-legal but out of scope here → NULL.
  // Malformed JSON input: DuckDB raises, this surface returns NULL.

  private def uf(name: String, args: Seq[Expression]): Expression =
    org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
      Seq(name), args, isDistinct = false)

  private[component] def normPathLit(s: String): String =
    if (s.startsWith("$")) s
    else if (s.startsWith("/"))
      "$" + s.substring(1).split("/", -1).map { seg =>
        if (seg.nonEmpty && seg.forall(_.isDigit)) s"[$seg]" else s"['$seg']"
      }.mkString
    else s"$$['$s']"

  /** Normalized path expression: literal paths normalize at bind time
    * (stays foldable — variant_get requires that); computed paths get
    * the same three-form dispatch at runtime. */
  private def normPath(p: Expression): Expression = p match {
    case Literal(v, org.apache.spark.sql.types.StringType) if v != null =>
      Literal(normPathLit(v.toString))
    case _ =>
      val dollar = StartsWith(p, Literal("$"))
      val pointer = StartsWith(p, Literal("/"))
      val segs = StringSplit(
        Substring(p, Literal(2), Literal(Integer.MAX_VALUE)),
        Literal("/"), Literal(-1))
      val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("seg"))
      val fin = UnresolvedNamedLambdaVariable(Seq("fin"))
      val pointerPath = ArrayAggregate(segs, Literal("$"),
        LambdaFunction(Concat(Seq(acc,
          If(RLike(x, Literal("^[0-9]+$")),
            Concat(Seq(Literal("["), x, Literal("]"))),
            Concat(Seq(Literal("['"), x, Literal("']")))))), Seq(acc, x)),
        LambdaFunction(fin, Seq(fin)))
      If(dollar, p, If(pointer, pointerPath,
        Concat(Seq(Literal("$['"), p, Literal("']")))))
  }

  /** try_variant_get over try_parse_json — NULL (never error) on
    * malformed json or missing path; `castTo` adds the 3-arg typed form. */
  private def vGet(j: Expression, np: Expression,
                   castTo: Option[String] = None): Expression = {
    val parsed = uf("try_parse_json", Seq(j))
    uf("try_variant_get",
      Seq(parsed, np) ++ castTo.map(t => Literal(t)))
  }

  private def jsonExtract(j: Expression, p: Expression): Expression = {
    val np = normPath(p)
    val raw = GetJsonObject(j, np)
    if (!np.foldable) raw
    else {
      val v = vGet(j, np)
      CaseWhen(
        Seq((EqualTo(uf("schema_of_variant", Seq(v)), Literal("STRING")),
          uf("to_json", Seq(v)))),
        Some(raw))
    }
  }

  /** DuckDB json_type names over Spark's variant schema (probed:
    * non-negative integers report UBIGINT, negative BIGINT; any float
    * DOUBLE; JSON null the string 'NULL'; missing path → SQL NULL). */
  private def jsonType(j: Expression, p: Expression): Expression = {
    val np = normPath(p)
    require(np.foldable, "json_type requires a constant path")
    val v = vGet(j, np)
    val s = uf("schema_of_variant", Seq(v))
    val asLong = vGet(j, np, castTo = Some("bigint"))
    CaseWhen(Seq(
      (IsNull(v), Literal(null, org.apache.spark.sql.types.StringType)),
      (EqualTo(s, Literal("VOID")), Literal("NULL")),
      (EqualTo(s, Literal("STRING")), Literal("VARCHAR")),
      (EqualTo(s, Literal("BOOLEAN")), Literal("BOOLEAN")),
      (StartsWith(s, Literal("ARRAY")), Literal("ARRAY")),
      (StartsWith(s, Literal("OBJECT")), Literal("OBJECT")),
      (EqualTo(s, Literal("BIGINT")),
        If(LessThan(asLong, Literal(0L)), Literal("BIGINT"), Literal("UBIGINT")))),
      Some(Literal("DOUBLE")))
  }

  /** DuckDB json_array_length: element count for arrays, 0 for any
    * non-array value, NULL for a missing path — over the extracted span
    * (works for computed paths too; no variant needed). */
  private def jsonArrayLen(j: Expression, p: Expression): Expression = {
    val raw = GetJsonObject(j, normPath(p))
    // the NATIVE node, not uf("json_array_length") — this builder is
    // registered under that very name, so an unresolved call here would
    // re-enter itself and loop the analyzer
    If(IsNull(raw),
      Literal(null, org.apache.spark.sql.types.LongType),
      Coalesce(Seq(
        Cast(LengthOfJsonArray(raw), org.apache.spark.sql.types.LongType),
        Literal(0L))))
  }

  /** Bind-time JSON-typedness (see [[graft.functions.JsonText]]): true
    * for the output of any json-producing builder in the SAME statement.
    * Decides raw-embed vs quote-as-string in the constructors, exactly
    * DuckDB's static JSON-vs-VARCHAR typing (a VARCHAR column quotes in
    * both engines — Spark has no JSON column type, so stored json is
    * varchar, which is also what DuckDB does for a VARCHAR column). */
  private def isJsonTyped(e: Expression): Boolean = e match {
    case graft.functions.JsonText(_) => true
    case a: org.apache.spark.sql.catalyst.expressions.Alias =>
      isJsonTyped(a.child)
    case _ => false
  }

  /** Element text for the json constructors: raw for JSON-typed args,
    * rendered for everything else; SQL NULL becomes the text 'null'
    * (probed: json_array(NULL) = '[null]'). */
  private def jsonElem(x: Expression): Expression =
    Coalesce(Seq(
      if (isJsonTyped(x)) x else graft.functions.JsonRender(x),
      Literal("null")))

  /** '"key":value' pair text, or SQL NULL for a NULL key — the
    * constructors DROP null-key pairs (probed: json_object(NULL, 1) =
    * '{}'; json_group_object rides CollectList's null-skipping). Keys
    * cast to VARCHAR first (json_object(1, 'x') = '{"1":"x"}'). */
  private def jsonPair(k: Expression, v: Expression): Expression = {
    val kTxt = graft.functions.JsonRender(
      Cast(k, org.apache.spark.sql.types.StringType))
    If(IsNull(k),
      Literal(null, org.apache.spark.sql.types.StringType),
      Concat(Seq(kTxt, Literal(":"), jsonElem(v))))
  }

  /** '[' ++ join(parts, ',') ++ ']' over existing codegen nodes —
    * ArrayJoin without a null replacement SKIPS null entries, which is
    * what drops null-key pairs. */
  private def jsonWrap(open: String, parts: Seq[Expression],
                       close: String): Expression =
    if (parts.isEmpty) Literal(open + close)
    else Concat(Seq(Literal(open),
      ArrayJoin(CreateArray(parts), Literal(","), None), Literal(close)))

  private def jsonTransformBuilder(strict: Boolean)
      : Seq[Expression] => Expression = {
    val fname = if (strict) "json_transform_strict" else "json_transform"
    a => {
      require(a.length == 2, s"$fname expects 2 arguments, got ${a.length}")
      a(1) match {
        case Literal(null, _) =>
          Literal(null, org.apache.spark.sql.types.StringType)
        case Literal(s, org.apache.spark.sql.types.StringType) =>
          val txt = s.toString.trim
          if (txt.startsWith("{") || txt.startsWith("[") || txt.startsWith("\""))
            graft.functions.JsonTransform(a.head, s.toString, strict)
          else // Spark's own from_json schema DDL
            JsonToStructs(
              org.apache.spark.sql.types.DataType.fromDDL(s.toString),
              Map.empty[String, String], a.head)
        case _ => throw new IllegalArgumentException(
          s"$fname requires a constant structure argument (it is the result type)")
      }
    }
  }

  private val jsonBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    arity("json_extract", 2)(a =>
      graft.functions.JsonText(jsonExtract(a.head, a(1)))),
    arity("json_extract_path", 2)(a =>
      graft.functions.JsonText(jsonExtract(a.head, a(1)))),
    "json_type" -> { a =>
      require(a.length == 1 || a.length == 2,
        s"json_type expects 1-2 arguments, got ${a.length}")
      jsonType(a.head, a.lift(1).getOrElse(Literal("$")))
    },
    "json_array_length" -> { a =>
      require(a.length == 1 || a.length == 2,
        s"json_array_length expects 1-2 arguments, got ${a.length}")
      jsonArrayLen(a.head, a.lift(1).getOrElse(Literal("$")))
    },
    "json_merge_patch" -> { a =>
      require(a.nonEmpty, "json_merge_patch expects at least 1 argument")
      graft.functions.JsonText(a.map(x => x: Expression).reduceLeft[Expression](
        (l, r) => graft.functions.JsonMergePatch(l, r)))
    },

    // constructors / render / canonicalize (probed v1.0 — see JsonExprs)
    "json_array" -> { a =>
      graft.functions.JsonText(jsonWrap("[", a.map(jsonElem), "]"))
    },
    "json_object" -> { a =>
      require(a.length % 2 == 0,
        s"json_object expects an even number of arguments, got ${a.length}")
      graft.functions.JsonText(jsonWrap("{",
        a.grouped(2).map(p => jsonPair(p.head, p(1))).toSeq, "}"))
    },
    arity("json_quote", 1)(a =>
      if (isJsonTyped(a.head)) a.head
      else graft.functions.JsonText(graft.functions.JsonRender(a.head))),
    arity("row_to_json", 1)(a =>
      graft.functions.JsonText(graft.functions.JsonRender(a.head))),
    arity("json", 1)(a =>
      if (isJsonTyped(a.head)) a.head
      else graft.functions.JsonText(graft.functions.JsonMinify(a.head))),
    arity("json_structure", 1)(a =>
      graft.functions.JsonText(graft.functions.JsonStructure(a.head))),
    arity("json_contains", 2)(a =>
      graft.functions.JsonContains(a.head, a(1))),

    // typed extraction — DuckDB json_transform / from_json. The
    // structure must be a CONSTANT (it IS the result type). A structure
    // spelled as JSON ('{"a":"BIGINT"}') takes DuckDB's semantics
    // (graft.functions.JsonTransform); any other text falls back to
    // Spark's own from_json DDL spelling ('a INT, b STRING') so both
    // dialects' users keep their queries.
    "json_transform" -> jsonTransformBuilder(strict = false),
    "from_json" -> jsonTransformBuilder(strict = false),
    "json_transform_strict" -> jsonTransformBuilder(strict = true),
    "from_json_strict" -> jsonTransformBuilder(strict = true),

    // aggregates — composed over CollectList, so element order follows
    // partition/task completion on multi-partition input (the list()
    // ORDER CAVEAT above applies verbatim; DuckDB's is arrival order).
    // An EMPTY overall aggregation returns NULL, matching DuckDB.
    arity("json_group_array", 1)(a => {
      val collected = org.apache.spark.sql.catalyst.expressions.aggregate
        .CollectList(jsonElem(a.head)).toAggregateExpression()
      graft.functions.JsonText(If(
        EqualTo(Size(collected), Literal(0)),
        Literal(null, org.apache.spark.sql.types.StringType),
        Concat(Seq(Literal("["),
          ArrayJoin(collected, Literal(","), None), Literal("]")))))
    }),
    arity("json_group_object", 2)(a => {
      val collected = org.apache.spark.sql.catalyst.expressions.aggregate
        .CollectList(jsonPair(a.head, a(1))).toAggregateExpression()
      graft.functions.JsonText(If(
        EqualTo(Size(collected), Literal(0)),
        Literal(null, org.apache.spark.sql.types.StringType),
        Concat(Seq(Literal("{"),
          ArrayJoin(collected, Literal(","), None), Literal("}")))))
    }))

  // ---------------------------------------------------------------------
  // String-distance + statistics batch: the duckdb_functions() names that
  // needed NEW kernels or aggregate compositions rather than renames.
  // Every semantic below is probed against DuckDB v1.0 (pins in
  // DuckFunctionsSpec / StringSimSpec): byte-level string distances,
  // sem = stddev_pop/√n, geomean = exp(avg(ln)), DuckDB's SAMPLE
  // skewness/kurtosis corrections (Spark's built-ins are population
  // moments — binding the DuckDB names to DuckDB's corrections is the
  // point of the dialect surface), mad/entropy as native mergeable
  // aggregates, NULL where DuckDB says NULL (n too small, zero variance).

  import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Count, Kurtosis, MaxBy, MinBy, Skewness, StddevPop}
  import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, NullType}

  private def dbl(e: Expression): Expression = Cast(e, DoubleType)
  private def nDouble(x: Expression): Expression =
    Cast(Count(x).toAggregateExpression(), DoubleType)
  private def nanToNull(e: Expression): Expression =
    If(IsNaN(e), Literal(null, DoubleType), e)
  /** Σ(v·w)/Σ(w) over rows where BOTH sides are non-NULL: the pairwise
    * guard keeps a NULL weight from dropping its value out of the
    * numerator but not the denominator (or vice versa). */
  private def weightedAvg(v0: Expression, w0: Expression): Expression = {
    val v = dbl(v0); val w = dbl(w0)
    val both = And(IsNotNull(v), IsNotNull(w))
    val nullD = Literal(null, DoubleType)
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    Divide(
      Sum(If(both, Multiply(v, w), nullD)).toAggregateExpression(),
      Sum(If(both, w, nullD)).toAggregateExpression())
  }
  /** NULL out the ordering for rows whose VALUE is NULL — DuckDB's
    * arg_max/arg_min skip NULL arguments (probed); Spark's MaxBy skips
    * rows whose ordering is NULL, so masking the ordering reproduces it.
    * CaseWhen with no else-branch yields a NULL of the ordering's own
    * type without needing the (possibly unresolved) dataType here. */
  private def maskIfValueNull(value: Expression, ordering: Expression): Expression =
    CaseWhen(Seq((IsNotNull(value), ordering)), None)

  private val simStatBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // pair-scoring string distances (graft.functions.StringSim kernels)
    arity("damerau_levenshtein", 2)(a => graft.functions.DamerauLevenshtein(a.head, a(1))),
    arity("jaro_similarity", 2)(a => graft.functions.JaroSimilarity(a.head, a(1))),
    arity("jaro_winkler_similarity", 2)(a => graft.functions.JaroWinklerSimilarity(a.head, a(1))),
    arity("hamming", 2)(a => graft.functions.HammingDistance(a.head, a(1))),
    arity("mismatches", 2)(a => graft.functions.HammingDistance(a.head, a(1))),
    arity("jaccard", 2)(a => graft.functions.JaccardSimilarity(a.head, a(1))),

    // standard error of the mean: stddev_pop/√n (probed: sem(1,2,4) =
    // 0.72008…, the POPULATION deviation — not stddev_samp/√n)
    arity("sem", 1)(a =>
      Divide(StddevPop(dbl(a.head)).toAggregateExpression(), Sqrt(nDouble(a.head)))),

    // geometric mean (DuckDB macro: exp(avg(ln(x))) — same tree here, so
    // equality is by construction; ln errors on non-positive input in
    // BOTH engines under Spark's ANSI default)
    arity("geomean", 1)(a => Exp(Average(Log(dbl(a.head))).toAggregateExpression())),
    arity("geometric_mean", 1)(a => Exp(Average(Log(dbl(a.head))).toAggregateExpression())),

    // DuckDB >= 1.5 weighted_avg/wavg = Σ(v·w)/Σ(w) over rows where BOTH
    // are non-NULL (post-1.0 surface — the reference pins 1.5.2; local
    // v1.0 probes the names MISSING, so the definition is the public
    // docs', spec-pinned)
    arity("weighted_avg", 2)(a => weightedAvg(a.head, a(1))),
    arity("wavg", 2)(a => weightedAvg(a.head, a(1))),

    // population excess kurtosis — Spark's Kurtosis node IS g2; DuckDB
    // returns NULL (not NaN) for n=1 / zero variance
    arity("kurtosis_pop", 1)(a =>
      nanToNull(Kurtosis(dbl(a.head)).toAggregateExpression())),

    // DuckDB kurtosis = SAMPLE excess kurtosis (bias-corrected):
    // (n−1)·((n+1)·g2 + 6) / ((n−2)(n−3)), NULL when n < 4
    arity("kurtosis", 1) { a =>
      val n = nDouble(a.head)
      val g2 = Kurtosis(dbl(a.head)).toAggregateExpression()
      If(Or(LessThan(n, Literal(4.0)), IsNaN(g2)),
        Literal(null, DoubleType),
        Divide(
          Multiply(Subtract(n, Literal(1.0)),
            Add(Multiply(Add(n, Literal(1.0)), g2), Literal(6.0))),
          Multiply(Subtract(n, Literal(2.0)), Subtract(n, Literal(3.0)))))
    },

    // DuckDB skewness = SAMPLE skewness: g1·√(n(n−1))/(n−2), NULL when
    // n < 3 or variance is zero (Spark's Skewness is population g1)
    arity("skewness", 1) { a =>
      val n = nDouble(a.head)
      val g1 = Skewness(dbl(a.head)).toAggregateExpression()
      If(Or(LessThan(n, Literal(3.0)), IsNaN(g1)),
        Literal(null, DoubleType),
        Multiply(g1,
          Divide(Sqrt(Multiply(n, Subtract(n, Literal(1.0)))),
            Subtract(n, Literal(2.0)))))
    },

    // exact median absolute deviation / value-distribution entropy —
    // native mergeable aggregates (graft.functions.{MadAgg, EntropyAgg})
    arity("mad", 1)(a => graft.functions.MadAgg(dbl(a.head))),
    arity("entropy", 1) { a =>
      val c = a.head match {
        case s if s.resolved && s.dataType == org.apache.spark.sql.types.StringType => s
        case s => Cast(s, org.apache.spark.sql.types.StringType)
      }
      graft.functions.EntropyAgg(c)
    },

    // arg_max_null/arg_min_null KEEP a NULL value at the extreme key
    // (probed) — exactly Spark's MaxBy/MinBy
    arity("arg_max_null", 2)(a => new MaxBy(a.head, a(1))),
    arity("arg_min_null", 2)(a => new MinBy(a.head, a(1))))

  // ---------------------------------------------------------------------
  // list_* aggregate macros + remaining list utilities. DuckDB defines
  // list_median/list_mode/… as macros that unnest the list through the
  // matching aggregate; here each is a pure expression tree over the
  // native array operators (one row in, one value out — no aggregation
  // node), so they stay inside whole-stage codegen and work in any
  // clause. Semantics probed v1.0: NULL elements are skipped, empty /
  // all-NULL lists yield NULL (entropy: 0), mode ties take the FIRST
  // occurrence in list order, medians interpolate, the variance family
  // returns DOUBLE with the same sample/population corrections as the
  // aggregate bindings above.

  /** Non-null elements cast to DOUBLE (the macro family's input shape). */
  private def dblElems(l: Expression): Expression = {
    val v = UnresolvedNamedLambdaVariable(Seq("ldv"))
    ArrayTransform(nonNulls(l), LambdaFunction(Cast(v, DoubleType), Seq(v)))
  }

  private def nullD: Expression = Literal(null, DoubleType)
  private def whenN(cond: Expression, e: Expression): Expression =
    If(cond, nullD, e)

  /** Numeric-list fast path: [[graft.functions.ListStatsD]] computes
    * every moment/median/mad/entropy field in ONE native pass — the
    * HOF-fold trees below evaluate interpreted (CodegenFallback) and a
    * q71-shaped projection paid ~70 O(n) lambda passes per row (1.2 s
    * vs DuckDB's 35 ms at sf0.1 before this). Identical subtrees dedupe
    * under whole-stage codegen's common-subexpression elimination. The
    * trees remain the path for non-numeric elements (string entropy,
    * generic mode) and unresolved children. */
  private def isNumericList(l: Expression): Boolean =
    l.resolved && (l.dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        et.isInstanceOf[org.apache.spark.sql.types.NumericType]
      case _ => false
    })

  private val statFieldNames =
    Seq("n", "s1", "s2", "s3", "s4", "median", "mad", "entropy")

  // the kernel reads any numeric element type directly — no interpreted
  // cast-transform in front of it
  private def statField(l: Expression, name: String): Expression =
    GetStructField(graft.functions.ListStatsD(l),
      statFieldNames.indexOf(name), Some(name))

  /** Interpolated median over the sorted non-null doubles. */
  private def listMedian(l: Expression): Expression =
    if (isNumericList(l)) statField(l, "median") else listMedianTree(l)

  private def listMedianTree(l: Expression): Expression = {
    val s = SortArray(dblElems(l), Literal(true))
    val n = Size(s)
    val lo = Cast(IntegralDivide(Add(n, Literal(1)), Literal(2)), IntegerType)
    val hi = Cast(IntegralDivide(Add(n, Literal(2)), Literal(2)), IntegerType)
    whenN(EqualTo(n, Literal(0)),
      Divide(Add(ElementAt(s, lo), ElementAt(s, hi)), Literal(2.0)))
  }

  /** Σf(x) over the non-null doubles (0.0 when empty — callers guard). */
  private def listFoldD(l: Expression, name: String)
                       (f: Expression => Expression): Expression = {
    val acc = UnresolvedNamedLambdaVariable(Seq(name + "a"))
    val x = UnresolvedNamedLambdaVariable(Seq(name + "x"))
    val fin = UnresolvedNamedLambdaVariable(Seq(name + "f"))
    ArrayAggregate(dblElems(l), Literal(0.0),
      LambdaFunction(Add(acc, f(x)), Seq(acc, x)),
      LambdaFunction(fin, Seq(fin)))
  }

  /** Raw power sums s1..s4 — the central moments assemble from these
    * (one native kernel pass for numeric lists; HOF folds otherwise —
    * one pass per power, no O(n²) mean-in-lambda re-evaluation). */
  private def listMoments(l: Expression): (Expression, Expression, Expression, Expression, Expression) =
    if (isNumericList(l)) {
      (Cast(statField(l, "n"), DoubleType), statField(l, "s1"),
        statField(l, "s2"), statField(l, "s3"), statField(l, "s4"))
    } else {
      val n = Cast(Size(nonNulls(l)), DoubleType)
      val s1 = listFoldD(l, "m1")(identity)
      val s2 = listFoldD(l, "m2")(x => Multiply(x, x))
      val s3 = listFoldD(l, "m3")(x => Multiply(Multiply(x, x), x))
      val s4 = listFoldD(l, "m4")(x => Multiply(Multiply(x, x), Multiply(x, x)))
      (n, s1, s2, s3, s4)
    }

  /** Population variance m2 = E[x²] − μ², floored at 0 (float residue). */
  private def listVarPop(l: Expression): Expression = {
    val (n, s1, s2, _, _) = listMoments(l)
    val mu = Divide(s1, n)
    whenN(EqualTo(n, Literal(0.0)),
      Greatest(Seq(Literal(0.0),
        Subtract(Divide(s2, n), Multiply(mu, mu)))))
  }

  private def listVarSamp(l: Expression): Expression = {
    val n = listMoments(l)._1
    whenN(LessThan(n, Literal(2.0)),
      Multiply(listVarPop(l), Divide(n, Subtract(n, Literal(1.0)))))
  }

  /** Sample skewness / excess kurtosis with DuckDB's corrections, from
    * the raw moments: m3 = E[x³]−3μE[x²]+2μ³, m4 = E[x⁴]−4μE[x³]+6μ²E[x²]−3μ⁴. */
  private def listSkewKurt(l: Expression): (Expression, Expression, Expression) = {
    val (n, s1, s2, s3, s4) = listMoments(l)
    val mu = Divide(s1, n)
    val mu2 = Multiply(mu, mu)
    val m2 = Subtract(Divide(s2, n), mu2)
    val m3 = Add(Subtract(Divide(s3, n), Multiply(Literal(3.0), Multiply(mu, Divide(s2, n)))),
      Multiply(Literal(2.0), Multiply(mu2, mu)))
    val m4 = Subtract(
      Add(Subtract(Divide(s4, n), Multiply(Literal(4.0), Multiply(mu, Divide(s3, n)))),
        Multiply(Literal(6.0), Multiply(mu2, Divide(s2, n)))),
      Multiply(Literal(3.0), Multiply(mu2, mu2)))
    val g1 = Divide(m3, Pow(m2, Literal(1.5)))
    val g2 = Subtract(Divide(m4, Multiply(m2, m2)), Literal(3.0))
    val skew = If(Or(LessThan(n, Literal(3.0)),
        LessThanOrEqual(m2, Literal(0.0))), nullD,
      Multiply(g1, Divide(Sqrt(Multiply(n, Subtract(n, Literal(1.0)))),
        Subtract(n, Literal(2.0)))))
    val kurtS = If(Or(LessThan(n, Literal(4.0)),
        LessThanOrEqual(m2, Literal(0.0))), nullD,
      Divide(Multiply(Subtract(n, Literal(1.0)),
          Add(Multiply(Add(n, Literal(1.0)), g2), Literal(6.0))),
        Multiply(Subtract(n, Literal(2.0)), Subtract(n, Literal(3.0)))))
    val kurtP = If(Or(LessThan(n, Literal(1.0)),
        LessThanOrEqual(m2, Literal(0.0))), nullD, g2)
    (skew, kurtS, kurtP)
  }

  /** Mode with DuckDB's tie-break: highest count, then FIRST occurrence
    * in list order. Iterates DISTINCT values (count + first position per
    * value, O(distinct·n) — HOF lambdas evaluate interpreted, so a
    * per-POSITION scan would be O(n²) on every row; 26 s for one sf0.1
    * ledger query before this shape), sorts (−count, first-pos) structs
    * and indexes back. */
  private def listMode(l: Expression): Expression = {
    val nn = nonNulls(l)
    val v = UnresolvedNamedLambdaVariable(Seq("mov"))
    val x = UnresolvedNamedLambdaVariable(Seq("mox"))
    val cnt = Size(ArrayFilter(nn, LambdaFunction(EqualTo(x, v), Seq(x))))
    val keyed = ArrayTransform(ArrayDistinct(nn),
      LambdaFunction(CreateStruct(Seq(
        UnaryMinus(cnt),
        Cast(ArrayPosition(nn, v), IntegerType))), Seq(v)))
    val best = ElementAt(SortArray(keyed, Literal(true)), Literal(1))
    val pos = If(EqualTo(Size(nn), Literal(0)),
      Literal(null, IntegerType),
      GetStructField(best, 1))
    ElementAt(nn, pos)
  }

  /** Shannon entropy (log2) of the list's value distribution — counts
    * over distinct non-null elements, 0.0 for empty (the aggregate's
    * convention, probed). Numeric lists take the one-pass kernel. */
  private def listEntropy(l: Expression): Expression =
    if (isNumericList(l)) statField(l, "entropy") else listEntropyTree(l)

  private def listEntropyTree(l: Expression): Expression = {
    val nn = nonNulls(l)
    val n = Cast(Size(nn), DoubleType)
    val k = UnresolvedNamedLambdaVariable(Seq("enk"))
    val x = UnresolvedNamedLambdaVariable(Seq("enx"))
    val counts = ArrayTransform(ArrayDistinct(nn), LambdaFunction(
      Cast(Size(ArrayFilter(nn, LambdaFunction(EqualTo(x, k), Seq(x)))),
        DoubleType), Seq(k)))
    val acc = UnresolvedNamedLambdaVariable(Seq("ena"))
    val c = UnresolvedNamedLambdaVariable(Seq("enc"))
    val fin = UnresolvedNamedLambdaVariable(Seq("enf"))
    val sumClnC = ArrayAggregate(counts, Literal(0.0),
      LambdaFunction(Add(acc, Multiply(c, Log(c))), Seq(acc, c)),
      LambdaFunction(fin, Seq(fin)))
    If(EqualTo(n, Literal(0.0)), Literal(0.0),
      Divide(Subtract(Log(n), Divide(sumClnC, n)), Log(Literal(2.0))))
  }

  /** MAD = median(|x − median(x)|). Numeric lists take the one-pass
    * kernel; the tree fallback rides the median in through
    * `array_repeat(med, n)` + zip_with so it is evaluated ONCE — an
    * outer expression embedded in a HOF lambda body re-evaluates per
    * element (HOFs run interpreted), which made this O(n²·log n). */
  private def listMad(l: Expression): Expression =
    if (isNumericList(l)) statField(l, "mad") else listMadTree(l)

  private def listMadTree(l: Expression): Expression = {
    val es = dblElems(l)
    val v = UnresolvedNamedLambdaVariable(Seq("madv"))
    val m = UnresolvedNamedLambdaVariable(Seq("madm"))
    val devs = ZipWith(es, ArrayRepeat(listMedian(l), Size(es)),
      LambdaFunction(Abs(Subtract(v, m)), Seq(v, m)))
    // devs are already doubles and non-null — listMedian sorts them
    listMedian(devs)
  }

  /** value↦count map over distinct non-null elements, key-sorted. */
  private def listHistogram(l: Expression): Expression = {
    val nn = nonNulls(l)
    val k = UnresolvedNamedLambdaVariable(Seq("hik"))
    val x = UnresolvedNamedLambdaVariable(Seq("hix"))
    MapFromEntries(ArrayTransform(SortArray(ArrayDistinct(nn), Literal(true)),
      LambdaFunction(CreateStruct(Seq(k,
        Cast(Size(ArrayFilter(nn, LambdaFunction(EqualTo(x, k), Seq(x)))),
          LongType))), Seq(k))))
  }

  /** NULL-index trick: ElementAt propagates a NULL index, giving a NULL
    * of the ELEMENT type without needing to know that type here. */
  private def elemOrNull(l: Expression, idx: Expression, emptyWhen: Expression): Expression =
    ElementAt(l, If(emptyWhen, Literal(null, IntegerType), idx))

  private def listProduct(l: Expression): Expression = {
    val nn = nonNulls(l)
    val acc = UnresolvedNamedLambdaVariable(Seq("pra"))
    val x = UnresolvedNamedLambdaVariable(Seq("prx"))
    val fin = UnresolvedNamedLambdaVariable(Seq("prf"))
    whenN(EqualTo(Size(nn), Literal(0)),
      ArrayAggregate(dblElems(l), Literal(1.0),
        LambdaFunction(Multiply(acc, Cast(x, DoubleType)), Seq(acc, x)),
        LambdaFunction(fin, Seq(fin))))
  }

  private def listBool(l: Expression, and: Boolean): Expression = {
    val nn = nonNulls(l)
    val x = UnresolvedNamedLambdaVariable(Seq(if (and) "bax" else "box"))
    val f = LambdaFunction(EqualTo(x, Literal(true)), Seq(x))
    val folded = if (and) ArrayForAll(nn, f) else ArrayExists(nn, f)
    If(EqualTo(Size(nn), Literal(0)),
      Literal(null, org.apache.spark.sql.types.BooleanType), folded)
  }

  /** The *_aggr-style single-list macros, each bound as `list_<name>`
    * AND reachable through `list_aggregate(l, '<name>')`. */
  private lazy val unaryListStats: Seq[(String, Expression => Expression)] = Seq(
      "median" -> listMedian,
      "mode" -> listMode,
      "mad" -> listMad,
      "entropy" -> listEntropy,
      "product" -> listProduct,
      "var_pop" -> listVarPop,
      "var_samp" -> listVarSamp,
      "stddev_pop" -> (l => Sqrt(listVarPop(l))),
      "stddev_samp" -> (l => Sqrt(listVarSamp(l))),
      "sem" -> (l => Divide(Sqrt(listVarPop(l)), Sqrt(listMoments(l)._1))),
      "skewness" -> (l => listSkewKurt(l)._1),
      "kurtosis" -> (l => listSkewKurt(l)._2),
      "kurtosis_pop" -> (l => listSkewKurt(l)._3),
      "bool_and" -> (l => listBool(l, and = true)),
      "bool_or" -> (l => listBool(l, and = false)),
      "histogram" -> listHistogram,
      // exact distinct count satisfies the approximation contract exactly
      "approx_count_distinct" -> (l =>
        Cast(Size(ArrayDistinct(nonNulls(l))), LongType)),
      "string_agg" -> (l => ArrayJoin(l, Literal(","), None)),
      "count" -> (l => Cast(Size(nonNulls(l)), LongType)),
      "first" -> (l => elemOrNull(l, Literal(1), EqualTo(Size(l), Literal(0)))),
      "last" -> (l => elemOrNull(l, Size(l), EqualTo(Size(l), Literal(0)))),
      "any_value" -> (l => elemOrNull(nonNulls(l), Literal(1),
        EqualTo(Size(nonNulls(l)), Literal(0)))))

  private lazy val listAggNames: Map[String, Expression => Expression] =
    unaryListStats.toMap

  private lazy val listStatBuilders: Seq[(String, Seq[Expression] => Expression)] =
    unaryListStats.map { case (name, f) =>
      arity(s"list_$name", 1)(a => f(a.head))
    } ++ Seq(
      // 1-based permutation that sorts the list (stable: ties keep list
      // order) — DuckDB's grade_up family
      arity("grade_up", 1)(a => gradeUp(a.head)),
      arity("list_grade_up", 1)(a => gradeUp(a.head)),
      arity("array_grade_up", 1)(a => gradeUp(a.head)),

      // mask selection; a shorter side truncates (probed); NULL mask
      // entries DROP here where DuckDB raises — documented laxness
      arity("list_where", 2)(a => listWhere(a.head, a(1))),

      // membership over non-null needles (probed: NULLs never match,
      // empty needle set → has_all true / has_any false)
      arity("list_has_all", 2)(a => listHasAll(a.head, a(1))),
      arity("array_has_all", 2)(a => listHasAll(a.head, a(1))),
      arity("list_has_any", 2)(a => listHasAny(a.head, a(1))),
      arity("array_has_any", 2)(a => listHasAny(a.head, a(1))),

      // distinct common elements; DuckDB's output order is unspecified
      // (hash-set macro) — Spark's first-array order stands in
      arity("list_intersect", 2)(a => ArrayIntersect(a.head, a(1))),
      arity("array_intersect", 2)(a => ArrayIntersect(a.head, a(1))),

      // stack-shaped macros
      arity("array_pop_back", 1)(a =>
        Slice(a.head, Literal(1), Greatest(Seq(Literal(0), Subtract(Size(a.head), Literal(1)))))),
      arity("array_pop_front", 1)(a =>
        Slice(a.head, Literal(2), Greatest(Seq(Literal(0), Subtract(Size(a.head), Literal(1)))))),
      arity("array_push_back", 2)(a => ArrayAppend(a.head, a(1))),
      arity("array_push_front", 2)(a => ArrayPrepend(a.head, a(1))),
      arity("array_append", 2)(a => ArrayAppend(a.head, a(1))),
      // element-first, the list_prepend convention
      arity("array_prepend", 2)(a => ArrayPrepend(a(1), a.head)),
      arity("array_reverse", 1)(a => Reverse(a.head)),

      // truncate-or-pad (pad value defaults to NULL of the element type)
      "list_resize" -> { a =>
        require(a.length == 2 || a.length == 3,
          s"list_resize expects 2-3 arguments, got ${a.length}")
        listResize(a.head, a(1), a.lift(2))
      },
      "array_resize" -> { a =>
        require(a.length == 2 || a.length == 3,
          s"array_resize expects 2-3 arguments, got ${a.length}")
        listResize(a.head, a(1), a.lift(2))
      },

      // first-element-seeded fold; empty list errors (DuckDB's contract)
      arity("list_reduce", 2)(a => listReduce(a.head, a(1))),
      arity("array_reduce", 2)(a => listReduce(a.head, a(1))),
      // DuckDB's 2-arg reduce; 3/4 args stay Spark's native aggregate HOF
      // (same name, different seeding convention — don't shadow it)
      "reduce" -> { a =>
        a.length match {
          case 2 => listReduce(a.head, a(1))
          case 3 => ArrayAggregate(a.head, a(1),
            a(2).asInstanceOf[LambdaFunction], {
              val fin = UnresolvedNamedLambdaVariable(Seq("rdf"))
              LambdaFunction(fin, Seq(fin))
            })
          case 4 => ArrayAggregate(a.head, a(1),
            a(2).asInstanceOf[LambdaFunction], a(3).asInstanceOf[LambdaFunction])
          case n => throw new IllegalArgumentException(
            s"reduce expects 2-4 arguments, got $n")
        }
      },
      arity("list_approx_unique", 1)(a =>
        Cast(Size(ArrayDistinct(nonNulls(a.head))), LongType)),

      // bare `apply` — DuckDB's alias of list_transform
      arity("apply", 2)(a => ArrayTransform(a.head, a(1))),

      // bare `aggregate`: DuckDB's 2-arg (list, 'name') dispatch; 3/4
      // args remain Spark's native fold HOF (the reduce note above)
      "aggregate" -> { a =>
        a.length match {
          case 2 => listAggDispatch(a)
          case 3 => ArrayAggregate(a.head, a(1),
            a(2).asInstanceOf[LambdaFunction], {
              val fin = UnresolvedNamedLambdaVariable(Seq("agf"))
              LambdaFunction(fin, Seq(fin))
            })
          case 4 => ArrayAggregate(a.head, a(1),
            a(2).asInstanceOf[LambdaFunction], a(3).asInstanceOf[LambdaFunction])
          case n => throw new IllegalArgumentException(
            s"aggregate expects 2-4 arguments, got $n")
        }
      })

  /** 1..n, and [] when n < 1 — a bare Sequence(1, 0) defaults its step
    * to −1 and yields [1, 0], whose element_at(l, 0) then throws
    * unconditionally (review catch: grade_up/list_where on empty input
    * must return [], like DuckDB). */
  private def oneToN(n: Expression): Expression =
    If(LessThan(n, Literal(1)),
      Literal.create(Array.empty[Int],
        org.apache.spark.sql.types.ArrayType(IntegerType, containsNull = false)),
      Sequence(Literal(1), n, Some(Literal(1))))

  private def gradeUp(l: Expression): Expression = {
    val i = UnresolvedNamedLambdaVariable(Seq("gui"))
    val s = UnresolvedNamedLambdaVariable(Seq("gus"))
    val keyed = ArrayTransform(oneToN(Size(l)),
      LambdaFunction(CreateStruct(Seq(ElementAt(l, i), i)), Seq(i)))
    ArrayTransform(SortArray(keyed, Literal(true)),
      LambdaFunction(Cast(GetStructField(s, 1), LongType), Seq(s)))
  }

  /** Selection iterates the MASK's length (probed: a longer mask pads
    * the list side with NULL — list_where([1],[true,true]) = [1, NULL] —
    * and a shorter one truncates); NULL in either argument → NULL. */
  private def listWhere(l: Expression, mask: Expression): Expression = {
    val i = UnresolvedNamedLambdaVariable(Seq("lwi"))
    val j = UnresolvedNamedLambdaVariable(Seq("lwj"))
    val picked = ArrayFilter(oneToN(Size(mask)),
      LambdaFunction(EqualTo(ElementAt(mask, i), Literal(true)), Seq(i)))
    val body = ArrayTransform(picked,
      // out-of-range list positions pad with NULL, not error
      LambdaFunction(ElementAt(l, j, None, failOnError = false), Seq(j)))
    CaseWhen(Seq((And(IsNotNull(l), IsNotNull(mask)), body)), None)
  }

  /** NULL argument → NULL (probed); the inner Coalesce only absorbs
    * ArrayContains' three-valued unknown on a NON-null pair. */
  private def listHasAll(l: Expression, needle: Expression): Expression = {
    val x = UnresolvedNamedLambdaVariable(Seq("hax"))
    val body = Coalesce(Seq(ArrayForAll(nonNulls(needle),
      LambdaFunction(ArrayContains(l, x), Seq(x))), Literal(false)))
    CaseWhen(Seq((And(IsNotNull(l), IsNotNull(needle)), body)), None)
  }

  private def listHasAny(l: Expression, other: Expression): Expression = {
    val body = Coalesce(Seq(ArraysOverlap(nonNulls(l), nonNulls(other)), Literal(false)))
    CaseWhen(Seq((And(IsNotNull(l), IsNotNull(other)), body)), None)
  }

  private def listResize(l: Expression, size: Expression, pad: Option[Expression]): Expression = {
    val n = Cast(size, IntegerType)
    val cur = Size(l)
    // NULL of the ELEMENT type: coerced off the dead element_at branch.
    // (ElementAt with a NULL index evaluates to NULL but still REPORTS
    // nullable=false under ANSI, which zero-fills the repeat array.)
    val padV = pad.getOrElse(
      If(Literal(false), ElementAt(l, Literal(1)), Literal(null, NullType)))
    // ONE branchless concat — an If(truncate, pad) pair would differ only
    // in containsNull and the non-null branch's type wins, making the
    // unsafe writer render the NULL padding as zeros
    Concat(Seq(
      Slice(l, Literal(1), Greatest(Seq(Literal(0), Least(Seq(n, cur))))),
      ArrayRepeat(padV, Greatest(Seq(Literal(0), Subtract(n, cur))))))
  }

  private def listReduce(l: Expression, f: Expression): Expression = {
    val fin = UnresolvedNamedLambdaVariable(Seq("lrf"))
    val lam = f match {
      case lf: LambdaFunction => lf
      case other => throw new IllegalArgumentException(
        s"list_reduce expects a lambda (a, b) -> expr, got $other")
    }
    ArrayAggregate(
      Slice(l, Literal(2), Greatest(Seq(Literal(0), Subtract(Size(l), Literal(1))))),
      ElementAt(l, Literal(1)), lam, LambdaFunction(fin, Seq(fin)))
  }

  // ---------------------------------------------------------------------
  // Scalar gap batch: gcd/lcm, strip_accents, the parse_path family
  // (graft.functions.GapKernels — probe-pinned), and the two formatting
  // entry points. printf is C-style on BOTH engines (Spark's native
  // FormatString/java.util.Formatter accepts the common specifier set);
  // format is fmt-style `{}` holes, translated literally below. Both
  // return NULL when ANY argument is NULL (probed — FormatString alone
  // would print the string 'null').

  private def literalBool(e: Expression, fn: String): Boolean = e match {
    case Literal(v: Boolean, org.apache.spark.sql.types.BooleanType) => v
    case _ => throw new IllegalArgumentException(s"$fn requires a literal boolean")
  }

  /** Optional trailing separator-mode argument → separator characters. */
  private def sepArg(e: Option[Expression], fn: String): String =
    graft.functions.GapKernels.sepsFor(
      e.map(x => literalString(x, fn)).getOrElse("both_slash"))

  private def nullGuard(args: Seq[Expression], body: Expression): Expression =
    if (args.isEmpty) body
    else If(args.map(IsNull(_): Expression).reduce(Or),
      Literal(null, org.apache.spark.sql.types.StringType), body)

  /** Format-friendly arg: dates/timestamps render via their SQL string
    * form (FormatString would print the INTERNAL int/long), everything
    * else passes through. */
  private def fmtArg(e: Expression): Expression = e.dataType match {
    case org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType =>
      Cast(e, org.apache.spark.sql.types.StringType)
    // java.util.Formatter's %f/%e reject Spark's Decimal object (and a
    // bare SQL literal like 1.5 IS a decimal) — hand it a JVM double
    case _: org.apache.spark.sql.types.DecimalType |
         org.apache.spark.sql.types.FloatType =>
      Cast(e, org.apache.spark.sql.types.DoubleType)
    case _ => e
  }

  /** One fmt `{...}` hole → java conversion; returns (javaSpec, argIdx). */
  private def javaSpec(body: String, args: Seq[Expression], auto: Int,
                       fn: String): (String, Int, String) = {
    val (idxStr, spec) = body.indexOf(':') match {
      case -1 => (body, "")
      case k => (body.substring(0, k), body.substring(k + 1))
    }
    val explicit = idxStr.nonEmpty
    val argIdx = if (explicit) idxStr.toInt else auto
    require(argIdx >= 0 && argIdx < args.length,
      s"$fn: argument index $argIdx out of range (${args.length} args)")
    // [align][sign][0][width][,][.prec][type] — the probed fmt subset
    var i = 0
    var align = ' '
    if (i < spec.length && (spec.charAt(i) == '<' || spec.charAt(i) == '>')) {
      align = spec.charAt(i); i += 1
    }
    require(i >= spec.length || spec.charAt(i) != '^',
      s"$fn: center alignment '^' has no java.util.Formatter mapping")
    var sign = ""
    if (i < spec.length && spec.charAt(i) == '+') { sign = "+"; i += 1 }
    var zero = ""
    if (i < spec.length && spec.charAt(i) == '0') { zero = "0"; i += 1 }
    val wStart = i
    while (i < spec.length && spec.charAt(i).isDigit) i += 1
    val width = spec.substring(wStart, i)
    var comma = ""
    if (i < spec.length && spec.charAt(i) == ',') { comma = ","; i += 1 }
    var prec = ""
    if (i < spec.length && spec.charAt(i) == '.') {
      val pStart = i
      i += 1
      while (i < spec.length && spec.charAt(i).isDigit) i += 1
      prec = spec.substring(pStart, i)
    }
    // g/G excluded: fmt trims trailing zeros where java.util.Formatter
    // keeps them — an inexact mapping is worse than a loud error
    val tpe = if (i < spec.length) spec.substring(i) else ""
    require(tpe.isEmpty || (tpe.length == 1 && "dxXfFeEs".contains(tpe)),
      s"$fn: unsupported format spec '{$body}'")
    val isString = tpe == "s" || (tpe.isEmpty &&
      (!args(argIdx).resolved ||
        args(argIdx).dataType == org.apache.spark.sql.types.StringType))
    val conv = tpe match {
      case "" | "s" => "s"
      case "F" => "f"
      case t => t
    }
    // fmt defaults: strings LEFT-align, numbers RIGHT (java pads right
    // by default, so only the left case needs the '-' flag)
    // ('-' is only legal WITH a width in java's Formatter)
    val leftFlag = if (width.nonEmpty &&
      (align == '<' || (align == ' ' && isString && tpe.isEmpty))) "-" else ""
    ("%" + leftFlag + sign + comma + zero + width + prec + conv, argIdx, conv)
  }

  /** fmt-style `format(...)` — literal format strings only (the
    * strftime policy: a computed format would need a per-row parser). */
  private def translateFmt(a: Seq[Expression]): Expression = {
    val fmt = literalString(a.head, "format")
    val args = a.tail
    val out = new StringBuilder
    val picked = new scala.collection.mutable.ArrayBuffer[Expression]
    var auto = 0
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '{' && i + 1 < fmt.length && fmt.charAt(i + 1) == '{') {
        out.append('{'); i += 2
      } else if (c == '}' && i + 1 < fmt.length && fmt.charAt(i + 1) == '}') {
        out.append('}'); i += 2
      } else if (c == '{') {
        val close = fmt.indexOf('}', i)
        require(close > 0, s"format: unbalanced '{' at offset $i")
        val body = fmt.substring(i + 1, close)
        val (jspec, argIdx, conv) = javaSpec(body, args, auto, "format")
        if (body.indexOf(':') match {
          case -1 => body.isEmpty
          case k => k == 0
        }) auto += 1
        out.append(jspec)
        val arg = fmtArg(args(argIdx))
        picked += (conv match {
          // %s renders the SQL string form; %f/%e/%g need a JVM double
          case "s" => Cast(arg, org.apache.spark.sql.types.StringType)
          case "f" | "e" | "E" | "g" | "G" =>
            Cast(arg, org.apache.spark.sql.types.DoubleType)
          case _ => arg
        })
        i = close + 1
      } else {
        if (c == '%') out.append("%%") else out.append(c)
        i += 1
      }
    }
    nullGuard(args,
      FormatString((Literal(out.toString) +: picked.toSeq): _*))
  }

  private val gapBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.types.{LongType => LT}
    def g2(a: Seq[Expression]) =
      graft.functions.GcdL(Cast(a.head, LT), Cast(a(1), LT))
    def l2(a: Seq[Expression]) =
      graft.functions.LcmL(Cast(a.head, LT), Cast(a(1), LT))
    Seq(
      arity("gcd", 2)(g2),
      arity("greatest_common_divisor", 2)(g2),
      arity("lcm", 2)(l2),
      arity("least_common_multiple", 2)(l2),
      arity("strip_accents", 1)(a => graft.functions.StripAccents(a.head)),

      // numeric→integral casts with DuckDB's ROUNDING (Dialect
      // rewrites `::INT`-family casts in statement text to this;
      // [[graft.functions.DuckIntCast]] carries the probed matrix)
      "duck_icast" -> graft.functions.GraftExtensions.duckICastBuilder,

      // DuckDB's log() is LOG BASE 10 (the Postgres convention; probed
      // v1.0: log(100)=2) — Spark's SQL log() is ln, a silent VALUE
      // divergence on every 1-arg use. The 2-arg log(b, x) matches
      // Spark's Logarithm argument order (probed: log(2,8)=3).
      "log" -> { a =>
        a.length match {
          case 1 => Log10(a.head)
          case 2 => Logarithm(a.head, a(1))
          case n => throw new UserException(
            s"log expects 1-2 arguments, got $n")
        }
      },

      // DuckDB's 3-arg substring keeps the Postgres WINDOW semantics for
      // non-positive starts (probed v1.0: substring('abcdef',0,3)='ab',
      // (-10,3)='' — positions before 1 simply don't exist) where Spark
      // CLAMPS the start to 1 ('abc'). Positive starts agree; the 2-arg
      // negative-start from-end form agrees too.
      "substring" -> duckSubstringBuilder,
      "substr" -> duckSubstringBuilder,

      "parse_path" -> { a =>
        require(a.length == 1 || a.length == 2,
          s"parse_path expects 1-2 arguments, got ${a.length}")
        graft.functions.ParsePath(a.head, sepArg(a.lift(1), "parse_path"))
      },
      "parse_dirname" -> { a =>
        require(a.length == 1 || a.length == 2,
          s"parse_dirname expects 1-2 arguments, got ${a.length}")
        graft.functions.ParseDirname(a.head, sepArg(a.lift(1), "parse_dirname"))
      },
      "parse_dirpath" -> { a =>
        require(a.length == 1 || a.length == 2,
          s"parse_dirpath expects 1-2 arguments, got ${a.length}")
        graft.functions.ParseDirpath(a.head, sepArg(a.lift(1), "parse_dirpath"))
      },
      // (path[, trim_extension][, separator]) — the 2nd slot accepts a
      // bool OR a separator string (both DuckDB-legal)
      "parse_filename" -> { a =>
        require(a.length >= 1 && a.length <= 3,
          s"parse_filename expects 1-3 arguments, got ${a.length}")
        val (trim, sepOpt) = a.lift(1) match {
          case Some(Literal(v: Boolean, org.apache.spark.sql.types.BooleanType)) =>
            (v, a.lift(2))
          case Some(s @ Literal(_, org.apache.spark.sql.types.StringType)) =>
            require(a.length == 2, "parse_filename: separator must be last")
            (false, Some(s))
          case None => (false, None)
          case Some(other) => (literalBool(other, "parse_filename"), a.lift(2))
        }
        graft.functions.ParseFilename(a.head, trim, sepArg(sepOpt, "parse_filename"))
      },

      "printf" -> { a =>
        require(a.nonEmpty, "printf expects a format string")
        nullGuard(a.tail,
          FormatString((a.head +: a.tail.map(fmtArg)): _*))
      },
      "format" -> { a =>
        require(a.nonEmpty, "format expects a format string")
        translateFmt(a)
      })
  }

  // ---------------------------------------------------------------------
  // Datetime + arithmetic gap batch. DuckDB's date_diff counts PART
  // BOUNDARIES crossed (month from 01-31 to 02-01 is 1) while date_sub
  // counts FULL elapsed units (the timestampdiff semantic — 0 for that
  // pair); both probed v1.0. Boundary counting is truncation arithmetic
  // over native extracts; full units map to Spark's TimestampDiff.

  private def unixUs(e: Expression): Expression =
    UnixMicros(Cast(e, org.apache.spark.sql.types.TimestampType))

  /** floor division (IntegralDivide truncates toward zero; pre-1970
    * timestamps need the floor). */
  private def floorDivL(e: Expression, m: Long): Expression =
    IntegralDivide(Subtract(e, Pmod(e, Literal(m))), Literal(m))

  /** The part's boundary index — equal for two instants iff no 'part'
    * boundary lies between them. */
  private def boundaryIndex(part: String, e: Expression): Expression = {
    val us = unixUs(e)
    def yr = Year(Cast(e, org.apache.spark.sql.types.DateType))
    part match {
      case "microsecond" | "us" => us
      case "millisecond" | "ms" => floorDivL(us, 1000L)
      case "second" | "s" => floorDivL(us, 1000000L)
      case "minute" | "min" => floorDivL(us, 60000000L)
      case "hour" | "h" => floorDivL(us, 3600000000L)
      case "day" | "d" => floorDivL(us, 86400000000L)
      // ISO weeks: epoch day 0 was a Thursday; +3 aligns Mondays
      case "week" | "w" =>
        floorDivL(Add(floorDivL(us, 86400000000L), Literal(3L)), 7L)
      case "month" | "mon" =>
        Add(Multiply(Cast(yr, org.apache.spark.sql.types.LongType), Literal(12L)),
          Cast(Month(Cast(e, org.apache.spark.sql.types.DateType)),
            org.apache.spark.sql.types.LongType))
      case "quarter" =>
        Add(Multiply(Cast(yr, org.apache.spark.sql.types.LongType), Literal(4L)),
          Cast(Quarter(Cast(e, org.apache.spark.sql.types.DateType)),
            org.apache.spark.sql.types.LongType))
      case "year" | "y" => Cast(yr, org.apache.spark.sql.types.LongType)
      case "decade" =>
        floorDivL(Cast(yr, org.apache.spark.sql.types.LongType), 10L)
      case "century" =>
        floorDivL(Cast(yr, org.apache.spark.sql.types.LongType), 100L)
      case "millennium" =>
        floorDivL(Cast(yr, org.apache.spark.sql.types.LongType), 1000L)
      case other => throw new IllegalArgumentException(
        s"date_diff: unsupported part '$other'")
    }
  }

  private def normPart(e: Expression, fn: String): String = {
    val raw = literalString(e, fn).toLowerCase
    raw match {
      // irregular plurals DuckDB accepts (a blind s-strip would mangle)
      case "centuries" => "century"
      case "millennia" | "millenniums" => "millennium"
      case "mons" => "mon"
      case r if r.endsWith("s") && r != "us" && r != "ms" && r != "s" =>
        r.dropRight(1)
      case r => r
    }
  }

  /** Literal single-character escape for the like_escape family. */
  private def escChar(e: Expression, fn: String): Char = {
    val s = literalString(e, fn)
    require(s.length == 1, s"$fn: escape must be one character, got '$s'")
    s.charAt(0)
  }

  /** DuckDB's map_extract/element_at-on-map: [value] when the key is
    * present (even if its value is NULL), [] otherwise. The empty array
    * takes its element type from a zero-length slice of the same
    * value expression. */
  private def mapExtractList(m: Expression, k: Expression): Expression = {
    val v = ElementAt(m, k, None, failOnError = false)
    If(Coalesce(Seq(ArrayContains(MapKeys(m), k), Literal(false))),
      CreateArray(Seq(v)),
      Slice(CreateArray(Seq(v)), Literal(1), Literal(0)))
  }

  /** Spark type → DuckDB's typeof() spelling (probed v1.0). */
  private def duckTypeName(t: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType => "TINYINT"
      case ShortType => "SMALLINT"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "FLOAT"
      case DoubleType => "DOUBLE"
      case StringType => "VARCHAR"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case BinaryType => "BLOB"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case ArrayType(e, _) => duckTypeName(e) + "[]"
      case MapType(k, v, _) => s"MAP(${duckTypeName(k)}, ${duckTypeName(v)})"
      case s: StructType =>
        s.fields.map(f => s"${f.name} ${duckTypeName(f.dataType)}")
          .mkString("STRUCT(", ", ", ")")
      case other => other.sql
    }
  }

  /** n × unit months as a YEAR-MONTH interval. */
  private def ymInterval(n: Expression, monthsPerUnit: Int): Expression =
    MakeYMInterval(Literal(0),
      Cast(Multiply(Cast(n, org.apache.spark.sql.types.LongType),
        Literal(monthsPerUnit.toLong)), org.apache.spark.sql.types.IntegerType))

  private def dtIntervalDays(n: Expression, daysPerUnit: Int): Expression =
    MakeDTInterval(
      Cast(Multiply(Cast(n, org.apache.spark.sql.types.LongType),
        Literal(daysPerUnit.toLong)), org.apache.spark.sql.types.IntegerType),
      Literal(0), Literal(0), Literal(org.apache.spark.sql.types.Decimal(0, 16, 6)))

  /** n × unit microseconds as a DAY-TIME interval (exact decimal secs).
    * n stays FRACTIONAL through the arithmetic (probed v1.0, r17 sweep:
    * to_milliseconds(2.5) is 2500 µs, to_seconds(-0.5) is -500 ms —
    * the former long-cast truncated both). */
  private def dtIntervalUs(n: Expression, usPerUnit: Long): Expression = {
    import org.apache.spark.sql.types.{Decimal, DecimalType}
    val secsPerUnit = Literal(Decimal(
      BigDecimal(usPerUnit) / BigDecimal(1000000L), 16, 6))
    MakeDTInterval(Literal(0), Literal(0), Literal(0),
      Cast(Multiply(Cast(n, DecimalType(26, 6)), secsPerUnit),
        DecimalType(26, 6)))
  }

  private def dtBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.types.{DateType, LongType => LT, TimestampType => TT}
    def dateDiffB(a: Seq[Expression], fn: String): Expression = {
      require(a.length == 3, s"$fn expects 3 arguments (part, start, end)")
      val part = normPart(a.head, fn)
      Subtract(boundaryIndex(part, a(2)), boundaryIndex(part, a(1)))
    }
    // FULL elapsed units with DuckDB's clamped month addition (java.time
    // MONTHS.between — Spark's TimestampDiff — says 0 for 01-31→02-29
    // where DuckDB says 1: Jan 31 + 1 month CLAMPS to Feb 29). The
    // boundary-index diff over- or under-counts by at most one, so one
    // clamped-add comparison fixes it; time-based parts are exact
    // integral division on the microsecond span (truncation toward zero
    // = full units in either direction).
    def dateSubB(a: Seq[Expression], fn: String): Expression = {
      require(a.length == 3, s"$fn expects 3 arguments (part, start, end)")
      val part = normPart(a.head, fn)
      val tsA = Cast(a(1), TT)
      val tsB = Cast(a(2), TT)
      def timePart(unitUs: Long): Expression =
        IntegralDivide(Subtract(unixUs(a(2)), unixUs(a(1))), Literal(unitUs))
      val monthsPer = Map("month" -> 1L, "mon" -> 1L, "quarter" -> 3L,
        "year" -> 12L, "y" -> 12L, "decade" -> 120L, "century" -> 1200L,
        "millennium" -> 12000L)
      part match {
        case "microsecond" | "us" => timePart(1L)
        case "millisecond" | "ms" => timePart(1000L)
        case "second" | "s" => timePart(1000000L)
        case "minute" | "min" => timePart(60000000L)
        case "hour" | "h" => timePart(3600000000L)
        case "day" | "d" => timePart(86400000000L)
        case "week" | "w" => timePart(7L * 86400000000L)
        case p if monthsPer.contains(p) =>
          val k = monthsPer(p)
          val bm = Subtract(boundaryIndex("month", a(2)), boundaryIndex("month", a(1)))
          val f0 = IntegralDivide(bm, Literal(k))
          val added = TimestampAdd("MONTH",
            Cast(Multiply(f0, Literal(k)), org.apache.spark.sql.types.IntegerType), tsA)
          If(GreaterThanOrEqual(tsB, tsA),
            If(GreaterThan(added, tsB), Subtract(f0, Literal(1L)), f0),
            If(LessThan(added, tsB), Add(f0, Literal(1L)), f0))
        case other => throw new IllegalArgumentException(
          s"$fn: unsupported part '$other'")
      }
    }
    Seq(
      // renamed by Dialect (Spark's parser owns the bare spellings)
      "duck_date_diff" -> (a => dateDiffB(a, "date_diff")),
      "date_diff" -> (a => dateDiffB(a, "date_diff")),
      "datediff" -> (a => dateDiffB(a, "datediff")),
      // date_sub is dual-mode: Spark 4's Column API resolves sql.functions
      // BY NAME through the session registry, so the 2-arg Spark-native
      // form (start_date, num_days) must keep working after this override
      // (same Column-API-hijack class as the round-12 map/element_at fix;
      // the forms ARE distinguishable by arity, so both keep their owner)
      "date_sub" -> { a =>
        if (a.length == 2) DateSub(Cast(a.head, DateType), a(1))
        else dateSubB(a, "date_sub")
      },
      "datesub" -> (a => dateSubB(a, "datesub")),
      // date + integer days / + interval (the analyzer's binary-
      // arithmetic resolution picks the typed node)
      arity("date_add", 2)(a => Add(a.head, a(1))),

      arity("dayname", 1)(a => DateFormatClass(Cast(a.head, TT), Literal("EEEE"))),
      arity("monthname", 1)(a => DateFormatClass(Cast(a.head, TT), Literal("MMMM"))),
      // DuckDB weekday: Sunday = 0 (Spark's native weekday is Monday=0
      // — a silent off-by-one if left unbound)
      arity("weekday", 1)(a =>
        Cast(Subtract(DayOfWeek(Cast(a.head, DateType)), Literal(1)), LT)),
      // ISO year = year of that week's Thursday (weekday is Mon=0 here)
      arity("isoyear", 1) { a =>
        val d = Cast(a.head, DateType)
        Cast(Year(DateAdd(d, Subtract(Literal(3), WeekDay(d)))), LT)
      },
      arity("yearweek", 1) { a =>
        val d = Cast(a.head, DateType)
        val isoY = Year(DateAdd(d, Subtract(Literal(3), WeekDay(d))))
        Cast(Add(Multiply(isoY, Literal(100)), WeekOfYear(d)), LT)
      },
      // julian day number: unix days (+ fraction) + 2440588
      arity("julian", 1)(a =>
        Add(Divide(Cast(unixUs(a.head), org.apache.spark.sql.types.DoubleType),
          Literal(86400e6)), Literal(2440588.0))),
      arity("try_strptime", 2)(a => formatList(a(1)) match {
        // list form: first matching format, NULL when none match (probed)
        case Some(fmts) => Coalesce(fmts.map(f =>
          TryEval(duckParseTs(a.head, f))))
        case None => TryEval(duckParseTs(a.head,
          literalString(a(1), "try_strptime")))
      }),

      // banker's rounding (Spark's bround IS half-even)
      arity("round_even", 2)(a => BRound(a.head, a(1))),
      arity("roundbankers", 2)(a => BRound(a.head, a(1))),
      // next even integer away from zero (probed: even(2.0)=2,
      // even(0.1)=2, even(-2.9)=-4, even(3.0)=4)
      arity("even", 1) { a =>
        val x = Cast(a.head, org.apache.spark.sql.types.DoubleType)
        Multiply(
          If(LessThan(x, Literal(0.0)), Literal(-2.0), Literal(2.0)),
          Cast(Ceil(Divide(Abs(x), Literal(2.0))),
            org.apache.spark.sql.types.DoubleType))
      },
      // probed: signbit(-0.0) is FALSE in DuckDB — a plain < 0 test
      arity("signbit", 1)(a =>
        LessThan(Cast(a.head, org.apache.spark.sql.types.DoubleType), Literal(0.0))),
      arity("nextafter", 2)(a => graft.functions.NextAfterD(
        Cast(a.head, org.apache.spark.sql.types.DoubleType),
        Cast(a(1), org.apache.spark.sql.types.DoubleType))),

      // fdiv/fmod: floored division pair, NULL at zero divisor (probed —
      // floor(±Infinity) would error as a long under ANSI)
      arity("fdiv", 2) { a =>
        val x = Cast(a.head, org.apache.spark.sql.types.DoubleType)
        val y = Cast(a(1), org.apache.spark.sql.types.DoubleType)
        If(EqualTo(y, Literal(0.0)), nullD,
          Cast(Floor(Divide(x, y)), org.apache.spark.sql.types.DoubleType))
      },
      arity("fmod", 2) { a =>
        val x = Cast(a.head, org.apache.spark.sql.types.DoubleType)
        val y = Cast(a(1), org.apache.spark.sql.types.DoubleType)
        If(EqualTo(y, Literal(0.0)), nullD,
          Subtract(x, Multiply(
            Cast(Floor(Divide(x, y)), org.apache.spark.sql.types.DoubleType), y)))
      },

      // operator spellings as functions; divide() on two integrals is
      // DuckDB's INTEGER division (probed: divide(7,2)=3, 7.0/2=3.5).
      // divide/duck_div/duck_mod dispatch on RESOLVED child types inside
      // RuntimeReplaceable (graft.functions.DuckArithExprs, r17): DuckDB
      // types ALL `/` DOUBLE and yields NULL on /0, //0 and %0 where
      // Spark's ANSI mode keeps DECIMAL and raises DIVIDE_BY_ZERO.
      // unary overloads exist too (probed: add(7)=7, subtract(7)=-7)
      "add" -> { a =>
        require(a.length == 1 || a.length == 2,
          s"add expects 1-2 arguments, got ${a.length}")
        if (a.length == 1) a.head else Add(a.head, a(1))
      },
      "subtract" -> { a =>
        require(a.length == 1 || a.length == 2,
          s"subtract expects 1-2 arguments, got ${a.length}")
        if (a.length == 1) UnaryMinus(a.head) else Subtract(a.head, a(1))
      },
      arity("multiply", 2)(a => Multiply(a.head, a(1))),
      arity("divide", 2)(a => graft.functions.DuckFloorDiv(a.head, a(1))),
      arity("duck_div", 2)(a => graft.functions.DuckDiv(a.head, a(1))),
      arity("duck_mod", 2)(a => graft.functions.DuckMod(a.head, a(1))),

      // sequence value functions over the SequenceSql catalog (the
      // statements themselves are executor-dispatched, like COPY)
      arity("nextval", 1)(a => graft.functions.NextVal(a.head)),
      arity("currval", 1)(a => graft.functions.CurrVal(a.head)),

      // post-1.0 UUID family (reference pins DuckDB 1.4/1.5; v1.0 probes
      // the names MISSING — RFC 9562 semantics, spec-pinned on the RFC's
      // own test vectors): uuidv4 = the native random UUID, uuidv7 the
      // time-ordered surrogate-key form, extractors for both
      arity("uuidv4", 0)(_ => org.apache.spark.sql.catalyst.expressions.Uuid()),
      arity("uuidv7", 0)(_ => graft.functions.UuidV7()),
      arity("uuid_extract_version", 1)(a =>
        graft.functions.UuidExtractVersion(a.head)),
      arity("uuid_extract_timestamp", 1)(a =>
        graft.functions.UuidExtractTimestamp(a.head)),

      // fill()'s interpolation axis (emitted by Dialect's fill lowering —
      // never user-spelled): numeric/DATE/TIMESTAMP keys → one DOUBLE
      arity("duck_fill_pos", 1)(a => graft.functions.FillPos(a.head)),

      // GLOB / ~~~ operator target (the dialect's match-op rewrite)
      arity("duck_glob", 2)(a => graft.functions.GlobMatch(a.head, a(1))),

      arity("regexp_escape", 1)(a => graft.functions.RegexpEscape(a.head)),
      arity("md5_number_lower", 1)(a => graft.functions.Md5HalfU(a.head, upper = false)),
      arity("md5_number_upper", 1)(a => graft.functions.Md5HalfU(a.head, upper = true)),
      arity("format_bytes", 1)(a =>
        graft.functions.FormatBytes(Cast(a.head, LT), decimalUnits = false)),
      arity("formatReadableSize", 1)(a =>
        graft.functions.FormatBytes(Cast(a.head, LT), decimalUnits = false)),
      arity("formatReadableDecimalSize", 1)(a =>
        graft.functions.FormatBytes(Cast(a.head, LT), decimalUnits = true)),

      // DuckDB's chr is full UNICODE (chr(128077) is the emoji); Spark's
      // native chr wraps at 256 (n % 256) — a silent mangling if unbound
      arity("chr", 1)(a => graft.functions.UnicodeChr(a.head)),

      // grapheme-cluster string functions (UAX #29 subset — see
      // graft.functions.Graphemes for the documented boundary)
      arity("length_grapheme", 1)(a => graft.functions.LengthGrapheme(a.head)),
      arity("left_grapheme", 2)(a =>
        graft.functions.SideGrapheme(a.head, a(1), fromLeft = true)),
      arity("right_grapheme", 2)(a =>
        graft.functions.SideGrapheme(a.head, a(1), fromLeft = false)),
      "substring_grapheme" -> { a =>
        require(a.length == 2 || a.length == 3,
          s"substring_grapheme expects 2-3 arguments, got ${a.length}")
        graft.functions.SubstringGrapheme(a.head, a(1),
          a.lift(2).getOrElse(Literal(Long.MaxValue / 4)))
      },

      // interval constructors — month-based names build YEAR-MONTH
      // intervals (true calendar months: ts + to_months(1) clamps at
      // month ends exactly like DuckDB), time-based names build
      // DAY-TIME intervals
      arity("to_years", 1)(a => ymInterval(a.head, 12)),
      arity("to_decades", 1)(a => ymInterval(a.head, 120)),
      arity("to_centuries", 1)(a => ymInterval(a.head, 1200)),
      arity("to_millennia", 1)(a => ymInterval(a.head, 12000)),
      arity("to_quarters", 1)(a => ymInterval(a.head, 3)),
      arity("to_months", 1)(a => ymInterval(a.head, 1)),
      arity("to_weeks", 1)(a => dtIntervalDays(a.head, 7)),
      arity("to_days", 1)(a => dtIntervalDays(a.head, 1)),
      arity("to_hours", 1)(a => dtIntervalUs(a.head, 3600000000L)),
      arity("to_minutes", 1)(a => dtIntervalUs(a.head, 60000000L)),
      arity("to_seconds", 1)(a => dtIntervalUs(a.head, 1000000L)),
      arity("to_milliseconds", 1)(a => dtIntervalUs(a.head, 1000L)),
      arity("to_microseconds", 1)(a => dtIntervalUs(a.head, 1L)),

      // LIKE with an explicit escape character (the *_escape quartet)
      arity("like_escape", 3)(a => Like(a.head, a(1), escChar(a(2), "like_escape"))),
      arity("not_like_escape", 3)(a =>
        Not(Like(a.head, a(1), escChar(a(2), "not_like_escape")))),
      arity("ilike_escape", 3)(a =>
        new ILike(a.head, a(1), escChar(a(2), "ilike_escape"))),
      arity("not_ilike_escape", 3)(a =>
        Not(new ILike(a.head, a(1), escChar(a(2), "not_ilike_escape")))),

      // DuckDB's map() takes TWO LISTS (keys, values). Spark 4's Column
      // API resolves sql.functions BY NAME through the same registry, so
      // the binding must keep the native variadic form working too —
      // dual-mode: exactly two ARRAY args → MapFromArrays, anything
      // else → Spark's CreateMap pairs. (element_at stays UNBOUND with
      // Spark semantics — see the duck_subscript note below; the r15
      // rebind attempt showed Column-API element_at resolves BY NAME
      // through this registry, so a DuckDB list-returning rebind would
      // hijack every internal array lookup.)
      "map" -> { a =>
        def isArray(e: Expression) = e.resolved &&
          e.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
        if (a.length == 2 && isArray(a.head) && isArray(a(1)))
          MapFromArrays(a.head, a(1))
        else CreateMap(a)
      },
      arity("map_extract", 2)(a => mapExtractList(a.head, a(1))),
      // element_at stays UNBOUND (Spark semantics): Spark 4's Column-API
      // functions.element_at resolves BY NAME through this registry, so
      // DuckDB's map-only list-returning form would hijack every
      // internal array lookup (s08/t02/t03's included — verified by
      // attempting the rebind in r15). DuckDB scripts get the list form
      // under map_extract and the bracket subscript; the element_at
      // NAME's type difference is the recorded deviation.
      // bracket subscripts ([[Brackets]]) dispatch on the base type at
      // resolution: MAP bases take DuckDB's list form ([v] / [] / [NULL]
      // — probed v1.0), everything else the 1-based NULL-out-of-range
      // element lookup
      arity("duck_subscript", 2) { a =>
        if (a.head.resolved &&
            a.head.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
          mapExtractList(a.head, a(1))
        else ElementAt(a.head, a(1), None, failOnError = false)
      },

      // exact histogram: the list_histogram expression over the group's
      // collected values — key TYPE preserved, keys sorted, NULLs
      // skipped, exactly DuckDB's map. (Buffers the group's values —
      // the exact-aggregate trade documented on MadAgg.)
      arity("histogram", 1)(a => listHistogram(
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .CollectList(a.head).toAggregateExpression())),

      // approximate quantile: both engines promise only an
      // approximation — Spark's t-digest stands in for the reservoir
      "reservoir_quantile" -> { a =>
        require(a.length == 2 || a.length == 3,
          s"reservoir_quantile expects 2-3 arguments, got ${a.length}")
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .ApproximatePercentile(a.head, a(1))
      },

      // typeof: the argument's DuckDB type spelling as a constant (the
      // type is an analysis-time fact; a literal is what DuckDB's own
      // constant folding produces too)
      arity("typeof", 1) { a =>
        require(a.head.resolved,
          "typeof: argument type not resolved at bind time")
        Literal(duckTypeName(a.head.dataType))
      },

      // 3-vector cross product over list columns
      arity("array_cross_product", 2) { a =>
        def e(x: Expression, i: Int) =
          Cast(ElementAt(x, Literal(i)), org.apache.spark.sql.types.DoubleType)
        val (l, r) = (a.head, a(1))
        CreateArray(Seq(
          Subtract(Multiply(e(l, 2), e(r, 3)), Multiply(e(l, 3), e(r, 2))),
          Subtract(Multiply(e(l, 3), e(r, 1)), Multiply(e(l, 1), e(r, 3))),
          Subtract(Multiply(e(l, 1), e(r, 2)), Multiply(e(l, 2), e(r, 1)))))
      })
  }

  // ── post-1.0 histogram / type-introspection names (round 15) ────────
  // DuckDB ≥ 1.1/1.2 surface the reference's pinned engines carry; the
  // local v1.0 oracle cannot parse the names, so semantics are
  // SPEC-PINNED from the published docs (graft.functions.HistogramExprs
  // documents the one internal the docs leave unstated — the other-bin
  // sentinel — and keeps the histogram_exact/is_histogram_other_bin
  // pair self-consistent).

  /** Literal element expressions out of a foldable array argument —
    * the parser hands `['a','b']` (Brackets-lowered to `array(...)`) as
    * an UnresolvedFunction at registry-build time. All elements must be
    * same-typed literals: the map KEY type (and the other-bin sentinel)
    * is fixed at build, before any coercion runs. */
  private def literalElems(e: Expression, fn: String): Seq[Literal] = {
    val children = e match {
      case CreateArray(cs, _) => cs
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if Seq("array", "list_value", "list_pack")
            .contains(u.nameParts.last.toLowerCase) => u.arguments
      // the documented composition `histogram(x, equi_width_bins(...))`
      // arrives with the inner call still unresolved at build time —
      // resolve it here (its boundaries are literals by construction)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if u.nameParts.last.equalsIgnoreCase("equi_width_bins") =>
        equiWidthBins(u.arguments).children
      case _ => throw new IllegalArgumentException(
        s"$fn requires a literal list of elements, got: ${e.sql}")
    }
    val lits = children.map {
      case l: Literal if l.value != null => l
      case c => throw new IllegalArgumentException(
        s"$fn requires literal non-NULL elements, got: ${c.sql}")
    }
    if (lits.isEmpty)
      throw new IllegalArgumentException(s"$fn: the element list is empty")
    if (lits.map(_.dataType).distinct.length != 1)
      throw new IllegalArgumentException(
        s"$fn: elements must share one type, got " +
          lits.map(_.dataType.simpleString).distinct.mkString(", "))
    lits
  }

  private def literalValue(e: Expression, fn: String, what: String): Any =
    e match {
      case Literal(v, _) if v != null => v
      case _ => throw new IllegalArgumentException(
        s"$fn requires a literal $what, got: ${e.sql}")
    }

  /** equi_width_bins(min, max, bin_count[, nice]) → CreateArray of the
    * bins' UPPER boundary literals. Literal numeric arguments (bin
    * lists are written by hand for a histogram); nice=true snaps the
    * step to {1, 2, 2.5, 5}·10^k multiples covering [min, max] (bin
    * count may then differ from the request — the documented nice
    * contract). Integral inputs yield BIGINT boundaries (non-even
    * divisions round, last boundary = max exactly); otherwise DOUBLE. */
  private def equiWidthBins(a: Seq[Expression]): CreateArray = {
    import org.apache.spark.sql.types._
    require(a.length == 3 || a.length == 4,
      s"equi_width_bins expects (min, max, bin_count[, nice]), got ${a.length} args")
    val fn = "equi_width_bins"
    def num(e: Expression, what: String): Double =
      literalValue(e, fn, what) match {
        case n: Number => n.doubleValue()
        case d: Decimal => d.toDouble
        case other => throw new IllegalArgumentException(
          s"$fn: $what must be numeric, got $other")
      }
    val lo = num(a(0), "min"); val hi = num(a(1), "max")
    val n = num(a(2), "bin_count").toInt
    val nice = a.length == 4 && (literalValue(a(3), fn, "nice") match {
      case b: java.lang.Boolean => b.booleanValue()
      case other => throw new IllegalArgumentException(
        s"$fn: nice must be a boolean literal, got $other")
    })
    if (!(hi > lo)) throw new IllegalArgumentException(
      s"$fn: max ($hi) must exceed min ($lo)")
    if (n <= 0) throw new IllegalArgumentException(
      s"$fn: bin_count must be positive, got $n")
    val integral = Seq(a(0), a(1)).forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    val bounds: Seq[Double] =
      if (!nice) (1 to n).map(i => lo + (hi - lo) * i / n)
      else {
        val raw = (hi - lo) / n
        val mag = math.pow(10, math.floor(math.log10(raw)))
        val step = Seq(1.0, 2.0, 2.5, 5.0, 10.0).map(_ * mag)
          .find(_ >= raw).get
        val first = math.floor(lo / step).toLong + 1
        val last = math.ceil(hi / step).toLong
        (first to last).map(_ * step)
      }
    if (integral && bounds.forall(b => b == math.rint(b)))
      CreateArray(bounds.map(b => Literal(b.toLong)))
    else if (integral)
      CreateArray(bounds.map(b => Literal(math.rint(b).toLong)).distinct)
    else CreateArray(bounds.map(Literal(_)))
  }

  private lazy val histBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    import org.apache.spark.sql.types._
    Seq(
      // histogram_exact(x, [e1, e2, ...]) → MAP(element → count), the
      // requested elements always present (0 counts included) plus a
      // catch-all "other" bin — present only when non-empty — whose key
      // is HistogramExprs.sentinelFor(keyType); NULL x ignored (SQL
      // aggregate convention). One pass: each bin is a Sum(If(...)),
      // map-side combinable, no per-row state.
      arity("histogram_exact", 2) { a =>
        val x = a.head
        val elems = literalElems(a(1), "histogram_exact")
        val keyType = elems.head.dataType
        def cnt(pred: Expression) =
          Sum(If(pred, Literal(1L), Literal(0L))).toAggregateExpression()
        val entries: Seq[Expression] = elems.flatMap(l =>
          Seq(l, cnt(EqualNullSafe(x, l))))
        val sentinel = Literal(
          graft.functions.HistogramExprs.sentinelFor(keyType), keyType)
        val otherCnt = cnt(And(IsNotNull(x), Not(In(x, elems))))
        val k = UnresolvedNamedLambdaVariable(Seq("hx_k"))
        val v = UnresolvedNamedLambdaVariable(Seq("hx_v"))
        MapFilter(
          CreateMap(entries ++ Seq(sentinel, otherCnt)),
          LambdaFunction(
            Or(Not(graft.functions.IsHistogramOtherBin(k)),
              GreaterThan(v, Literal(0L))), Seq(k, v)))
      },

      // equi_width_bins(min, max, bin_count[, nice]) → LIST of the bins'
      // UPPER boundaries ([[equiWidthBins]]; also composable INSIDE the
      // two-arg histogram below, the documented pairing).
      "equi_width_bins" -> { a => equiWidthBins(a) },

      // two-arg histogram(x, boundaries) — boundary BUCKETING (DuckDB ≥
      // 1.1; the equi_width_bins consumer): x counts into the SMALLEST
      // boundary ≥ x (first bin unbounded below), values above the last
      // boundary land in the typed other bin; NULLs ignored. Dispatches
      // on arity over the same name as the exact one-arg histogram (the
      // date_sub dual-mode rule — this binding registers LAST and owns
      // the name). Same one-pass Sum(If) shape as histogram_exact.
      "histogram" -> { a =>
        import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, Sum}
        a.length match {
          case 1 => listHistogram(
            new CollectList(a.head).toAggregateExpression())
          case 2 =>
            val x = a.head
            val bounds = literalElems(a(1), "histogram")
            val keyType = bounds.head.dataType
            locally { // boundaries must ascend strictly — loud otherwise
              val ord = org.apache.spark.sql.catalyst.util.TypeUtils
                .getInterpretedOrdering(keyType)
              bounds.map(_.value).sliding(2).foreach {
                case Seq(p, q) if ord.gteq(p, q) =>
                  throw new IllegalArgumentException(
                    "histogram: boundaries must be strictly ascending")
                case _ => ()
              }
            }
            def cnt(pred: Expression) =
              Sum(If(pred, Literal(1L), Literal(0L))).toAggregateExpression()
            val entries: Seq[Expression] =
              bounds.zipWithIndex.flatMap { case (b, i) =>
                val inBin =
                  if (i == 0) LessThanOrEqual(x, b)
                  else And(GreaterThan(x, bounds(i - 1)), LessThanOrEqual(x, b))
                Seq(b, cnt(And(IsNotNull(x), inBin)))
              }
            val sentinel = Literal(
              graft.functions.HistogramExprs.sentinelFor(keyType), keyType)
            val otherCnt = cnt(And(IsNotNull(x), GreaterThan(x, bounds.last)))
            val k = UnresolvedNamedLambdaVariable(Seq("hb_k"))
            val v = UnresolvedNamedLambdaVariable(Seq("hb_v"))
            MapFilter(
              CreateMap(entries ++ Seq(sentinel, otherCnt)),
              LambdaFunction(
                Or(Not(graft.functions.IsHistogramOtherBin(k)),
                  GreaterThan(v, Literal(0L))), Seq(k, v)))
          case n => throw new IllegalArgumentException(
            s"histogram expects 1 or 2 arguments, got $n")
        }
      },

      // SQL variables (DuckDB ≥ 1.1): the stored value as a literal at
      // the consuming statement's analysis ([[VariableSql]])
      arity("getvariable", 1)(a => VariableSql.literalFor(a.head)),

      arity("is_histogram_other_bin", 1)(a =>
        graft.functions.IsHistogramOtherBin(a.head)),
      arity("parse_duration", 1)(a => graft.functions.ParseDuration(a.head)),
      arity("can_cast_implicitly", 2)(a =>
        graft.functions.CanCastImplicitly(a.head, a(1))))
  }

  /** Bind every DuckDB name on a running session (idempotent). `compat`
    * is the resolved A26 engine-compatibility version: names whose
    * [[Versions.FunctionFloors]] floor exceeds it bind to a LOUD
    * version-error thrower — the same failure a reference user gets from
    * the version-matched engine (a 1.4.4-pinned run has no
    * weighted_avg), never a silent fallthrough. */
  /** r17 sweep bindings over SHARED names — DuckDB spellings that
    * previously resolved through Spark's native registry with silently
    * different semantics (tools/function_sweep.py caught each; all
    * probed v1.0). The date-part names gain INTERVAL component
    * extraction via [[graft.functions.DuckIntervalPart]]; their
    * non-interval fallbacks are the native constructs with explicit
    * casts (replacements are not re-analyzed, so no implicit coercion). */
  private[graft] lazy val sweepBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.types.{DateType, LongType, TimestampType}
    import graft.functions.DuckIntervalPart
    def tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    def asDate(e: Expression) = Cast(e, DateType, tz)
    def asTs(e: Expression) = Cast(e, TimestampType, tz)
    Seq(
      // interval-aware date parts (fallback = the calendar meaning)
      arity("duck_year", 1)(a => DuckIntervalPart(a.head, "year",
        e => Year(asDate(e)))),
      arity("duck_month", 1)(a => DuckIntervalPart(a.head, "month",
        e => Month(asDate(e)))),
      arity("duck_day", 1)(a => DuckIntervalPart(a.head, "day",
        e => DayOfMonth(asDate(e)))),
      arity("duck_dayofmonth", 1)(a => DuckIntervalPart(a.head, "day",
        e => DayOfMonth(asDate(e)))),
      arity("duck_quarter", 1)(a => DuckIntervalPart(a.head, "quarter",
        e => Quarter(asDate(e)))),
      arity("duck_hour", 1)(a => DuckIntervalPart(a.head, "hour",
        e => Hour(asTs(e), tz))),
      arity("duck_minute", 1)(a => DuckIntervalPart(a.head, "minute",
        e => Minute(asTs(e), tz))),
      arity("duck_second", 1)(a => DuckIntervalPart(a.head, "second",
        e => Second(asTs(e), tz))),
      // DuckDB's dayofweek is 0-based Sunday (probed: Sunday = 0, BIGINT)
      // where Spark's is 1-based — a silent off-by-one on every use
      arity("duck_dayofweek", 1)(a =>
        Cast(Subtract(DayOfWeek(a.head), Literal(1)), LongType)),
      // 2-arg trim family: DuckDB is (string, chars); Spark's native
      // 2-arg form binds (trimStr, string) — a silent argument swap
      "duck_ltrim" -> { a =>
        if (a.length == 1) StringTrimLeft(a.head)
        else StringTrimLeft(a.head, a(1))
      },
      "duck_rtrim" -> { a =>
        if (a.length == 1) StringTrimRight(a.head)
        else StringTrimRight(a.head, a(1))
      },
      "duck_trim" -> { a =>
        if (a.length == 1) StringTrim(a.head)
        else StringTrim(a.head, a(1))
      },
      // 1-arg greatest/least/trunc are legal in DuckDB (identity /
      // truncate-toward-zero); factorial(n < 0) is 1, not NULL
      "duck_greatest" -> (a => if (a.length == 1) a.head else Greatest(a)),
      "duck_least" -> (a => if (a.length == 1) a.head else Least(a)),
      "duck_trunc" -> { a =>
        if (a.length == 1)
          If(GreaterThanOrEqual(a.head, Literal(0)),
            Floor(a.head), Ceil(a.head))
        else TruncDate(a.head, a(1))
      },
      arity("duck_factorial", 1)(a =>
        If(LessThan(a.head, Literal(0)), Literal(1L), Factorial(a.head))),
      // scalar range(): END-EXCLUSIVE list (probed: range(7) = [0..6],
      // range(10,0,-2) = [10,8,..,2], wrong-direction bounds → [])
      "range" -> { a =>
        require(a.length >= 1 && a.length <= 3,
          s"range expects 1-3 arguments, got ${a.length}")
        def lit0 = Literal(0L)
        val (lo, hi, step) =
          if (a.length == 1) (lit0: Expression, Cast(a.head, LongType),
            Literal(1L): Expression)
          else (Cast(a.head, LongType), Cast(a(1), LongType),
            if (a.length == 3) Cast(a(2), LongType) else Literal(1L))
        val emptyArr = Literal.create(Seq.empty[Long],
          org.apache.spark.sql.types.ArrayType(LongType, containsNull = false))
        val up = Sequence(lo, Subtract(hi, Literal(1L)), Some(step))
        val down = Sequence(lo, Add(hi, Literal(1L)), Some(step))
        CaseWhen(Seq(
          (And(GreaterThan(step, lit0), LessThan(lo, hi)), up),
          (And(LessThan(step, lit0), GreaterThan(lo, hi)), down)),
          Some(emptyArr))
      },
      // 1-arg make_timestamp takes MICROSECONDS since the epoch (probed)
      "duck_make_timestamp" -> { a =>
        if (a.length == 1) MicrosToTimestamp(Cast(a.head, LongType))
        else MakeTimestamp(a.head, a(1), a(2), a(3), a(4), a(5), None)
      },
      // regexp_extract: 2-arg returns the WHOLE match (group 0); an
      // out-of-range group index yields '' in DuckDB, never an error
      "duck_regexp_extract" -> { a =>
        require(a.length == 2 || a.length == 3,
          s"regexp_extract expects 2-3 arguments, got ${a.length}")
        if (a.length == 2) RegExpExtract(a.head, a(1), Literal(0))
        else If(Or(IsNull(a.head), IsNull(a(1))),
          Literal.create(null, org.apache.spark.sql.types.StringType),
          Coalesce(Seq(TryEval(RegExpExtract(a.head, a(1), a(2))),
            Literal(""))))
      },
      // polymorphic length (list → element count, like len)
      arity("duck_length", 1)(a => graft.functions.PolyLen(a.head)),
      // Γ / ln|Γ| (C tgamma/lgamma — codegen'd Lanczos)
      // median over every orderable type (r17 aggregate sweep):
      // strings/bools lower-middle, dates/timestamps interpolate
      arity("duck_median", 1)(a => graft.functions.DuckMedian(a.head)),
      arity("gamma", 1)(a => graft.functions.GammaExpr(
        Cast(a.head, org.apache.spark.sql.types.DoubleType), ln = false)),
      arity("lgamma", 1)(a => graft.functions.GammaExpr(
        Cast(a.head, org.apache.spark.sql.types.DoubleType), ln = true)))
  }

  /** Every name this registry binds (the r17 differential sweep's
    * corpus source — tools/function_sweep.py). */
  def names: Seq[String] =
    (builders ++ round12Builders ++ jsonBuilders ++ simStatBuilders ++
      listStatBuilders ++ gapBuilders ++ dtBuilders ++ histBuilders ++
      sweepBuilders)
      .map(_._1)

  def register(spark: SparkSession,
               compat: String = Versions.Default): Unit =
    (builders ++ round12Builders ++ jsonBuilders ++ simStatBuilders ++
      listStatBuilders ++ gapBuilders ++ dtBuilders ++ histBuilders ++
      sweepBuilders)
      .foreach { case (name, build) =>
        val gated: Seq[Expression] => Expression =
          if (Versions.supports(compat, name)) build
          else { _ =>
            throw new UserException(
              s"$name requires DuckDB >= ${Versions.FunctionFloors(name)} " +
                s"(this run pins compatibility version $compat)")
          }
        GraftSqlBridge.registerFunction(spark, name, gated)
      }
}
