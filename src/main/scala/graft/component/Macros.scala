package graft.component

import scala.collection.concurrent.TrieMap

/** DuckDB `CREATE MACRO` — scalar SQL macros in user scripts. DuckDB
  * inlines a macro's body at bind time, so the faithful Spark-side
  * implementation is TEXTUAL expansion at statement-rewrite time: the
  * definition registers (name, params, body); later statements have
  * every `name(args)` call replaced by the body with `(arg)` substituted
  * for each parameter (parenthesized — operator precedence inside the
  * argument must not leak into the body, same reason C macros
  * parenthesize). TABLE macros (`CREATE MACRO m(x) AS TABLE SELECT ...`)
  * ride the SAME machinery: the expansion wraps in parentheses, which in
  * FROM position reads as a derived table — `FROM m(3)` becomes
  * `FROM (SELECT ... 3 ...)`. DEFAULT parameters (`y := 5`, r15) bind by
  * the probed v1.0 rules: positionals cover exactly the non-default
  * parameters and named `k := v` arguments bind only to defaults —
  * violations raise the DuckDB-shaped binder errors. `CREATE FUNCTION`
  * is the probed full alias; DROP MACRO/FUNCTION deregisters (missing
  * names error unless IF EXISTS). Overloads stay out of scope (loud
  * parse error at syntax check, never a silent difference).
  *
  * The definition statement itself rewrites to an inert one-row SELECT
  * so the planner/executor see a dependency-free no-op in its place. */
object Macros {

  /** `params` are the positional names; `defaults` the `name := expr`
    * tail (probed v1.0: named arguments bind ONLY to default parameters,
    * positionals must cover exactly the non-default ones). */
  final case class Macro(params: Seq[String], defaults: Seq[(String, String)],
      body: String)

  private val defs = TrieMap[String, Macro]()

  /** Reset (per component run — DuckDB macros live per database session,
    * and a process-global registry must not leak across runs). */
  def clear(): Unit = defs.clear()

  private[component] def defined(name: String): Option[Macro] =
    defs.get(name.toLowerCase)

  // head only up to the parameter-list open paren: the list itself is
  // scanned with matchingParen so defaults containing parens
  // (`y := f(1)`) parse instead of failing the whole regex (r16 ADVICE)
  private val createHeadRe =
    ("(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?(?:MACRO|FUNCTION)\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*\\(").r

  // DROP MACRO / DROP FUNCTION [TABLE] [IF EXISTS] name (probed v1.0:
  // FUNCTION is a full alias of MACRO, missing names error, the TABLE
  // keyword is accepted for table macros)
  private val dropRe =
    ("(?is)^\\s*DROP\\s+(?:MACRO|FUNCTION)\\s+(?:TABLE\\s+)?(IF\\s+EXISTS\\s+)?" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r

  /** Register a definition (→ inert SELECT), drop one, or expand call
    * sites. */
  def rewrite(stmt: String, masked: String): String = {
    dropRe.findFirstMatchIn(stmt).foreach { m =>
      val had = defs.remove(m.group(2).toLowerCase).isDefined
      if (!had && m.group(1) == null)
        throw new UserException(
          s"Macro Function with name ${m.group(2)} does not exist!")
      return s"SELECT '${m.group(2)}' AS __graft_macro_dropped"
    }
    val trimmed = stmt.trim.stripSuffix(";")
    createHeadRe.findFirstMatchIn(trimmed) match {
      case Some(h) =>
        val name = h.group(1)
        val lead = stmt.indexWhere(_ > ' ')
        val open = h.end - 1
        val close = Dialect.matchingParen(
          masked.substring(lead, lead + trimmed.length), open)
        if (close < 0) throw new UserException(
          s"unbalanced parameter list in CREATE MACRO $name")
        val rest = trimmed.substring(close + 1)
        val bodyM = "(?is)^\\s*AS\\s+(.*)$".r.findFirstMatchIn(rest)
          .getOrElse(throw new UserException(
            s"unsupported CREATE MACRO form for $name — expected " +
              s"`AS <expression>` after the parameter list, got: " +
              s"'${rest.trim.take(60)}'"))
        val items = Dialect.splitTop(trimmed.substring(open + 1, close))
          .filter(_.nonEmpty)
        val (defItems, posItems) = items.partition(_.contains(":="))
        val params = posItems.map(_.trim)
        // probed v1.0: default values must be CONSTANTS — numbers,
        // strings, NULL, booleans; `y := 1+2`, `y := f(1)`, `y := [1,2]`
        // all raise `Parser Error: Invalid parameter`. Reproduce the
        // loud reject instead of registering an unprobed extension.
        val literalRe =
          "(?is)^(?:[+-]?\\d+(?:\\.\\d+)?(?:e[+-]?\\d+)?|'(?:[^']|'')*'|NULL|TRUE|FALSE)$".r
        val defaults = defItems.map { d =>
          val Array(n, v) = d.split(":=", 2)
          if (literalRe.findFirstIn(v.trim).isEmpty)
            throw new UserException(s"Invalid parameter: '${v.trim}' — " +
              "macro default values must be constant literals (probed " +
              "DuckDB rule)")
          (n.trim, v.trim)
        }
        // TABLE macro: the keyword drops; the body is a query whose
        // parenthesized expansion is a derived table in FROM position
        val body = bodyM.group(1).trim.replaceFirst("(?is)^TABLE\\s+", "")
        defs.put(name.toLowerCase, Macro(params, defaults, body))
        s"SELECT '$name' AS __graft_macro_registered"
      case None => expand(stmt, masked)
    }
  }

  /** Expand every registered macro call in `stmt` (outside quoted
    * regions), leftmost call first, the expansion's own calls next, so
    * macros may call macros. A macro calling itself adds sites without
    * end, so the pass keeps a loud bound: a REPLACEMENT budget, not a
    * round count — a statement with many independent calls is
    * legitimate; only a recursive macro (ever-growing text) trips it. */
  private[component] def expand(stmt: String): String =
    Dialect.run(stmt, Dialect.Whole(expand(_, _)))

  private def expand(stmt0: String, masked: String): String = {
    if (defs.isEmpty) return stmt0
    var replacements = 0
    def budget(stmt: String): Unit =
      if (replacements > 10000 || stmt.length > 1000000)
        throw new UserException(
          s"macro expansion did not terminate (recursive macro?): $stmt0")
    // binder-rule violations throw the probed DuckDB messages (r15 —
    // was leave-alone); qualified names (a.f()) are column/struct
    // accesses, not macros
    val (out, _) = Dialect.splice(stmt0, masked, callRe) { (stmt, masked, m) =>
      budget(stmt)
      val mac = defs.get(m.group(1).toLowerCase)
      val close = if (mac.isEmpty) -1 else Dialect.matchingParen(masked, m.end - 1)
      if (close < m.end) Dialect.Skip(m.end)
      else {
        replacements += 1
        Dialect.Splice(m.start, close + 1,
          "(" + call(mac.get, m.group(1), stmt.substring(m.end, close)) + ")")
      }
    }
    budget(out)
    out
  }

  private val callRe = "(?i)(?<![\\w.])([A-Za-z_][A-Za-z0-9_]*)\\s*\\(".r

  /** The body of one call of `mac` (named `name` at the call site) with
    * its argument text bound. */
  private def call(mac: Macro, name: String, argsStr: String): String = {
    val args = Dialect.splitTop(argsStr)
    // probed v1.0 binding: named `k := v` arguments bind ONLY to
    // default parameters (unknown name is a binder error);
    // positionals must cover exactly the non-default parameters
    val namedRe = "(?s)^\\s*([A-Za-z_]\\w*)\\s*:=\\s*(.*)$".r
    val (named0, positional) = args.partition(a =>
      namedRe.findFirstIn(a).isDefined)
    val named = named0.map { a =>
      val mm = namedRe.findFirstMatchIn(a).get
      (mm.group(1), mm.group(2))
    }
    val defNames = mac.defaults.map(_._1.toLowerCase).toSet
    named.find(n => !defNames(n._1.toLowerCase)).foreach(n =>
      throw new UserException(
        s"Macro $name does not have default parameter ${n._1}!"))
    if (positional.length != mac.params.length)
      throw new UserException(
        s"Macro function '$name(${mac.params.mkString(", ")})' " +
          s"requires ${mac.params.length} positional argument(s), but " +
          s"${positional.length} were provided")
    val namedMap = named.map { case (k, v) => k.toLowerCase -> v }.toMap
    val defaultArgs = mac.defaults.map { case (n, dflt) =>
      namedMap.getOrElse(n.toLowerCase, dflt)
    }
    substitute(mac, positional ++ defaultArgs)
  }

  private def substitute(mac: Macro, args: Seq[String]): String = {
    var body = mac.body
    for ((p, a) <- (mac.params ++ mac.defaults.map(_._1)).zip(args)) {
      val re = ("(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(p) + "\\b").r
      // mask-aware: a parameter name inside a string literal stays put
      body = Dialect.replaceUnquoted(body, re)(_ => "(" + a.trim + ")")
    }
    body
  }
}
