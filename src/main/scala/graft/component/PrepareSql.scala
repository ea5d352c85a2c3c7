package graft.component

/** `PREPARE name AS <statement>` / `EXECUTE name(args)` / `DEALLOCATE
  * [PREPARE] name` — DuckDB's prepared statements (v1.0 surface, probed;
  * the reference passes them to the engine verbatim,
  * `/root/reference/src/query_orchestrator.py:351`). Spark has no
  * PREPARE, so the executor keeps a per-run template catalog and EXECUTE
  * substitutes the argument text into the parameter slots, then
  * re-dispatches the substituted statement through the normal
  * [[Executor.runStatement]] path (any statement kind, RETURNING
  * included).
  *
  * Probed v1.0 parameter rules (pinned in StatementSurfaceSpec):
  *  - `?` auto-increment positional; `$1`-style NUMBERED (1-based into
  *    the positional argument list); `$name` named, supplied as
  *    `EXECUTE q(name := expr)`;
  *  - missing parameters are a loud error NAMING them; re-PREPARE of a
  *    name silently replaces; DEALLOCATE of an unknown name is a silent
  *    no-op while EXECUTE of one errors.
  * Argument expressions splice parenthesized, so operator precedence
  * survives textual substitution. */
object PrepareSql {

  final case class Prepared(name: String, body: String)
  final case class Executed(name: String, args: Seq[String],
                            named: Map[String, String])

  private val prepHead =
    "(?is)^\\s*PREPARE\\s+([A-Za-z_]\\w*)\\s+AS\\s+(.+)$".r
  private val execHead =
    "(?is)^\\s*EXECUTE\\s+([A-Za-z_]\\w*)\\s*(\\(.*\\))?\\s*;?\\s*$".r
  private val deallocHead =
    "(?is)^\\s*DEALLOCATE\\s+(?:PREPARE\\s+)?([A-Za-z_]\\w*)\\s*;?\\s*$".r

  def parsePrepare(stmt: String): Option[Prepared] =
    prepHead.findFirstMatchIn(stmt.trim.stripSuffix(";"))
      .map(m => Prepared(m.group(1).toLowerCase, m.group(2).trim))

  def parseDeallocate(stmt: String): Option[String] =
    deallocHead.findFirstMatchIn(stmt).map(_.group(1).toLowerCase)

  def parseExecute(stmt: String): Option[Executed] = {
    val m = execHead.findFirstMatchIn(stmt).getOrElse(return None)
    val name = m.group(1).toLowerCase
    val argsTxt = Option(m.group(2)).map(_.trim) match {
      case Some(t) if t.nonEmpty =>
        // paren-balanced? the regex is greedy to the trailing ')'
        t.substring(1, t.length - 1)
      case _ => ""
    }
    val parts = Dialect.splitTop(argsTxt).filter(_.nonEmpty)
    val (namedParts, posParts) = parts.partition(p =>
      "(?is)^\\s*[A-Za-z_]\\w*\\s*:=".r.findFirstIn(
        Dialect.maskQuoted(p)).isDefined)
    val named = namedParts.map { p =>
      val at = Dialect.maskQuoted(p).indexOf(":=")
      (p.substring(0, at).trim.toLowerCase, p.substring(at + 2).trim)
    }.toMap
    Some(Executed(name, posParts, named))
  }

  /** The template with every parameter slot replaced by its argument
    * text (parenthesized). Slots are scanned OUTSIDE quoted regions. */
  def substitute(body: String, e: Executed): String = {
    val missing = scala.collection.mutable.LinkedHashSet[String]()
    val result = substituteWith(body,
      n => if (n >= 1 && n <= e.args.length) Some(e.args(n - 1)) else None,
      name => e.named.get(name),
      miss => { missing += miss; "NULL" })
    if (missing.nonEmpty)
      throw new UserException(
        "EXECUTE " + e.name + ": values were not provided for the " +
          s"following prepared statement parameters: ${missing.mkString(", ")}")
    result
  }

  /** The template with every parameter slot as NULL: the statement static
    * analysis classifies for a PREPARE. */
  def nullBody(p: Prepared): String =
    substituteWith(p.body, _ => Some("NULL"), _ => Some("NULL"), _ => "NULL")

  private def substituteWith(body: String,
                             pos: Int => Option[String],
                             named: String => Option[String],
                             onMissing: String => String): String = {
    val masked = Dialect.maskQuoted(body)
    val out = new StringBuilder
    var i = 0
    var qmark = 0 // auto-increment `?` counter (1-based)
    def positional(n: Int, slot: String): String =
      pos(n).map(v => s"($v)").getOrElse(onMissing(slot))
    while (i < body.length) {
      val c = body.charAt(i)
      if (masked.charAt(i) != c) { out.append(c); i += 1 } // quoted text
      else if (c == '?') {
        qmark += 1
        out.append(positional(qmark, qmark.toString))
        i += 1
      } else if (c == '$' && i + 1 < body.length &&
          (body.charAt(i + 1).isLetterOrDigit || body.charAt(i + 1) == '_')) {
        var j = i + 1
        while (j < body.length &&
          (body.charAt(j).isLetterOrDigit || body.charAt(j) == '_')) j += 1
        val tok = body.substring(i + 1, j)
        if (tok.forall(_.isDigit)) out.append(positional(tok.toInt, tok))
        else named(tok.toLowerCase) match {
          case Some(v) => out.append(s"($v)")
          case None => out.append(onMissing(tok))
        }
        i = j
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

}
