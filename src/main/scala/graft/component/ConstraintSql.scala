package graft.component

/** Bare-DDL column constraints: `DEFAULT expr`, `NOT NULL`, `CHECK (..)`
  * and table/column-level `UNIQUE` — parsed out of `CREATE TABLE (cols)`
  * items so the executor can REPRODUCE their behavior instead of
  * stripping it (probed v1.0: a partial-column INSERT fills DEFAULTs,
  * NOT NULL and CHECK violations are constraint errors, DEFAULT as a
  * VALUES keyword draws the declared default, and a UNIQUE column is an
  * upsert conflict target). FOREIGN KEY / REFERENCES and COLLATE are
  * recognized and stripped — referential enforcement stays out of scope
  * (documented; the reference's per-run workspace rarely carries it) but
  * must not break the schema parse.
  *
  * Reference surface: the component hands DDL verbatim to DuckDB
  * (keboola/component-duckdb-transformation src/query_orchestrator.py). */
object ConstraintSql {

  /** One parsed column item. `cleaned` is `name type` with every
    * constraint removed — the text StructType.fromDDL receives. */
  final case class Col(
      name: String,
      cleaned: String,
      notNull: Boolean,
      default: Option[String],
      checks: Seq[String],
      unique: Boolean)

  /** A full column list's parse: columns plus table-level constraints. */
  final case class Parsed(
      cols: Seq[Col],
      tableChecks: Seq[String],
      uniqueSets: Seq[Seq[String]])

  private val constraintKw =
    Set("not", "null", "default", "check", "primary", "unique",
      "references", "collate", "foreign")

  private def stripQuotes(s: String): String =
    s.stripPrefix("\"").stripSuffix("\"").stripPrefix("`").stripSuffix("`")

  /** Forward-scan one DEFAULT value: quoted literal, parenthesized
    * expression, `ident(args)` call, or a bare token — optionally
    * followed by `::type` casts and chained through binary operators
    * (`1+1`, `'a'||'b'`, `2*3::INT`), so an unparenthesized compound
    * default is consumed whole and any FOLLOWING constraints still
    * parse (r16 ADVICE: the one-primary scan silently truncated the
    * value and dropped trailing NOT NULL/CHECK). Returns end
    * (exclusive). */
  private def valueEnd(item: String, masked: String, from: Int): Int = {
    var i = from
    while (i < item.length && item.charAt(i).isWhitespace) i += 1
    if (i >= item.length) return i
    def onePrimary(): Unit = {
      val c = item.charAt(i)
      if (masked.charAt(i) != c) { // quoted literal
        if (c == '\'') i = Dialect.spanEnd(item, i)
        else i += 1
      } else if (c == '(') {
        val close = Dialect.matchingParen(masked, i)
        i = if (close > 0) close + 1 else item.length
      } else if (c == '-' || c == '+') { i += 1; onePrimary() }
      else {
        while (i < item.length && (item.charAt(i).isLetterOrDigit ||
          item.charAt(i) == '_' || item.charAt(i) == '.')) i += 1
        if (i < item.length && item.charAt(i) == '(') { // a call
          val close = Dialect.matchingParen(masked, i)
          i = if (close > 0) close + 1 else item.length
        }
      }
      // trailing :: casts bind to the primary
      while (i + 1 < item.length && item.charAt(i) == ':' &&
        item.charAt(i + 1) == ':') {
        i += 2
        while (i < item.length && (item.charAt(i).isLetterOrDigit ||
          item.charAt(i) == '_')) i += 1
        if (i < item.length && item.charAt(i) == '(') {
          val close = Dialect.matchingParen(masked, i)
          i = if (close > 0) close + 1 else item.length
        }
      }
    }
    onePrimary()
    // binary-operator chain: op then another primary, repeatedly
    var chained = true
    while (chained) {
      var j = i
      while (j < item.length && item.charAt(j).isWhitespace) j += 1
      val op =
        if (j + 1 < item.length && (item.substring(j, j + 2) == "||" ||
          item.substring(j, j + 2) == "**")) 2
        else if (j < item.length && "+-*/%^".contains(item.charAt(j)) &&
          masked.charAt(j) == item.charAt(j)) 1
        else 0
      if (op == 0) chained = false
      else {
        i = j + op
        while (i < item.length && item.charAt(i).isWhitespace) i += 1
        if (i >= item.length) chained = false else onePrimary()
      }
    }
    i
  }

  /** Parse one COLUMN item (`name type [constraints...]`). */
  def parseColumn(item0: String): Option[Col] = {
    val item = item0.trim
    if (item.isEmpty) return None
    val masked = Dialect.maskQuoted(item)
    val dep = Dialect.depths(masked)
    // the column name: quoted span or identifier
    var i = 0
    val name =
      if (item.charAt(0) == '"' || item.charAt(0) == '`') {
        val q = item.charAt(0)
        val e = item.indexOf(q, 1)
        if (e < 0) return None
        i = e + 1
        item.substring(1, e)
      } else {
        while (i < item.length && (item.charAt(i).isLetterOrDigit ||
          item.charAt(i) == '_')) i += 1
        if (i == 0) return None
        item.substring(0, i)
      }
    // find the first depth-0 constraint keyword after the type begins
    val words = "[A-Za-z_]\\w*".r.findAllMatchIn(masked).toList
      .filter(m => m.start >= i && dep(m.start) == 0)
    // the first word is the TYPE head — never a constraint; scan after it
    val constraintStart = words.drop(1)
      .find(m => constraintKw(m.group(0).toLowerCase)).map(_.start)
      .getOrElse(item.length)
    val cleaned = s"`${stripQuotes(name)}` " +
      item.substring(i, constraintStart).trim
    var notNull = false
    var default: Option[String] = None
    val checks = scala.collection.mutable.ListBuffer[String]()
    var unique = false
    var p = constraintStart
    while (p < item.length) {
      val rest = masked.substring(p)
      def skip(n: Int): Unit = p += n
      val m = "(?is)^\\s*(NOT\\s+NULL|NULL|DEFAULT|CHECK|PRIMARY\\s+KEY|UNIQUE|REFERENCES|COLLATE|FOREIGN\\s+KEY)\\b".r
        .findFirstMatchIn(rest)
      m match {
        case None =>
          // unknown trailing text is NOT silently discarded — a parse
          // hole here would fill wrong defaults / skip enforcement
          // (the loud-reject contract; r16 ADVICE)
          if (rest.trim.nonEmpty) throw new UserException(
            s"unsupported column-constraint syntax after `$name`: " +
              s"'${rest.trim.take(60)}' — supported: NOT NULL, DEFAULT, " +
              "CHECK, PRIMARY KEY, UNIQUE, REFERENCES, COLLATE")
          p = item.length
        case Some(mm) =>
          mm.group(1).toUpperCase.replaceAll("\\s+", " ") match {
            case "NOT NULL" => notNull = true; skip(mm.end)
            case "NULL" => skip(mm.end)
            case "PRIMARY KEY" => notNull = true; skip(mm.end) // PK cols reject NULL
            case "UNIQUE" => unique = true; skip(mm.end)
            case "DEFAULT" =>
              val vs = p + mm.end
              val ve = valueEnd(item, masked, vs)
              default = Some(item.substring(vs, ve).trim)
              p = ve
            case "CHECK" =>
              val open = masked.indexOf('(', p + mm.end)
              if (open < 0) p = item.length
              else {
                val close = Dialect.matchingParen(masked, open)
                if (close < 0) p = item.length
                else { checks += item.substring(open + 1, close).trim; p = close + 1 }
              }
            case "REFERENCES" =>
              // REFERENCES tbl [(cols)] — consume and ignore (no FK
              // enforcement; documented boundary)
              val vs = p + mm.end
              val ve = valueEnd(item, masked, vs)
              p = ve
            case "COLLATE" =>
              val vs = p + mm.end
              val ve = valueEnd(item, masked, vs)
              p = ve
            case _ => p = item.length
          }
      }
    }
    Some(Col(stripQuotes(name), cleaned, notNull, default, checks.toList, unique))
  }

  /** Classify and parse a full item list (already split at top commas).
    * PRIMARY KEY table items are the CALLER's (existing pk extraction);
    * they are skipped here. */
  def parse(items: Seq[String]): Parsed = {
    val cols = scala.collection.mutable.ListBuffer[Col]()
    val tChecks = scala.collection.mutable.ListBuffer[String]()
    val uniques = scala.collection.mutable.ListBuffer[Seq[String]]()
    items.foreach { it0 =>
      val it = it0.trim
      if ("(?is)^PRIMARY\\s+KEY\\b".r.findFirstIn(it).isDefined) ()
      else if ("(?is)^FOREIGN\\s+KEY\\b".r.findFirstIn(it).isDefined) ()
      else if ("(?is)^CHECK\\s*\\(".r.findFirstIn(it).isDefined) {
        val masked = Dialect.maskQuoted(it)
        val open = masked.indexOf('(')
        val close = Dialect.matchingParen(masked, open)
        if (close > 0) tChecks += it.substring(open + 1, close).trim
      } else if ("(?is)^UNIQUE\\s*\\(".r.findFirstIn(it).isDefined) {
        val masked = Dialect.maskQuoted(it)
        val open = masked.indexOf('(')
        val close = Dialect.matchingParen(masked, open)
        if (close > 0)
          uniques += it.substring(open + 1, close).split(",")
            .map(c => stripQuotes(c.trim)).toSeq
      } else parseColumn(it).foreach { c =>
        cols += c
        if (c.unique) uniques += Seq(c.name)
      }
    }
    Parsed(cols.toList, tChecks.toList, uniques.toList)
  }

  /** A bare-DDL column list as the executor declares it: the PRIMARY KEY
    * columns (extracted before the constraint strip, in both spellings:
    * `k INT PRIMARY KEY` and `PRIMARY KEY (a, b)` — they feed the upsert
    * surface), the constraints, and the Spark schema. Static analysis
    * parses the same list, so a column list this throws on is the
    * statement's syntax_check error. */
  final case class Table(pk: Seq[String], parsed: Parsed,
                         schema: org.apache.spark.sql.types.StructType)

  def table(colDefs: String): Table = {
    val items = Dialect.splitTop(colDefs).filter(_.nonEmpty)
    val pk = items.flatMap { it =>
      "(?is)^PRIMARY\\s+KEY\\s*\\((.*)\\)\\s*$".r.findFirstMatchIn(it) match {
        case Some(m) => m.group(1).split(",").map(c => stripQuotes(c.trim)).toSeq
        case None if "(?is)\\bPRIMARY\\s+KEY\\b".r.findFirstIn(it).isDefined =>
          Seq(stripQuotes(it.split("[\\s(]", 2).head))
        case None => Nil
      }
    }
    val parsed = parse(items)
    val cleaned = parsed.cols.map(_.cleaned).mkString(", ")
      .replaceAll("(?i)\\bVARCHAR\\b(?!\\s*\\()", "STRING")
    Table(pk, parsed, org.apache.spark.sql.types.StructType.fromDDL(cleaned))
  }
}
