package graft.component

import scala.collection.concurrent.TrieMap

/** `CREATE TYPE name AS <base>` / `DROP TYPE [IF EXISTS] name` — DuckDB
  * user-defined types: ALIASES (textual substitution in type positions)
  * and, since r16, ENUMs (dictionary encoding).
  *
  * Alias scope (the exactly-expressible subset): alias types over any
  * base the engine's statement pipeline already accepts — the alias
  * substitutes to its base text and then behaves EXACTLY as if the user
  * had written the base inline (same parse, same lowering, same loud
  * failure modes).
  *
  * ENUM bases encode as a single-field struct
  * `STRUCT<__ge_<name>: SMALLINT>` holding the DEFINITION INDEX — the
  * probed v1.0 semantics ride Spark natively: struct ordering is by the
  * index field, so ORDER BY / min / max / same-enum comparisons follow
  * definition order ('sad'<'ok'<'happy'); enum-vs-VARCHAR comparisons
  * and string-function arguments DECODE to the label first (probed v1.0:
  * those compare lexically — `m < 'happy'` is false for 'ok' — and
  * functions auto-cast to VARCHAR), via
  * [[graft.functions.GraftExtensions.DuckEnumRule]]. SMALLINT bounds the
  * label count at 32767 (DuckDB's physical type grows UINT8→UINT16 on
  * the same boundary shape). UNION bases keep the loud reject in
  * [[Dialect.rewritePragma]] (tagged values have no Spark twin).
  *
  * Probed v1.0 rules (all pinned in TypeSqlSpec):
  *  - duplicate CREATE TYPE errors ("already exists");
  *  - nested aliases resolve AT CREATION (CREATE TYPE b AS a; DROP TYPE
  *    a — b keeps working as a's base);
  *  - DROP TYPE of a missing name errors, IF EXISTS is silent;
  *  - names are case-insensitive.
  * `OR REPLACE` / `IF NOT EXISTS` modifiers are v1.0 parse errors but
  * 1.4-era spellings; they take their natural semantics here
  * (spec-pinned — the upsert-RETURNING precedent).
  *
  * The store is process-global like the sequence catalog — statements
  * in one code run in order, so a CREATE TYPE is visible to every later
  * statement; the DAG orders creators before users through
  * [[typeDeps]] and the CREATE TYPE contract in [[SqlAnalyzer]] (the
  * nextval dependency-injection pattern).
  */
object TypeSql {

  final case class Create(name: String, base: String, orReplace: Boolean,
      ifNotExists: Boolean)

  private val store = TrieMap[String, String]() // lower name -> base text
  // lower enum name -> definition-order labels
  private val enums = TrieMap[String, IndexedSeq[String]]()
  // lower enum name -> alias type names created over it (probed v1.0:
  // DROP TYPE of an enum with a dependent alias type errors)
  private val enumAliasDeps = TrieMap[String, Set[String]]()

  private val createRe =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?TYPE\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([A-Za-z_]\\w*|\"[^\"]+\")\\s+AS\\s+" +
      "(.+?);?\\s*$").r
  private val dropRe =
    ("(?is)^\\s*DROP\\s+TYPE\\s+(IF\\s+EXISTS\\s+)?([A-Za-z_]\\w*|\"[^\"]+\")" +
      "\\s*(CASCADE|RESTRICT)?\\s*;?\\s*$").r

  private[component] def norm(name: String): String =
    name.stripPrefix("\"").stripSuffix("\"").toLowerCase

  def parseCreate(stmt: String): Option[Create] =
    createRe.findFirstMatchIn(stmt).map(m =>
      Create(m.group(3), m.group(4).trim,
        orReplace = m.group(1) != null, ifNotExists = m.group(2) != null))

  def parseDrop(stmt: String): Option[(String, Boolean)] =
    dropRe.findFirstMatchIn(stmt).map { m =>
      if (m.group(3) != null && m.group(3).equalsIgnoreCase("CASCADE"))
        throw new UserException(
          "DROP TYPE ... CASCADE is not supported: drop the dependent " +
            "tables/types first (RESTRICT is the default behavior)")
      (m.group(2), m.group(1) != null)
    }

  /** Base text an ENUM/UNION gate can inspect (pre-registration). */
  def baseOf(stmt: String): Option[String] = parseCreate(stmt).map(_.base)

  // ------------------------------------------------------------- enums

  /** The struct field marker carrying an enum column's identity: the
    * single field `__ge_<name>` (SMALLINT definition index). */
  def enumFieldName(lowerName: String): String = s"__ge_$lowerName"

  def enumStructText(lowerName: String): String =
    s"STRUCT<${enumFieldName(lowerName)}: SMALLINT>"

  /** Definition-order labels of a registered enum. */
  def enumValues(lowerName: String): Option[IndexedSeq[String]] =
    enums.get(lowerName)

  /** Fast path for the analysis rule: any enums registered this run? */
  def anyEnums: Boolean = enums.nonEmpty

  /** Resolve a bare type-position text through the alias store (the
    * ALTER TABLE column paths parse type text OUTSIDE the statement
    * positions [[substitute]] covers). */
  def resolveTypeText(t: String): String =
    store.getOrElse(t.trim.toLowerCase, t.trim)

  /** DuckDB-shaped rendering for introspection surfaces (probed v1.0:
    * pragma_table_info / information_schema show `ENUM('a', 'b')`). */
  def enumRendered(lowerName: String): Option[String] =
    enums.get(lowerName).map(_.map(v =>
      "'" + v.replace("'", "''") + "'").mkString("ENUM(", ", ", ")"))

  private val enumBaseRe = "(?is)^ENUM\\s*\\((.*)\\)\\s*$".r

  /** Parse an `ENUM ('a', 'b', ...)` base's label list ('' escapes). */
  def parseEnumBase(base: String): Option[IndexedSeq[String]] =
    enumBaseRe.findFirstMatchIn(base.trim).map { m =>
      val inner = m.group(1)
      val out = IndexedSeq.newBuilder[String]
      var i = 0
      while (i < inner.length) {
        val c = inner.charAt(i)
        if (c == '\'') {
          val sb = new StringBuilder
          i += 1
          var done = false
          while (!done && i < inner.length) {
            val ch = inner.charAt(i)
            if (ch == '\'' && i + 1 < inner.length && inner.charAt(i + 1) == '\'') {
              sb.append('\''); i += 2
            } else if (ch == '\'') { done = true; i += 1 }
            else { sb.append(ch); i += 1 }
          }
          if (!done) throw new UserException(
            s"unterminated string in ENUM definition: $base")
          out += sb.toString
        } else if (c == ',' || c.isWhitespace) i += 1
        else throw new UserException(
          s"unsupported ENUM definition element at '${inner.substring(i).take(20)}'" +
            " — labels must be string literals")
      }
      out.result()
    }

  // ------------------------------------------------------- create/drop

  def create(c: Create): Unit = {
    val key = norm(c.name)
    if (store.contains(key) && !c.orReplace) {
      if (c.ifNotExists) return
      throw new UserException(
        s"""Type with name "${norm(c.name)}" already exists""")
    }
    val base = c.base.trim
    parseEnumBase(base) match {
      case Some(values) =>
        // probed v1.0: duplicate labels error; empty enums are legal
        values.groupBy(identity).collectFirst {
          case (v, vs) if vs.size > 1 => v
        }.foreach { v =>
          throw new UserException("Invalid Input Error: Attempted to " +
            s"create ENUM type with duplicate value $v")
        }
        if (values.size > Short.MaxValue)
          throw new UserException(
            s"ENUM type $key exceeds the ${Short.MaxValue}-label bound")
        enums.put(key, values)
        store.put(key, enumStructText(key))
      case None =>
        // nested aliases resolve at creation (probed v1.0): DROP of the
        // inner alias later must not break this one. Whole-base aliases
        // resolve exactly; alias names INSIDE a composite spelling stay
        // textual (a STRUCT field could legally share an alias's name)
        val resolved = store.getOrElse(base.toLowerCase, base)
        // alias over an enum: record the dependency (probed v1.0: the
        // enum's DROP then errors while the alias exists)
        enums.keys.find(en => resolved == enumStructText(en)).foreach { en =>
          enumAliasDeps.put(en, enumAliasDeps.getOrElse(en, Set()) + key)
        }
        store.put(key, resolved)
    }
  }

  /** Drop a type. For enums, refuse while dependent alias types or (when
    * a session is supplied) tables with columns of the enum exist —
    * probed v1.0 dependency behavior. */
  def drop(name: String, ifExists: Boolean,
      spark: Option[org.apache.spark.sql.SparkSession] = None): Unit = {
    val key = norm(name)
    if (enums.contains(key) && store.contains(key)) {
      enumAliasDeps.getOrElse(key, Set())
        .find(a => store.get(a).contains(enumStructText(key)))
        .foreach { a =>
          throw new UserException(
            s"""Cannot drop entry "$key" because there are entries that """ +
              s"""depend on it.\ntype "$a" depends on type "$key".""")
        }
      val field = enumFieldName(key)
      spark.foreach { s =>
        import org.apache.spark.sql.types.StructType
        val dep = s.catalog.listTables().collect().iterator.map(_.name)
          .find { t =>
            try s.table(t).schema.exists(f => f.dataType match {
              case st: StructType =>
                st.fields.length == 1 && st.fields(0).name == field
              case _ => false
            })
            catch { case _: Throwable => false }
          }
        dep.foreach { t =>
          throw new UserException(
            s"""Cannot drop entry "$key" because there are entries that """ +
              s"""depend on it.\ntable "$t" depends on type "$key".""")
        }
      }
    }
    val had = store.remove(key).isDefined
    if (!had && !ifExists)
      throw new UserException(
        s"Type with name ${norm(name)} does not exist")
    if (had) {
      enums.remove(key)
      enumAliasDeps.remove(key)
      // this name may itself be an alias recorded as an enum dependent
      enumAliasDeps.keys.foreach(en =>
        enumAliasDeps.put(en, enumAliasDeps.getOrElse(en, Set()) - key))
    }
  }

  def reset(): Unit = { store.clear(); enums.clear(); enumAliasDeps.clear() }

  /** CREATE TYPE DDL for every registered type — enums first (aliases
    * may reference them), alias bases rendered back to the enum NAME
    * where they resolved to one. Feeds EXPORT DATABASE's schema.sql and
    * the warehouse `.types.sql` passthrough (DuckDB persists types in
    * the database file — the reference's passthrough contract,
    * `/root/reference/src/component.py:58-66`). */
  def exportDdl: Seq[String] = {
    def ident(n: String): String =
      if (n.matches("[A-Za-z_]\\w*")) n else "\"" + n + "\""
    val enumDdl = enums.toSeq.sortBy(_._1).map { case (n, vs) =>
      s"CREATE TYPE ${ident(n)} AS " +
        vs.map(v => "'" + v.replace("'", "''") + "'")
          .mkString("ENUM (", ", ", ")") + ";"
    }
    val aliasDdl = store.toSeq.filterNot { case (n, _) => enums.contains(n) }
      .sortBy(_._1).map { case (n, base) =>
        val b = enums.keys.find(en => base == enumStructText(en))
          .map(ident).getOrElse(base)
        s"CREATE TYPE ${ident(n)} AS $b;"
      }
    enumDdl ++ aliasDdl
  }

  /** Replay a `.types.sql` script (idempotent — OR REPLACE semantics,
    * a reloaded warehouse must not trip the duplicate error). */
  def loadDdl(script: String): Unit =
    Dialect.prepare(script).foreach { st =>
      parseCreate(st).foreach(c => create(c.copy(orReplace = true)))
    }

  /** Replace registered alias names in PROVABLE type positions:
    * `::name`, the type slot of `CAST(... AS name)` / `TRY_CAST`, and
    * column-definition types inside a plain CREATE TABLE (cols) list.
    * Positions are matched on masked text so literals never rewrite. */
  def substitute(stmt0: String): String = {
    if (store.isEmpty) return stmt0
    var stmt = stmt0
    var guard = 0
    var changed = true
    while (changed && guard < 8) {
      guard += 1
      changed = false
      val masked = Dialect.maskQuoted(stmt)
      val edits = scala.collection.mutable.ListBuffer[(Int, Int, String)]()
      val nameAlt = store.keys.map(java.util.regex.Pattern.quote).mkString("|")
      // 1) :: cast spelling
      s"(?i)::\\s*($nameAlt)\\b".r.findAllMatchIn(masked).foreach { m =>
        val off = m.end - m.group(1).length
        edits += ((off, m.end, store(m.group(1).toLowerCase)))
      }
      // 2) CAST / TRY_CAST type slot: last top-depth AS before the close
      "(?i)\\b(?:TRY_)?CAST\\s*\\(".r.findAllMatchIn(masked).foreach { m =>
        val open = m.end - 1
        val close = Dialect.matchingParen(masked, open)
        if (close > 0) {
          val inner = masked.substring(open + 1, close)
          val dep = Dialect.depths(inner)
          "(?i)\\bAS\\b".r.findAllMatchIn(inner).toList.reverse
            .find(a => dep(a.start) == 0).foreach { a =>
              val slot = inner.substring(a.end)
              s"(?i)^\\s*($nameAlt)\\s*$$".r.findFirstMatchIn(slot)
                .foreach { t =>
                  val s0 = open + 1 + a.end + t.start(1)
                  edits += ((s0, s0 + t.group(1).length,
                    store(t.group(1).toLowerCase)))
                }
            }
        }
      }
      // 3) CREATE TABLE (col type, ...) column definitions — the plain
      // (non-AS-SELECT) form only
      "(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?(?:[A-Za-z_]\\w*|\"[^\"]+\"|`[^`]+`)\\s*\\(".r
        .findFirstMatchIn(masked).foreach { m =>
          val open = m.end - 1
          val close = Dialect.matchingParen(masked, open)
          val isCtas = close > 0 &&
            "(?is)^\\s*AS\\s*\\(?\\s*SELECT\\b".r
              .findFirstIn(masked.substring(close + 1)).isDefined
          if (close > 0 && !isCtas) {
            val inner = stmt.substring(open + 1, close)
            val innerMasked = masked.substring(open + 1, close)
            val dep = Dialect.depths(innerMasked)
            // top-depth comma-separated column defs; the TYPE token is
            // the second token of a `name type ...` segment (constraint
            // rows start with keywords that are never registered names)
            val cuts = 0 +: innerMasked.indices
              .filter(i => innerMasked(i) == ',' && dep(i) == 0)
              .map(_ + 1) :+ (inner.length + 1)
            cuts.sliding(2).foreach { case Seq(s, e) =>
              val seg = inner.substring(s, math.min(e - 1, inner.length))
              s"(?i)^(\\s*(?:\"[^\"]+\"|`[^`]+`|\\w+)\\s+)($nameAlt)\\b".r
                .findFirstMatchIn(seg).foreach { t =>
                  val s0 = open + 1 + s + t.start(2)
                  edits += ((s0, s0 + t.group(2).length,
                    store(t.group(2).toLowerCase)))
                }
            }
          }
        }
      if (edits.nonEmpty) {
        changed = true
        edits.sortBy(-_._1).foreach { case (s, e, r) =>
          stmt = stmt.substring(0, s) + r + stmt.substring(e)
        }
      }
    }
    stmt
  }

  /** Words that are real type spellings — never type-alias candidates. */
  private val builtinTypes: Set[String] = Set(
    "int", "integer", "bigint", "smallint", "tinyint", "hugeint",
    "int1", "int2", "int4", "int8", "int16", "int32", "int64", "signed",
    "utinyint", "usmallint", "uinteger", "ubigint", "uhugeint",
    "long", "short", "byte", "string", "varchar", "text", "char",
    "character", "bpchar", "double", "float", "real", "float4", "float8",
    "decimal", "numeric", "dec", "boolean", "bool", "logical", "date",
    "timestamp", "timestamptz", "timestamp_s", "timestamp_ms",
    "timestamp_ns", "datetime", "time", "timetz", "interval", "binary",
    "blob", "bytea", "varbinary", "bit", "bitstring", "uuid", "json",
    "array", "list", "map", "struct", "union", "enum", "row", "void",
    "null", "precision", "varying")

  /** Candidate user-type names a statement references in type position —
    * injected as DAG dependencies so CREATE TYPE runs first (the
    * nextval/valueDeps pattern; names that are builtin types or never
    * created in-script simply don't resolve to a producer). */
  def typeDeps(stmt: String): Set[String] = {
    val masked = Dialect.maskQuoted(stmt)
    val out = scala.collection.mutable.Set[String]()
    "(?i)::\\s*([A-Za-z_]\\w*)\\b".r.findAllMatchIn(masked)
      .foreach(m => out += m.group(1).toLowerCase)
    "(?i)\\b(?:TRY_)?CAST\\s*\\(".r.findAllMatchIn(masked).foreach { m =>
      val open = m.end - 1
      val close = Dialect.matchingParen(masked, open)
      if (close > 0) {
        val inner = masked.substring(open + 1, close)
        val dep = Dialect.depths(inner)
        "(?i)\\bAS\\b".r.findAllMatchIn(inner).toList.reverse
          .find(a => dep(a.start) == 0).foreach { a =>
            "(?i)^\\s*([A-Za-z_]\\w*)\\s*$".r
              .findFirstMatchIn(inner.substring(a.end))
              .foreach(t => out += t.group(1).toLowerCase)
          }
      }
    }
    (out.toSet -- builtinTypes).map(n => Names.view(n).toLowerCase)
  }
}
