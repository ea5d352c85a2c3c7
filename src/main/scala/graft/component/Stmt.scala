package graft.component

import scala.util.control.NonFatal

/** One prepared statement, classified once: which statement it is, with
  * the parse record its execution and its DAG contract both read. The
  * Spark-native twin of the reference's single sqlglot walk
  * (`src/sql_parser.py:26-128`), whose statement then runs verbatim on
  * DuckDB (`src/query_orchestrator.py:351`).
  *
  * [[Stmt.parse]] is pure and total. Three readers match on its result:
  * [[Executor.runStatement]] (on the text it actually runs, after type
  * aliases substitute), [[SqlAnalyzer]] (dependencies, outputs, statement
  * type) and [[Actions.syntaxCheck]] (the parse verdict). Query bodies
  * inside other statements stay text; each reader classifies them with
  * [[Body.parse]], the one body model.
  */
sealed trait Stmt

object Stmt {

  /** ROLLBACK and the unmappable families (ATTACH, DETACH, UNION types,
    * ALTER SEQUENCE, untranslatable frames) arrive as the dialect's
    * reject sentinels; `CREATE TABLE t (query)` without AS is one too.
    * syntax_check lists `message`, a run throws it. */
  final case class Rejected(message: String) extends Stmt
  /** A statement whose own parser refused it (a MERGE without ON, an
    * UPDATE ... FROM without WHERE, ...): a run throws `error`, analysis
    * degrades it to no dependencies, syntax_check reports a parse error. */
  final case class Malformed(error: Throwable) extends Stmt

  final case class CreateView(name: String, body: String, ifNotExists: Boolean) extends Stmt
  final case class CreateTableAs(name: String, body: String, ifNotExists: Boolean) extends Stmt
  /** `CREATE TABLE t (column defs)`: an empty table with a declared schema. */
  final case class CreateEmpty(name: String, colDefs: String, ifNotExists: Boolean) extends Stmt
  final case class AddPrimaryKey(table: String, cols: Seq[String]) extends Stmt
  final case class AddColumn(table: String, item: String, ifNotExists: Boolean) extends Stmt
  final case class DropColumn(table: String, column: String, ifExists: Boolean) extends Stmt
  final case class RenameColumn(table: String, from: String, to: String) extends Stmt
  final case class AlterColumn(table: String, column: String, action: String) extends Stmt
  /** `ALTER TABLE|VIEW from RENAME TO to`. */
  final case class Rename(from: String, to: String, ifExists: Boolean) extends Stmt
  /** `DROP TABLE|VIEW`; `kind` as written. */
  final case class Drop(kind: String, name: String, ifExists: Boolean) extends Stmt
  final case class Upsert(p: UpsertSql.Parsed) extends Stmt
  /** MERGE INTO, and every UPDATE and DELETE lowered onto it. */
  final case class Merge(p: MergeSql.Parsed) extends Stmt
  final case class CreateIndex(c: IndexSql.Create) extends Stmt
  final case class DropIndex(d: IndexSql.Drop) extends Stmt
  /** `INSERT INTO target <tail>`; [[insertSource]] reads the tail. */
  final case class Insert(target: String, tail: String) extends Stmt
  final case class ExportDatabase(e: ExportDb.Export) extends Stmt
  final case class ImportDatabase(dir: String) extends Stmt
  final case class CreateSequence(c: SequenceSql.CreateStmt) extends Stmt
  final case class DropSequence(d: SequenceSql.DropStmt) extends Stmt
  final case class CreateType(c: TypeSql.Create) extends Stmt
  final case class DropType(name: String, ifExists: Boolean) extends Stmt
  final case class SetVariable(name: String, expr: String) extends Stmt
  final case class ResetVariable(name: String) extends Stmt
  final case class Prepare(p: PrepareSql.Prepared) extends Stmt
  final case class Deallocate(name: String) extends Stmt
  final case class Execute(e: PrepareSql.Executed) extends Stmt
  /** The sequence scale knob: `PRAGMA graft_sequence_blocks = n` arrives
    * as the dialect's SET spelling. */
  final case class SequenceBlocks(n: Long) extends Stmt
  final case class CopyToFile(p: CopyTo.Parsed) extends Stmt
  final case class CopyFromFile(p: CopyFrom.Parsed) extends Stmt
  /** A bare query whose [[Body]] is not [[Body.Plain]] (PIVOT, ASOF,
    * POSITIONAL, UNION BY NAME, star REPLACE/RENAME/LIKE, COLUMNS,
    * DESCRIBE, SUMMARIZE, percent LIMIT, or an unsupported form): only
    * the executor's body path runs it. */
  final case class EngineQuery(body: Body) extends Stmt
  /** Everything else is Spark SQL as written (SELECT, WITH, SET, ...),
    * parsed by the session's Catalyst parser; never an UPDATE or DELETE. */
  final case class Catalyst(sql: String) extends Stmt

  // TEMP is accepted and treated like a regular object (the whole run is
  // one session, DuckDB's temp scope)
  private val viewAs =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?`?([^`\s]+)`?\s+AS\s+(.*)$""".r
  private val tableAs =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?`?([^`\s(]+)`?\s+AS\s+(.*)$""".r
  // the column list must not start a query keyword: that is a CTAS with a
  // parenthesized body, which Spark parses itself
  private val tableCols =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?`?([^`\s(]+)`?\s*\((.+)\)\s*;?\s*$""".r
  private val queryStart = "(?is)^\\s*(SELECT|WITH|VALUES|FROM|TABLE)\\b".r
  // ALTER TABLE t ADD PRIMARY KEY (cols): DuckDB >= 1.4 surface (the
  // reference pins 1.4.4/1.5.2). Tried BEFORE the column forms, so ADD
  // PRIMARY KEY never reads as an ADD COLUMN item.
  private val addPk =
    """(?is)^\s*ALTER\s+TABLE\s+`?([^`\s;]+)`?\s+ADD\s+PRIMARY\s+KEY\s*\(([^)]+)\)\s*;?\s*$""".r
  // ALTER TABLE column DDL (all probed v1.0): ADD COLUMN, DROP/RENAME
  // COLUMN, ALTER COLUMN TYPE/SET DEFAULT/DROP DEFAULT/SET NOT NULL/DROP
  // NOT NULL
  private val addCol =
    """(?is)^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?`?([^`\s;]+)`?\s+ADD\s+(?:COLUMN\s+)?(IF\s+NOT\s+EXISTS\s+)?(.+?)\s*;?\s*$""".r
  private val dropCol =
    """(?is)^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?`?([^`\s;]+)`?\s+DROP\s+(?:COLUMN\s+)?(IF\s+EXISTS\s+)?["`]?([^"`\s;]+)["`]?\s*;?\s*$""".r
  private val renameCol =
    """(?is)^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?`?([^`\s;]+)`?\s+RENAME\s+(?:COLUMN\s+)?["`]?([^"`\s;]+)["`]?\s+TO\s+["`]?([^"`\s;]+)["`]?\s*;?\s*$""".r
  private val alterCol =
    """(?is)^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?`?([^`\s;]+)`?\s+ALTER\s+(?:COLUMN\s+)?["`]?([^"`\s;]+)["`]?\s+(.+?)\s*;?\s*$""".r
  private val renameTo =
    """(?is)^\s*ALTER\s+(?:TABLE|VIEW)\s+(IF\s+EXISTS\s+)?`?([^`\s;]+)`?\s+RENAME\s+TO\s+`?([^`\s;]+)`?\s*;?\s*$""".r
  private val dropObject =
    """(?is)^\s*DROP\s+(TABLE|VIEW)\s+(IF\s+EXISTS\s+)?`?([^`\s;]+)`?\s*;?\s*$""".r
  private val insertHead =
    """(?is)^\s*INSERT\s+INTO\s+`?([^`\s(]+)`?\s*(.*)$""".r
  private val sequenceBlocks =
    "(?is)^\\s*SET\\s+graft_sequence_blocks\\s*=\\s*(-?\\d+)\\s*;?\\s*$".r

  /** Classify one prepared statement: leading comments skipped, a
    * trailing RETURNING clause ignored (the executor splits it off
    * itself), every per-form parser tried at most once in the order
    * below. Never throws: a parser's refusal is [[Malformed]]. */
  def parse(prepared: String): Stmt = {
    val text = Dialect.stripLeadingComments(prepared)
    if (text.trim == Dialect.RollbackSentinel) Rejected(Dialect.RollbackMessage)
    else Dialect.rejectedKind(text) match {
      case Some(k) => Rejected(Dialect.RejectMessages(k))
      case None =>
        try classify(ReturningSql.split(text)._1)
        catch { case NonFatal(e) => Malformed(e) }
    }
  }

  private def classify(s: String): Stmt = s match {
    case viewAs(ifNot, name, body) => CreateView(name, unwrap(body), ifNot != null)
    case tableAs(ifNot, name, body) => CreateTableAs(name, unwrap(body), ifNot != null)
    case tableCols(ifNot, name, cols) if queryStart.findFirstIn(cols).isEmpty =>
      CreateEmpty(name, cols, ifNot != null)
    // `CREATE TABLE t (SELECT ...)` without AS: DuckDB's parser rejects
    // it (probed v1.0: syntax error at or near "SELECT"), where Spark
    // would run it as a CTAS into a managed catalog table that never
    // reaches the warehouse
    case tableCols(_, name, cols) =>
      val word = queryStart.findFirstMatchIn(cols).get.group(1).toUpperCase
      Rejected(s"CREATE TABLE $name ($word ...) without AS is not a table " +
        s"definition: DuckDB rejects it (syntax error at or near \"$word\"); " +
        s"write CREATE TABLE $name AS $word ...")
    case addPk(t, cols) =>
      AddPrimaryKey(t, cols.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("`").stripSuffix("`")).toSeq)
    case addCol(t, ifNot, item) => AddColumn(t, item.trim, ifNot != null)
    case dropCol(t, ifEx, c) => DropColumn(t, c, ifEx != null)
    case renameCol(t, from, to) => RenameColumn(t, from, to)
    case alterCol(t, c, action) => AlterColumn(t, c, action.trim)
    case renameTo(ifEx, from, to) => Rename(from, to, ifEx != null)
    case dropObject(kind, ifEx, name) => Drop(kind, name, ifEx != null)
    case _ =>
      UpsertSql.parse(s).map(Upsert)
        .orElse(MergeSql.parse(s).map(Merge))
        .orElse(IndexSql.parseCreate(s).map(CreateIndex))
        .orElse(IndexSql.parseDrop(s).map(DropIndex))
        .orElse(insertHead.findFirstMatchIn(s).map(m => Insert(m.group(1), m.group(2))))
        .orElse(ExportDb.parseExport(s).map(ExportDatabase))
        .orElse(ExportDb.parseImport(s).map(ImportDatabase))
        .orElse(SequenceSql.parseCreate(s).map(CreateSequence))
        .orElse(SequenceSql.parseDrop(s).map(DropSequence))
        .orElse(TypeSql.parseCreate(s).map(CreateType))
        .orElse(TypeSql.parseDrop(s).map { case (n, ifEx) => DropType(n, ifEx) })
        .orElse(VariableSql.parseSet(s).map { case (n, e) => SetVariable(n, e) })
        .orElse(VariableSql.parseReset(s).map(ResetVariable))
        .orElse(PrepareSql.parsePrepare(s).map(Prepare))
        .orElse(PrepareSql.parseDeallocate(s).map(Deallocate))
        .orElse(PrepareSql.parseExecute(s).map(Execute))
        .orElse(sequenceBlocks.findFirstMatchIn(s).map(m => SequenceBlocks(m.group(1).toLong)))
        .orElse(CopyTo.parse(s).map(CopyToFile))
        .orElse(CopyFrom.parse(s).map(CopyFromFile))
        .getOrElse {
          Body.parse(s) match {
            case Body.Plain(_) => Catalyst(s)
            case body => EngineQuery(body)
          }
        }
  }

  /** A body wrapped whole in one pair of parentheses (`AS (SELECT ...)`,
    * `AS (PIVOT ...)`) loses them; `(a) UNION (b)` keeps its own. */
  private def unwrap(body: String): String = {
    val t = body.trim
    if (t.startsWith("(") && Dialect.matchingParen(Dialect.maskQuoted(t), 0) == t.length - 1)
      t.substring(1, t.length - 1).trim
    else body
  }

  /** An INSERT tail (`[BY NAME | BY POSITION] [(col list)] <source>`) →
    * (by name, column list text, source query). The group after the
    * table name is a COLUMN LIST only when the parenthesized text is not
    * itself a query: DuckDB accepts `INSERT INTO t (SELECT ...)`. */
  def insertSource(tail: String): (Boolean, Option[String], String) = {
    // `BY POSITION` spells out the default positional mapping (probed
    // v1.0); `BY NAME` aligns the source's column names instead
    val rest1 = "(?is)^BY\\s+POSITION\\s*".r.replaceFirstIn(tail.trim, "")
    val byName = "(?is)^BY\\s+NAME\\b".r.findFirstMatchIn(rest1).isDefined
    val rest = if (byName) "(?is)^BY\\s+NAME\\s*".r.replaceFirstIn(rest1, "") else rest1
    if (!rest.startsWith("(")) return (byName, None, rest)
    val close = Dialect.matchingParen(Dialect.maskQuoted(rest), 0)
    if (close < 0)
      throw new UserException(s"unbalanced parentheses in INSERT: $rest")
    val inner = rest.substring(1, close).trim
    val firstWord = inner.split("[\\s(]", 2).head.toUpperCase
    if (Set("SELECT", "WITH", "VALUES", "FROM", "TABLE")(firstWord)) (byName, None, rest)
    else (byName, Some(inner), rest.substring(close + 1).trim)
  }
}
