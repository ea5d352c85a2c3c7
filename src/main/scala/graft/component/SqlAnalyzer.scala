package graft.component

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedIdentifier, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Dependency/output extraction over the one statement model — the
  * Spark-native replacement for the reference's sqlglot AST walk
  * (`src/sql_parser.py:26-128`). [[Stmt.parse]] decides what a statement
  * is; this object reads that decision into a DAG contract:
  *
  *  - query bodies (a VIEW/CTAS body, an INSERT source, `COPY (query)`, a
  *    MERGE source, a PREPARE body, a bare query, and every MERGE, UPDATE
  *    or DELETE expression read as `SELECT <expr>`) are classified by
  *    [[Body.parse]]: a plain body goes through Catalyst's parser (its
  *    `UnresolvedRelation` names are dependencies, CTE names excluded),
  *    every other form reads its [[Body.parts]], and an unsupported form
  *    fails with its own message;
  *  - created and inserted objects are outputs, subtracted from the
  *    dependencies (the reference's create-output subtraction /
  *    INSERT-target exclusion);
  *  - statements that mutate a table in place (UPDATE, DELETE, MERGE,
  *    ALTER TABLE column DDL, ADD PRIMARY KEY, CREATE INDEX) keep it as
  *    dependency AND output, so the DAG orders them after its producer;
  *  - `ALTER ... RENAME TO u` reads the old name and produces `u`;
  *  - DROP TABLE/VIEW/INDEX has no dependency: `DROP TABLE IF EXISTS x`
  *    never makes `x` an expected input.
  *
  * A body that fails to parse degrades the statement to empty sets
  * (reference `src/query_orchestrator.py:203-214`), and is the
  * statement's syntax_check error.
  */
object SqlAnalyzer {

  sealed trait StatementType
  case object CreateStmt extends StatementType
  case object InsertStmt extends StatementType
  case object OtherStmt extends StatementType

  final case class Analysis(
      dependencies: Set[String], // lowercased sanitized view names
      outputs: Set[String],
      statementType: StatementType)

  private val Empty = Analysis(Set.empty, Set.empty, OtherStmt)

  /** The DAG contract of one classified statement; a Failure is the
    * statement's syntax_check error. File table-function views
    * (read_csv/read_parquet rewrites) are not workspace tables: they never
    * enter the DAG or expected_input_tables (the reference's DuckDB
    * resolves the path internally, same effect). */
  def check(spark: SparkSession, stmt: Stmt): Try[Analysis] =
    Try(contract(spark, stmt)).map(a => a.copy(
      dependencies = a.dependencies.filterNot(FileReads.isFileView)))

  def analyzeStatement(spark: SparkSession, rewritten: String): Analysis = {
    val a = check(spark, Stmt.parse(rewritten)).getOrElse(Empty)
    // nextval('s')/currval('s') reference the sequence through a string
    // literal the relation walk can't see — inject it as a dependency so
    // the DAG orders value users after the CREATE SEQUENCE producer;
    // user-type names in CAST position likewise order after CREATE TYPE.
    // Injected OUTSIDE the parse Try: a cast to a not-yet-registered user
    // type is a Spark PARSE error (analysis degrades to empty sets) but
    // still needs its ordering edge — that is exactly the statement that
    // must wait
    val extra = (SequenceSql.valueDeps(rewritten) ++
      TypeSql.typeDeps(rewritten)) -- a.outputs
    if (extra.isEmpty) a
    else a.copy(dependencies = a.dependencies ++ extra)
  }

  private def contract(spark: SparkSession, stmt: Stmt): Analysis = {
    def parse(sql: String) = spark.sessionState.sqlParser.parsePlan(sql)
    def bodyReads(body: Body): Set[String] = body match {
      case Body.Plain(sql) =>
        val plan = parse(sql)
        allRelations(plan) -- cteNames(plan)
      case Body.Unsupported(message) => throw new Body.UnsupportedBody(message)
      case form => form.parts.flatMap(bodyReads).toSet
    }
    def reads(body: String): Set[String] = bodyReads(Body.parse(body))
    // a name in a dialect table position arrives sanitized and keys as
    // written, the way Catalyst reads its readers; COPY, MERGE, sequence
    // and type names key through Names.view, like their readers
    def name(n: String) = n.toLowerCase
    def view(n: String) = Names.view(n).toLowerCase
    def makes(out: String, deps: Set[String], tpe: StatementType) =
      Analysis(deps - out, Set(out), tpe)
    def mutates(t: String, deps: Set[String] = Set.empty) =
      Analysis(deps + t, Set(t), OtherStmt)
    stmt match {
      case Stmt.Malformed(e) => throw e
      case Stmt.CreateView(n, body, _) => makes(name(n), reads(body), CreateStmt)
      case Stmt.CreateTableAs(n, body, _) => makes(name(n), reads(body), CreateStmt)
      case Stmt.CreateEmpty(n, colDefs, _) =>
        ConstraintSql.table(colDefs) // the column list parses as the executor reads it
        makes(name(n), Set.empty, CreateStmt)
      case Stmt.AddPrimaryKey(t, _) => mutates(name(t))
      case Stmt.AddColumn(t, _, _) => mutates(name(t))
      case Stmt.DropColumn(t, _, _) => mutates(name(t))
      case Stmt.RenameColumn(t, _, _) => mutates(name(t))
      case Stmt.AlterColumn(t, _, _) => mutates(name(t))
      case Stmt.CreateIndex(c) => mutates(name(c.table))
      case Stmt.Rename(from, to, _) => makes(name(to), Set(name(from)), OtherStmt)
      case Stmt.Insert(t, tail) => makes(name(t), reads(Stmt.insertSource(tail)._3), InsertStmt)
      // the plain INSERT head has the upsert's dependency/output sets
      case Stmt.Upsert(u) => contract(spark, Stmt.parse(u.insertHead))
      // a subquery in the ON, a WHEN condition, a SET or an INSERT value
      // reads its relations too
      case Stmt.Merge(m) =>
        val exprs = m.on +: m.clauses.flatMap(c => c.cond.toSeq ++ (c.action match {
          case MergeSql.Update(sets) => sets.map(_._2)
          case MergeSql.Insert(_, values) => values.getOrElse(Nil)
          case _ => Nil
        }))
        mutates(view(m.target), MergeSql.sourceOf(m).fold(Set.empty[String])(s => reads(s._1)) ++
          exprs.flatMap(e => reads(s"SELECT $e")))
      case Stmt.CopyToFile(p) =>
        Analysis(
          if (p.source.startsWith("(")) reads(p.source.substring(1, p.source.length - 1))
          else Set(view(p.source)), Set.empty, OtherStmt)
      // COPY FROM both requires and mutates the target: an INSERT's shape
      case Stmt.CopyFromFile(p) => makes(view(p.target), Set.empty, InsertStmt)
      // CREATE SEQUENCE / TYPE produce a catalog object, so the DAG orders
      // the nextval / cast users after it ([[analyzeStatement]] injects
      // those edges); DROP reads it, which orders the drop after the
      // CREATE in a batch-parallel plan. A drop can still race a
      // same-block READER — a write-after-read hazard no dependency DAG
      // models (the reference's sqlglot DAG has the same gap); scripts
      // should drop in a later block.
      case Stmt.CreateSequence(c) => makes(view(c.name), Set.empty, CreateStmt)
      case Stmt.DropSequence(d) => Analysis(Set(view(d.name)), Set.empty, OtherStmt)
      case Stmt.CreateType(c) => makes(view(TypeSql.norm(c.name)), Set.empty, CreateStmt)
      case Stmt.DropType(n, _) => Analysis(Set(view(TypeSql.norm(n))), Set.empty, OtherStmt)
      // the body with every parameter slot NULL carries the template's
      // sets (an EXECUTE in the same code inherits them at the code level)
      case Stmt.Prepare(p) => contract(spark, Stmt.parse(PrepareSql.nullBody(p)))
      case Stmt.EngineQuery(body) => Analysis(bodyReads(body), Set.empty, OtherStmt)
      // a variable's value expression may read tables (`SET VARIABLE x =
      // (SELECT max(k) FROM src)`): the DAG orders it after their producers
      case Stmt.SetVariable(_, expr) => Analysis(reads(s"SELECT $expr"), Set.empty, OtherStmt)
      case Stmt.Catalyst(sql) => fromPlan(parse(sql))
      // EXPORT reads the whole catalog and IMPORT's outputs are unknowable
      // before its scripts exist (both documented); the rest name no table
      case Stmt.Rejected(_) | Stmt.Drop(_, _, _) | Stmt.DropIndex(_) |
          Stmt.ExportDatabase(_) | Stmt.ImportDatabase(_) | Stmt.ResetVariable(_) |
          Stmt.Deallocate(_) | Stmt.Execute(_) | Stmt.SequenceBlocks(_) => Empty
    }
  }

  /** Analyze a full (multi-statement) script. */
  def analyzeScript(spark: SparkSession, script: String): Analysis =
    analyzeStatements(spark, Dialect.prepare(script))

  /** Analyze a script's prepared statements: union of per-statement sets;
    * script type = CREATE/INSERT if any statement is. */
  def analyzeStatements(spark: SparkSession, stmts: List[String]): Analysis = {
    val per = stmts.map(analyzeStatement(spark, _))
    val outs = per.flatMap(_.outputs).toSet
    val deps = per.flatMap(_.dependencies).toSet -- outs
    val tpe =
      if (per.exists(_.statementType == InsertStmt)) InsertStmt
      else if (per.exists(_.statementType == CreateStmt)) CreateStmt
      else OtherStmt
    Analysis(deps, outs, tpe)
  }

  private def relName(r: UnresolvedRelation): String =
    r.multipartIdentifier.mkString(".").toLowerCase

  /** All UnresolvedRelations in a plan INCLUDING non-child plan fields
    * (CTE definitions in UnresolvedWith and the INSERT target table live in
    * plan fields, not in `children`, in Spark 4's parsed trees). */
  private def allRelations(plan: LogicalPlan): Set[String] = {
    val here = plan.collect { case r: UnresolvedRelation => relName(r) }.toSet
    val nested = plan.collect { case p => nonChildPlans(p) }.flatten
      .flatMap(allRelations).toSet
    here ++ nested
  }

  /** LogicalPlans referenced from a node's fields that are NOT children
    * (traversal misses them): elements of Seq/Option/Tuple fields. */
  private def nonChildPlans(node: LogicalPlan): Seq[LogicalPlan] = {
    val children = node.children.toSet
    def extract(v: Any): Seq[LogicalPlan] = v match {
      case p: LogicalPlan if !children.contains(p) => Seq(p)
      case s: Seq[_] => s.flatMap(extract)
      case o: Option[_] => o.toSeq.flatMap(extract)
      case p: Product if !p.isInstanceOf[LogicalPlan] =>
        p.productIterator.toSeq.flatMap(extract)
      case _ => Nil
    }
    node.productIterator.toSeq.flatMap(extract)
  }

  /** CTE names declared anywhere in the plan (UnresolvedWith cteRelations:
    * tuples whose first element is the name — matched structurally so the
    * tuple arity is not pinned). */
  private def cteNames(plan: LogicalPlan): Set[String] =
    plan.collect {
      case p if p.getClass.getSimpleName == "UnresolvedWith" =>
        p.productIterator.collectFirst {
          case rels: Seq[_] if rels.forall(_.isInstanceOf[Product]) && rels.nonEmpty =>
            rels.collect {
              case t: Product if t.productArity >= 1 &&
                t.productElement(0).isInstanceOf[String] =>
                t.productElement(0).asInstanceOf[String].toLowerCase
            }.toSet
        }.getOrElse(Set.empty[String])
    }.flatten.toSet

  private def fromPlan(plan: LogicalPlan): Analysis = {
    val kind = plan.getClass.getSimpleName
    val stmtType =
      if (kind == "InsertIntoStatement") InsertStmt
      else if (kind.startsWith("Create") || kind.startsWith("ReplaceTable")) CreateStmt
      else OtherStmt
    val outputs: Set[String] = stmtType match {
      case CreateStmt => plan.collect {
        case u: UnresolvedIdentifier => u.nameParts.mkString(".").toLowerCase
      }.toSet
      case InsertStmt =>
        // the target table is the statement's first plan-typed field
        plan.productIterator.collectFirst {
          case p: LogicalPlan => p.collectFirst {
            case r: UnresolvedRelation => relName(r)
          }
        }.flatten.toSet
      case OtherStmt => Set.empty
    }
    Analysis(allRelations(plan) -- cteNames(plan) -- outputs, outputs, stmtType)
  }
}
