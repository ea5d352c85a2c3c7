package graft.component

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedIdentifier, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Statement classification + dependency/output extraction via the Catalyst
  * parser — the Spark-native replacement for the reference's sqlglot AST
  * walk (`src/sql_parser.py:26-128`).
  *
  * Works on *parsed but unresolved* plans: `UnresolvedRelation` names are
  * dependencies, CTE names are excluded, DDL/DML targets are outputs, and
  * outputs are subtracted from dependencies (self-reference exclusion, like
  * the reference's create-output subtraction / INSERT-target exclusion).
  * Parse failures degrade to empty sets (reference
  * `src/query_orchestrator.py:203-214`).
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

  /** A rewritten statement's Catalyst-parseable twin: PIVOT / ASOF / COPY
    * / CREATE SEQUENCE / MERGE / ... have no Catalyst spelling, and their
    * session-free stubs parse with the same dependency sets. Static
    * analysis and syntax_check both parse this. */
  def stub(rewritten: String): String =
    TypeSql.stub(PositionalSql.stub(AsOfSql.stub(Pivot.staticStub(CopyFrom.stub(
      CopyTo.stub(UnionByNameSql.stub(DescribeSql.stub(SequenceSql.stub(
        ExportDb.stub(UpsertSql.stub(MergeSql.stub(IndexSql.stub(
          PrepareSql.stub(ReturningSql.stub(Dialect.alterColumnStub(
            Dialect.analysisStub(rewritten)))))))))))))))))

  def analyzeStatement(spark: SparkSession, rewritten: String): Analysis = {
    val a = Try(fromPlan(spark.sessionState.sqlParser.parsePlan(stub(rewritten))))
      .getOrElse(Analysis(Set.empty, Set.empty, OtherStmt))
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

    val relations = allRelations(plan)
    val ctes = cteNames(plan)

    val identifiers: Set[String] = plan.collect {
      case u: UnresolvedIdentifier => u.nameParts.mkString(".").toLowerCase
    }.toSet

    val stmtType =
      if (kind == "InsertIntoStatement") InsertStmt
      else if (kind.startsWith("Create") || kind.startsWith("ReplaceTable")) CreateStmt
      else OtherStmt

    val outputs: Set[String] = stmtType match {
      case CreateStmt => identifiers
      case InsertStmt =>
        // the target table is the statement's first plan-typed field
        plan.productIterator.collectFirst {
          case p: LogicalPlan => p.collectFirst {
            case r: UnresolvedRelation => relName(r)
          }
        }.flatten.toSet
      case OtherStmt =>
        // UPDATE / DELETE mutate their target (tracked as outputs, like the
        // reference's parser: `src/sql_parser.py:99-102`)
        if (kind == "DeleteFromTable" || kind == "UpdateTable")
          plan.collectFirst {
            case r: UnresolvedRelation => relName(r)
          }.toSet
        else Set.empty
    }

    // UPDATE/DELETE keep their target as a dependency too: re-derivation
    // must run after whatever produced the current state of the table.
    val keepTargetDep = kind == "DeleteFromTable" || kind == "UpdateTable"
    val deps0 = if (keepTargetDep) relations -- ctes else relations -- ctes -- outputs
    // file table-function views (read_csv/read_parquet rewrites) are not
    // workspace tables: they never enter the DAG or expected_input_tables
    // (the reference's DuckDB resolves the path internally, same effect)
    val deps = deps0.filterNot(FileReads.isFileView)
    Analysis(deps, outputs, stmtType)
  }
}
