package graft.component

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The inter-query DAG scheduler (SURVEY §4: the one "optimizer" the
  * component itself owns). Blocks run in config order; queries inside a
  * block are topologically batched (Kahn) so independent queries run in
  * parallel; the producer of a table is the last INSERT if any, else the
  * CREATE (readers need data, not just structure — reference
  * `src/query_orchestrator.py:234-251`); an explicit CREATE→INSERT edge
  * orders same-table statements; a cycle is a user error.
  */
final case class Query(
    blockIdx: Int,    // positional block identity (names may repeat)
    block: String,    // display name
    code: String,     // code display name (reports cite Block + Code)
    name: String,
    sql: String,
    statements: List[String], // rewritten, one per statement
    dependencies: Set[String],
    outputs: Set[String],
    statementType: SqlAnalyzer.StatementType)

final case class Batch(queries: List[Query])
final case class PlannedBlock(name: String, batches: List[Batch])
final case class ExecutionPlan(blocks: List[PlannedBlock], producers: Map[String, Query])

class UserException(msg: String) extends RuntimeException(msg)

object Planner {

  /** One prepare per script: the rewrite is not pure (CREATE/DROP MACRO
    * edit the run's macro registry), so analysis reads the statements
    * the executor will run. */
  def analyze(spark: SparkSession, config: Config): List[Query] =
    config.namedScripts.map { s =>
      val stmts = Dialect.prepare(s.sql)
      val a = SqlAnalyzer.analyzeStatements(spark, stmts)
      Query(s.blockIdx, s.block, s.code, s.name, s.sql, stmts,
        a.dependencies, a.outputs, a.statementType)
    }

  /** Global producer map: INSERT beats CREATE; last INSERT wins. */
  def producers(queries: List[Query]): Map[String, Query] = {
    val m = mutable.LinkedHashMap[String, Query]()
    for (q <- queries; t <- q.outputs) {
      m.get(t) match {
        case Some(prev)
            if prev.statementType == SqlAnalyzer.InsertStmt &&
              q.statementType != SqlAnalyzer.InsertStmt => // keep the INSERT
        case _ => m(t) = q
      }
    }
    m.toMap
  }

  def plan(spark: SparkSession, config: Config): ExecutionPlan =
    plan(analyze(spark, config))

  /** Plan already-analyzed queries: a run analyzes once, and its syntax
    * check and its plan read the same statements. */
  def plan(queries: List[Query]): ExecutionPlan = {
    val prod = producers(queries)
    val byIdx = queries.groupBy(_.blockIdx)
    ExecutionPlan(
      byIdx.keys.toList.sorted.map { bi =>
        PlannedBlock(byIdx(bi).head.block, batchBlock(byIdx(bi), prod))
      },
      prod)
  }

  /** Kahn's algorithm over one block's queries. */
  private[component] def batchBlock(
      queries: List[Query], prod: Map[String, Query]): List[Batch] = {
    val names = queries.map(_.name).toSet
    val edges = mutable.Map[String, mutable.Set[String]]() // from → to
    val indeg = mutable.Map[String, Int]().withDefaultValue(0)

    def addEdge(from: String, to: String): Unit =
      if (from != to && names(from) && names(to) &&
        !edges.getOrElseUpdate(from, mutable.Set()).contains(to)) {
        edges(from) += to
        indeg(to) += 1
      }

    for (q <- queries) {
      // dependency edges: every same-block writer of a read table runs
      // before the reader (a reader must see the final state: CREATE, all
      // INSERTs, and any UPDATE/DELETE re-derivations)
      for (d <- q.dependencies;
           w <- queries if w.outputs.contains(d) && w.blockIdx == q.blockIdx)
        addEdge(w.name, q.name)
      // cross-block producers need no edge (blocks are sequential), but
      // validate the producer exists or the table is external
      for (d <- q.dependencies; p <- prod.get(d) if p.blockIdx == q.blockIdx)
        addEdge(p.name, q.name)
    }
    // writers of the same table serialize: CREATE first (the reference's
    // explicit CREATE→INSERT edge, regardless of config position), then
    // INSERT/UPDATE/DELETE in script order
    val byTable = mutable.Map[String, mutable.ListBuffer[Query]]()
    for (q <- queries; t <- q.outputs)
      byTable.getOrElseUpdate(t, mutable.ListBuffer()) += q
    for ((_, touchers) <- byTable if touchers.sizeIs > 1) {
      val (creates, rest) = touchers.toList.partition(
        _.statementType == SqlAnalyzer.CreateStmt)
      val chain = (creates ++ rest).map(_.name)
      for (pair <- chain.sliding(2) if pair.sizeIs == 2)
        addEdge(pair.head, pair(1))
    }

    val byName = queries.map(q => q.name -> q).toMap
    var ready = queries.filter(q => indeg(q.name) == 0).map(_.name)
    val done = mutable.Set[String]()
    val batches = mutable.ListBuffer[Batch]()
    while (ready.nonEmpty) {
      batches += Batch(ready.map(byName))
      done ++= ready
      val next = mutable.ListBuffer[String]()
      for (r <- ready; to <- edges.getOrElse(r, mutable.Set())) {
        indeg(to) -= 1
        if (indeg(to) == 0) next += to
      }
      ready = next.toList
    }
    if (done.size != queries.size) {
      val cyclic = queries.map(_.name).filterNot(done).mkString(", ")
      throw new UserException(
        s"Circular dependency detected among queries: $cyclic")
    }
    batches.toList
  }
}
