package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  * `ExpressionUtils` is `private[sql]`, so the two conversions are
  * re-exported from inside the package — the standard technique for Spark
  * extension libraries that ship custom expressions without a
  * SparkSessionExtensions registration step. */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on an ALREADY RUNNING session (extensions
    * only apply at session construction). An existing binding of the
    * name (a Spark built-in the DuckDB name shadows, or an earlier run's
    * registration) is dropped first, so the registry does not log a
    * "replaced a previously registered function" warning per name; the
    * registry's lock spans both steps, so no lookup sees the name unbound. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    replace(spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry, name, builder)

  /** Register a table function the same way. */
  def registerTableFunction(spark: SparkSession, name: String,
                            builder: Seq[Expression] => catalyst.plans.logical.LogicalPlan): Unit =
    replace(spark.asInstanceOf[classic.SparkSession].sessionState.tableFunctionRegistry, name, builder)

  private def replace[T](registry: catalyst.analysis.FunctionRegistryBase[T], name: String,
                         builder: Seq[Expression] => T): Unit =
    registry.synchronized {
      registry.dropFunction(catalyst.FunctionIdentifier(name))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }

  /** Register `name` as a temp view whose stored SQL `text` is parsed and
    * analyzed again at each read, with `df`'s columns recorded as the
    * view's: the same view `CREATE TEMPORARY VIEW name AS text` makes,
    * without analyzing `text` now. `functions` are the temporary
    * functions `text` calls. */
  def createSqlTempView(spark: SparkSession, name: String, text: String, df: DataFrame,
                        functions: Seq[String]): Unit = {
    // run, not planned: the analyzer would re-mark the command as analyzed
    // and record the functions it saw, which here are none
    execution.command.CreateViewCommand(catalyst.TableIdentifier(name), Nil, None, None,
      Map.empty, Some(text), logicalPlan(df), allowExisting = false, replace = true,
      catalyst.analysis.LocalTempView, catalyst.analysis.SchemaUnsupported,
      isAnalyzed = true, functions).run(spark.asInstanceOf[classic.SparkSession])
  }

  /** DataFrame from a raw LogicalPlan (for custom plan nodes). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** The executed plan's RDD of InternalRows — no external-Row
    * deserialization (df.rdd would decode every value to java objects). */
  def toRdd(df: DataFrame): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd

  /** DataFrame over an RDD[InternalRow] — the reverse direction, again
    * skipping the external-Row round-trip. */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** A local checkpoint with every column nullable, as a table read back
    * from files reads; the checkpointed partitions, statistics and output
    * partitioning are shared. Every attribute the snapshot carries
    * follows the output to its nullable spelling, and a constraint over a
    * column the output lacks is dropped: `localCheckpoint` keeps such a
    * constraint when the checkpointed plan renames its columns (seen
    * after a MERGE), and a union over the snapshot then fails on it. */
  def asNullable(df: DataFrame): DataFrame = {
    import catalyst.expressions.{AttributeMap, AttributeReference, ExpressionSet}
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.logicalPlan match {
      case r: execution.LogicalRDD =>
        val ids = r.output.map(_.exprId).toSet
        def nullable[E <: Expression](e: E): E = e.transform {
          case a: AttributeReference if ids(a.exprId) => a.withNullability(true)
        }.asInstanceOf[E]
        val stats = r.computeStats()
        classic.Dataset.ofRows(ds.sparkSession, execution.LogicalRDD(
          r.output.map(nullable), r.rdd, r.outputPartitioning match {
            case e: Expression => nullable(e).asInstanceOf[catalyst.plans.physical.Partitioning]
            case p => p
          }, r.outputOrdering.map(nullable), r.isStreaming, r.stream)(ds.sparkSession,
          Some(stats.copy(attributeStats =
            AttributeMap(stats.attributeStats.toSeq.map { case (a, s) => nullable(a) -> s }))),
          Some(ExpressionSet(r.constraints.toSeq
            .filter(_.references.forall(a => ids(a.exprId))).map(nullable)))))
      case _ => df
    }
  }

  /** Register an extra planner strategy on a running session. */
  def injectStrategy(spark: SparkSession, s: execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }
}
