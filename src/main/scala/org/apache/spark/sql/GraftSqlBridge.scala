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
                       builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    registry.synchronized {
      registry.dropFunction(catalyst.FunctionIdentifier(name))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
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
    * partitioning are shared. */
  def asNullable(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.logicalPlan match {
      case r: execution.LogicalRDD if r.output.exists(!_.nullable) =>
        classic.Dataset.ofRows(ds.sparkSession, r.makeCopy(Array(
          r.output.map(_.withNullability(true)), r.rdd, r.outputPartitioning,
          r.outputOrdering, Boolean.box(r.isStreaming), r.stream)))
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
