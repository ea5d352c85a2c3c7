package graft.component

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** `SET VARIABLE name = expr` / `RESET VARIABLE name` / `getvariable
  * ('name')` — DuckDB ≥ 1.1 SQL variables (the reference pins 1.4.4 /
  * 1.5.2; the local v1.0 oracle lacks the statements, so the documented
  * semantics are spec-pinned): the expression evaluates ONCE at SET
  * time (any constant-foldable value, lists included), `getvariable` of
  * an undefined name is NULL, RESET removes.
  *
  * The store is process-global like the sequence catalog — statements
  * in one code run in order, so a SET is visible to every later
  * getvariable in the run, and `Component.run` clears it per run.
  * `getvariable` resolves to a LITERAL at the consuming statement's
  * analysis, which keeps every downstream plan constant-folded (a filter
  * on a variable is an ordinary pushed-down literal predicate at any
  * scale). A view re-analyzes its body at each read ([[Body.createView]]),
  * so a view over getvariable reads the variable's current value, as
  * DuckDB's late-bound views do. */
object VariableSql {

  private val store =
    scala.collection.concurrent.TrieMap[String, (Any, org.apache.spark.sql.types.DataType)]()

  private val setHead =
    "(?is)^\\s*SET\\s+VARIABLE\\s+([A-Za-z_]\\w*)\\s*=\\s*(.+?);?\\s*$".r
  private val resetHead =
    "(?is)^\\s*RESET\\s+VARIABLE\\s+([A-Za-z_]\\w*)\\s*;?\\s*$".r

  def parseSet(stmt: String): Option[(String, String)] =
    setHead.findFirstMatchIn(stmt).map(m => (m.group(1), m.group(2)))

  def parseReset(stmt: String): Option[String] =
    resetHead.findFirstMatchIn(stmt).map(_.group(1))

  /** Evaluate the expression once (constant query — a column reference
    * fails loudly, like the binder) and store the value. */
  def set(spark: SparkSession, name: String, exprTxt: String): Unit = {
    val df = spark.sql(s"SELECT ($exprTxt) AS v")
    val row = df.collect().head
    store.put(name.toLowerCase, (row.get(0), df.schema.head.dataType))
  }

  def reset(name: String): Unit = store.remove(name.toLowerCase)

  /** Forget every variable (a new run starts with none). */
  def clear(): Unit = store.clear()

  /** The getvariable('name') expression: the stored value as a literal,
    * NULL (untyped) when undefined — the documented contract. */
  def literalFor(nameExpr: Expression): Expression = nameExpr match {
    case Literal(v, org.apache.spark.sql.types.StringType) if v != null =>
      store.get(v.toString.toLowerCase) match {
        case Some((value, dt)) => Literal.create(value, dt)
        case None => Literal(null, org.apache.spark.sql.types.NullType)
      }
    case _ => throw new IllegalArgumentException(
      "getvariable requires a literal variable name")
  }
}
