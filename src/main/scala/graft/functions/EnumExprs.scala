package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ElementAt, Expression, GenericInternalRow, GetStructField, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Add, Cast}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Dictionary-encoding expressions for DuckDB ENUM types.
  *
  * An enum column's Spark representation is the single-field struct
  * `STRUCT<__ge_<name>: SMALLINT>` carrying the DEFINITION INDEX — struct
  * ordering rides the index, so ORDER BY / min / max / same-enum
  * comparisons follow definition order natively (probed DuckDB v1.0:
  * `'sad'<'ok'<'happy'` by definition, not lexically). See
  * [[graft.component.TypeSql]] for the catalog and
  * [[GraftExtensions.DuckEnumRule]] for the analysis-time lowering.
  *
  * Reference surface: keboola/component-duckdb-transformation passes
  * CREATE TYPE ... AS ENUM verbatim to its pinned engines
  * (src/versions.py:19-22, src/query_orchestrator.py:351).
  */
object EnumExprs {

  /** The labels of enum type `n`, which the run's type catalog must
    * define. */
  def values(n: String): Seq[String] =
    graft.component.TypeSql.enumValues(n).getOrElse(throw new
        graft.component.UserException(
      s"enum type $n is not defined in this run's type catalog " +
        "(a persisted enum column from a previous run needs its " +
        "CREATE TYPE re-run first)"))

  /** The enum name when `dt` is an enum-encoded struct. */
  def enumNameOf(dt: DataType): Option[String] = dt match {
    case st: StructType
        if st.fields.length == 1 && st.fields(0).name.startsWith("__ge_") &&
          st.fields(0).dataType == ShortType =>
      Some(st.fields(0).name.stripPrefix("__ge_"))
    case _ => None
  }

  def enumType(lowerName: String): StructType =
    StructType(Seq(StructField(s"__ge_$lowerName", ShortType, nullable = true)))

  /** Index → label: `element_at(<labels literal>, idx + 1)`. All-codegen
    * primitives; the labels array constant-folds into the plan. */
  def decode(e: Expression, values: Seq[String]): Expression =
    ElementAt(
      Literal.create(values, ArrayType(StringType, containsNull = false)),
      Add(Cast(GetStructField(e, 0), IntegerType), Literal(1)),
      None, failOnError = false)
}

/** Label → definition-index struct, validating membership: an
  * out-of-domain label raises the DuckDB-shaped conversion error (probed
  * v1.0: `Conversion Error: Could not convert string 'nope' to UINT8`),
  * or yields NULL under `lenient` (the TRY_CAST path). Hash-map lookup
  * per row, codegen'd (no UDF, no fallback). */
case class EnumEncode(child: Expression, enumName: String,
    values: Seq[String], lenient: Boolean = false)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"enum_encode($enumName) expects a string label, got ${child.dataType}")
  override def dataType: DataType = EnumExprs.enumType(enumName)
  override def nullable: Boolean = true

  @transient private lazy val index: java.util.HashMap[UTF8String, java.lang.Short] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Short](values.size * 2)
    values.zipWithIndex.foreach { case (v, i) =>
      m.put(UTF8String.fromString(v), java.lang.Short.valueOf(i.toShort))
    }
    m
  }

  def conversionError(label: String): RuntimeException =
    new RuntimeException("Conversion Error: Could not convert string '" +
      label + s"' to ENUM $enumName")

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val i = index.get(s)
    if (i == null) {
      if (lenient) return null
      throw conversionError(s.toString)
    }
    new GenericInternalRow(Array[Any](i.shortValue()))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // raw type: Janino's parser has no generics support
    val mapRef = ctx.addReferenceObj("enumIdx", index, "java.util.HashMap")
    val self = ctx.addReferenceObj("enumEnc", this, classOf[EnumEncode].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val missCode =
        if (lenient) s"${ev.isNull} = true;"
        else s"throw $self.conversionError($c.toString());"
      s"""
         |java.lang.Short ${ev.value}_i = (java.lang.Short) $mapRef.get($c);
         |if (${ev.value}_i == null) { $missCode }
         |else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{${ev.value}_i.shortValue()});
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): EnumEncode =
    copy(child = newChild)
}
