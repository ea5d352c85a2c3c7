package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** DuckDB's post-1.0 UUID family — `uuidv7()` plus the extractors
  * `uuid_extract_version` / `uuid_extract_timestamp` (`uuidv4` binds to
  * Spark's native Uuid in the registry). The reference pins DuckDB
  * 1.4.4/1.5.2 where these exist; local v1.0 probes them MISSING, so
  * semantics follow RFC 9562 and the public docs, pinned against the
  * RFC's own test vectors in DuckFunctionsSpec (no oracle rows possible
  * at v1.0 — the recorded version-skew rule).
  *
  * RFC 9562 v7 layout: 48-bit big-endian unix milliseconds, 4-bit
  * version (7), 12 random bits, 2-bit variant (10), 62 random bits —
  * time-ordered, so ORDER BY on the string sorts by creation time, the
  * property that makes v7 the surrogate-key UUID.
  */
case class UuidV7() extends LeafExpression with Nondeterministic {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "uuidv7"
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = genValue()
  /** Also the codegen entry point (a draw has no row inputs — state is
    * the clock + ThreadLocalRandom, so the generated code calls back
    * through a plan-referenced instance and the projection KEEPS its
    * whole-stage codegen, unlike a CodegenFallback leaf). */
  def genValue(): UTF8String = {
    val ms = System.currentTimeMillis()
    val r = java.util.concurrent.ThreadLocalRandom.current()
    val msb = (ms << 16) | 0x7000L | r.nextInt(1 << 12)
    val lsb = 0x8000000000000000L | (r.nextLong() & 0x3FFFFFFFFFFFFFFFL)
    UTF8String.fromString(new java.util.UUID(msb, lsb).toString)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("uuidv7gen", this, classOf[UuidV7].getName)
    ev.copy(
      code = code"""
        |org.apache.spark.unsafe.types.UTF8String ${ev.value} =
        |  (org.apache.spark.unsafe.types.UTF8String) $ref.genValue();
      """.stripMargin,
      isNull = FalseLiteral)
  }
}

abstract class UuidExtract extends UnaryExpression with EvalDelegatingCodegen {
  protected def parse(s: Any): java.util.UUID =
    try java.util.UUID.fromString(s.asInstanceOf[UTF8String].toString)
    catch {
      case _: IllegalArgumentException =>
        throw new graft.component.UserException(
          s"$prettyName: '$s' is not a UUID")
    }
}

case class UuidExtractVersion(child: Expression) extends UuidExtract {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "uuid_extract_version"
  override protected def resultJavaType: String = "java.lang.Integer"
  override def nullSafeEval(s: Any): Any = parse(s).version()
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** The interpolation POSITION of a fill() ORDER BY key — numeric, DATE
  * (days) and TIMESTAMP (micros) keys all become a DOUBLE axis for the
  * linear-interpolation arithmetic the dialect's fill() lowering emits
  * ([[graft.component.Dialect]]'s fill lowering). Internal: user SQL never
  * spells it. */
case class FillPos(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "duck_fill_pos"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types._
    child.dataType match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          s"fill() needs a numeric, DATE or TIMESTAMP ORDER BY key, got $t")
    }
  }
  override protected def nullSafeEval(v: Any): Any = v match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.dataType match {
      case _: org.apache.spark.sql.types.DecimalType =>
        defineCodeGen(ctx, ev, c => s"$c.toDouble()")
      case _ => defineCodeGen(ctx, ev, c => s"(double)($c)")
    }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Timestamp of a v7 (unix ms in the top 48 bits) or v1 (100 ns ticks
  * since 1582-10-15, java.util.UUID.timestamp()) UUID; other versions
  * carry none — loud, like DuckDB's conversion error. */
case class UuidExtractTimestamp(child: Expression) extends UuidExtract {
  override def dataType: DataType = TimestampType
  override def prettyName: String = "uuid_extract_timestamp"
  override protected def resultJavaType: String = "java.lang.Long"
  // micros between 1582-10-15T00:00Z (the Gregorian UUID epoch) and
  // 1970-01-01T00:00Z, as 100-ns ticks: the v1 conversion constant
  private val gregorianOffsetTicks = 122192928000000000L
  override def nullSafeEval(s: Any): Any = {
    val u = parse(s)
    u.version() match {
      case 7 => ((u.getMostSignificantBits >>> 16) & 0xFFFFFFFFFFFFL) * 1000L
      case 1 => (u.timestamp() - gregorianOffsetTicks) / 10L
      case v => throw new graft.component.UserException(
        s"uuid_extract_timestamp: version $v UUIDs carry no timestamp " +
          "(only v1 and v7 do)")
    }
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
