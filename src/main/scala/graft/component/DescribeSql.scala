package graft.component

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DuckDB's `DESCRIBE` and `SUMMARIZE` statements — schema listing and
  * one-pass per-column statistics. Both are legal anywhere user SQL runs
  * in the reference (it forwards to DuckDB verbatim,
  * `/root/reference/src/query_orchestrator.py:351`), including as a CTAS
  * body (`CREATE TABLE stats AS SUMMARIZE t`), which is how a
  * transformation script materializes a profile table.
  *
  * Output schemas mirror DuckDB's:
  *   - DESCRIBE: column_name, column_type, null (YES/NO), key, default,
  *     extra — all VARCHAR.
  *   - SUMMARIZE: column_name, column_type, min, max (VARCHAR — stringly
  *     typed so heterogeneous columns stack), approx_unique BIGINT, avg,
  *     std, q25, q50, q75 (VARCHAR, numeric columns only), count BIGINT,
  *     null_percentage DECIMAL(9,2).
  *
  * SUMMARIZE is ONE distributed aggregate pass over the relation — every
  * per-column statistic (min/max/approx_count_distinct/avg/stddev/
  * approx-percentiles/counts) rides the same partial-aggregation
  * shuffle, so a 100-TB profile costs one scan; only the single
  * aggregated row is collected, then pivoted to k column-rows on the
  * driver (bounded by the schema width, never by data). */
object DescribeSql {

  final case class Parsed(summarize: Boolean, target: String) {
    /** The target query, or None for a table name. */
    def query: Option[String] =
      Some(target).filter("(?is)^(SELECT|WITH|FROM|TABLE|\\()".r.findFirstIn(_).isDefined)
  }

  /** Parse a normalized body ([[Body.parse]]) as DESCRIBE / SUMMARIZE. */
  private[component] def parse(stmt: String): Option[Parsed] = {
    "(?is)^(DESCRIBE|SUMMARIZE)\\s+(.+)$".r.findFirstMatchIn(stmt).map { m =>
      // `DESCRIBE TABLE t` ≡ `DESCRIBE t` (both dialects accept both)
      val target = m.group(2).trim.replaceFirst("(?is)^TABLE\\s+", "")
      Parsed(m.group(1).equalsIgnoreCase("SUMMARIZE"), target)
    }.filterNot(p =>
      // Spark's own DESCRIBE FUNCTION/DATABASE/QUERY forms pass through
      "(?is)^(FUNCTION|DATABASE|NAMESPACE|CATALOG)\\b".r
        .findFirstIn(p.target).isDefined && !p.summarize)
  }

  /** Spark type → the DuckDB spelling a migrating user's scripts expect
    * in column_type. */
  private[component] def duckType(dt: DataType): String = dt match {
    // ENUM columns render their definition (probed v1.0: DESCRIBE /
    // pragma_table_info / information_schema show `ENUM('a', 'b')`)
    case dt if graft.functions.EnumExprs.enumNameOf(dt).isDefined =>
      val n = graft.functions.EnumExprs.enumNameOf(dt).get
      TypeSql.enumRendered(n).getOrElse(s"ENUM(<$n: dropped>)")
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case BinaryType => "BLOB"
    case ArrayType(e, _) => duckType(e) + "[]"
    case s: StructType =>
      "STRUCT(" + s.fields.map(f => s"${f.name} ${duckType(f.dataType)}")
        .mkString(", ") + ")"
    case MapType(k, v, _) => s"MAP(${duckType(k)}, ${duckType(v)})"
    case other => other.sql
  }

  /** Describe or summarize `query`'s result, or the target table's. */
  def df(spark: SparkSession, p: Parsed, query: Option[DataFrame]): DataFrame = {
    val in = query.getOrElse(
      spark.table(s"`${Names.view(p.target.stripPrefix("`").stripSuffix("`"))}`"))
    if (!p.summarize) describe(spark, in) else summarize(spark, in)
  }

  private def describe(spark: SparkSession, in: DataFrame): DataFrame = {
    val schema = StructType(Seq("column_name", "column_type", "null", "key",
      "default", "extra").map(StructField(_, StringType, nullable = true)))
    val rows = in.schema.fields.toSeq.map { f =>
      Row(f.name, duckType(f.dataType), if (f.nullable) "YES" else "NO",
        null, null, null)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
  }

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  private def isOrderable(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case StringType | BooleanType | DateType | TimestampType |
        TimestampNTZType | BinaryType => true
    case _ => false
  }

  private def summarize(spark: SparkSession, in: DataFrame): DataFrame = {
    val fields = in.schema.fields
    // one aggregate pass: every statistic for every column in one
    // shuffle-reduced row; min/max only for orderable types, moments and
    // quantiles only for numerics (DuckDB leaves the rest NULL too)
    val aggs = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column](
      count(lit(1)).as("__total"))
    fields.zipWithIndex.foreach { case (f, i) =>
      val c = col(s"`${f.name}`")
      if (isOrderable(f.dataType)) {
        aggs += min(c).cast(StringType).as(s"min_$i")
        aggs += max(c).cast(StringType).as(s"max_$i")
      }
      aggs += approx_count_distinct(c).as(s"uniq_$i")
      aggs += count(c).as(s"cnt_$i")
      if (isNumeric(f.dataType)) {
        aggs += avg(c.cast(DoubleType)).cast(StringType).as(s"avg_$i")
        aggs += stddev(c.cast(DoubleType)).cast(StringType).as(s"std_$i")
        aggs += percentile_approx(c.cast(DoubleType),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as(s"q_$i")
      }
    }
    val row = in.agg(aggs.head, aggs.tail.toSeq: _*).collect()(0)
    def opt[T](name: String): Option[T] = {
      val idx = scala.util.Try(row.fieldIndex(name)).toOption
      idx.filterNot(row.isNullAt).map(row.getAs[T])
    }
    val total = row.getAs[Long]("__total")
    val outSchema = StructType(Seq(
      StructField("column_name", StringType),
      StructField("column_type", StringType),
      StructField("min", StringType),
      StructField("max", StringType),
      StructField("approx_unique", LongType),
      StructField("avg", StringType),
      StructField("std", StringType),
      StructField("q25", StringType),
      StructField("q50", StringType),
      StructField("q75", StringType),
      StructField("count", LongType),
      StructField("null_percentage", DecimalType(9, 2))))
    val rows = fields.zipWithIndex.toSeq.map { case (f, i) =>
      val q = opt[scala.collection.Seq[Double]](s"q_$i")
      val nullPct =
        if (total == 0) java.math.BigDecimal.valueOf(0, 2)
        else java.math.BigDecimal.valueOf(
          (total - row.getAs[Long](s"cnt_$i")) * 10000L / total, 2)
      Row(f.name, duckType(f.dataType),
        opt[String](s"min_$i").orNull, opt[String](s"max_$i").orNull,
        row.getAs[Long](s"uniq_$i"),
        opt[String](s"avg_$i").orNull, opt[String](s"std_$i").orNull,
        q.map(_(0).toString).orNull, q.map(_(1).toString).orNull,
        q.map(_(2).toString).orNull,
        total, nullPct)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), outSchema)
  }
}
