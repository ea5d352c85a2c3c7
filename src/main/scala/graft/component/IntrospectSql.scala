package graft.component

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Catalog introspection surface — `pragma_table_info('t')`,
  * `information_schema.tables` and `information_schema.columns` in table
  * position — the relations migration scripts read to discover schemas
  * (all probed v1.0; row shapes and the numeric_precision/radix/scale
  * rules replicated exactly, see IntrospectSpec).
  *
  * Execution follows the FileReads pattern: [[rewrite]] swaps each
  * occurrence for a `__graft_*` view name at dialect time (static), and
  * the executor registers a FRESH catalog snapshot under those names
  * right before the statement runs ([[ensureRegistered]] — constraint
  * metadata lives in the executor's registries, so the hook takes a
  * [[Meta]] window onto them). BASE TABLE vs VIEW follows the engine's
  * contract: a table the executor holds = BASE TABLE, anything else
  * registered = VIEW (input mappings are views, matching the reference's
  * CSV-scan-as-view ingest). */
object IntrospectSql {

  /** The executor-owned metadata a snapshot needs. */
  trait Meta {
    def pk(table: String): Seq[String]
    def notNull(table: String): Seq[String]
    def defaults(table: String): Map[String, String]
    def isBaseTable(name: String): Boolean
    def catalogNames: Seq[String] // sanitized, listing order
  }

  private val ptiRe = "(?i)\\bpragma_table_info\\s*\\(\\s*'([^']*)'\\s*\\)".r
  private val isRe = "(?i)\\binformation_schema\\s*\\.\\s*(tables|columns)\\b".r

  def rewrite(stmt: String, masked: String): String = {
    // information_schema names are unquoted (masked text carries them)
    var out = stmt
    val edits = scala.collection.mutable.ListBuffer[(Int, Int, String)]()
    isRe.findAllMatchIn(masked).foreach { m =>
      edits += ((m.start, m.end, s"`__graft_is_${m.group(1).toLowerCase}`"))
    }
    // pragma_table_info's argument is a quoted literal — match on the
    // RAW text but only where the masked text shows the call head
    ptiRe.findAllMatchIn(stmt).foreach { m =>
      if (masked.regionMatches(true, m.start, "pragma_table_info", 0, 17))
        edits += ((m.start, m.end,
          s"`__graft_pti_${Names.view(m.group(1)).toLowerCase}`"))
    }
    edits.sortBy(-_._1).foreach { case (s, e, r) =>
      out = out.substring(0, s) + r + out.substring(e)
    }
    out
  }

  private def numeric(dt: DataType): (Any, Any, Any) = dt match {
    case ByteType => (8, 2, 0)
    case ShortType => (16, 2, 0)
    case IntegerType => (32, 2, 0)
    case LongType => (64, 2, 0)
    case FloatType => (24, 2, 0)
    case DoubleType => (53, 2, 0)
    case d: DecimalType => (d.precision, 10, d.scale)
    case _ => (null, null, null)
  }

  /** `t`'s columns as the catalog records them: a view's are the ones
    * recorded at CREATE, read without running its body, so a view whose
    * sources changed still lists (DuckDB lists a view's stored columns). */
  private def columns(spark: SparkSession, t: String): Array[StructField] =
    spark.sessionState.catalog.getTempViewOrPermanentTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).schema.fields

  /** Register fresh snapshots for every introspection view the rewritten
    * statement references. */
  def ensureRegistered(spark: SparkSession, stmt: String, meta: Meta): Unit = {
    "__graft_pti_([a-z0-9_]+)".r.findAllMatchIn(stmt).map(_.group(1)).toSet
      .foreach { t: String =>
        val fields = columns(spark, t)
        val isBase = meta.isBaseTable(t)
        val nn = meta.notNull(t).map(_.toLowerCase).toSet
        val pks = meta.pk(t).map(_.toLowerCase).toSet
        val dfs = meta.defaults(t)
        val rows = fields.zipWithIndex.map { case (f, i) =>
          Row(i, f.name, DescribeSql.duckType(f.dataType),
            isBase && (nn(f.name.toLowerCase) || pks(f.name.toLowerCase)),
            dfs.get(f.name.toLowerCase).orNull,
            isBase && pks(f.name.toLowerCase))
        }
        val schema = StructType(Seq(
          StructField("cid", IntegerType), StructField("name", StringType),
          StructField("type", StringType), StructField("notnull", BooleanType),
          StructField("dflt_value", StringType), StructField("pk", BooleanType)))
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
          .createOrReplaceTempView(s"__graft_pti_$t")
      }
    if (stmt.contains("__graft_is_tables")) {
      val schema = StructType(Seq(
        StructField("table_catalog", StringType),
        StructField("table_schema", StringType),
        StructField("table_name", StringType),
        StructField("table_type", StringType),
        StructField("self_referencing_column_name", StringType),
        StructField("reference_generation", StringType),
        StructField("user_defined_type_catalog", StringType),
        StructField("user_defined_type_schema", StringType),
        StructField("user_defined_type_name", StringType),
        StructField("is_insertable_into", StringType),
        StructField("is_typed", StringType),
        StructField("commit_action", StringType),
        StructField("TABLE_COMMENT", StringType)))
      val rows = meta.catalogNames.map { n =>
        val base = meta.isBaseTable(n)
        Row("memory", "main", n, if (base) "BASE TABLE" else "VIEW",
          null, null, null, null, null, if (base) "YES" else "NO", "NO",
          null, null)
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .createOrReplaceTempView("__graft_is_tables")
    }
    if (stmt.contains("__graft_is_columns")) {
      val head = Seq(
        StructField("table_catalog", StringType),
        StructField("table_schema", StringType),
        StructField("table_name", StringType),
        StructField("column_name", StringType),
        StructField("ordinal_position", IntegerType),
        StructField("column_default", StringType),
        StructField("is_nullable", StringType),
        StructField("data_type", StringType),
        StructField("character_maximum_length", IntegerType),
        StructField("character_octet_length", IntegerType),
        StructField("numeric_precision", IntegerType),
        StructField("numeric_precision_radix", IntegerType),
        StructField("numeric_scale", IntegerType))
      // the probed v1.0 tail: always-NULL standards columns
      val tailNames = Seq("datetime_precision", "interval_type",
        "interval_precision", "character_set_catalog",
        "character_set_schema", "character_set_name", "collation_catalog",
        "collation_schema", "collation_name", "domain_catalog",
        "domain_schema", "domain_name", "udt_catalog", "udt_schema",
        "udt_name", "scope_catalog", "scope_schema", "scope_name",
        "maximum_cardinality", "dtd_identifier", "is_self_referencing",
        "is_identity", "identity_generation", "identity_start",
        "identity_increment", "identity_maximum", "identity_minimum",
        "identity_cycle", "is_generated", "generation_expression",
        "is_updatable", "COLUMN_COMMENT")
      val schema = StructType(head ++ tailNames.map(StructField(_, StringType)))
      val rows = meta.catalogNames.flatMap { n =>
        val base = meta.isBaseTable(n)
        val nn = meta.notNull(n).map(_.toLowerCase).toSet
        val pks = meta.pk(n).map(_.toLowerCase).toSet
        val dfs = meta.defaults(n)
        columns(spark, n).zipWithIndex.map { case (f, i) =>
          val (p, r, s) = numeric(f.dataType)
          val notNullable =
            base && (nn(f.name.toLowerCase) || pks(f.name.toLowerCase))
          Row(Seq("memory", "main", n, f.name, i + 1,
            dfs.get(f.name.toLowerCase).orNull,
            if (notNullable) "NO" else "YES",
            DescribeSql.duckType(f.dataType), null, null, p, r, s) ++
            tailNames.map(_ => null): _*)
        }
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .createOrReplaceTempView("__graft_is_columns")
    }
  }
}
