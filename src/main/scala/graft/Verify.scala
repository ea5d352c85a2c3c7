package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.queryPack(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // GRAFT_ONLY=q01,q02 restricts the dump for fast local iteration.
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").toSet)
    def dump(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try {
        spark.sparkContext.setJobDescription(s"verify: $name")
        val df = fn(spark, sfDir)
        // Lint: oracle-paired outputs must not expose top-level LIST /
        // MAP / DECIMAL columns — the driver's pandas sorter cannot
        // factorize ndarray cells (r15: q85/q91/q94 `unhashable type`)
        // and decimal rendering drifts across oracle fetch paths (r15:
        // q89 hash-fail). Serialize lists/maps via to_json and cast
        // decimals to DOUBLE in the shared statement text instead.
        if (SparkEntry.oracleSql.contains(name)) {
          import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType}
          val bad = df.schema.fields.collect {
            case f if f.dataType.isInstanceOf[ArrayType] => s"${f.name}: LIST"
            case f if f.dataType.isInstanceOf[MapType] => s"${f.name}: MAP"
            case f if f.dataType.isInstanceOf[DecimalType] =>
              s"${f.name}: DECIMAL"
          }
          if (bad.nonEmpty) throw new IllegalStateException(
            s"oracle-paired output has driver-unhashable top-level " +
              s"columns [${bad.mkString(", ")}] — serialize via to_json " +
              "/ CAST AS DOUBLE in the shared text")
        }
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    // Overlap independent dumps (r19, guide §2.6): actions were only
    // sequential because this loop called them sequentially — a small
    // pool lets the next query's stages back-fill the tail of the
    // current one's jobs. Per-query output files are independent and
    // every shared temp view registration (T.sql / the loaders) binds
    // the SAME content for a given dir, so concurrent registration is
    // idempotent. The EXTENDED (component/SQL-script) family is the one
    // exception: its executor registers statement-scoped helper views
    // under shared names (__graft_is_*, sanitized statement tables), so
    // those queries keep running sequentially on this thread, in map
    // order, exactly as before — only the pure-DataFrame families pool.
    // GRAFT_VERIFY_PAR=1 restores the fully sequential walk.
    // malformed values fall back to the default instead of crashing the
    // binary whose output gates the round's correctness (the
    // Components.confLong lesson applied to an env var)
    val par = sys.env.get("GRAFT_VERIFY_PAR").flatMap(_.toIntOption)
      .getOrElse(3).max(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try {
      val pending = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
      val stateful = graft.queries.Extended.queries.keySet
      SparkEntry.queries
        .filter { case (n, _) => only.forall(_.contains(n)) }
        .foreach { case (name, fn) =>
          if (par == 1 || stateful(name)) dump(name, fn)
          else pending += pool.submit(new Runnable { def run(): Unit = dump(name, fn) })
        }
      pending.foreach(_.get())
    } finally pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a null SQL value (e.g. an object-initialization-order bug) must not
    // crash the writer — that would leave a stale/absent oracle file and
    // silently void the round's correctness gate
    // CORRECTNESS_r02 keyed every entry "<name>.parquet" with err=no_oracle:
    // the driver looks oracles up by OUTPUT FILE NAME. Emit every oracle under
    // both the bare query name and the "<name>.parquet" file name so either
    // lookup convention hits.
    val json = SparkEntry.oracleSql
      .filter { case (k, v) =>
        if (v == null) System.err.println(s"[verify] oracle for $k is null — skipped")
        v != null
      }
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
