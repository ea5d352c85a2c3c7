package graft.component

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** DuckDB file-reading TABLE FUNCTIONS in user SQL — `read_csv(...)`,
  * `read_parquet(...)` and friends in FROM position. The reference passes
  * user SQL to DuckDB verbatim, where these are built in
  * (`/root/reference/src/query_orchestrator.py:351`); its own ingest uses
  * them too (`src/in_tables_creator.py:59-64`), so a migrating user's
  * scripts carry them. Spark has no table-function spelling for file
  * reads with options, so each call is rewritten at statement-rewrite
  * time to a deterministic temp-view name whose `spark.read` recipe is
  * recorded here; the executor materializes the view lazily before the
  * first statement that mentions it ([[ensureRegistered]]).
  *
  * The rewrite is pure text (session-free), so static analysis (DAG
  * build, sync actions) sees a plain relation — and [[isFileView]] lets
  * [[SqlAnalyzer]] exclude these names from table DEPENDENCIES: a file
  * read is not a workspace input (it must not appear in
  * expected_input_tables, exactly as in the reference, where DuckDB
  * resolves the path internally and the table never enters the mapping).
  *
  * Supported surface (corpus-driven scope, SURVEY §7 module 4):
  * single-path or `['a','b']` list first argument; named args
  * `header`/`delim`/`sep`/`quote` for CSV (others are accepted and
  * ignored — DuckDB's sniffer knobs have no Spark meaning). CSV defaults
  * to header + schema inference, matching DuckDB's auto-detection on the
  * reference corpus's quoted-header files.
  */
object FileReads {

  final case class Spec(format: String, paths: Seq[String],
                        options: Map[String, String])

  private val prefix = "__graft_read_"
  private val specs = TrieMap[String, Spec]()
  // views materialized DURING THE CURRENT RUN — a view created in an
  // earlier run in the same session carries the schema inferred from the
  // file's contents back then; re-creating once per run keeps a changed
  // side file fresh (the recipe is deterministic, so this is cheap)
  private val materialized = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Per-run reset, called by [[Component.run]] alongside `Macros.clear()`.
    * Specs stay (the MD5 view name is a pure function of the recipe, so a
    * re-rewrite regenerates the identical entry); only the materialization
    * marks drop, forcing one fresh `createOrReplaceTempView` per view per
    * run. */
  def clear(): Unit = materialized.clear()

  def isFileView(name: String): Boolean = name.startsWith(prefix)

  private[component] def spec(view: String): Option[Spec] = specs.get(view)

  private val fnRe =
    "(?i)\\b(read_csv_auto|read_csv|csv_scan|read_parquet|parquet_scan|read_json_auto|read_json|json_scan|glob)\\s*\\(".r

  /** Rewrite every file table-function call in `stmt` to its view name.
    * Calls inside string literals or comments are untouched. `glob(...)`
    * — the file-LISTING table function (one `file` VARCHAR column,
    * files only, sorted; probed v1.0) — only rewrites in table position
    * (after FROM / JOIN / a FROM-list comma): the same spelling with an
    * operand before it is the GLOB match OPERATOR with a parenthesized
    * pattern, owned by the dialect's operand-extent scanner. */
  def rewriteTableFunctions(stmt: String): String = Dialect.run(stmt, tableFunctions)

  /** An unbalanced call ends the pass. */
  private[component] val tableFunctions = Dialect.Sites(fnRe, { (stmt, masked, m) =>
    val close = Dialect.matchingParen(masked, m.end - 1)
    if (m.group(1).toLowerCase == "glob" && "(?is)(?:\\bfrom|\\bjoin|,)\\s*$".r
        .findFirstIn(masked.substring(0, m.start)).isEmpty) Dialect.Skip(m.end)
    else if (close < 0) Dialect.Skip(stmt.length)
    else Dialect.Splice(m.start, close + 1,
      s"`${register(m.group(1).toLowerCase, stmt.substring(m.end, close))}`")
  })

  private def unquote(s0: String): String = {
    val s = s0.trim
    if (s.length >= 2 && s.head == '\'' && s.last == '\'')
      s.substring(1, s.length - 1).replace("''", "'")
    else s
  }

  private def register(fn: String, argsStr: String): String = {
    val masked = Dialect.maskQuoted(argsStr)
    // depth-0 comma split of the argument list
    // depth-0 across (), [] AND {} — `columns={'a': 'INT'}` carries
    // commas inside braces that must not split the argument list
    val cuts = {
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      var d = 0
      var i = 0
      while (i < masked.length) {
        masked.charAt(i) match {
          case '(' | '[' | '{' => d += 1
          case ')' | ']' | '}' => d -= 1
          case ',' if d == 0 => out += i
          case _ =>
        }
        i += 1
      }
      out.toSeq
    }
    val pieces = (Seq(-1) ++ cuts :+ argsStr.length).sliding(2).map {
      case Seq(a, b) => argsStr.substring(a + 1, b).trim
      case _ => ""
    }.filter(_.nonEmpty).toList
    val paths: Seq[String] = pieces.headOption.map(_.trim) match {
      case Some(p) if p.startsWith("[") =>
        val inner = p.stripPrefix("[").stripSuffix("]")
        inner.split(",").map(unquote).filter(_.nonEmpty).toSeq
      case Some(p) => Seq(unquote(p))
      case None => Nil
    }
    val format = fn match {
      case "glob" => "glob"
      case f if f.startsWith("read_csv") || f == "csv_scan" => "csv"
      case f if f.startsWith("read_parquet") || f == "parquet_scan" => "parquet"
      case _ => "json"
    }
    val named = pieces.drop(1).flatMap { p =>
      "(?s)^\\s*([A-Za-z_]+)\\s*=\\s*(.*)$".r.findFirstMatchIn(p)
        .map(g => g.group(1).toLowerCase -> unquote(g.group(2)))
    }.toMap
    val options: Map[String, String] = format match {
      case "csv" =>
        // DuckDB auto-detects header/types; the Spark equivalents are
        // explicit options, defaulted on and overridable
        Map("header" -> named.getOrElse("header", "true"),
          "inferSchema" -> "true") ++
          named.get("delim").orElse(named.get("sep")).map("sep" -> _) ++
          named.get("quote").map("quote" -> _)
      case _ => Map.empty
    }
    intern(format, paths, options)
  }

  private def intern(format: String, paths: Seq[String],
                     options: Map[String, String]): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$format|${paths.mkString("\u0000")}|${options.toSeq.sorted.mkString(",")}"
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(10)
    val view = s"$prefix${format}_$key"
    specs.putIfAbsent(view, Spec(format, paths, options))
    view
  }

  /** DuckDB's bare-filename FROM shorthand (`FROM 'data/x.csv'`): a quoted
    * token in table position that is PATH-SHAPED (a separator or glob
    * char, plus a readable-format extension) is a replacement scan, not a
    * table (reference: verbatim SQL at `src/query_orchestrator.py:351`,
    * resolved by DuckDB's replacement-scan hook). Returns the lazy view
    * name, or None — then [[Dialect]] falls back to identifier
    * sanitizing. Globs pass through (`spark.read.load` expands them
    * natively, like DuckDB's multi-file shorthand).
    *
    * Deviation, documented: DuckDB resolves the CATALOG first, so a bare
    * `FROM 'days.csv'` binds a workspace table named days.csv when one
    * exists (the reference corpus's actual usage) and only falls back to
    * a cwd-relative file. This rewrite is session-free text, so the split
    * is lexical instead: separator-less names stay table identifiers
    * (same binding as DuckDB-with-the-table-present); a cwd-relative bare
    * filename has no meaningful resolution dir under Spark anyway. */
  def pathView(path: String): Option[String] = {
    if (!path.exists(c => c == '/' || c == '\\' || c == '*' || c == '?'))
      return None
    val base = path.toLowerCase.stripSuffix(".gz").stripSuffix(".zst")
    val format =
      if (base.endsWith(".csv") || base.endsWith(".tsv")) Some("csv")
      else if (base.endsWith(".parquet")) Some("parquet")
      else if (base.endsWith(".json") || base.endsWith(".jsonl") ||
        base.endsWith(".ndjson")) Some("json")
      else None
    format.map { f =>
      val options: Map[String, String] = f match {
        case "csv" =>
          // same auto-detect defaults as a bare read_csv(path) call;
          // .tsv carries its separator in the extension
          Map("header" -> "true", "inferSchema" -> "true") ++
            (if (base.endsWith(".tsv")) Map("sep" -> "\t") else Map.empty)
        case _ => Map.empty
      }
      intern(f, Seq(path), options)
    }
  }

  /** Materialize (idempotently) every file view the statement mentions —
    * called by the executor before running a statement. Thread-safe:
    * batch-parallel statements may race on the same view; temp-view
    * replacement with the identical plan is harmless, but the synchronized
    * keeps catalog churn single-writer. */
  def ensureRegistered(spark: SparkSession, stmt: String): Unit =
    specs.foreach { case (view, s) =>
      if (stmt.contains(view)) synchronized {
        if (!materialized.contains(view)) {
          if (s.format == "glob") globDf(spark, s.paths.head)
            .createOrReplaceTempView(view)
          else spark.read.format(s.format).options(s.options)
            .load(s.paths: _*).createOrReplaceTempView(view)
          materialized.add(view)
        }
      }
    }

  /** `glob('pattern')` → one `file` VARCHAR column, matched FILES only
    * (no directories), sorted — the probed DuckDB v1.0 shape. Listing
    * goes through Hadoop's FileSystem so hdfs:///s3a:// patterns work on
    * a real cluster; a local pattern's paths come back scheme-less, as
    * DuckDB prints them. The listing is driver-side (like every file
    * index build) and bounded by the filesystem's match count. */
  private def globDf(spark: SparkSession,
                     pattern: String): org.apache.spark.sql.DataFrame = {
    val p = new org.apache.hadoop.fs.Path(pattern)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
      .filter(_.isFile)
      .map { st =>
        val uri = st.getPath.toUri
        if (pattern.contains("://")) st.getPath.toString else uri.getPath
      }
      .sorted.toSeq
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      matched.map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file",
          org.apache.spark.sql.types.StringType, nullable = false))))
  }
}
