package graft.component

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal

/** The end-to-end transformation component over a Keboola-style data
  * directory (reference `src/component.py:36-56` lifecycle):
  *
  *   1. parse `config.json`;
  *   2. warehouse passthrough: tables and types persisted by a previous
  *      run under `in/files/warehouse` attach to the executor, which
  *      carries the tables no statement changes to `out/files/warehouse`
  *      (the Spark analogue of the `.duck.db` file move, A11);
  *   3. ingest the input mappings as temp views (A1–A5, A12);
  *   4. plan: producer map → per-block Kahn batches (A13–A16) over the
  *      dependency analysis, which runs once, before step 2 (the startup
  *      syntax check reads the same analysis);
  *   5. execute blocks sequentially, batches thread-parallel (A17) — table
  *      state lives in Spark's block manager, and each changed table is
  *      written to `out/files/warehouse/` once, at the end;
  *   6. export each output mapping as single-file quoted CSV + manifest
  *      (A6–A10), mappings concurrently.
  *
  * Sync actions (`syntax_check`, `expected_input_tables`, `lineage`,
  * `execution_plan`) dispatch without executing (A19–A22).
  */
object Component {

  final case class RunResult(stats: ExecutionStats, actionOutput: Option[String])

  def run(spark: SparkSession, dataDir: String): RunResult = {
    val config = Config.parse(
      Files.readString(Paths.get(dataDir, "config.json")))
    // macros live per run, like DuckDB's per-database-session macros —
    // a process-global registry must not leak across component runs
    Macros.clear()
    // file-read temp views likewise refresh once per run: the side file
    // behind a read_csv(...) view may have changed since the last run
    FileReads.clear()
    // sequences live per run like DuckDB's in-memory session objects
    // (warehouse passthrough does not persist counters — documented)
    SequenceSql.clear()
    // user-defined types likewise reset per run; a PASSTHROUGH warehouse
    // re-attaches its own via `.types.sql` (Executor.attach)
    // (DuckDB types live in the database file)
    TypeSql.reset()
    // SET VARIABLE values live per run like the other session objects
    VariableSql.clear()

    // A26: resolve the configured compatibility version through the
    // registry (alias + unsupported-falls-back-to-default, the reference
    // launcher's contract) and pin the session's `version()` function to
    // the resolved version — the one observable difference between the
    // reference's per-version engines at this surface (its `version-1-4-4`
    // golden fixture exports `SELECT version()` and expects `v1.4.4`).
    val requested = config.duckdbVersion.getOrElse(Versions.LatestAlias)
    val resolved = Versions.resolve(requested)
    if (Versions.isFallback(requested))
      System.err.println(
        s"[component] configured engine version: $requested is not in this " +
          s"build's registry ${Versions.Supported.mkString("{", ", ", "}")}; " +
          s"falling back to $resolved (launcher routes versions per container)")
    else if (config.duckdbVersion.isDefined)
      System.err.println(
        s"[component] configured engine version: $requested resolved to " +
          s"$resolved (running Spark ${spark.version})")
    // a registered temp function shadows the built-in version() for this
    // session; re-registered per run so each config's pick wins
    GraftSqlBridge.registerFunction(spark, "version", args => {
      if (args.nonEmpty)
        throw new UserException(s"version() takes no arguments, got ${args.length}")
      Literal(Versions.reportedVersion(resolved))
    })
    // graft's native SQL functions (dot_f32, simhash64, ...) ride the
    // session's extensions (graft.GraftSession); the DuckDB names users
    // carry over from the reference (list_transform, epoch_us, ...) bind
    // once per run under the resolved version: names above their
    // FunctionFloors throw the version error a reference user would get
    // from the version-matched engine (A26 round 15)
    DuckFunctions.register(spark, resolved)

    config.action match {
      case Some("syntax_check") =>
        val issues = Actions.syntaxCheck(spark, config)
        val out = if (issues.isEmpty) "OK"
          else issues.map(i => s"${i.query}: ${i.message}").mkString("\n")
        return RunResult(ExecutionStats(Nil), Some(out))
      case Some("expected_input_tables") =>
        return RunResult(ExecutionStats(Nil),
          Some(Actions.expectedInputReport(spark, config)))
      case Some("lineage_visualization") =>
        return RunResult(ExecutionStats(Nil), Some(Actions.lineage(spark, config)))
      case Some("execution_plan_visualization") =>
        return RunResult(ExecutionStats(Nil), Some(Actions.executionPlan(spark, config)))
      case _ => // run
    }

    // one prepare per script (the rewrite edits the macro registry): the
    // startup syntax check and the plan read the same statements
    val queries = Planner.analyze(spark, config)
    if (config.syntaxCheckOnStartup) {
      val issues = Actions.syntaxCheck(spark, queries)
        .filter(_.message.startsWith("parse error"))
      if (issues.nonEmpty)
        throw new UserException("syntax check failed:\n" +
          issues.map(i => s"${i.query}: ${i.message}").mkString("\n"))
    }

    // 2. warehouse passthrough: the prior run's tables and types, held
    // by the executor from the start, read concurrently
    val threads = SystemResources.resolveThreads(config.threads)
    val outWarehouse = Paths.get(dataDir, "out", "files", "warehouse")
    Files.createDirectories(outWarehouse)
    val executor = new Executor(spark, outWarehouse.toString, threads)
    executor.attach(Paths.get(dataDir, "in", "files", "warehouse"))

    // 3. ingest
    Ingest.loadAll(spark, dataDir, config)

    // 4-5. plan + execute
    val stats = executor.execute(Planner.plan(queries))

    // 6. export
    Export.exportAll(spark, dataDir, config)

    // A25: debug introspection — catalog contents + per-table row counts
    // + memory report (the analogue of the reference's temp-dir/memory dump)
    if (config.debug) {
      spark.catalog.listTables().collect().foreach { t =>
        val n = try spark.table(s"`${t.name}`").count() catch { case _: Exception => -1L }
        System.err.println(s"[debug] table ${t.name} (${t.tableType}): $n rows")
      }
      val rt = Runtime.getRuntime
      System.err.println(s"[debug] memory: jvm heap used " +
        s"${(rt.totalMemory - rt.freeMemory) / 1048576} MB of ${rt.maxMemory / 1048576} MB max, " +
        s"budget ${SystemResources.resolveMemoryMb(config.maxMemoryMb)} MB")
      spark.sparkContext.getExecutorMemoryStatus.foreach { case (exec, (max, free)) =>
        System.err.println(
          s"[debug] memory: block manager $exec storage ${max / 1048576} MB max, ${free / 1048576} MB free")
      }
      // spill/scratch usage: size of each spark.local.dir (shuffle + spill
      // files) — the analogue of the reference's DuckDB temp-file listing
      val localDirs = spark.sparkContext.getConf
        .get("spark.local.dir", sys.props.getOrElse("java.io.tmpdir", "/tmp"))
        .split(",")
      localDirs.foreach { dir =>
        val p = java.nio.file.Paths.get(dir.trim)
        // the walk races concurrent shuffle-file cleanup and may hit
        // unreadable entries (shared /tmp): a debug report must never
        // fail the run, so the whole traversal is best-effort
        val (files, bytes) =
          try {
            if (!java.nio.file.Files.isDirectory(p)) (0L, 0L)
            else {
              val s = java.nio.file.Files.walk(p)
              try {
                var n = 0L
                var b = 0L
                s.forEach { f =>
                  try {
                    if (java.nio.file.Files.isRegularFile(f)) {
                      n += 1
                      b += java.nio.file.Files.size(f)
                    }
                  } catch { case _: Exception => () } // deleted/unreadable mid-walk
                }
                (n, b)
              } finally s.close()
            }
          } catch { case _: Exception => (-1L, 0L) }
        if (files < 0)
          System.err.println(s"[debug] spill: local dir $dir unreadable")
        else System.err.println(
          s"[debug] spill: local dir $dir holds $files files, ${bytes / 1048576} MB")
      }
    }
    RunResult(stats, None)
  }
}
