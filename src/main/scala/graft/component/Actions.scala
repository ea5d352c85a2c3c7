package graft.component

import org.apache.spark.sql.SparkSession

/** Sync actions (reference A18–A22): pure static analysis over the config
  * SQL — no data execution. Markdown shapes follow the reference's reports
  * (the modules under `src/actions/`) without byte-level mimicry.
  */
object Actions {

  final case class ValidationIssue(query: String, message: String)

  /** syntax_check (A18): every statement must parse; plus the reference's
    * heuristic lints that survive translation. */
  def syntaxCheck(spark: SparkSession, config: Config): List[ValidationIssue] =
    syntaxCheck(spark, Planner.analyze(spark, config))

  /** syntax_check over analyzed queries: each statement's verdict is the
    * one its DAG contract came from ([[SqlAnalyzer.check]]). */
  def syntaxCheck(spark: SparkSession, queries: List[Query]): List[ValidationIssue] =
    queries.flatMap { q =>
      val name = q.name
      q.statements.flatMap { stmt =>
        Stmt.parse(stmt) match {
          // the reject sentinels (ROLLBACK, ATTACH, CREATE TYPE ... UNION,
          // ...) parse cleanly by design: surface the executor's rejection
          // as this statement's issue instead
          case Stmt.Rejected(message) => List(ValidationIssue(name, message))
          case parsed =>
            // an unsupported body form (an ASOF join in a CTE, chained
            // POSITIONAL JOINs, ...) fails its analysis with the message a
            // run throws
            val parseIssue = SqlAnalyzer.check(spark, parsed).failed.toOption.map {
              case e: Body.UnsupportedBody => ValidationIssue(name, e.getMessage)
              case e => ValidationIssue(name, s"parse error: ${e.getMessage}")
            }.toList
            parseIssue ++ lint(stmt).map(ValidationIssue(name, _))
        }
      }
    }

  private[component] def lint(stmt: String): List[String] = {
    // textual heuristics must not see quoted literals or comments — a ')'
    // inside a string is not a paren (reference lint set:
    // `src/validators/sql_validator.py:104-145`, with word-boundary
    // matching where the reference's bare substring check would misfire,
    // e.g. its "IN" matching the INTO of every INSERT)
    val masked = Dialect.maskQuoted(stmt)
    val up = masked.toUpperCase
    def word(w: String): Boolean = ("\\b" + w + "\\b").r.findFirstIn(up).isDefined
    val issues = scala.collection.mutable.ListBuffer[String]()
    val opens = masked.count(_ == '(')
    val closes = masked.count(_ == ')')
    if (opens != closes)
      issues += s"unmatched parentheses ($opens open, $closes close)"
    if (up.contains("CREATE OR RE PLACE"))
      issues += "'RE PLACE' should be 'REPLACE'"
    if ("CREATE\\s+OR\\s+REPLACE\\s+VIEW".r.findFirstIn(up).isDefined && !word("AS"))
      issues += "CREATE VIEW missing 'AS' keyword"
    // the inert macro-registration stand-in (Macros.rewrite) is a
    // FROM-less SELECT by construction — never a user mistake to lint
    if (word("SELECT") && !word("FROM") &&
        !up.contains("__GRAFT_MACRO_REGISTERED"))
      issues += "SELECT statement missing 'FROM' clause"
    if (word("WHERE") &&
        !Seq("=", ">", "<", "!=").exists(masked.contains) &&
        !Seq("LIKE", "IN", "BETWEEN", "IS").exists(word))
      issues += "WHERE clause missing comparison operator"
    if (up.contains("PERCENTILE(") && up.contains("WITHIN GROUP"))
      issues += "use PERCENTILE_CONT() or PERCENTILE_DISC() instead of PERCENTILE()"
    if (up.contains("PERCENTILE_CONT") && !up.contains("WITHIN GROUP"))
      issues += "PERCENTILE_CONT requires WITHIN GROUP (ORDER BY ...)"
    // a rewritable UNNEST is gone by lint time (UnnestSql lowers select-
    // list and FROM uses inside Dialect.rewrite); a residual one sits
    // where no lowering exists (WHERE, GROUP BY, SET ...) — DuckDB's
    // binder rejects those spots too ("UNNEST not supported here")
    if ("(?i)\\bUNNEST\\s*\\(".r.findFirstIn(masked).isDefined)
      issues += "UNNEST is only supported in the select list or FROM position"
    if (up.contains("CAST(") && up.contains("AS VARCHAR") &&
        Seq("+", "-", "*", "/", ">", "<", "=").exists(masked.contains) &&
        !masked.contains("||"))
      issues += "arithmetic on VARCHAR-cast values may fail to bind"
    // Recorded engine boundary (r18): Spark's day-time interval is ONE
    // micros field where DuckDB keeps days and micros separate, so a
    // component function over a single-unit interval LITERAL past its
    // carry boundary diverges — hour(INTERVAL 26 HOUR) is 26 on DuckDB
    // and 2 here (day/hour re-split at 24 h). Components of
    // timestamp-subtraction intervals and sub-carry literals agree.
    // Surface the divergence when both a component function and an
    // hour/minute/second interval literal appear in one statement.
    if (("(?i)\\b(DAY|HOUR|MINUTE|SECOND|DATEPART|DATE_PART|EXTRACT)\\s*\\(" +
          "[^()]*\\bINTERVAL\\b[^()]*\\b(HOUR|MINUTE|SECOND)S?\\b").r
          .findFirstIn(masked).isDefined ||
        // the quoted spelling's unit word lives inside the literal,
        // which maskQuoted blanks — match it on the raw text, anchored
        // to the component call so string contents elsewhere can't fire
        ("(?i)\\b(DAY|HOUR|MINUTE|SECOND|DATEPART|DATE_PART|EXTRACT)\\s*\\(" +
          "[^()]*\\bINTERVAL\\s*'[^']*\\b(HOUR|MINUTE|SECOND)S?\\b").r
          .findFirstIn(stmt).isDefined)
      issues += ("interval component extraction: a single-unit HOUR/" +
        "MINUTE/SECOND interval literal past its carry boundary (e.g. " +
        "INTERVAL 26 HOUR) re-splits at 24h/60m/60s here — " +
        "hour(INTERVAL 26 HOUR) is 26 on DuckDB but 2 on this engine; " +
        "components of timestamp differences and sub-carry literals agree")
    issues.toList
  }

  /** expected_input_tables (A19): external tables = all deps − all outputs;
    * reported under the user's original names. */
  def expectedInputTables(spark: SparkSession, config: Config): List[String] = {
    val queries = Planner.analyze(spark, config)
    val outs = queries.flatMap(_.outputs).toSet
    (queries.flatMap(_.dependencies).toSet -- outs)
      .map(Names.original).toList.sorted
  }

  private def stripExt(n: String): String =
    n.replaceAll("(?i)\\.(csv|parquet|parq)$", "")

  /** expected_input_tables report, matching the reference action's output
    * (`src/actions/expected_input_tables.py:21-118`): without configured
    * mappings a comma-separated list; with them the full validation
    * report (required/available sections + issues). */
  def expectedInputReport(spark: SparkSession, config: Config): String = {
    val tables = expectedInputTables(spark, config)
    if (config.inputTables.isEmpty)
      return tables.sorted.mkString(", ")
    // the SQL's names and the mapping's destinations compare under one
    // rule: `FROM 'days.csv'` reads the destination `days.csv`
    val expected = tables.map(stripExt).toSet
    val available = config.inputTables.map(t => stripExt(t.destination)).toSet
    val missing = expected -- available
    val extra = available -- expected
    if (expected.isEmpty) return "✅ No input tables required by SQL queries"
    val lines = scala.collection.mutable.ListBuffer[String]()
    lines += "📋 **Input Tables Validation Report**"
    lines += ""
    lines += s"**Required tables (${expected.size}):**"
    for (t <- expected.toList.sorted)
      lines += s"  ${if (available(t)) "✅" else "❌"} `$t`"
    lines += ""
    lines += s"**Available tables (${available.size}):**"
    for (t <- available.toList.sorted)
      lines += s"  ${if (expected(t)) "✅" else "⚠️"} `$t`"
    lines += ""
    if (missing.nonEmpty || extra.nonEmpty) {
      lines += "**Issues found:**"
      if (missing.nonEmpty)
        lines += s"❌ **Missing tables (${missing.size}):** " +
          missing.toList.sorted.map(t => s"`$t`").mkString(", ")
      if (extra.nonEmpty)
        lines += s"⚠️ **Extra tables (${extra.size}):** " +
          extra.toList.sorted.map(t => s"`$t`").mkString(", ")
    } else lines += "✅ **All required tables are available!**"
    lines.mkString("\n")
  }

  /** lineage_visualization (A20): per-table readers/creators + per-query
    * flow, byte-matching the reference's markdown
    * (`src/actions/lineage_visualization.py:50-104`, pinned by its unit
    * test `tests/unit/test_lineage_visualization_action.py:53-111`). */
  def lineage(spark: SparkSession, config: Config): String = {
    val queries = Planner.analyze(spark, config)
    val sb = new StringBuilder("# 📊 Data Lineage Visualization\n\n")
    val tables = (queries.flatMap(_.dependencies) ++ queries.flatMap(_.outputs))
      .distinct.map(Names.original).sorted
    sb.append("## 🔗 Table Dependencies\n\n")
    for (t <- tables) {
      sb.append(s"### 📋 $t\n\n")
      val readers = queries.filter(_.dependencies.map(Names.original).contains(t))
      if (readers.nonEmpty) {
        sb.append("**Read by:**\n")
        for (r <- readers)
          sb.append(s"- `${r.name}` (Block: ${r.block}, Code: ${r.code})\n")
        sb.append("\n")
      }
      val creators = queries.filter(_.outputs.map(Names.original).contains(t))
      if (creators.nonEmpty) {
        sb.append("**Created by:**\n")
        for (c <- creators)
          sb.append(s"- `${c.name}` (Block: ${c.block}, Code: ${c.code})\n")
        sb.append("\n")
      }
    }
    sb.append("## 📈 Query Flow\n\n")
    // group queries by block DISPLAY name in first-appearance order, like
    // the reference's dict grouping
    val blockNames = queries.map(_.block).distinct
    for (b <- blockNames) {
      sb.append(s"### 🧱 $b\n\n")
      for (q <- queries.filter(_.block == b)) {
        sb.append(s"#### 🔧 ${q.name}\n\n")
        sb.append(s"**Code:** ${q.code}\n\n")
        if (q.dependencies.nonEmpty) {
          sb.append("**Inputs:**\n")
          for (d <- q.dependencies.map(Names.original).toList.sorted)
            sb.append(s"- `$d`\n")
          sb.append("\n")
        }
        if (q.outputs.nonEmpty) {
          sb.append("**Outputs:**\n")
          for (o <- q.outputs.map(Names.original).toList.sorted)
            sb.append(s"- `$o`\n")
          sb.append("\n")
        }
        sb.append("**SQL:**\n```sql\n")
        sb.append(q.sql)
        sb.append("\n```\n\n")
      }
    }
    sb.toString
  }

  /** execution_plan_visualization (A21): blocks → batches → queries, built
    * by the real planner (no engine connection needed); markdown
    * byte-matches the reference
    * (`src/actions/execution_plan_visualization.py:40-93`, pinned by
    * `tests/unit/test_execution_plan_visualization_action.py:48-62`). */
  def executionPlan(spark: SparkSession, config: Config): String = {
    // one analysis: the rewrite edits the macro registry, so a second
    // prepare would report different statements than the plan batches
    val allInOrder = Planner.analyze(spark, config)
    val plan = Planner.plan(allInOrder)
    val queries = plan.blocks.flatMap(_.batches).flatMap(_.queries)
    val maxWorkers = SystemResources.resolveThreads(config.threads)
    val sb = new StringBuilder("# 🚀 Execution Plan Visualization\n\n")
    sb.append("## 📊 Execution Summary\n\n")
    sb.append(s"- **Total Queries:** ${queries.size}\n")
    sb.append(s"- **Total Batches:** ${plan.blocks.map(_.batches.size).sum}\n")
    sb.append(s"- **Total Blocks:** ${plan.blocks.size}\n")
    sb.append(s"- **Max Parallel Workers:** $maxWorkers\n\n")
    sb.append("## 🔄 Execution Flow\n\n")
    for ((b, bi) <- plan.blocks.zipWithIndex) {
      sb.append(s"### 🧱 Block ${bi + 1}: ${b.name}\n\n")
      val nq = b.batches.map(_.queries.size).sum
      sb.append(s"**Block contains ${b.batches.size} batches with $nq queries total**\n\n")
      for ((batch, i) <- b.batches.zipWithIndex) {
        if (batch.queries.sizeIs == 1)
          sb.append(s"#### 🔄 Batch ${i + 1} (Sequential - 1 query)\n\n")
        else
          sb.append(s"#### ⚡ Batch ${i + 1} (Parallel - ${batch.queries.size} queries)\n\n")
        for (q <- batch.queries) {
          sb.append(s"- **${q.name}** (Code: ${q.code})\n")
          if (q.dependencies.nonEmpty)
            sb.append(s"  - Dependencies: `${q.dependencies.map(Names.original).toList.sorted.mkString(", ")}`\n")
          if (q.outputs.nonEmpty)
            sb.append(s"  - Outputs: `${q.outputs.map(Names.original).toList.sorted.mkString(", ")}`\n")
          sb.append("\n")
        }
      }
      sb.append("---\n\n")
    }
    sb.append("## 🔍 Dependency Analysis\n\n")
    for (q <- allInOrder) {
      sb.append(s"### 📋 ${q.name}\n\n")
      sb.append(s"**Block:** ${q.block}\n")
      sb.append(s"**Code:** ${q.code}\n\n")
      if (q.dependencies.nonEmpty) {
        sb.append("**Dependencies:**\n")
        for (d <- q.dependencies.map(Names.original).toList.sorted)
          sb.append(s"- `$d`\n")
        sb.append("\n")
      }
      if (q.outputs.nonEmpty) {
        sb.append("**Outputs:**\n")
        for (o <- q.outputs.map(Names.original).toList.sorted)
          sb.append(s"- `$o`\n")
        sb.append("\n")
      }
    }
    sb.toString
  }
}
