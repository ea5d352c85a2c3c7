package graft.component

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}

/** Block-sequential / batch-parallel executor over one SparkSession
  * (reference A17, `src/query_orchestrator.py:271-402`). Spark actions are
  * thread-safe on a shared session, so a fixed pool of `threads` futures
  * mirrors the reference's per-thread cursors; Spark additionally
  * parallelizes *inside* each statement, so intra-block parallelism mostly
  * buys latency on many small queries.
  *
  * Mutable-table semantics over immutable DataFrames (SURVEY §7 "hard
  * parts"): CREATE VIEW registers a late-bound view over the body
  * ([[Body.createView]]), which re-runs the body at each read, so no
  * swap touches a view; CREATE TABLE computes the body once into Spark's
  * block manager and registers that snapshot; INSERT unions and
  * re-snapshots; MERGE, UPDATE and DELETE re-derive the table on one
  * engine ([[executeMerge]]; a plain UPDATE or DELETE marks the rows its
  * WHERE selects, with no join), every stored value cast to its column's
  * type ([[Executor.stored]]). The executor keeps a registry of the
  * tables it holds — the passthrough tables it [[Executor.attach]]es
  * included — and at the end of every [[execute]] call writes each table
  * that call changed to the warehouse directory (parquet), once, and
  * copies the files of each passthrough table no statement changed — the
  * reference's database passthrough (A11), where DuckDB keeps every table
  * in one database and writes the `.duck.db` file once.
  */
final case class QueryTiming(name: String, seconds: Double)
final case class ExecutionStats(timings: List[QueryTiming]) {
  def total: Double = timings.map(_.seconds).sum
}

/** A table's declared state. `pk` is the DDL PRIMARY KEY, kept
  * SEPARATE from index-contributed keys: DROP INDEX must never retract
  * a PRIMARY KEY that happens to share its column set. `defaults` maps
  * a lowercased column to its DEFAULT expression text (partial-column
  * INSERTs and the DEFAULT keyword draw from it — probed v1.0).
  * `notNull` and `checks` are enforced on every write of the table. */
private[component] final case class TableMeta(
    pk: Seq[String] = Nil,
    defaults: Map[String, String] = Map.empty,
    notNull: Seq[String] = Nil,
    checks: Seq[String] = Nil) {
  private def word(c: String) = ("(?i)\\b" + java.util.regex.Pattern.quote(c) + "\\b").r
  /** Whether a CHECK expression reads column `c`. */
  def checked(c: String): Boolean = checks.exists(word(c).findFirstIn(_).isDefined)
  /** Every part follows a column rename (probed: a CHECK referencing
    * the column renames WITH it; PK columns rename in place). */
  def renameColumn(from: String, to: String): TableMeta = {
    def ren(cols: Seq[String]) =
      cols.map(k => if (k.equalsIgnoreCase(from)) to else k)
    TableMeta(ren(pk),
      defaults.get(from.toLowerCase).fold(defaults)(d =>
        defaults - from.toLowerCase + (to.toLowerCase -> d)),
      ren(notNull),
      checks.map(ck => word(from).replaceAllIn(ck,
        java.util.regex.Matcher.quoteReplacement(to))))
  }
  def dropColumn(c: String): TableMeta =
    copy(defaults = defaults - c.toLowerCase,
      notNull = notNull.filterNot(_.equalsIgnoreCase(c)))
}

/** A table an [[Executor]] holds: its warehouse dir name and its current
  * block-manager snapshot, with the nullability its statement computed
  * (the catalog registers the snapshot all-nullable, as a parquet read
  * would). */
private[component] final case class Held(dir: String, df: DataFrame)

class Executor(spark: SparkSession, warehouseDir: String, threads: Int = 4) {

  Body.register(spark)

  /** Declared state per table (lowercased sanitized name); a table with
    * no entry declares nothing. */
  private val tableMeta = scala.collection.concurrent.TrieMap[String, TableMeta]()
  private def metaOf(table: String): TableMeta =
    tableMeta.getOrElse(table, TableMeta())
  private def updateMeta(table: String)(f: TableMeta => TableMeta): Unit =
    tableMeta.put(table, f(metaOf(table)))

  // Types ride the warehouse like DuckDB types ride the database file
  // (the reference's passthrough contract): a `.types.sql` snapshot is
  // replayed here and by [[attach]] — enum columns persisted by a
  // PREVIOUS run decode again without re-running their CREATE TYPE.
  // Written by every [[persist]] ([[persistTypes]]); per-run
  // TypeSql.reset() in Component.run keeps non-passthrough runs isolated.
  loadTypes(Paths.get(warehouseDir))

  private def loadTypes(dir: Path): Unit = {
    val f = dir.resolve(".types.sql")
    if (Files.exists(f))
      TypeSql.loadDdl(Files.readString(f))
  }

  private def persistTypes(): Unit = {
    val f = Paths.get(warehouseDir, ".types.sql")
    val ddl = TypeSql.exportDdl
    if (ddl.isEmpty) Files.deleteIfExists(f)
    else {
      Files.createDirectories(f.getParent)
      Files.writeString(f, ddl.mkString("\n") + "\n")
    }
  }

  /** Index name → (table, cols); cols empty for a non-unique index. The
    * single source of truth for index-contributed upsert keys: DROP INDEX
    * removes its entry, [[keysetsFor]] derives the live key sets. */
  private val indexNames =
    scala.collection.concurrent.TrieMap[String, (String, Seq[String])]()

  /** The legal upsert conflict targets of `table` (lowercased sanitized):
    * its PRIMARY KEY plus every UNIQUE-index key, deduplicated as column
    * SETS — a PK plus an identical UNIQUE index is ONE target, not a
    * "several key indexes" ambiguity. */
  private def keysetsFor(table: String): Vector[Seq[String]] = {
    val all = Some(metaOf(table).pk).filter(_.nonEmpty).toVector ++
      indexNames.values.collect { case (t, cols) if t == table && cols.nonEmpty => cols }
    all.foldLeft(Vector.empty[Seq[String]]) { (acc, ks) =>
      if (acc.exists(_.map(_.toLowerCase).toSet ==
        ks.map(_.toLowerCase).toSet)) acc
      else acc :+ ks
    }
  }

  /** Whether column `c` of `table` is in its PRIMARY KEY or a UNIQUE
    * index key — a dependency that blocks a column drop or retype
    * (probed v1.0), like a CHECK that reads it. */
  private def inKey(table: String, c: String): Boolean =
    metaOf(table).pk.exists(_.equalsIgnoreCase(c)) ||
      indexNames.values.exists { case (t, cols) =>
        t == table && cols.exists(_.equalsIgnoreCase(c)) }

  /** The tables this executor holds: lowercased sanitized name → the
    * warehouse dir name (the spelling that created it) and the current
    * snapshot. `changed` names every table whose state changed since the
    * last [[persist]], dropped and renamed-away ones included.
    * `untouched` maps each attached table whose files the warehouse has
    * not received yet to the dir it was read from. */
  private val held = scala.collection.concurrent.TrieMap[String, Held]()
  private val changed = scala.collection.concurrent.TrieMap[String, Unit]()
  private val untouched = scala.collection.concurrent.TrieMap[String, Path]()

  /** Attach the tables a previous run left in `dir` (the warehouse
    * passthrough): its `.types.sql` replays first, then every table dir
    * (a dir with a `meta.json` is a graft.ops.DedupIndex, engine state
    * read through DedupIndex.load, not a table) is read concurrently and
    * held unchanged, in dir-name order; [[persist]] copies the files of a
    * table no statement changes on to the warehouse. An enum column whose
    * type the catalog lacks fails here. */
  def attach(dir: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(dir)) return
    loadTypes(dir)
    val listing = Files.list(dir)
    val dirs =
      try listing.iterator().asScala.filter(p =>
        Files.isDirectory(p) && !Files.exists(p.resolve("meta.json")))
        .toList.sortBy(_.getFileName.toString)
      finally listing.close()
    Parallel.map(threads, dirs)(p => spark.read.parquet(p.toString))
      .zip(dirs).foreach { case (df, p) =>
        df.schema.foreach(f =>
          graft.functions.EnumExprs.enumNameOf(f.dataType).foreach(graft.functions.EnumExprs.values))
        hold(p.getFileName.toString, df, Some(p))
      }
  }

  /** Register `df` as the state of table `name`: changed, or read
    * untouched from the passthrough dir `attached`. */
  private def hold(name: String, df: DataFrame, attached: Option[Path] = None): Unit = {
    val key = Names.view(name).toLowerCase
    held.updateWith(key)(h =>
      Some(Held(h.fold(Names.view(name))(_.dir), df)))
    attached match {
      case Some(dir) => untouched.put(key, dir)
      case None => changed.put(key, ())
    }
    register(name, GraftSqlBridge.asNullable(df))
  }

  /** `sanitized` no longer names a table this executor holds. */
  private def release(sanitized: String): Unit = {
    held.remove(sanitized.toLowerCase)
    changed.put(sanitized.toLowerCase, ())
  }

  /** The constraint-registry window [[IntrospectSql]] reads through.
    * Catalog = the session's registered relations minus engine-internal
    * names; BASE TABLE = a table this executor holds (file-read helper
    * views registered by FileReads list as VIEWs — a documented
    * impurity vs DuckDB, whose table functions are not cataloged). */
  private lazy val introspectMeta: IntrospectSql.Meta = new IntrospectSql.Meta {
    def pk(t: String): Seq[String] = metaOf(t.toLowerCase).pk
    def notNull(t: String): Seq[String] = metaOf(t.toLowerCase).notNull
    def defaults(t: String): Map[String, String] = metaOf(t.toLowerCase).defaults
    def isBaseTable(n: String): Boolean = held.contains(Names.view(n).toLowerCase)
    def catalogNames: Seq[String] =
      spark.catalog.listTables().collect().map(_.name)
        .filterNot(n => n.startsWith("__graft") || n.startsWith(".staging"))
        .sorted.toSeq
  }

  /** One bare type text → Spark DataType (alias/enum names resolve
    * through the TypeSql store — the ALTER TABLE column paths sit
    * outside the statement positions TypeSql.substitute covers). */
  private def parseTypeText(t: String): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StructType.fromDDL("c " +
      TypeSql.resolveTypeText(t)
        .replaceAll("(?i)\\bVARCHAR\\b(?!\\s*\\()", "STRING")).head.dataType

  /** Drop every piece of metadata attached to `table` — called when
    * the table object is dropped or replaced (DuckDB drops a table's
    * indexes with it; a replacement table starts with no keys — stale
    * keys surviving a CREATE OR REPLACE would mis-target later upserts). */
  private def clearTableMeta(table: String): Unit = {
    tableMeta.remove(table)
    indexNames.filterInPlace { case (_, (t, _)) => t != table }
  }

  /** Carry table metadata across ALTER ... RENAME: the table object
    * moved, its declared state and indexes move with it (anything
    * previously on the target name was just replaced). */
  private def renameTableMeta(from: String, to: String): Unit = {
    clearTableMeta(to)
    tableMeta.remove(from).foreach(tableMeta.put(to, _))
    indexNames.mapValuesInPlace { case (_, (t, cols)) =>
      if (t == from) (to, cols) else (t, cols)
    }
  }

  /** View definitions registered this run, in creation order (a
    * replaced view moves to the end): lowercased sanitized name →
    * (sanitized name, body SQL). EXPORT DATABASE writes them, and RENAME
    * re-creates the ones whose body names the renamed object. */
  private val viewDefs = new java.util.LinkedHashMap[String, (String, String)]()

  /** PREPARE templates, name → body (per-run, like the reference's
    * connection-scoped prepared statements; [[PrepareSql]]). */
  private val prepared = scala.collection.concurrent.TrieMap[String, String]()

  /** The one view path (CREATE VIEW, IMPORT DATABASE's replay and
    * RENAME): register `sanitized` as a late-bound view over `body` and
    * record it, last in creation order. */
  private def createView(sanitized: String, body: String): Unit = {
    Body.createView(spark, sanitized, body)
    viewDefs.synchronized {
      viewDefs.remove(sanitized.toLowerCase)
      viewDefs.put(sanitized.toLowerCase, (sanitized, body))
    }
    if (held.contains(sanitized.toLowerCase)) release(sanitized)
  }

  /** Run the plan's blocks in order and each batch's queries on the pool,
    * then [[persist]] the tables the plan changed. A failed statement
    * fails the call before anything is written. */
  def execute(plan: ExecutionPlan): ExecutionStats = {
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val timings = scala.collection.mutable.ListBuffer[QueryTiming]()
    try {
      for (block <- plan.blocks; batch <- block.batches) {
        val fs = batch.queries.map { q =>
          Future {
            val t0 = System.nanoTime()
            q.statements.foreach(runStatement)
            QueryTiming(q.name, (System.nanoTime() - t0) / 1e9)
          }
        }
        // any failure aborts the run (reference: collect failures, cancel rest)
        timings ++= Await.result(Future.sequence(fs), Duration.Inf)
      }
      persist()
    } finally pool.shutdown()
    ExecutionStats(timings.toList)
  }

  /** Write every table changed since the last persist to its warehouse
    * dir and copy the files of every attached table no statement changed,
    * concurrently on `ec`, delete the dir of every table dropped or
    * renamed away, and write the type catalog. Each write or copy stages
    * into a fresh directory and moves into place, replacing any dir the
    * table had before (under any spelling of its name). */
  def persist()(implicit ec: ExecutionContext): Unit = {
    val keys = (changed.keys ++ untouched.keys).toList.distinct.sorted
    val listing = Option(Paths.get(warehouseDir).toFile.listFiles()).getOrElse(Array.empty)
    val onDisk = listing.filter(f => f.isDirectory && !f.getName.startsWith(".staging_"))
      .map(_.toPath).groupBy(_.getFileName.toString.toLowerCase)
    val writes = keys.map { key =>
      Future {
        val staged = held.get(key).map { h =>
          val staging = Paths.get(warehouseDir,
            s".staging_${h.dir}_${version.incrementAndGet()}")
          if (changed.contains(key)) h.df.write.mode("overwrite").parquet(staging.toString)
          else copyTree(untouched(key), staging)
          (staging, Paths.get(warehouseDir, h.dir))
        }
        onDisk.getOrElse(key, Array.empty).foreach(deleteRecursively)
        staged.foreach { case (staging, dir) => Files.move(staging, dir) }
        changed.remove(key)
        untouched.remove(key)
      }
    }
    Await.result(Future.sequence(writes), Duration.Inf)
    persistTypes()
  }

  /** Run one rewritten statement against the session catalog. Returns the
    * RETURNING projection over the DML's affected-row delta when the
    * statement carries one (None otherwise) — the reference exposes
    * RETURNING rows as the statement's result set the same way. */
  def runStatement(stmt0: String): Option[DataFrame] = {
    // leading comments stripped, so the statement starts at its first
    // keyword (the corpus habitually titles scripts with a comment line:
    // `-- Export sliced as one table\nCREATE VIEW ...`)
    val stmtFull = Dialect.stripLeadingComments(stmt0)
    // RETURNING splits off before dispatch (Spark's parser has no such
    // clause); each DML branch below records its affected-row delta.
    // User-type aliases substitute to their base text first — after this
    // line the statement is exactly what the user could have written
    // inline ([[TypeSql]])
    val substituted = TypeSql.substitute(stmtFull)
    // alias substitution runs AFTER the prepare-time rewrite (aliases are
    // created by earlier statements of the same run), so an alias over an
    // integral base (`x::myint`) surfaces its `::INTEGER` spelling only
    // HERE — re-run the rounding-cast pass so it rounds like the engine
    // instead of truncating (r16 residual (c); idempotent — duck_icast
    // calls carry their type as a quoted literal, which the pass masks)
    val recast =
      if (substituted ne stmtFull) Dialect.rewriteIntCasts(substituted)
      else substituted
    val (stmt, returning) = ReturningSql.split(recast)
    FileReads.ensureRegistered(spark, stmt) // read_csv/read_parquet views
    IntrospectSql.ensureRegistered(spark, stmt, introspectMeta)
    var delta: Option[DataFrame] = None
    Stmt.parse(stmt) match {
    // ROLLBACK / ATTACH / ... reach execution as the dialect's reject
    // sentinels: static analysis lists them, a RUN fails loudly (the user
    // asked for something this engine cannot honor, e.g. an undo of work
    // that committed as it ran)
    case Stmt.Rejected(message) => throw new UserException(message)
    case Stmt.Malformed(error) => throw error

    case Stmt.CreateView(name, body, ifNotExists) =>
      val sanitized = Names.view(name)
      if (ifNotExists && spark.catalog.tableExists(s"`$sanitized`")) ()
      else createView(sanitized, body)

    case Stmt.CreateTableAs(name, body, ifNotExists) =>
      if (ifNotExists &&
          spark.catalog.tableExists(s"`${Names.view(name)}`")) ()
      else {
        clearTableMeta(Names.view(name).toLowerCase) // CTAS declares no keys
        replace(name, bodyDf(body))
      }

    case Stmt.CreateEmpty(name, colDefs, ifNotExists) =>
      if (ifNotExists &&
          spark.catalog.tableExists(s"`${Names.view(name)}`")) ()
      else {
        // column defs → StructType via [[ConstraintSql]]: constraints
        // are PARSED OUT and reproduced (DEFAULT fill on inserts,
        // NOT NULL / CHECK enforced at materialization, UNIQUE as an
        // upsert conflict target) instead of silently stripped
        val ddl = ConstraintSql.table(colDefs)
        val key = Names.view(name).toLowerCase
        clearTableMeta(key) // replacement starts clean
        val parsed = ddl.parsed
        tableMeta.put(key, TableMeta(ddl.pk,
          parsed.cols.flatMap(c =>
            c.default.map(d => c.name.toLowerCase -> d)).toMap,
          (parsed.cols.filter(_.notNull).map(_.name) ++
            ddl.pk.filterNot(pc => parsed.cols.exists(c =>
              c.notNull && c.name.equalsIgnoreCase(pc)))).distinct,
          parsed.cols.flatMap(_.checks) ++ parsed.tableChecks))
        parsed.uniqueSets.zipWithIndex.foreach { case (cols, i) =>
          indexNames.put(s"__ddl_unique_${key}_${i + 1}", (key, cols))
        }
        val empty = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), ddl.schema)
        replace(name, empty)
      }

    case Stmt.AddPrimaryKey(name, pkCols) =>
      val existing = altered(name, "ADD PRIMARY KEY")
      val byLower = existing.columns.map(c => c.toLowerCase -> c).toMap
      val cols = pkCols.map(k => byLower.getOrElse(k.toLowerCase,
        throw new UserException(
          s"ALTER TABLE $name ADD PRIMARY KEY: column $k does not exist")))
      // DuckDB rejects a PK over non-unique existing data — replicate
      // loudly (one aggregate scan; a one-time DDL statement)
      val dup = existing.groupBy(cols.map(col): _*)
        .count().filter(col("count") > 1).limit(1).collect()
      if (dup.nonEmpty)
        throw new UserException(
          s"ALTER TABLE $name ADD PRIMARY KEY: existing rows are not " +
            s"unique on (${cols.mkString(", ")})")
      // PRIMARY KEY columns are NOT NULL (DuckDB enforces the constraint
      // on ADD): a NULL key passing here would later silently miss the
      // upsert anti-join (NULL never equals NULL) and diverge from DuckDB
      val nullKey = existing
        .filter(cols.map(c => col(c).isNull).reduce(_ || _)).limit(1).collect()
      if (nullKey.nonEmpty)
        throw new UserException(
          s"ALTER TABLE $name ADD PRIMARY KEY: NULL in key column(s) " +
            s"(${cols.mkString(", ")}) — PRIMARY KEY columns are NOT NULL")
      updateMeta(Names.view(name).toLowerCase)(_.copy(pk = pkCols))

    // ---- ALTER TABLE column DDL (probed v1.0 semantics throughout) ----
    case Stmt.AddColumn(name, itemTxt, ifNotExists) =>
      val existing = altered(name, "ADD COLUMN")
      // ADD PRIMARY KEY is the PREVIOUS case; a spelling that missed it
      // (e.g. nested parens) must not read as a column named PRIMARY
      if ("(?is)^(?:PRIMARY\\s+KEY|CONSTRAINT|FOREIGN\\s+KEY|UNIQUE|CHECK)\\b".r
          .findFirstIn(itemTxt).isDefined)
        throw new UserException(
          s"unsupported ALTER TABLE ... ADD form: $itemTxt")
      val colP = ConstraintSql.parseColumn(itemTxt).getOrElse(
        throw new UserException(s"cannot parse ADD COLUMN item: $itemTxt"))
      // probed v1.0: `Parser Error: Adding columns with constraints not
      // yet supported` — only `name type [DEFAULT expr]` is legal
      if (colP.notNull || colP.checks.nonEmpty || colP.unique)
        throw new UserException(
          "Adding columns with constraints not yet supported")
      if (existing.columns.exists(_.equalsIgnoreCase(colP.name))) {
        if (!ifNotExists)
          throw new UserException(
            s"Catalog Error: Column with name ${colP.name} already exists!")
      } else {
        val typeText = colP.cleaned.replaceFirst("^`[^`]*`\\s*", "")
        val dt = parseTypeText(typeText)
        // probed: the DEFAULT is EVALUATED for existing rows, and it
        // persists for future partial-column inserts
        val value = stored(colP.default.map(expr).getOrElse(lit(null)), dt)
        colP.default.foreach { d =>
          updateMeta(Names.view(name).toLowerCase)(t =>
            t.copy(defaults = t.defaults + (colP.name.toLowerCase -> d)))
        }
        replace(name, existing.withColumn(colP.name, value))
      }

    case Stmt.DropColumn(name, colName0, ifExists) =>
      val key = Names.view(name).toLowerCase
      val existing = altered(name, "DROP COLUMN")
      if (!ifExists || existing.columns.exists(_.equalsIgnoreCase(colName0))) {
        val c = column(existing, name, colName0)
        // probed v1.0: PK/UNIQUE and CHECK dependencies block the drop
        if (inKey(key, c)) throw new UserException(
          s"""Cannot drop column "$c" because there is a UNIQUE """ +
            "constraint that depends on it")
        if (metaOf(key).checked(c))
          throw new UserException(
            s"""Cannot drop column "$c" because there is a CHECK """ +
              "constraint that depends on it")
        updateMeta(key)(_.dropColumn(c))
        replace(name, existing.drop(c))
      }

    case Stmt.RenameColumn(name, from, to) =>
      val key = Names.view(name).toLowerCase
      val existing = altered(name, "RENAME COLUMN")
      val c = column(existing, name, from)
      if (existing.columns.exists(_.equalsIgnoreCase(to)))
        throw new UserException(
          s"Catalog Error: Column with name $to already exists!")
      // every registry follows the rename
      updateMeta(key)(_.renameColumn(c, to))
      indexNames.toSeq.foreach { case (n, (t, cols)) =>
        if (t == key && cols.exists(_.equalsIgnoreCase(c)))
          indexNames.put(n,
            (t, cols.map(k => if (k.equalsIgnoreCase(c)) to else k)))
      }
      replace(name, existing.withColumnRenamed(c, to))

    case Stmt.AlterColumn(name, colName0, action) =>
      val sanitized = Names.view(name)
      val key = sanitized.toLowerCase
      val existing = altered(name, "ALTER COLUMN")
      val c = column(existing, name, colName0)
      val typeRe = "(?is)^(?:SET\\s+DATA\\s+)?TYPE\\s+(.+?)(?:\\s+USING\\s+(.+))?$".r
      action match {
        case typeRe(typeText, usingTxt) =>
          // probed v1.0: retype of a PK/UNIQUE or CHECK-referenced
          // column is a binder error; DEFAULT and NOT NULL survive
          if (inKey(key, c)) throw new UserException(
            "Binder Error: Cannot change the type of a column that has " +
              "a UNIQUE or PRIMARY KEY constraint specified")
          if (metaOf(key).checked(c))
            throw new UserException(
              "Binder Error: Cannot change the type of a column that " +
                "has a CHECK constraint specified")
          val dt = parseTypeText(typeText)
          val src = Option(usingTxt).map(expr).getOrElse(col(s"`$c`"))
          replace(name, existing.withColumn(c, stored(src, dt)))
        case a if "(?is)^SET\\s+DEFAULT\\s+.+$".r.findFirstIn(a).isDefined =>
          val d = a.replaceFirst("(?is)^SET\\s+DEFAULT\\s+", "").trim
          updateMeta(key)(t => t.copy(defaults = t.defaults + (c.toLowerCase -> d)))
        case a if "(?is)^DROP\\s+DEFAULT$".r.findFirstIn(a).isDefined =>
          updateMeta(key)(t => t.copy(defaults = t.defaults - c.toLowerCase))
        case a if "(?is)^SET\\s+NOT\\s+NULL$".r.findFirstIn(a).isDefined =>
          // probed: existing NULLs fail the constraint at SET time
          if (existing.filter(col(s"`$c`").isNull).limit(1).collect().nonEmpty)
            throw new UserException(
              s"NOT NULL constraint failed: $sanitized.$c")
          updateMeta(key)(t => t.copy(notNull = (t.notNull :+ c).distinct))
        case a if "(?is)^DROP\\s+NOT\\s+NULL$".r.findFirstIn(a).isDefined =>
          updateMeta(key)(t =>
            t.copy(notNull = t.notNull.filterNot(_.equalsIgnoreCase(c))))
        case other =>
          throw new UserException(
            s"unsupported ALTER COLUMN action: $other — supported: " +
              "[SET DATA] TYPE t [USING expr], SET/DROP DEFAULT, " +
              "SET/DROP NOT NULL")
      }

    case Stmt.Rename(from, to, ifExists) =>
      val src = Names.view(from)
      val existed = spark.catalog.tableExists(s"`$src`")
      if (!existed && !ifExists)
        throw new UserException(s"ALTER ... RENAME: $from does not exist")
      if (existed) {
        // a held table's snapshot moves to the new name, and [[persist]]
        // writes it there and deletes the old name's dir; a view moves
        // with its body
        val dst = Names.view(to)
        val view = viewDefs.synchronized(Option(viewDefs.remove(src.toLowerCase)))
        (held.get(src.toLowerCase), view) match {
          case (Some(h), _) =>
            release(src)
            hold(to, h.df)
          case (None, Some((_, body))) => createView(dst, body)
          case (None, None) =>
            register(to, spark.table(s"`$src`")) // input: same analyzed plan
            if (held.contains(dst.toLowerCase)) release(dst)
        }
        spark.catalog.dropTempView(src)
        renameTableMeta(src.toLowerCase, dst.toLowerCase)
        // DuckDB's views would fail after the rename ("Table with name
        // ... does not exist"); this engine keeps them working, a
        // documented divergence. A view whose body names the old name and
        // no longer reads is re-created over the new name, in creation
        // order; views over it resolve by name, and a body that spells
        // the old name only as a column keeps its definition.
        val views = viewDefs.synchronized(new java.util.ArrayList(viewDefs.values))
        views.forEach { case (sanitized, body) =>
          val renamed = renameRefs(renameRefs(body, from, to), src, to)
          if (renamed != body && scala.util.Try(spark.table(s"`$sanitized`").schema).isFailure)
            createView(sanitized, renamed)
        }
      }

    case Stmt.Drop(kind, name, ifExists) =>
      val sanitized = Names.view(name)
      val existed = spark.catalog.tableExists(s"`$sanitized`")
      if (!existed && !ifExists)
        throw new UserException(
          s"DROP ${kind.toUpperCase}: $name does not exist")
      if (existed) {
        spark.catalog.dropTempView(sanitized)
        viewDefs.synchronized(viewDefs.remove(sanitized.toLowerCase))
        clearTableMeta(sanitized.toLowerCase)
        if (held.contains(sanitized.toLowerCase)) release(sanitized)
      }

    case Stmt.Upsert(u) =>
      // probed v1.0 RETURNING semantics: every PROPOSED row, verbatim —
      // which is exactly the pinned batch the upsert evaluated once
      delta = Some(upsert(u))

    // MERGE INTO, and every UPDATE and DELETE lowered onto it
    case Stmt.Merge(m) =>
      delta = executeMerge(m, returning.isDefined)

    case Stmt.CreateIndex(c) =>
      // a NON-unique index is a lookup accelerator with no semantic
      // meaning in a scan-based engine — inert; a UNIQUE one declares a
      // key the upsert surface may target (enforcement on plain INSERT
      // stays unenforced, the same boundary as the stripped PRIMARY KEY)
      if (indexNames.contains(c.name.toLowerCase) && !c.ifNotExists)
        throw new UserException(s"CREATE INDEX: index ${c.name} already exists")
      if (c.unique && !indexNames.contains(c.name.toLowerCase)) {
        val t = Names.view(c.table).toLowerCase
        indexNames.put(c.name.toLowerCase, (t, c.cols))
      } else if (!c.unique)
        indexNames.putIfAbsent(c.name.toLowerCase, (Names.view(c.table).toLowerCase, Nil))

    case Stmt.DropIndex(d) =>
      // removing the indexNames entry is the whole retraction: key sets
      // are DERIVED per upsert via keysetsFor, so a DDL PRIMARY KEY that
      // shares this index's columns keeps working after the drop
      if (indexNames.remove(d.name.toLowerCase).isEmpty && !d.ifExists)
        throw new UserException(s"DROP INDEX: index ${d.name} does not exist")

    case Stmt.Insert(name, rest0) =>
      val (existing, aligned0) = alignedInsertSource(name, rest0)
      // under RETURNING the observed rows must be the WRITTEN rows: pin a
      // (possibly nondeterministic) source to one evaluation
      val aligned = if (returning.isDefined) aligned0.localCheckpoint()
                    else aligned0
      replace(name, existing.unionByName(aligned))
      delta = Some(aligned)

    case Stmt.ExportDatabase(e) => exportDatabase(e)

    case Stmt.ImportDatabase(dir) => importDatabase(dir)

    case Stmt.CreateSequence(c) =>
      SequenceSql.create(c.name, c.defn, c.orReplace, c.ifNotExists)

    case Stmt.DropSequence(d) => SequenceSql.drop(d.name, d.ifExists)

    // CREATE TYPE / DROP TYPE — user-type aliases ([[TypeSql]]; probed
    // v1.0: duplicates error, nested aliases resolve at creation, DROP
    // of a missing name errors unless IF EXISTS)
    case Stmt.CreateType(c) => TypeSql.create(c)

    case Stmt.DropType(tn, ife) => TypeSql.drop(tn, ife, Some(spark))

    // SET VARIABLE / RESET VARIABLE (DuckDB ≥ 1.1 — [[VariableSql]];
    // getvariable resolves through the function registry)
    case Stmt.SetVariable(name, exprTxt) => VariableSql.set(spark, name, exprTxt)

    case Stmt.ResetVariable(name) => VariableSql.reset(name)

    // PREPARE / EXECUTE / DEALLOCATE — per-run template catalog
    // ([[PrepareSql]]; probed v1.0 rules: re-PREPARE replaces silently,
    // DEALLOCATE of an unknown name is a silent no-op, EXECUTE of one
    // errors, missing parameters error NAMING them)
    case Stmt.Prepare(p) => prepared.put(p.name, p.body)

    case Stmt.Deallocate(name) => prepared.remove(name)

    case Stmt.Execute(e) =>
      val body = prepared.getOrElse(e.name, throw new UserException(
        s"""Prepared statement "${e.name}" does not exist"""))
      // re-dispatch the substituted statement through the full path (any
      // statement kind; a RETURNING inside returns its rows)
      return runStatement(PrepareSql.substitute(body, e))

    // the sequence scale knob: n > 1 switches nextval to per-partition
    // block reservation — see SequenceSql's scale notes
    case Stmt.SequenceBlocks(n) => SequenceSql.setBlockSize(n)

    case Stmt.CopyToFile(p) => CopyTo.execute(spark, p, bodyDf)

    case Stmt.CopyFromFile(p) =>
      val tgt = s"`${Names.view(p.target)}`"
      if (!spark.catalog.tableExists(tgt))
        throw new UserException(
          s"COPY ... FROM: table ${p.target} does not exist " +
            "(create it first — DuckDB requires this too)")
      val existing = spark.table(tgt)
      // CSV carries enum columns as LABELS: read them as STRING and let
      // the aligned cast below re-encode (the CSV reader cannot take a
      // struct read-schema)
      val csvSchema = org.apache.spark.sql.types.StructType(
        existing.schema.fields.map { f =>
          if (graft.functions.EnumExprs.enumNameOf(f.dataType).isDefined)
            f.copy(dataType = org.apache.spark.sql.types.StringType)
          else f
        })
      val added0 = p.format match {
        case "CSV" => spark.read
          // positional mapping under the TARGET's schema (probed DuckDB
          // behavior: a HEADER only skips the first line, its names are
          // ignored); FAILFAST so a malformed row is a loud error, not
          // a silent NULL row
          .schema(csvSchema)
          .option("header", p.header.toString)
          .option("sep", p.delimiter)
          .option("quote", p.quote)
          .option("escape", p.quote)
          // DuckDB default: an unquoted empty field is NULL, a quoted ""
          // is the empty string; a NULL 'str' option replaces the
          // sentinel (the EXPORT DATABASE loader passes NULL '\N')
          .option("nullValue", p.nullStr.getOrElse(""))
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
          .option("dateFormat", "yyyy-MM-dd")
          .option("mode", "FAILFAST")
          .csv(p.path)
        case "PARQUET" =>
          val r = spark.read.parquet(p.path)
          if (r.columns.length != existing.columns.length)
            throw new UserException(
              s"COPY ${p.target} FROM parquet: ${r.columns.length} columns " +
                s"in file, ${existing.columns.length} in table")
          r.toDF(existing.columns: _*) // positional; bad types fail the cast
        case "JSON" => spark.read.json(p.path) // objects are unordered: by name
      }
      val addedCols = added0.columns.map(_.toLowerCase).toSet
      val aligned = added0.select(existing.columns.map { c =>
        stored(if (addedCols(c.toLowerCase)) col(c) else lit(null),
          existing.schema(c).dataType).as(c)
      }: _*)
      replace(p.target, existing.unionByName(aligned))

    case Stmt.EngineQuery(body) =>
      // bare PIVOT / ASOF / POSITIONAL / UNION BY NAME / star REPLACE /
      // DESCRIBE / SUMMARIZE / ...: execute for effect + errors
      Body.run(spark, body).queryExecution.assertAnalyzed()

    case Stmt.Catalyst(sql) =>
      // SELECT / SET / etc.: execute for effect + error surfacing
      spark.sql(sql).queryExecution.assertAnalyzed()
    }
    returning.map { proj =>
      val d = delta.getOrElse(throw new UserException(
        "RETURNING is only supported on INSERT / UPDATE / DELETE / MERGE " +
          "statements (including the ON CONFLICT / OR REPLACE / OR " +
          "IGNORE upsert forms)"))
      // a MERGE delta carries the 1.4 `merge_action` pseudo-column: it is
      // addressable by name but NOT part of `*` (spec-pinned 1.4 rule)
      val exprs = ReturningSql.projExprs(proj).flatMap {
        case "*" if d.columns.contains("merge_action") =>
          d.columns.filter(_ != "merge_action").map(c => s"`$c`")
        case e => Seq(e)
      }
      d.selectExpr(exprs: _*)
    }
  }

  /** The current state of `name`, the target of an ALTER TABLE `what`. */
  private def altered(name: String, what: String): DataFrame = {
    if (!spark.catalog.tableExists(s"`${Names.view(name)}`"))
      throw new UserException(s"ALTER TABLE ... $what: $name does not exist")
    spark.table(s"`${Names.view(name)}`")
  }

  /** `table`'s spelling of column `c` (matched case-insensitively). */
  private def column(table: DataFrame, name: String, c: String): String =
    table.columns.find(_.equalsIgnoreCase(c)).getOrElse(throw new UserException(
      s"""Binder Error: Table "${Names.view(name)}" does not have a column """ +
        s"""with name "$c""""))

  /** A statement body, classified by [[Body.parse]] and run by [[Body.run]]. */
  private def bodyDf(body: String): DataFrame = Body.run(spark, Body.parse(body))

  private val version = new java.util.concurrent.atomic.AtomicLong()

  /** NOT NULL / CHECK enforcement riding the write pass: assert_true
    * filters evaluate per row DURING materialization (no extra scan),
    * raising the DuckDB-shaped constraint message on violation. A NULL
    * check result passes (the standard's rule, probed v1.0). */
  private def enforced(name: String, df: DataFrame): DataFrame = {
    val key = Names.view(name).toLowerCase
    val meta = metaOf(key)
    val present = df.columns.map(_.toLowerCase).toSet
    var out = df
    meta.notNull
      .filter(c => present(c.toLowerCase)).foreach { c =>
        out = out.filter(expr(
          s"assert_true(`$c` IS NOT NULL, " +
            s"'NOT NULL constraint failed: $key.$c') IS NULL"))
      }
    meta.checks.foreach { ck =>
      out = out.filter(expr(
        s"assert_true(coalesce(CAST(($ck) AS BOOLEAN), true), " +
          s"'CHECK constraint failed: $key') IS NULL"))
    }
    out
  }

  /** The one table-state swap (CREATE TABLE, INSERT, UPDATE, DELETE,
    * MERGE, upsert, COPY FROM, ALTER TABLE): compute `df` once, with
    * `name`'s constraints enforced on that pass, into a block-manager
    * snapshot (an eager local checkpoint, MEMORY_AND_DISK) and hold it as
    * the table's state; a view over it reads the new state at its next
    * analysis. The snapshot cuts
    * lineage, and a NOT NULL or CHECK violation fails the statement that
    * writes the table. No file is written here: [[persist]] writes the
    * table once, at the end of the [[execute]] call. A superseded
    * snapshot is left to Spark's ContextCleaner, because a running plan
    * may still read it. */
  private def replace(name: String, df: DataFrame): Unit =
    hold(name, enforced(name, df)
      .localCheckpoint(eager = true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Copy the file tree under `from` to the new directory `to`, byte for
    * byte. */
  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally walk.close()
  }

  /** Depth-first delete; the walk stream is CLOSED (an unclosed
    * Files.walk leaks a directory fd per DDL/DML statement). */
  private def deleteRecursively(dir: Path): Unit = {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Textually rename identifier references of `from` to `to` in a view
    * body: bare word-boundary occurrences outside quotes and comments,
    * and the quoted identifiers `"from"` / `` `from` ``. A textual pass
    * (not AST): the rename path re-creates the view from the result,
    * which analyzes it, so a miss never reads silent wrong data. */
  private def renameRefs(sql: String, from: String, to: String): String = {
    val bare = Dialect.replaceUnquoted(sql,
      ("(?iU)(?<!\\w)" + java.util.regex.Pattern.quote(from) + "(?!\\w)").r)(_ => to)
    val out = new StringBuilder
    var i = 0
    while (i < bare.length) {
      val e = Dialect.spanEnd(bare, i)
      if (e < 0) { out.append(bare.charAt(i)); i += 1 }
      else {
        val span = bare.substring(i, e)
        val quoted = (span.head == '"' || span.head == '`') && span.length > 1 &&
          span.substring(1, span.length - 1).equalsIgnoreCase(from)
        out.append(if (quoted) s"${span.head}$to${span.head}" else span)
        i = e
      }
    }
    out.toString
  }

  private def register(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(Names.view(name))

  /** The one store cast: a value written to a column of type `dt` (INSERT,
    * UPDATE, MERGE, upsert, COPY FROM, ALTER COLUMN TYPE, ADD COLUMN
    * DEFAULT) takes that type through the cast `x::dt`
    * lowers to, so an integral column rounds a fractional value the way
    * DuckDB does ([[graft.functions.DuckIntCast]]) instead of truncating,
    * and an UPDATE never changes a column's type. */
  private def stored(value: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    dt match {
      case ByteType | ShortType | IntegerType | LongType => GraftSqlBridge.column(
        graft.functions.DuckIntCast(GraftSqlBridge.expression(value), dt, lenient = false))
      case _ => value.cast(dt)
    }
  }

  /** Read an INSERT tail ([[Stmt.insertSource]]) and return (target's
    * current state, incoming rows aligned to the target's schema) — the
    * shared front half of plain INSERT and the upserts. `BY NAME` aligns
    * the source's own column NAMES against the target (missing → NULL)
    * instead of the default positional mapping. */
  private def alignedInsertSource(name: String,
                                  rest0: String): (DataFrame, DataFrame) = {
    val (byName, colList, body) = Stmt.insertSource(rest0)
    // the column list's names: depth-0 split, comments dropped, unquoted
    val colNames = colList
      .map(Dialect.splitTop(_).map(Dialect.dropComments(_).trim
        .stripPrefix("`").stripSuffix("`")))
      .filter(_.nonEmpty)
    val existing = spark.table(s"`${Names.view(name)}`")
    val defaults = metaOf(Names.view(name).toLowerCase).defaults
    // the DEFAULT keyword inside VALUES rows draws the declared default
    // (NULL when none — probed v1.0); position maps through the column
    // list when present, table order otherwise
    val body1 =
      if (!"(?is)^\\s*VALUES\\b".r.findFirstIn(body).isDefined ||
          !"(?i)\\bDEFAULT\\b".r.findFirstIn(Dialect.maskQuoted(body)).isDefined) body
      else {
        val order = colNames.getOrElse(existing.columns.toSeq)
        val masked = Dialect.maskQuoted(body)
        val dep = Dialect.depths(masked)
        val sb = new StringBuilder(body)
        // depth-1 DEFAULT tokens, replaced right-to-left; the element
        // POSITION is the count of depth-1 commas before the token
        // within its tuple
        "(?i)\\bDEFAULT\\b".r.findAllMatchIn(masked).toList.reverse
          .foreach { m =>
            if (dep(m.start) == 1) {
              var j = m.start
              var commas = 0
              while (j >= 0 && dep(j) >= 1) {
                if (masked.charAt(j) == ',' && dep(j) == 1) commas += 1
                j -= 1
              }
              val colName = if (commas < order.length)
                order(commas).toLowerCase else ""
              val repl = defaults.getOrElse(colName, "NULL")
              sb.replace(m.start, m.end, s"($repl)")
            }
          }
        sb.toString
      }
    val added0 = bodyDf(body1)
    val added = colNames match {
      case Some(cs) => added0.toDF(cs: _*)
      case None if byName =>
        // DuckDB errors on source columns absent from the target —
        // silently dropping them would lose a typoed column's data
        val targetCols = existing.columns.map(_.toLowerCase).toSet
        val unknown = added0.columns.filterNot(c => targetCols(c.toLowerCase))
        if (unknown.nonEmpty)
          throw new UserException(
            s"INSERT INTO $name BY NAME: source column(s) not in target: " +
              unknown.mkString(", "))
        added0 // keep source names; align below
      case None     => added0.toDF(existing.columns: _*)
    }
    // columns absent from an explicit column list are NULL-filled, like
    // SQL INSERT with a partial column list; matching is case-insensitive
    // (the resolver default, and DuckDB's behavior)
    val addedCols = added.columns.map(_.toLowerCase).toSet
    val aligned = added.select(existing.columns.map { c =>
      stored(
        if (addedCols(c.toLowerCase)) col(c)
        else defaults.get(c.toLowerCase).map(expr) // absent column: declared DEFAULT, else NULL
          .getOrElse(lit(null)),
        existing.schema(c).dataType).as(c)
    }: _*)
    (existing, aligned)
  }

  /** MERGE INTO re-derivation (spec-pinned DuckDB 1.4 semantics —
    * [[MergeSql]]; the local v1.0 oracle cannot parse the statement),
    * which also runs every UPDATE and DELETE as the one-clause merge
    * [[MergeSql.parse]] lowers it to (their probed v1.0 rules). A merge
    * with no source (a plain UPDATE or DELETE) marks the target's rows in
    * place ([[markInPlace]]). Two distributed branches, no per-row path:
    *
    *  - target side (WHEN MATCHED / NOT MATCHED BY SOURCE): ONE left
    *    join of the target against the source on the user's ON, a
    *    first-match-wins when() chain picks each row's clause, one
    *    projection applies the UPDATE SETs, a filter drops the DELETEs.
    *    Several source rows matching one target row keep ONE arbitrary
    *    match — DuckDB's UPDATE ... FROM rule (probed v1.0, no error).
    *    When the ON is a pure equi conjunction and a cheap probe proves
    *    the source key-unique (the common delta shape), the uid +
    *    row_number dedup — a full-target shuffle — is SKIPPED entirely;
    *    otherwise the window path owns correctness. When the first
    *    WHEN MATCHED clause is an unconditional DELETE and no BY SOURCE
    *    clause exists, every matched row goes whichever match it keeps:
    *    the branch is ONE left-anti join, with no probe and no dedup.
    *  - insert side (WHEN NOT MATCHED [BY TARGET]): one anti-join keeps
    *    the source rows with no target match, the clause chain picks an
    *    INSERT form, one projection aligns to the target schema.
    *
    * At scale both joins shuffle on the ON keys (AQE broadcasts a small
    * source); when BOTH branches exist the source is pinned to one
    * evaluation (localCheckpoint — the upsert precedent, executor-side
    * partitions, no driver collect). Under RETURNING each branch's
    * annotated frame is checkpointed once and the written state AND the
    * delta derive from it (the single-eval contract), with the 1.4
    * `merge_action` pseudo-column ('UPDATE'/'DELETE'/'INSERT') in scope
    * for a MERGE (the lowered forms have none).
    * ERROR clauses run one limit(1) probe job per branch that carries
    * one. */
  private def executeMerge(m: MergeSql.Parsed,
                           wantDelta: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{monotonically_increasing_id, row_number}
    val sanitized = Names.view(m.target)
    if (!spark.catalog.tableExists(s"`$sanitized`"))
      throw new UserException(s"${m.verb}: table ${m.target} does not exist")
    val existing = spark.table(s"`$sanitized`")
    val tAlias = m.targetAlias.getOrElse(m.target)
    val byLower = existing.columns.map(c => c.toLowerCase -> c).toMap
    val clauses = m.clauses
    // SET / INSERT column names must exist (loud, like the binder)
    clauses.foreach {
      case MergeSql.Clause(_, _, _, MergeSql.Update(sets)) =>
        sets.foreach { case (k, _) => if (!byLower.contains(k.toLowerCase))
          throw new UserException(
            s"${m.verb} ${m.target}: SET column $k does not exist") }
      case MergeSql.Clause(_, _, _, MergeSql.Insert(Some(cs), _)) =>
        cs.foreach(k => if (!byLower.contains(k.toLowerCase))
          throw new UserException(
            s"MERGE INTO ${m.target}: INSERT column $k does not exist"))
      case _ => ()
    }
    val (srcSql, sAlias) = MergeSql.sourceOf(m).getOrElse(
      return markInPlace(m, existing.alias(tAlias), wantDelta))
    val matchedClauses = clauses.filter(_.kind == MergeSql.Matched)
    val bySourceClauses = clauses.filter(_.kind == MergeSql.NotMatchedBySource)
    val insClauses = clauses.filter(_.kind == MergeSql.NotMatchedByTarget)
    val needJoin = matchedClauses.nonEmpty || bySourceClauses.nonEmpty
    val needInsert = insClauses.nonEmpty
    // MergeSql.validate keeps UPDATE / DELETE on the target branch and
    // INSERT on the insert branch
    val updClauses = clauses.filter(_.action.isInstanceOf[MergeSql.Update])
    val delIdxs = clauses.collect { case MergeSql.Clause(i, _, _, MergeSql.Delete) => i }
    val insActionClauses = clauses.filter(_.action.isInstanceOf[MergeSql.Insert])
    val src0 = bodyDf(srcSql).withColumn("__m_hit", lit(true))
    // both branches consume the source → pin ONE evaluation (a
    // nondeterministic source must propose the same rows to both)
    val src = if (needJoin && needInsert) src0.localCheckpoint() else src0
    val srcByLower = src.columns.filter(_ != "__m_hit")
      .map(c => c.toLowerCase -> c).toMap

    def clauseCond(c: MergeSql.Clause): Column =
      c.cond.map(t => coalesce(expr(t), lit(false))).getOrElse(lit(true))
    // first-match-wins: fold from the last clause out, so the earliest
    // when() sits outermost
    def chain(cls: Seq[MergeSql.Clause]): Column =
      cls.foldRight(lit(-1)) { (c, acc) =>
        when(clauseCond(c), lit(c.idx)).otherwise(acc) }

    val errClauses = clauses.collect {
      case MergeSql.Clause(i, _, _, e: MergeSql.Error) => i -> e.msg }.toMap
    def checkErrors(df: DataFrame): Unit =
      if (errClauses.nonEmpty) {
        val hit = df.select(col("__m_action"))
          .filter(col("__m_action").isin(errClauses.keys.toSeq: _*))
          .limit(1).collect()
        if (hit.nonEmpty)
          throw new UserException(errClauses(hit.head.getInt(0)).getOrElse(
            s"MERGE INTO ${m.target}: a row reached a WHEN ... THEN ERROR " +
              "clause"))
      }

    // ---- target side: matched + not-matched-by-source ----
    val deletesEveryMatch = bySourceClauses.isEmpty &&
      matchedClauses.headOption.exists(c =>
        c.cond.isEmpty && c.action == MergeSql.Delete)
    def againstSource(how: String): DataFrame =
      existing.alias(tAlias).join(src.alias(sAlias), expr(m.on), how)
    val (keptTgt, tgtAnnotated) = if (!needJoin) (existing, None)
    else if (deletesEveryMatch) {
      // the RETURNING delta is the left-semi complement: old values,
      // read from the old snapshot
      val deleted = if (!wantDelta) None
        else Some(againstSource("left_semi")
          .withColumn("__m_action", lit(matchedClauses.head.idx)))
      (againstSource("left_anti"), deleted)
    } else {
      // SCALE fast path: the row_number dedup below shuffles the FULL
      // target by uid — the dominant MERGE cost at 100 TB. When the ON
      // is a pure equi conjunction AND one cheap probe job proves the
      // source unique on its key side (the overwhelmingly common delta
      // shape), every target row joins ≤ 1 source row and the dedup is
      // a no-op: skip the uid column, the window and its exchange — the
      // plan collapses to one shuffle-or-broadcast join + projection.
      val srcUnique = MergeSql.equiSourceKeys(m.on, tAlias, sAlias)
        .exists { keys =>
          keys.forall(k => srcByLower.contains(k.toLowerCase)) && {
            val kc = keys.map(k => col(srcByLower(k.toLowerCase)))
            src.groupBy(kc: _*).count()
              .filter(col("count") > 1).limit(1).collect().isEmpty
          }
        }
      val one =
        if (srcUnique) againstSource("left_outer")
        else existing.withColumn("__m_uid", monotonically_increasing_id())
          .alias(tAlias)
          .join(src.alias(sAlias), expr(m.on), "left_outer")
          .withColumn("__m_rn",
            row_number().over(Window.partitionBy(col("__m_uid"))
              .orderBy(col("__m_hit").desc_nulls_last)))
          .filter(col("__m_rn") === 1)
      val action = when(coalesce(col("__m_hit"), lit(false)),
        chain(matchedClauses)).otherwise(chain(bySourceClauses))
      val acted = one.withColumn("__m_action", action)
      val projCols = existing.columns.map { c =>
        val old = expr(s"`$tAlias`.`$c`")
        updClauses.foldRight(old) { (cl, acc) =>
          val setV: Option[Column] = cl.action match {
            case MergeSql.Update(Nil) =>
              // bare UPDATE: every target column with a same-named
              // source column takes the source value
              srcByLower.get(c.toLowerCase)
                .map(sc => expr(s"`$sAlias`.`$sc`"))
            case MergeSql.Update(sets) =>
              sets.collectFirst {
                case (k, v) if k.equalsIgnoreCase(c) => expr(v) }
            case _ => None
          }
          setV match {
            case Some(v) => when(col("__m_action") === cl.idx,
              stored(v, existing.schema(c).dataType)).otherwise(acc)
            case None => acc
          }
        }.as(c)
      }
      val annotated0 = acted.select(projCols :+ col("__m_action"): _*)
      val tgtHasErr = clauses.exists(c =>
        c.kind != MergeSql.NotMatchedByTarget &&
          c.action.isInstanceOf[MergeSql.Error])
      val annotated =
        if (wantDelta || tgtHasErr) annotated0.localCheckpoint()
        else annotated0
      checkErrors(annotated)
      val kept =
        if (delIdxs.isEmpty) annotated
        else annotated.filter(!col("__m_action").isin(delIdxs: _*))
      (kept.select(existing.columns.map(col): _*), Some(annotated))
    }

    // ---- insert side: not-matched-by-target ----
    val (insRows, insAnnotated) = if (needInsert) {
      val unmatched = src.alias(sAlias)
        .join(existing.alias(tAlias), expr(m.on), "left_anti")
      val acted = unmatched.withColumn("__m_action", chain(insClauses))
        .filter(col("__m_action") =!= -1)
      val projIns = existing.columns.zipWithIndex.map { case (c, ci) =>
        stored(insActionClauses.foldRight(lit(null): Column) { (cl, acc) =>
          val value: Column = cl.action match {
            case MergeSql.Insert(None, None) =>
              // bare INSERT: the source row BY NAME, missing → NULL
              srcByLower.get(c.toLowerCase)
                .map(sc => expr(s"`$sAlias`.`$sc`")).getOrElse(lit(null))
            case MergeSql.Insert(Some(cs), Some(values)) =>
              val at = cs.indexWhere(_.equalsIgnoreCase(c))
              if (at >= 0) expr(values(at)) else lit(null)
            case MergeSql.Insert(None, Some(values)) =>
              if (values.length != existing.columns.length)
                throw new UserException(
                  s"MERGE INTO ${m.target}: INSERT VALUES has " +
                    s"${values.length} expressions but the table has " +
                    s"${existing.columns.length} columns")
              expr(values(ci))
            case _ => lit(null) // unreachable (validated non-Insert skipped)
          }
          when(col("__m_action") === cl.idx, value).otherwise(acc)
        }, existing.schema(c).dataType).as(c)
      }
      val annotated0 = acted.select(projIns :+ col("__m_action"): _*)
      val insHasErr = insClauses.exists(_.action.isInstanceOf[MergeSql.Error])
      val annotated =
        if (wantDelta || insHasErr) annotated0.localCheckpoint()
        else annotated0
      checkErrors(annotated)
      val rows =
        if (insActionClauses.isEmpty) None
        else Some(annotated.filter(
          col("__m_action").isin(insActionClauses.map(_.idx): _*))
          .select(existing.columns.map(col): _*))
      (rows, Some(annotated))
    } else (None, None)

    val newState = insRows match {
      case Some(r) => keptTgt.unionByName(r)
      case None => keptTgt
    }
    replace(m.target, newState)

    if (!wantDelta) None
    else {
      val tableCols = existing.columns.map(col).toSeq
      def tagged(act: String): Seq[Column] =
        if (m.isMerge) tableCols :+ lit(act).as("merge_action") else tableCols
      def part(a: DataFrame, idxs: Seq[Int], act: String): Option[DataFrame] =
        if (idxs.isEmpty) None
        else Some(a.filter(col("__m_action").isin(idxs: _*))
          .select(tagged(act): _*))
      val parts =
        tgtAnnotated.flatMap(part(_, updClauses.map(_.idx), "UPDATE")).toSeq ++
          tgtAnnotated.flatMap(part(_, delIdxs, "DELETE")).toSeq ++
          insAnnotated.flatMap(part(_, insActionClauses.map(_.idx), "INSERT")).toSeq
      Some(
        if (parts.isEmpty) existing.limit(0).select(tagged(""): _*)
        else parts.reduce(_ unionByName _))
    }
  }

  /** A merge with no source (a plain UPDATE or DELETE) over the aliased
    * `target`: its one clause marks the rows its ON selects, in place —
    * one filter for a DELETE, one projection for an UPDATE, no join and no
    * dedup. A NULL condition marks no row: the UPDATE's when() falls
    * through on NULL by itself, which keeps an IN-subquery condition a
    * plain existence join, and the DELETE folds NULL to false. Under
    * RETURNING the marked projection is checkpointed once and the written
    * state AND the delta derive from it, so a nondeterministic SET
    * (nextval(), random()) draws its values once and returns the rows it
    * stored. */
  private def markInPlace(m: MergeSql.Parsed, target: DataFrame,
                          wantDelta: Boolean): Option[DataFrame] = {
    val on = expr(m.on)
    val hit = coalesce(on, lit(false))
    val (delete, sets) = m.clauses.head.action match {
      case MergeSql.Update(s) => (false, s)
      case _ => (true, Nil)
    }
    // one projection: every SET reads the pre-update row (`SET a = b, b = a` swaps)
    val cols = target.columns.map { c =>
      sets.collectFirst { case (k, v) if k.equalsIgnoreCase(c) =>
        when(on, stored(expr(v), target.schema(c).dataType)).otherwise(col(c)).as(c)
      }.getOrElse(col(c))
    }
    if (!wantDelta) {
      replace(m.target, if (delete) target.filter(!hit) else target.select(cols: _*))
      None
    } else {
      val marked = target.select(cols :+ hit.as("__m_hit"): _*).localCheckpoint()
      val kept = if (delete) marked.filter(!col("__m_hit")) else marked
      replace(m.target, kept.drop("__m_hit"))
      Some(marked.filter(col("__m_hit")).drop("__m_hit"))
    }
  }

  /** Upsert re-derivation — one anti-join for the fresh inserts plus (for
    * DO UPDATE) one left join applying the SET projection, then the usual
    * atomic materialization swap. No per-row path: at 100 TB this is the
    * shuffle-on-key MERGE shape, broadcastable by AQE when the batch is
    * small. The insert source is pinned to ONE evaluation first and
    * returned as the RETURNING delta (probed v1.0: every proposed row,
    * verbatim). */
  private def upsert(u: UpsertSql.Parsed): DataFrame = {
    val Stmt.Insert(name, rest0) = Stmt.parse(u.insertHead): @unchecked
    val (existing, aligned0) = alignedInsertSource(name, rest0)
    // ONE evaluation of the insert source for every consumer below (the
    // dup-check aggregate, the anti-join, and — for Replace — the union
    // branch live in SEPARATE plan subtrees): without the pin a
    // nondeterministic source (nextval() surrogate keys, uuid(),
    // random()) draws fresh values per subtree, so the rows checked for
    // duplicates would not be the rows written, and the sequence would
    // advance extra times. localCheckpoint materializes the batch as
    // executor-side partitions (no driver collect); the joins' batch
    // side stays AQE-broadcastable, and a heavy INSERT..SELECT source is
    // computed once instead of 2–3×.
    val aligned = aligned0.localCheckpoint()
    val sanitized = Names.view(name)
    val keysets = keysetsFor(sanitized.toLowerCase)
    // resolve the conflict key against the DECLARED key sets (probed
    // DuckDB rules: explicit target must match a keyed index; no key at
    // all is a binder error, not a silent scan)
    val keys: Seq[String] = u.keyCols match {
      case Some(cols) =>
        keysets.find(_.map(_.toLowerCase).toSet ==
          cols.map(_.toLowerCase).toSet).getOrElse(throw new UserException(
          s"INSERT ... ON CONFLICT (${cols.mkString(", ")}) on $name: the " +
            "conflict target is not referenced by a declared PRIMARY KEY " +
            "or UNIQUE index" +
            (if (keysets.isEmpty) " (the table declares none)"
             else s" (declared: ${keysets.map(_.mkString("+")).mkString(", ")})")))
      case None =>
        if (keysets.isEmpty) throw new UserException(
          s"upsert on $name: no PRIMARY KEY declared — DuckDB requires a " +
            "UNIQUE/PRIMARY KEY index (declare it in the CREATE TABLE " +
            "column list or with CREATE UNIQUE INDEX)")
        if (keysets.length > 1) throw new UserException(
          s"upsert on $name: several key indexes declared — specify the " +
            s"conflict target: ON CONFLICT (cols) " +
            s"(declared: ${keysets.map(_.mkString("+")).mkString(", ")})")
        keysets.head
    }
    // map declared key names onto the target's actual column spellings
    val byLower = existing.columns.map(c => c.toLowerCase -> c).toMap
    val keyCols = keys.map(k => byLower.getOrElse(k.toLowerCase,
      throw new UserException(s"upsert on $name: key column $k does not exist")))
    // duplicate keys WITHIN the batch are a constraint error in every
    // form (probed — even DO NOTHING): two incoming rows for one key
    // have no defined order, so silently picking one would be wrong data
    val dup = aligned.groupBy(keyCols.map(col): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new UserException(
        s"PRIMARY KEY constraint violated on $name: duplicate key in the " +
          s"inserted batch (${keyCols.zipWithIndex.map { case (k, i) =>
            s"$k=${dup.head.get(i)}" }.mkString(", ")})")
    val fresh = aligned.join(
      existing.select(keyCols.map(col): _*), keyCols, "left_anti")
    val result = u.action match {
      case UpsertSql.Replace =>
        existing.join(aligned.select(keyCols.map(col): _*), keyCols, "left_anti")
          .unionByName(aligned)
      case UpsertSql.Ignore =>
        existing.unionByName(fresh)
      case UpsertSql.Update(sets, whereTxt) =>
        // incoming side prefixed so `excluded.c` rewrites to a unique
        // name and every unqualified reference resolves to the TARGET's
        // column (the probed DuckDB rule)
        val marked = aligned
          .toDF(aligned.columns.map("__excluded_" + _): _*)
          .withColumn("__excluded___hit", lit(true))
        val joinCond = keyCols.map(k =>
          existing(k) === marked(s"__excluded_$k")).reduce(_ && _)
        val joined = existing.join(marked, joinCond, "left_outer")
        def rewriteExcluded(e: String): String =
          e.replaceAll("(?i)\\bexcluded\\s*\\.\\s*", "__excluded_")
        val hit = whereTxt match {
          case Some(w) => coalesce(col("__excluded___hit"), lit(false)) &&
            coalesce(expr(rewriteExcluded(w)), lit(false))
          case None => coalesce(col("__excluded___hit"), lit(false))
        }
        val setMap = sets.map { case (c, e) => c.toLowerCase -> e }.toMap
        setMap.keys.foreach(c => if (!byLower.contains(c))
          throw new UserException(s"upsert on $name: SET column $c does not exist"))
        joined.select(existing.columns.map { c =>
          setMap.get(c.toLowerCase) match {
            case Some(e) => when(hit, stored(expr(rewriteExcluded(e)),
              existing.schema(c).dataType)).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*).unionByName(fresh)
    }
    replace(name, result)
    aligned
  }

  /** EXPORT DATABASE: dump every held table (data + CREATE TABLE
    * DDL with its PRIMARY KEY), every UNIQUE index, every live sequence
    * (CREATE SEQUENCE with the CURRENT counter as START, so a replayed
    * warehouse resumes key generation where it left off) and every view
    * registered this run (CREATE VIEW DDL), plus a load.sql of COPY FROM
    * statements — the DuckDB layout (probed), so [[importDatabase]] is
    * literally a replay of the two scripts through the dialect pipeline.
    * Data is one DIRECTORY per table (distributed layout; DuckDB reads
    * it back via a read_parquet directory glob). CSV exports write NULL
    * as the `\N` sentinel and pass `NULL '\N'` in the loader's COPY
    * options, so NULL and empty VARCHAR round-trip distinctly (both
    * DuckDB and this engine would otherwise read the default
    * empty-for-NULL encoding back as NULL); CSV timestamps carry second
    * precision (the COPY FROM read format); PARQUET is the lossless
    * path. */
  private def exportDatabase(e: ExportDb.Export): Unit = {
    def ident(n: String): String =
      if (n.matches("[A-Za-z_][A-Za-z0-9_]*")) n else "\"" + n + "\""
    def sqlTypeOf(dt: org.apache.spark.sql.types.DataType): String =
      // enum columns export under their TYPE NAME (the CREATE TYPE DDL
      // precedes the tables in schema.sql — the probed DuckDB layout);
      // the replay substitutes the name back to the index struct
      graft.functions.EnumExprs.enumNameOf(dt)
        .filter(n => TypeSql.enumValues(n).isDefined)
        .getOrElse(dt.sql.replace("STRING", "VARCHAR"))
    val out = Paths.get(e.dir)
    Files.createDirectories(out)
    val tables = held.values.toSeq.sortBy(_.dir)
    val schema = new StringBuilder
    val load = new StringBuilder
    SequenceSql.exportDdl.foreach(s => schema.append(s).append("\n"))
    TypeSql.exportDdl.foreach(s => schema.append(s).append("\n"))
    for (Held(t, state) <- tables) {
      val df = GraftSqlBridge.asNullable(state)
      // DEFAULT / NOT NULL ride the column defs so a replay keeps the
      // insert-time behavior, not just the shape
      val meta = metaOf(t.toLowerCase)
      val defs = meta.defaults
      val nns = meta.notNull.map(_.toLowerCase).toSet
      val cols = df.schema.fields.map { f =>
        s"${ident(f.name)} ${sqlTypeOf(f.dataType)}" +
          defs.get(f.name.toLowerCase).map(v => s" DEFAULT $v").getOrElse("") +
          (if (nns(f.name.toLowerCase)) " NOT NULL" else "")
      }.mkString(", ")
      // the declared PRIMARY KEY is upsert-conflict-target state: it must
      // survive the replay (the table-level spelling, re-extracted by the
      // bare-DDL import path)
      val pk = Some(meta.pk).filter(_.nonEmpty)
        .map(ks => s", PRIMARY KEY (${ks.map(ident).mkString(", ")})")
        .getOrElse("")
      val cks = meta.checks.map(c => s", CHECK ($c)").mkString
      schema.append(s"CREATE TABLE ${ident(t)}($cols$pk$cks);\n")
      val dataPath = out.resolve(s"$t.${e.format.toLowerCase}").toString
      if (e.format == "PARQUET") {
        df.write.mode("overwrite").parquet(dataPath)
        load.append(s"COPY ${ident(t)} FROM '$dataPath' (FORMAT 'parquet');\n")
      } else {
        // enum columns write their LABELS to CSV (the probed DuckDB
        // rendering; structs are unwritable there anyway) — the loader's
        // COPY FROM re-encodes through the VARCHAR→enum cast
        val csvDf =
          if (df.schema.exists(f =>
            graft.functions.EnumExprs.enumNameOf(f.dataType).isDefined))
            df.select(df.schema.fields.map { f =>
              if (graft.functions.EnumExprs.enumNameOf(f.dataType).isDefined)
                df.col(s"`${f.name}`").cast("string").as(f.name)
              else df.col(s"`${f.name}`")
            }.toIndexedSeq: _*)
          else df
        csvDf.write.mode("overwrite").option("header", "true")
          .option("nullValue", "\\N")
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
          .option("dateFormat", "yyyy-MM-dd")
          .csv(dataPath)
        load.append(s"COPY ${ident(t)} FROM '$dataPath' " +
          "(FORMAT 'csv', HEADER true, NULL '\\N');\n")
      }
    }
    // UNIQUE indexes declare upsert keys — replayed through the CREATE
    // INDEX path (non-unique indexes are inert accelerators here and
    // carry no replayable column list)
    val tableSet = tables.map(_.dir.toLowerCase).toSet
    indexNames.toSeq.sortBy(_._1).foreach { case (name, (tbl, cols)) =>
      if (cols.nonEmpty && tableSet(tbl))
        schema.append(s"CREATE UNIQUE INDEX ${ident(name)} ON " +
          s"${ident(tbl)} (${cols.map(ident).mkString(", ")});\n")
    }
    schema.append("\n")
    viewDefs.synchronized(viewDefs.forEach { case (_, (name, body)) =>
      schema.append(s"CREATE VIEW ${ident(name)} AS $body;\n")
    })
    Files.writeString(out.resolve("schema.sql"), schema.toString)
    Files.writeString(out.resolve("load.sql"), load.toString)
  }

  /** IMPORT DATABASE: replay schema.sql then load.sql — CREATE TABLE
    * hits the bare-DDL path, COPY FROM the CopyFrom path, CREATE VIEW
    * the view path; restore exercises the statements users script by
    * hand. */
  private def importDatabase(dir: String): Unit = {
    val schemaSql = Paths.get(dir, "schema.sql")
    if (!Files.exists(schemaSql))
      throw new UserException(
        s"IMPORT DATABASE: $dir has no schema.sql (not an exported database)")
    val loadSql = Paths.get(dir, "load.sql")
    val stmts = Dialect.prepare(Files.readString(schemaSql)) ++
      (if (Files.exists(loadSql)) Dialect.prepare(Files.readString(loadSql))
       else Nil)
    stmts.foreach(runStatement)
  }
}
