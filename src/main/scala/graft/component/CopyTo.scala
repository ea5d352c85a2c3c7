package graft.component

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** DuckDB `COPY ... TO 'file' (options)` — export a table or query
  * result to a single file from user SQL. Legal in the reference because
  * SQL goes to DuckDB verbatim (`src/query_orchestrator.py:351`); a
  * migrating user's scripts use it for side exports next to the
  * component's own output mapping.
  *
  * Supported shape (the documented COPY-TO surface minus the
  * partitioned/remote forms):
  * {{{
  *   COPY <table | (query)> TO '<path>'
  *     [( FORMAT CSV|PARQUET|JSON [, HEADER [true|false]]
  *        [, DELIMITER|DELIM|SEP 'c'] [, QUOTE 'c'] [, FORCE_QUOTE *] )]
  * }}}
  * Format defaults from the file extension (.parquet/.json/.csv, else
  * CSV — DuckDB's rule). Spark writes directories of part files; the
  * single-file contract is staged + renamed like [[Export]]'s sink, and
  * CSV headers are hand-written so empty results still carry one. */
object CopyTo {

  final case class Parsed(source: String, path: String, format: String,
                          header: Boolean, delimiter: String, quote: String,
                          forceQuote: Boolean,
                          partitionBy: Seq[String] = Nil,
                          nullStr: Option[String] = None)

  def parse(stmt0: String): Option[Parsed] = {
    val (source, after) = split(stmt0, "TO").getOrElse(return None)
    if (source.isEmpty) return None
    val (path, fmt, opts) = target(after).getOrElse(return None)
    Some(Parsed(
      source, path, fmt,
      header = opts.get("HEADER")
        .forall(v => !(v.equalsIgnoreCase("false") || v == "0")),
      delimiter = opts.get("DELIMITER").orElse(opts.get("DELIM"))
        .orElse(opts.get("SEP")).map(unquote).getOrElse(","),
      quote = opts.get("QUOTE").map(unquote).getOrElse("\""),
      forceQuote = opts.get("FORCE_QUOTE").isDefined,
      // DuckDB's NULL 'str' option: the written NULL sentinel (default
      // empty, DuckDB's own default)
      nullStr = opts.get("NULL").orElse(opts.get("NULLSTR")).map(unquote),
      partitionBy = opts.get("PARTITION_BY").toSeq.flatMap { v =>
        v.trim.stripPrefix("(").stripSuffix(")").split(",")
          .map(_.trim.stripPrefix("`").stripSuffix("`")
            .stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq
      }))
  }

  /** `COPY <name> <kw> <after>` (kw TO or FROM, the first at depth 0) →
    * (name, after). A bare name may be quoted ('out.csv' / "T" / `t`) —
    * COPY is not a Dialect table position, so it is unwrapped here. */
  private[component] def split(stmt0: String, kw: String): Option[(String, String)] = {
    val stmt = stmt0.trim.stripSuffix(";")
    val masked = Dialect.maskQuoted(stmt)
    if (!"(?is)^\\s*COPY\\b".r.findFirstIn(masked).isDefined) return None
    val dep = Dialect.depths(masked)
    val m = s"(?is)\\b$kw\\b".r.findAllMatchIn(masked)
      .find(m => dep(m.start) == 0).getOrElse(return None)
    val name = stmt.substring(4, m.start).trim
    val quoted = name.length >= 2 && "'\"`".contains(name.head) && name.last == name.head
    Some((if (quoted) name.substring(1, name.length - 1) else name,
      stmt.substring(m.end).trim))
  }

  /** `'<path>' [[WITH] (options)]` → (path, format, options); None when
    * the text is no such target or the format is unsupported. */
  private[component] def target(after: String): Option[(String, String, Map[String, String])] = {
    val pathM = "(?s)^'((?:[^']|'')*)'".r.findFirstMatchIn(after).getOrElse(return None)
    val path = pathM.group(1).replace("''", "'")
    // tolerate the Postgres-compat `WITH (...)` spelling of the options
    val rest = "(?is)^WITH\\s*".r
      .replaceFirstIn(after.substring(pathM.end).trim, "")
    val opts = parseOptions(rest).getOrElse(return None)
    val fmt = formatOf(opts, path)
    if (Set("CSV", "PARQUET", "JSON")(fmt)) Some((path, fmt, opts)) else None
  }

  /** `(KEY [value], ...)` option list (also the `WITH (...)` spelling,
    * stripped by the caller) → upper-cased key → raw value text. Split
    * on depth-0 commas only: an option VALUE may itself be a list —
    * `PARTITION_BY (a, b)`. None = text after the path isn't an option
    * list (not a COPY statement we recognize). */
  private def parseOptions(rest: String): Option[Map[String, String]] =
    if (rest.isEmpty) Some(Map.empty)
    else if (rest.startsWith("(") && rest.endsWith(")")) {
      Some(Dialect.splitTop(rest.substring(1, rest.length - 1))
        .filter(_.nonEmpty).map { piece =>
          val sp = piece.split("\\s+", 2)
          sp(0).toUpperCase -> (if (sp.length > 1) sp(1).trim else "true")
        }.toMap)
    } else None

  private[component] def unquote(s: String): String =
    s.stripPrefix("'").stripSuffix("'").replace("''", "'")

  private def formatOf(opts: Map[String, String],
                                  path: String): String =
    opts.get("FORMAT").map(v => unquote(v).toUpperCase).getOrElse {
      val p = path.toLowerCase
      if (p.endsWith(".parquet") || p.endsWith(".parq")) "PARQUET"
      else if (p.endsWith(".json") || p.endsWith(".jsonl") ||
        p.endsWith(".ndjson")) "JSON"
      else "CSV"
    }

  /** Execute against the live session. The source resolves like any
    * statement body (so PIVOT/ASOF bodies inside the parens work). */
  def execute(spark: SparkSession, p: Parsed,
              bodyDf: String => DataFrame): Unit = {
    val df =
      if (p.source.startsWith("("))
        bodyDf(p.source.substring(1, p.source.length - 1))
      else spark.table(s"`${Names.view(p.source)}`")
    val dest = Paths.get(p.path)
    if (dest.getParent != null) Files.createDirectories(dest.getParent)
    if (p.partitionBy.nonEmpty) {
      // PARTITION_BY: a DIRECTORY TREE of col=value paths (hive layout,
      // DuckDB's own output shape) — the scale path. No coalesce(1):
      // every task writes its own files under its partition dirs, so a
      // 100-TB export runs fully parallel, and the col=value layout is
      // what makes later scans partition-prunable. Part-file NAMES are
      // engine-specific (Spark's part-*, DuckDB's data_*.parquet); the
      // contract is the readable layout, not the file names.
      val writer = df.write.mode("overwrite").partitionBy(p.partitionBy: _*)
      p.format match {
        case "CSV" => writer
          .option("header", p.header.toString)
          .option("sep", p.delimiter)
          .option("quote", p.quote)
          .option("escape", p.quote) // RFC4180, like the single-file sink
          .option("nullValue", p.nullStr.getOrElse(""))
          .option("quoteAll", p.forceQuote.toString)
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
          .option("dateFormat", "yyyy-MM-dd")
          .csv(dest.toString)
        case "PARQUET" => writer.parquet(dest.toString)
        case "JSON"    => writer.json(dest.toString)
      }
      return
    }
    p.format match {
      case "CSV" => writeCsv(df, dest, p)
      case "PARQUET" => writeStaged(dest) { stage =>
        df.coalesce(1).write.mode("overwrite").parquet(stage)
      }
      case "JSON" => writeStaged(dest) { stage =>
        df.coalesce(1).write.mode("overwrite").json(stage)
      }
    }
  }

  /** Stage a one-part Spark write, then move the part file to `dest`. */
  private def writeStaged(dest: Path)(write: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_copy_")
    try {
      val stage = tmp.resolve("stage").toString
      write(stage)
      val listing = Files.list(Paths.get(stage))
      val part =
        try listing.iterator().asScala
          .find(_.getFileName.toString.startsWith("part-"))
        finally listing.close()
      part match {
        case Some(f) =>
          Files.move(f, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        case None => Files.deleteIfExists(dest); Files.createFile(dest)
      }
    } finally cleanup(tmp)
  }

  private def writeCsv(df: DataFrame, dest: Path, p: Parsed): Unit = {
    val tmp = Files.createTempDirectory("graft_copy_")
    try {
      val stage = tmp.resolve("stage").toString
      df.coalesce(1).write
        .option("header", "false")
        .option("sep", p.delimiter)
        .option("quote", p.quote)
        // RFC4180 quote doubling ("" inside a quoted field), matching
        // both the hand-written header below and DuckDB's output —
        // Spark's default is backslash-escaping, which would make body
        // rows inconsistent with the header
        .option("escape", p.quote)
        .option("nullValue", p.nullStr.getOrElse(""))
        .option("quoteAll", p.forceQuote.toString)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .option("dateFormat", "yyyy-MM-dd")
        .mode("overwrite")
        .csv(stage)
      val listing = Files.list(Paths.get(stage))
      val part =
        try listing.iterator().asScala
          .find(_.getFileName.toString.startsWith("part-"))
        finally listing.close()
      val out = Files.newOutputStream(dest)
      try {
        if (p.header) {
          val q = p.quote
          val header = df.columns
            .map(c => if (p.forceQuote) q + c.replace(q, q + q) + q else c)
            .mkString("", p.delimiter, "\n")
          out.write(header.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        part.foreach(f => Files.copy(f, out)) // zero rows ⇒ no part file
      } finally out.close()
    } finally cleanup(tmp)
  }

  private def cleanup(tmp: Path): Unit = {
    val walk = Files.walk(tmp)
    try walk.iterator().asScala.toSeq.reverse.foreach(f =>
      try Files.deleteIfExists(f) catch { case _: Exception => () })
    finally walk.close()
  }
}

/** DuckDB `COPY <table> FROM '<file>' (options)` — append a file's rows
  * into an EXISTING table (DuckDB requires the table; so does this).
  * Probed v1.0 semantics, matched here: column mapping is POSITIONAL
  * for CSV and Parquet (a CSV HEADER only skips the first line — its
  * names are ignored; a Parquet column in the wrong position is a loud
  * cast error, not a reorder); HEADER defaults to FALSE (unlike COPY
  * TO's true); JSON maps by name (objects are unordered). Execution is
  * the executor's INSERT tail: read, align, cast, union, atomic
  * re-materialization. */
object CopyFrom {

  final case class Parsed(target: String, path: String, format: String,
                          header: Boolean, delimiter: String, quote: String,
                          nullStr: Option[String])

  def parse(stmt0: String): Option[Parsed] = {
    // a COPY ... TO is the export statement, not this one
    if (CopyTo.split(stmt0, "TO").isDefined) return None
    val (target, after) = CopyTo.split(stmt0, "FROM").getOrElse(return None)
    if (target.isEmpty || target.contains("(")) return None
    val (path, fmt, opts) = CopyTo.target(after).getOrElse(return None)
    Some(Parsed(
      target, path, fmt,
      // COPY FROM's HEADER default is FALSE (probed; COPY TO's is true)
      header = opts.get("HEADER")
        .exists(v => !(v.equalsIgnoreCase("false") || v == "0")),
      delimiter = opts.get("DELIMITER").orElse(opts.get("DELIM"))
        .orElse(opts.get("SEP")).map(CopyTo.unquote).getOrElse(","),
      quote = opts.get("QUOTE").map(CopyTo.unquote).getOrElse("\""),
      // DuckDB's NULL 'str' option — EXPORT DATABASE writes NULL '\N' so
      // empty VARCHAR and NULL survive the CSV round-trip distinctly
      nullStr = opts.get("NULL").orElse(opts.get("NULLSTR"))
        .map(CopyTo.unquote)))
  }
}
