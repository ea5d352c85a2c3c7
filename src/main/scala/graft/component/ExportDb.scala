package graft.component

/** `EXPORT DATABASE 'dir' [(FORMAT CSV|PARQUET)]` / `IMPORT DATABASE
  * 'dir'` — DuckDB's whole-catalog dump/restore statements (probed v1.0:
  * EXPORT writes `schema.sql` with CREATE TABLE/VIEW statements,
  * `load.sql` with one `COPY t FROM 'file' (FORMAT ...)` per table, plus
  * the data files; IMPORT replays schema.sql then load.sql). The
  * reference passes them to DuckDB verbatim
  * (`src/query_orchestrator.py:351`).
  *
  * This engine's twin ([[Executor.runStatement]]): tables are the
  * executor's warehouse directories, views are the run's registered view
  * definitions, and IMPORT literally replays the two scripts through the
  * dialect pipeline — `CREATE TABLE t(cols)` hits the bare-DDL path and
  * `COPY t FROM` the CopyFrom path, so restore exercises the same code
  * users script by hand. Boundaries, documented: data files are written
  * as one DIRECTORY per table (the distributed layout — a 100 TB table
  * cannot be one file; DuckDB itself reads such a directory via
  * `a read_parquet directory glob`), and input-mapping views are per-run
  * ingest state the component reconstructs, not database contents — they
  * are not exported. */
object ExportDb {

  final case class Export(dir: String, format: String)

  private val exportRe =
    "(?is)^\\s*EXPORT\\s+DATABASE\\s+'((?:[^']|'')+)'\\s*(?:\\(\\s*(.*?)\\s*\\))?\\s*;?\\s*$".r
  private val importRe =
    "(?is)^\\s*IMPORT\\s+DATABASE\\s+'((?:[^']|'')+)'\\s*;?\\s*$".r

  def parseExport(stmt: String): Option[Export] =
    exportRe.findFirstMatchIn(stmt).map { m =>
      val fmt = Option(m.group(2))
        .flatMap(o => "(?i)FORMAT\\s+'?(CSV|PARQUET)'?".r
          .findFirstMatchIn(o).map(_.group(1).toUpperCase))
        .getOrElse("CSV") // DuckDB's default
      Export(m.group(1).replace("''", "'"), fmt)
    }

  def parseImport(stmt: String): Option[String] =
    importRe.findFirstMatchIn(stmt).map(_.group(1).replace("''", "'"))
}
