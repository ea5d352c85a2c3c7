package graft.component

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Output export (reference A6–A10, `src/component.py:155-182`): each
  * output-mapping table is written as ONE CSV file with header and every
  * field quoted (`COPY ... (HEADER, FORCE_QUOTE *)` equivalent), plus the
  * output manifest carrying destination/pk/incremental and the schema
  * down-mapped to base types.
  *
  * Spark writes directories of part files, one per partition, all in
  * parallel; concatenating them in partition order produces the
  * single-file contract with the rows in the plan's order, so a view's
  * trailing ORDER BY survives.
  */
object Export {

  /** Export every output mapping concurrently (on the resolved `threads`
    * lanes). Mappings that write one destination file share a lane and
    * run in config order, so the last one still wins the file. */
  def exportAll(spark: SparkSession, dataDir: String, config: Config): Unit = {
    val lanes = config.outputTables.map(_.source).distinct
      .map(s => config.outputTables.filter(_.source == s))
    Parallel.map(SystemResources.resolveThreads(config.threads), lanes)(
      _.foreach(t => exportTable(spark, dataDir, t)))
    exportFileManifests(dataDir, config)
  }

  /** A10: each CONFIGURED output-file mapping gets a file manifest so the
    * platform ships it onward (reference `src/component.py:184-194` walks
    * `files_output_mapping`, not the directory — unmapped files like a
    * `.gitkeep` are left alone). */
  def exportFileManifests(dataDir: String, config: Config): Unit = {
    val filesDir = Paths.get(dataDir, "out", "files")
    config.outputFiles.foreach { f =>
      val m = filesDir.resolve(f.source + ".manifest")
      Files.createDirectories(filesDir)
      val tags = f.tags.map(t =>
        "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString("[", ", ", "]")
      Files.writeString(m, s"""{"tags": $tags, "is_permanent": ${f.isPermanent}}""")
    }
  }

  def exportTable(spark: SparkSession, dataDir: String, out: OutputTable): Unit = {
    val df0 = spark.table(s"`${Names.view(out.source)}`")
    // ENUM columns export as their LABELS (probed v1.0: COPY TO csv
    // writes `ok`, not an index) — the cast-to-string lowers through
    // DuckEnumRule's decode; every other column is untouched
    val df =
      if (df0.schema.exists(f =>
        graft.functions.EnumExprs.enumNameOf(f.dataType).isDefined))
        df0.select(df0.schema.fields.map { f =>
          if (graft.functions.EnumExprs.enumNameOf(f.dataType).isDefined)
            df0.col(s"`${f.name}`").cast("string").as(f.name)
          else df0.col(s"`${f.name}`")
        }.toIndexedSeq: _*)
      else df0
    val dest = Paths.get(dataDir, "out", "tables", out.source)
    writeSingleCsv(df, dest)
    Manifest.writeOutput(
      Paths.get(dataDir, "out", "tables", out.source + ".manifest"), out, df.schema)
  }

  /** Single CSV file, header row, all fields quoted — byte-compatible with
    * the reference's `COPY ... (HEADER, FORCE_QUOTE *)`. The header line is
    * written by hand and the data rows headerless: Spark's CSV writer only
    * emits a header from a non-empty partition, while the reference writes
    * one for empty results too (every golden fixture of the heavy
    * `sync_action_execution_plan` case is a header-only file). */
  def writeSingleCsv(df: org.apache.spark.sql.DataFrame, dest: Path): Unit = {
    val tmp = Files.createTempDirectory("graft_csv_")
    val stage = tmp.resolve("stage").toString
    df.write
      .option("header", "false")
      .option("quoteAll", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("dateFormat", "yyyy-MM-dd")
      .mode("overwrite")
      .csv(stage)
    // `part-<partition>-<job>.csv`: the partition number orders the parts
    val partNo = "^part-(\\d+)-".r
    val listing = Files.list(Paths.get(stage))
    val parts =
      try listing.iterator().asScala.toList
        .flatMap(p => partNo.findFirstMatchIn(p.getFileName.toString)
          .map(m => (m.group(1).toLong, p)))
        .sortBy(_._1).map(_._2)
      finally listing.close()
    Files.createDirectories(dest.getParent)
    val header = df.columns
      .map(c => "\"" + c.replace("\"", "\"\"") + "\"")
      .mkString("", ",", "\n")
    val out = Files.newOutputStream(dest)
    try {
      out.write(header.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      parts.foreach(p => Files.copy(p, out)) // empty partitions write no part
    } finally out.close()
    // best-effort cleanup of the staging dir
    val walk = Files.walk(tmp)
    try walk.iterator().asScala.toSeq.reverse.foreach(p =>
      try Files.deleteIfExists(p) catch { case _: Exception => () })
    finally walk.close()
  }
}
