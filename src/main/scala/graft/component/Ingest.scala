package graft.component

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Manifest-driven input loading (reference A1–A5, A12,
  * `src/in_tables_creator.py`, `src/component.py:139-153`):
  *
  *  - the loader iterates the FILES present under `in/tables/` (every
  *    regular file / sliced directory with its `.manifest`), not the
  *    config's input-mapping list — the platform stages files, the mapping
  *    only renames them. Each file's manifest carries the storage id
  *    (`"id"` legacy / `"source"` newer); the mapping whose `source`
  *    equals that id supplies the SQL-visible name (A12) and file type,
  *    with the bare file name as the no-mapping fallback (the reference's
  *    `source_to_destination.get(in_table.id) or in_table.name`);
  *  - single CSV: file with header row; declared manifest columns override
  *    the header names, declared base types (default STRING) form the read
  *    schema — an explicit `.schema(...)` is the Spark analogue of the
  *    reference's dtype pushdown (no inference pass over the file);
  *  - sliced CSV: a *directory* of headerless chunks, names+types from the
  *    manifest (Spark reads multi-file directories natively);
  *  - parquet: a directory of `*.parquet` parts; columns whose KBC metadata
  *    says INTEGER are cast DECIMAL(38,0)→BIGINT at load (Snowflake export
  *    convention; wide decimals are slow in any engine).
  */
object Ingest {

  /** Load every staged file concurrently (on the resolved `threads`
    * lanes), then register the views in file-name order, so the last file
    * still wins a destination two files map to. A failure surfaces as the
    * first failing file in that order. */
  def loadAll(spark: SparkSession, dataDir: String, config: Config): Unit = {
    val tablesDir = Paths.get(dataDir, "in", "tables")
    if (!Files.isDirectory(tablesDir)) return
    val bySource = config.inputTables.map(t => t.source -> t).toMap
    val listing = Files.list(tablesDir)
    val entries =
      try listing.iterator().asScala.toList.sortBy(_.getFileName.toString)
      finally listing.close()
    val staged = entries.filter { p =>
      val n = p.getFileName.toString
      !n.endsWith(".manifest") && !n.startsWith(".")
    }
    Parallel.map(SystemResources.resolveThreads(config.threads), staged) { p =>
      val manifest = Manifest.readInput(Paths.get(p.toString + ".manifest"))
      val storageId = manifest.id.getOrElse(p.getFileName.toString)
      val mapping = bySource.get(storageId)
      val name = mapping.map(_.destination).getOrElse(p.getFileName.toString)
      val fileType = mapping.map(_.fileType).getOrElse("csv")
      val df =
        if (fileType.equalsIgnoreCase("parquet")) loadParquet(spark, p, manifest)
        else loadCsv(spark, p, manifest, config.dtypesInfer)
      (name, df)
    }.foreach { case (name, df) => df.createOrReplaceTempView(Names.view(name)) }
  }

  /** Load one staged file as `t.destination` (direct-path entry used by
    * suites; [[loadAll]] resolves real runs by storage id). */
  def load(spark: SparkSession, dataDir: String, t: InputTable,
           dtypesInfer: Boolean): DataFrame = {
    val path = Paths.get(dataDir, "in", "tables", t.destination)
    val manifest = Manifest.readInput(
      Paths.get(dataDir, "in", "tables", t.destination + ".manifest"))
    val df =
      if (t.fileType.equalsIgnoreCase("parquet")) loadParquet(spark, path, manifest)
      else loadCsv(spark, path, manifest, dtypesInfer)
    df.createOrReplaceTempView(Names.view(t.destination))
    df
  }

  private def loadCsv(spark: SparkSession, path: Path, m: InManifest,
                      dtypesInfer: Boolean): DataFrame = {
    val sliced = Files.isDirectory(path)
    val reader = spark.read
      .option("sep", m.delimiter)
      .option("quote", m.enclosure)
      .option("header", !sliced) // non-sliced exports always carry a header
    // a sliced table is a directory of slices; reading the directory
    // through a file-name filter (not a `dir/*.csv` glob path) keeps
    // Spark's streaming-sink probe from logging a FileNotFoundException
    val sliceReader = if (sliced) reader.option("pathGlobFilter", "*.csv") else reader
    val schema = Manifest.declaredSchema(m, dtypesInfer)
    schema match {
      case Some(st) => sliceReader.schema(st).csv(path.toString)
      case None =>
        val df = sliceReader.option("inferSchema", "true").csv(path.toString)
        if (m.columns.nonEmpty) df.toDF(m.columns: _*) else df
    }
  }

  private def loadParquet(spark: SparkSession, path: Path, m: InManifest): DataFrame = {
    val df = spark.read.option("pathGlobFilter", "*.parquet").parquet(path.toString)
    val toCast = m.columnTypes.collect {
      case (c, t) if t.equalsIgnoreCase("INTEGER") => c
    }.toSet
    df.select(df.columns.map { c =>
      if (toCast(c) && df.schema(c).dataType.isInstanceOf[DecimalType])
        col(c).cast(LongType).as(c)
      else col(c)
    }: _*)
  }
}
