package graft.component

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The single-file CSV export: every partition writes in parallel and the
  * parts concatenate in partition order, which must give the bytes of one
  * `coalesce(1)` write of the same rows. */
class ExportSpec extends SparkSpec {

  /** The one-task export: the rows through `coalesce(1)`, the header by
    * hand. */
  private def coalescedCsv(df: DataFrame): Array[Byte] = {
    val stage = Files.createTempDirectory("graft_export_ref_").resolve("s")
    df.coalesce(1).write
      .option("header", "false")
      .option("quoteAll", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("dateFormat", "yyyy-MM-dd")
      .csv(stage.toString)
    val header = df.columns.map(c => "\"" + c.replace("\"", "\"\"") + "\"")
      .mkString("", ",", "\n").getBytes("UTF-8")
    val listing = Files.list(stage)
    val rows = try listing.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllBytes(p)).toArray
      finally listing.close()
    header ++ rows
  }

  private def exported(df: DataFrame): Array[Byte] = {
    val dest = Files.createTempDirectory("graft_export_").resolve("t.csv")
    Export.writeSingleCsv(df, dest)
    Files.readAllBytes(dest)
  }

  test("an ORDER BY view over several partitions exports the coalesced bytes") {
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      spark.sql("CREATE OR REPLACE TEMP VIEW ex_ordered AS " +
        "SELECT id % 97 AS k, id FROM range(0, 20000, 1, 6) ORDER BY k DESC, id")
      val df = spark.table("ex_ordered")
      assert(org.apache.spark.sql.GraftSqlBridge.toRdd(df).getNumPartitions >= 3)
      val bytes = exported(df)
      assert(bytes.sameElements(coalescedCsv(df)))
      val lines = new String(bytes, "UTF-8").linesIterator.toList
      assert(lines.size == 20001)
      assert(lines(1) == "\"96\",\"96\"" && lines.last == "\"0\",\"19982\"")
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
  }

  test("an empty result exports a header-only file") {
    val df = spark.sql("SELECT 1 AS a, 'x' AS `b c` FROM range(10) WHERE false")
    val bytes = exported(df)
    assert(new String(bytes, "UTF-8") == "\"a\",\"b c\"\n")
    assert(bytes.sameElements(coalescedCsv(df)))
  }

  test("quotes, commas and newlines inside values") {
    val df = spark.sql(
      "SELECT * FROM VALUES (1, 'say \"hi\"'), (2, 'a,b'), (3, 'line1\nline2'), " +
        "(4, CAST(NULL AS STRING)), (5, '') AS t(id, v)").repartition(3)
    val bytes = exported(df)
    assert(bytes.sameElements(coalescedCsv(df)))
    val text = new String(bytes, "UTF-8")
    assert(text.contains("\"a,b\"") && text.contains("\"line1\nline2\""))
  }

  test("an ENUM column exports its labels") {
    TypeSql.reset()
    DuckFunctions.register(spark)
    val ex = new Executor(spark, Files.createTempDirectory("graft_export_wh_").toString)
    def run(q: String) = ex.runStatement(Dialect.rewrite(q))
    run("CREATE TYPE ex_mood AS ENUM ('sad', 'ok', 'happy')")
    run("CREATE TABLE ex_enum (id INT, m ex_mood)")
    run("INSERT INTO ex_enum VALUES (1, 'happy'), (2, 'sad')")
    val dd = Files.createTempDirectory("graft_export_dd_")
    Export.exportTable(spark, dd.toString, OutputTable("ex_enum", "out.c-e.enum"))
    val lines = Files.readAllLines(dd.resolve("out/tables/ex_enum")).asScala.toList
    assert(lines.head == "\"id\",\"m\"")
    assert(lines.tail.sorted == List("\"1\",\"happy\"", "\"2\",\"sad\""))
    TypeSql.reset()
  }

  test("two output mappings with one destination file: the last one wins") {
    spark.sql("CREATE OR REPLACE TEMP VIEW ex_shared AS SELECT 1 AS a")
    spark.sql("CREATE OR REPLACE TEMP VIEW ex_alone AS SELECT 2 AS b")
    val dd = Files.createTempDirectory("graft_export_dd_")
    val config = Config.parse(
      """{"parameters": {"blocks": [], "threads": 4}, "storage": {"output": {"tables": [
        |  {"source": "ex_shared", "destination": "out.c-e.first"},
        |  {"source": "ex_alone", "destination": "out.c-e.alone"},
        |  {"source": "ex_shared", "destination": "out.c-e.last"}]}}}""".stripMargin)
    Export.exportAll(spark, dd.toString, config)
    val m = Files.readString(dd.resolve("out/tables/ex_shared.manifest"))
    assert(m.contains("\"destination\": \"out.c-e.last\""), m)
    assert(Files.readString(dd.resolve("out/tables/ex_shared")) == "\"a\"\n\"1\"\n")
    assert(Files.readString(dd.resolve("out/tables/ex_alone.manifest"))
      .contains("\"destination\": \"out.c-e.alone\""))
  }
}
