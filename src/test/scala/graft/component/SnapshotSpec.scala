package graft.component

import java.nio.file.{Files, Path}

import scala.concurrent.ExecutionContext.Implicits.global

import graft.SparkSpec

/** Table state as block-manager snapshots: a swap writes no file, the
  * warehouse gets each changed table once per `execute` call, and the
  * registry of held tables answers BASE TABLE, EXPORT DATABASE and
  * RENAME. */
class SnapshotSpec extends SparkSpec {

  private def write(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private def json(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** A data dir whose config runs `statements` as one script, in order. */
  private def datadir(statements: Seq[String]): Path = {
    val dd = Files.createTempDirectory("graft_snap_")
    write(dd.resolve("config.json"),
      s"""{"parameters": {"blocks": [{"name": "b", "codes": [{"name": "c",
         |  "script": [${json(statements.mkString("; "))}]}]}]},
         | "storage": {"input": {"tables": []}, "output": {"tables": []}}}""".stripMargin)
    dd
  }

  private def warehouse(dd: Path, t: String): Path = dd.resolve(s"out/files/warehouse/$t")

  test("DROP TABLE deletes the warehouse dir; a view of the same name lists as VIEW") {
    val dd = datadir(Seq(
      "CREATE TABLE sn_drop AS SELECT 1 AS a",
      "DROP TABLE sn_drop",
      "CREATE VIEW sn_drop AS SELECT 2 AS b",
      "CREATE TABLE sn_kind AS SELECT table_type FROM information_schema.tables " +
        "WHERE table_name = 'sn_drop'"))
    Component.run(spark, dd.toString)
    assert(!Files.exists(warehouse(dd, "sn_drop")))
    assert(spark.table("sn_kind").collect().map(_.getString(0)).toSeq == Seq("VIEW"))

    // a table persisted by an earlier execute call loses its dir too
    val wh = Files.createTempDirectory("graft_snap_wh_")
    val ex = new Executor(spark, wh.toString)
    ex.runStatement(Dialect.rewrite("CREATE TABLE sn_drop2 AS SELECT 1 AS a"))
    ex.persist()
    assert(Files.isDirectory(wh.resolve("sn_drop2")))
    ex.runStatement(Dialect.rewrite("DROP TABLE sn_drop2"))
    ex.persist()
    assert(!Files.exists(wh.resolve("sn_drop2")))
  }

  test("a CHECK violation fails the statement that writes the table") {
    val wh = Files.createTempDirectory("graft_snap_wh_")
    val ex = new Executor(spark, wh.toString)
    def run(q: String) = ex.runStatement(Dialect.rewrite(q))
    run("CREATE TABLE sn_ck (a INT CHECK (a > 0))")
    run("INSERT INTO sn_ck VALUES (1)")
    val e = intercept[Exception](run("INSERT INTO sn_ck VALUES (-1)"))
    assert(e.getMessage.contains("CHECK constraint failed: sn_ck"))
    assert(spark.table("sn_ck").collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("a failed statement leaves no warehouse dir for the tables its run changed") {
    val dd = datadir(Seq(
      "CREATE TABLE sn_made AS SELECT 1 AS a",
      "CREATE TABLE sn_bad (a INT CHECK (a > 0))",
      "INSERT INTO sn_bad VALUES (-1)"))
    val e = intercept[Exception](Component.run(spark, dd.toString))
    assert(e.getMessage.contains("CHECK constraint failed: sn_bad"))
    assert(!Files.exists(warehouse(dd, "sn_made")))
    assert(!Files.exists(warehouse(dd, "sn_bad")))
  }

  test("a random() CTAS is computed once: two reads return the same rows") {
    val ex = new Executor(spark, Files.createTempDirectory("graft_snap_wh_").toString)
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE sn_rnd AS SELECT range AS id, random() AS r FROM range(2000)"))
    def read() = spark.table("sn_rnd").orderBy("id").collect().map(_.getDouble(1)).toSeq
    val first = read()
    assert(first.distinct.size > 1000)
    assert(read() == first)
  }

  test("EXPORT DATABASE in the middle of a run includes tables created in that run") {
    val dump = Files.createTempDirectory("graft_snap_dump_")
    val dd = datadir(Seq(
      "CREATE TABLE sn_mid AS SELECT 7 AS k",
      s"EXPORT DATABASE '$dump' (FORMAT PARQUET)"))
    Component.run(spark, dd.toString)
    assert(Files.readString(dump.resolve("schema.sql")).contains("CREATE TABLE sn_mid("))
    assert(spark.read.parquet(dump.resolve("sn_mid.parquet").toString)
      .collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("RENAME of a table created in the run persists under the new name only") {
    val dd = datadir(Seq(
      "CREATE TABLE sn_old AS SELECT 1 AS a",
      "ALTER TABLE sn_old RENAME TO sn_new"))
    Component.run(spark, dd.toString)
    assert(!Files.exists(warehouse(dd, "sn_old")))
    assert(spark.read.parquet(warehouse(dd, "sn_new").toString).count() == 1)

    // renamed after an earlier execute call persisted it: the dir moves
    val wh = Files.createTempDirectory("graft_snap_wh_")
    val ex = new Executor(spark, wh.toString)
    ex.runStatement(Dialect.rewrite("CREATE TABLE sn_old2 AS SELECT 1 AS a"))
    ex.persist()
    ex.runStatement(Dialect.rewrite("ALTER TABLE sn_old2 RENAME TO sn_new2"))
    ex.persist()
    assert(!Files.exists(wh.resolve("sn_old2")))
    assert(spark.read.parquet(wh.resolve("sn_new2").toString).count() == 1)
  }

  test("two staged files mapped to one destination register deterministically") {
    val dd = Files.createTempDirectory("graft_snap_in_")
    for ((f, v) <- Seq("a.csv" -> "first", "b.csv" -> "second", "c.csv" -> "other")) {
      write(dd.resolve(s"in/tables/$f"), "\"v\"\n\"" + v + "\"\n")
      write(dd.resolve(s"in/tables/$f.manifest"), s"""{"id": "in.c-x.$f"}""")
    }
    val config = Config.parse(
      """{"parameters": {"blocks": [], "threads": 4}, "storage": {"input": {"tables": [
        |  {"source": "in.c-x.b.csv", "destination": "sn_dup"},
        |  {"source": "in.c-x.a.csv", "destination": "sn_dup"},
        |  {"source": "in.c-x.c.csv", "destination": "sn_other"}]}}}""".stripMargin)
    for (_ <- 1 to 3) {
      Ingest.loadAll(spark, dd.toString, config)
      // files load in name order, so b.csv is the last to claim sn_dup
      assert(spark.table("sn_dup").collect().map(_.getString(0)).toSeq == Seq("second"))
      assert(spark.table("sn_other").collect().map(_.getString(0)).toSeq == Seq("other"))
    }
  }

  test("a second run in one JVM does not see the first run's variables") {
    val first = datadir(Seq(
      "SET VARIABLE x = 42",
      "CREATE TABLE sn_var1 AS SELECT getvariable('x') AS v"))
    Component.run(spark, first.toString)
    assert(spark.table("sn_var1").collect().head.getInt(0) == 42)
    val second = datadir(Seq("CREATE TABLE sn_var2 AS SELECT getvariable('x') AS v"))
    Component.run(spark, second.toString)
    assert(spark.table("sn_var2").collect().head.isNullAt(0))
  }
}
