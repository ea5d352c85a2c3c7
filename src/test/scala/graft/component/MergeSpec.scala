package graft.component

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** MERGE INTO — spec-pinned DuckDB 1.4 semantics ([[MergeSql]]; the
  * local v1.0 oracle cannot parse the statement, so these assertions pin
  * the published 1.4 statement-doc behavior, the version-sensitive-
  * renderer rule). */
class MergeSpec extends SparkSpec {

  import spark.implicits._

  private def mkEx() = {
    DuckFunctions.register(spark)
    new Executor(spark, Files.createTempDirectory("graft_merge_").toString)
  }

  private def rows(t: String): Seq[(Int, Int)] =
    spark.table(t).collect().map(r => (r.getInt(0), r.getInt(1)))
      .toSeq.sortBy(_._1)

  test("MERGE: matched UPDATE SET + not matched INSERT VALUES (blog shape)") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE m_stock (item_id INT, balance INT)")
    run("INSERT INTO m_stock VALUES (10, 2200), (20, 250)")
    run("CREATE TABLE m_buy (item_id INT, volume INT)")
    run("INSERT INTO m_buy VALUES (20, 5), (30, 100)")
    run("MERGE INTO m_stock USING m_buy ON m_stock.item_id = m_buy.item_id " +
      "WHEN MATCHED THEN UPDATE SET balance = balance + volume " +
      "WHEN NOT MATCHED THEN INSERT VALUES (m_buy.item_id, m_buy.volume)")
    assert(rows("m_stock") == Seq((10, 2200), (20, 255), (30, 100)))
  }

  test("MERGE: bare UPDATE / bare INSERT shorthands align by name") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE m_t (k INT, v INT, w VARCHAR)")
    run("INSERT INTO m_t VALUES (1, 10, 'a'), (2, 20, 'b')")
    // source shares k and v; w is absent → bare UPDATE leaves w, bare
    // INSERT null-fills it
    run("CREATE TABLE m_s (k INT, v INT)")
    run("INSERT INTO m_s VALUES (2, 99), (3, 30)")
    run("MERGE INTO m_t USING m_s ON m_t.k = m_s.k " +
      "WHEN MATCHED THEN UPDATE " +
      "WHEN NOT MATCHED THEN INSERT")
    val out = spark.table("m_t").collect()
      .map(r => (r.getInt(0), r.getInt(1), Option(r.getString(2))))
      .toSeq.sortBy(_._1)
    assert(out == Seq((1, 10, Some("a")), (2, 99, Some("b")), (3, 30, None)))
  }

  test("MERGE: clause conditions, first-match-wins, DELETE, DO NOTHING") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE m_c (k INT, v INT)")
    run("INSERT INTO m_c VALUES (1, 5), (2, 50), (3, 500)")
    run("CREATE TABLE m_cs (k INT, d INT)")
    run("INSERT INTO m_cs VALUES (1, 1), (2, 1), (3, 1), (4, 1)")
    // first-match-wins: v < 10 deletes, v < 100 doubles, later catch-all
    // never fires for those; unmatched source k=4 only inserts when d > 0
    run("MERGE INTO m_c USING m_cs ON m_c.k = m_cs.k " +
      "WHEN MATCHED AND v < 10 THEN DELETE " +
      "WHEN MATCHED AND v < 100 THEN UPDATE SET v = v * 2 " +
      "WHEN MATCHED THEN DO NOTHING " +
      "WHEN NOT MATCHED AND d > 0 THEN INSERT VALUES (m_cs.k, 0)")
    assert(rows("m_c") == Seq((2, 100), (3, 500), (4, 0)))
  }

  test("MERGE: NOT MATCHED BY SOURCE sync idiom (UPDATE SET and DELETE)") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE m_sync (k INT, v INT)")
    run("INSERT INTO m_sync VALUES (1, 10), (2, 20), (3, 30)")
    run("CREATE TABLE m_src (k INT, v INT)")
    run("INSERT INTO m_src VALUES (1, 11), (4, 40)")
    // full sync: matched refresh, unmatched-source insert, stale delete
    run("MERGE INTO m_sync USING m_src ON m_sync.k = m_src.k " +
      "WHEN MATCHED THEN UPDATE SET v = m_src.v " +
      "WHEN NOT MATCHED THEN INSERT VALUES (m_src.k, m_src.v) " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(rows("m_sync") == Seq((1, 11), (4, 40)))
    // BY SOURCE UPDATE SET marks instead of deleting
    run("CREATE TABLE m_mark (k INT, v INT)")
    run("INSERT INTO m_mark VALUES (1, 1), (2, 2)")
    run("CREATE TABLE m_keep (k INT)")
    run("INSERT INTO m_keep VALUES (1)")
    run("MERGE INTO m_mark USING m_keep ON m_mark.k = m_keep.k " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1")
    assert(rows("m_mark") == Seq((1, 1), (2, -1)))
  }

  test("MERGE: ERROR action raises; condition guards it") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE m_e (k INT, bal INT)")
    run("INSERT INTO m_e VALUES (1, 10)")
    run("CREATE TABLE m_es (k INT, take INT)")
    run("INSERT INTO m_es VALUES (1, 50)")
    val err = intercept[UserException] {
      run("MERGE INTO m_e USING m_es ON m_e.k = m_es.k " +
        "WHEN MATCHED AND take > bal THEN ERROR 'insufficient balance' " +
        "WHEN MATCHED THEN UPDATE SET bal = bal - take")
    }
    assert(err.getMessage == "insufficient balance")
    // guarded: take <= bal passes and updates
    run("UPDATE m_es SET take = 4")
    run("MERGE INTO m_e USING m_es ON m_e.k = m_es.k " +
      "WHEN MATCHED AND take > bal THEN ERROR 'insufficient balance' " +
      "WHEN MATCHED THEN UPDATE SET bal = bal - take")
    assert(rows("m_e") == Seq((1, 6)))
  }

  test("MERGE: RETURNING with merge_action; * excludes the pseudo-column") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE m_r (k INT, v INT)")
    run("INSERT INTO m_r VALUES (1, 10), (2, 20), (3, 30)")
    run("CREATE TABLE m_rs (k INT, v INT)")
    run("INSERT INTO m_rs VALUES (1, 11), (4, 40)")
    val ret = run("MERGE INTO m_r USING m_rs ON m_r.k = m_rs.k " +
      "WHEN MATCHED THEN UPDATE SET v = m_rs.v " +
      "WHEN NOT MATCHED THEN INSERT VALUES (m_rs.k, m_rs.v) " +
      "WHEN NOT MATCHED BY SOURCE AND m_r.k = 3 THEN DELETE " +
      "RETURNING merge_action, *").get
    assert(ret.columns.toSeq == Seq("merge_action", "k", "v"))
    val got = ret.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
      .toSeq.sortBy(_._2)
    assert(got == Seq(("UPDATE", 1, 11), ("DELETE", 3, 30), ("INSERT", 4, 40)))
    assert(rows("m_r") == Seq((1, 11), (2, 20), (4, 40)))
    // DO NOTHING rows do not appear in RETURNING
    val ret2 = run("MERGE INTO m_r USING m_rs ON m_r.k = m_rs.k " +
      "WHEN MATCHED THEN DO NOTHING " +
      "WHEN NOT MATCHED THEN DO NOTHING RETURNING *").get
    assert(ret2.count() == 0)
    assert(ret2.columns.toSeq == Seq("k", "v"))
  }

  test("MERGE: RETURNING pins one evaluation of a nondeterministic source") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE SEQUENCE m_seq")
    run("CREATE TABLE m_ids (id BIGINT, tag VARCHAR)")
    run("INSERT INTO m_ids VALUES (100, 'seed')")
    // the source draws fresh sequence values: the rows RETURNING shows
    // must be exactly the rows written (single-eval contract)
    val ret = run("MERGE INTO m_ids USING " +
      "(SELECT nextval('m_seq') AS id, 'n' AS tag FROM range(3)) s " +
      "ON m_ids.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.tag) " +
      "RETURNING id").get.collect().map(_.getLong(0)).sorted
    val stored = spark.table("m_ids").filter("tag = 'n'")
      .collect().map(_.getLong(0)).sorted
    assert(ret.sameElements(stored), s"${ret.toSeq} vs ${stored.toSeq}")
    assert(ret.sameElements(Array(1L, 2L, 3L)), ret.toSeq)
  }

  test("MERGE: several source matches keep ONE arbitrary row (UPDATE..FROM rule)") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE m_multi (k INT, v INT)")
    run("INSERT INTO m_multi VALUES (1, 0)")
    run("CREATE TABLE m_ms (k INT, v INT)")
    run("INSERT INTO m_ms VALUES (1, 7), (1, 8)")
    run("MERGE INTO m_multi USING m_ms ON m_multi.k = m_ms.k " +
      "WHEN MATCHED THEN UPDATE SET v = m_ms.v")
    val got = rows("m_multi")
    assert(got.length == 1 && got.head._1 == 1 &&
      Set(7, 8)(got.head._2), got)
  }

  test("MERGE: subquery source, explicit INSERT column list, alias forms") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE m_q (k INT, v INT, note VARCHAR)")
    run("INSERT INTO m_q VALUES (1, 1, 'x')")
    run("CREATE TABLE m_qs (kk INT, vv INT)")
    run("INSERT INTO m_qs VALUES (1, 10), (2, 20)")
    run("MERGE INTO m_q AS t USING (SELECT kk, vv * 2 AS vv2 FROM m_qs) AS s " +
      "ON t.k = s.kk " +
      "WHEN MATCHED THEN UPDATE SET v = s.vv2 " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.kk, s.vv2)")
    val out = spark.table("m_q").collect()
      .map(r => (r.getInt(0), r.getInt(1), Option(r.getString(2))))
      .toSeq.sortBy(_._1)
    assert(out == Seq((1, 20, Some("x")), (2, 40, None)))
  }

  test("MERGE / DELETE ... USING a quoted input-table name read the sanitized table") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE m_feed (k INT, v INT)")
    run("INSERT INTO m_feed VALUES (1, 1), (2, 2), (3, 3)")
    run("""CREATE TABLE "m_delta.csv" AS SELECT * FROM (VALUES (1, 10), (3, 300)) d(k, v)""")
    run("""MERGE INTO m_feed USING "m_delta.csv" d ON m_feed.k = d.k """ +
      "WHEN MATCHED THEN UPDATE SET v = d.v")
    assert(rows("m_feed") == Seq((1, 10), (2, 2), (3, 300)))
    run("""DELETE FROM m_feed USING "m_delta.csv" d WHERE m_feed.k = d.k AND d.v > 100""")
    assert(rows("m_feed") == Seq((1, 10), (2, 2)))
    // a JOIN's USING column list is no table position
    assert(Dialect.rewrite(
      """DELETE FROM m_feed USING a JOIN b USING ("k") WHERE m_feed.k = a.k""")
      .contains("USING (`k`)"))
  }

  test("MERGE: validation and loud rejects") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE m_v (k INT, v INT)")
    run("CREATE TABLE m_vs (k INT, v INT)")
    def bad(sql: String, want: String): Unit = {
      val e = intercept[UserException] { run(sql) }
      assert(e.getMessage.toLowerCase.contains(want.toLowerCase),
        s"${e.getMessage} !contains $want")
    }
    bad("MERGE INTO m_v USING m_vs ON m_v.k = m_vs.k " +
      "WHEN MATCHED THEN INSERT VALUES (1, 2)", "cannot INSERT")
    bad("MERGE INTO m_v USING m_vs ON m_v.k = m_vs.k " +
      "WHEN NOT MATCHED BY SOURCE THEN INSERT VALUES (1, 2)", "cannot INSERT")
    bad("MERGE INTO m_v USING m_vs ON m_v.k = m_vs.k " +
      "WHEN NOT MATCHED THEN UPDATE SET v = 1", "no target row")
    bad("MERGE INTO m_v USING m_vs ON m_v.k = m_vs.k " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE", "explicit UPDATE SET")
    bad("MERGE INTO m_v USING m_vs ON m_v.k = m_vs.k " +
      "WHEN MATCHED THEN UPDATE SET nope = 1", "does not exist")
    bad("MERGE INTO m_v USING m_vs ON m_v.k = m_vs.k " +
      "WHEN NOT MATCHED THEN INSERT VALUES (1)", "1 expressions")
    bad("MERGE INTO m_v USING m_vs ON m_v.k = m_vs.k " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (1)", "1 expressions")
    bad("MERGE INTO m_v USING m_vs ON m_v.k = m_vs.k " +
      "WHEN NOT MATCHED THEN INSERT DEFAULT VALUES", "DEFAULT VALUES")
    bad("MERGE INTO m_nope USING m_vs ON 1 = 1 " +
      "WHEN MATCHED THEN DELETE", "does not exist")
    intercept[UserException] {
      run("MERGE INTO m_v USING m_vs WHEN MATCHED THEN DELETE")
    }
    // a merge with only DO NOTHING arms leaves the table untouched
    run("INSERT INTO m_v VALUES (1, 1)")
    run("MERGE INTO m_v USING m_vs ON m_v.k = m_vs.k " +
      "WHEN MATCHED THEN DO NOTHING")
    assert(rows("m_v") == Seq((1, 1)))
  }

  test("MERGE: equiSourceKeys — the dedup-skip fast-path trigger") {
    // pure equi conjunction, either orientation → the source-side keys
    assert(MergeSql.equiSourceKeys("t.k = s.k", "t", "s") == Some(Seq("k")))
    assert(MergeSql.equiSourceKeys("s.a = t.x AND t.y = s.b", "t", "s") ==
      Some(Seq("a", "b")))
    // alias case-insensitive
    assert(MergeSql.equiSourceKeys("T.k = S.kk", "t", "s") == Some(Seq("kk")))
    // anything impure → None (the window path owns correctness)
    assert(MergeSql.equiSourceKeys("t.k = s.k OR t.j = s.j", "t", "s").isEmpty)
    assert(MergeSql.equiSourceKeys("t.k = s.k AND t.v > 5", "t", "s").isEmpty)
    assert(MergeSql.equiSourceKeys("t.k = s.k + 1", "t", "s").isEmpty)
    assert(MergeSql.equiSourceKeys("t.k = other.k", "t", "s").isEmpty)
    assert(MergeSql.equiSourceKeys("k = kk", "t", "s").isEmpty)
  }

  test("MERGE: static analysis deps/outputs and syntax_check") {
    val an = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "MERGE INTO m_t USING m_s ON m_t.k = m_s.k " +
        "WHEN MATCHED THEN UPDATE SET v = m_s.v " +
        "WHEN NOT MATCHED THEN INSERT VALUES (m_s.k, m_s.v)"))
    // the Stmt.Merge contract: target is output AND dependency
    // (the DAG orders the MERGE after the target's producer)
    assert(an.outputs == Set("m_t") && an.dependencies == Set("m_t", "m_s"), an)
    val an2 = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "MERGE INTO tgt USING (SELECT k FROM dim WHERE k > 0) s " +
        "ON tgt.k = s.k WHEN MATCHED THEN DELETE RETURNING k"))
    assert(an2.outputs == Set("tgt") &&
      an2.dependencies == Set("tgt", "dim"), an2)
    val cfg = Config.parse(
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |  {"name": "q", "script": [
        |    "MERGE INTO a USING b ON a.k = b.k WHEN MATCHED THEN DELETE"]}
        |]}]}, "storage": {}}""".stripMargin)
    assert(Actions.syntaxCheck(spark, cfg).isEmpty,
      Actions.syntaxCheck(spark, cfg))
  }

  /** The executed plans of every query `body` runs. Listener events
    * arrive in order on one bus, so once a marker query run after `body`
    * has been seen, every earlier one has too. */
  private def executedPlans(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = s"plans_done_${System.nanoTime()}"
    spark.listenerManager.register(listener)
    try {
      body
      spark.sql(s"SELECT 1 AS $marker").collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.contains(marker)) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val plans = seen.asScala.toSeq
    assert(plans.exists(_.contains(marker)), "listener never saw the marker")
    plans.filterNot(_.contains(marker))
  }

  test("UPDATE ... FROM runs on the MERGE plan: key-unique source skips the window") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE uf_fast (k INT, v INT)")
    run("INSERT INTO uf_fast VALUES (1, 10), (2, 20), (3, 30)")
    run("CREATE TABLE uf_fast_s (k INT, nv INT)")
    run("INSERT INTO uf_fast_s VALUES (2, 200), (3, 300)")
    val plans = executedPlans(run("UPDATE uf_fast SET v = uf_fast_s.nv " +
      "FROM uf_fast_s WHERE uf_fast.k = uf_fast_s.k"))
    assert(rows("uf_fast") == Seq((1, 10), (2, 200), (3, 300)))
    assert(plans.nonEmpty)
    assert(!plans.exists("\\bWindow\\b".r.findFirstIn(_).isDefined),
      plans.mkString("\n----\n"))
    // a duplicate key on the source keeps the window dedup (one row out)
    run("INSERT INTO uf_fast_s VALUES (3, 301)")
    val dedup = executedPlans(run("UPDATE uf_fast SET v = uf_fast_s.nv " +
      "FROM uf_fast_s WHERE uf_fast.k = uf_fast_s.k"))
    assert(dedup.exists("\\bWindow\\b".r.findFirstIn(_).isDefined))
    val got = rows("uf_fast")
    assert(got.length == 3 && Set(300, 301)(got(2)._2), got)
  }

  test("DELETE ... USING and MATCHED THEN DELETE run as one left-anti join, no probe") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE du_anti (k INT, v INT)")
    run("INSERT INTO du_anti VALUES (1, 1), (2, 2), (3, 3), (4, 4)")
    run("CREATE TABLE du_anti_s (k INT)")
    run("INSERT INTO du_anti_s VALUES (2), (2), (4)")
    def antiOnly(plans: Seq[String]): Unit = {
      // an adaptive plan prints its final and initial forms: read the final
      val all = plans.map(_.split("== Initial Plan ==").head).mkString("\n----\n")
      // the write carries the only join; no aggregate = no uniqueness probe
      assert("LeftAnti".r.findAllIn(all).length == 1, all)
      assert(!all.contains("LeftOuter") && !all.contains("HashAggregate") &&
        "\\bWindow\\b".r.findFirstIn(all).isEmpty, all)
    }
    antiOnly(executedPlans(run(
      "DELETE FROM du_anti USING du_anti_s WHERE du_anti.k = du_anti_s.k")))
    assert(rows("du_anti") == Seq((1, 1), (3, 3)))
    antiOnly(executedPlans(run("MERGE INTO du_anti USING " +
      "(SELECT 3 AS k) s ON du_anti.k = s.k WHEN MATCHED THEN DELETE")))
    assert(rows("du_anti") == Seq((1, 1)))
  }

  test("UPDATE ... FROM / DELETE ... USING: RETURNING has no merge_action, errors name the statement") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE lw_t (k INT, v INT)")
    run("INSERT INTO lw_t VALUES (1, 1), (2, 2)")
    run("CREATE TABLE lw_s (k INT, nv INT)")
    run("INSERT INTO lw_s VALUES (1, 10)")
    val ret = run("UPDATE lw_t SET v = lw_s.nv FROM lw_s WHERE lw_t.k = lw_s.k " +
      "RETURNING *").get
    assert(ret.columns.toSeq == Seq("k", "v"))
    assert(ret.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 10)))
    val del = run("DELETE FROM lw_t USING lw_s WHERE lw_t.k = lw_s.k RETURNING *").get
    assert(del.columns.toSeq == Seq("k", "v"))
    assert(del.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 10)))
    intercept[Exception] {
      run("UPDATE lw_t SET v = lw_s.nv FROM lw_s WHERE lw_t.k = lw_s.k " +
        "RETURNING merge_action").get.collect()
    }
    intercept[Exception] {
      run("DELETE FROM lw_t USING lw_s WHERE lw_t.k = lw_s.k " +
        "RETURNING merge_action").get.collect()
    }
    def named(sql: String, verb: String): Unit = {
      val msg = intercept[UserException](run(sql)).getMessage
      assert(msg.startsWith(verb) && !msg.contains("MERGE"), msg)
    }
    named("UPDATE lw_t SET nope = lw_s.nv FROM lw_s WHERE lw_t.k = lw_s.k",
      "UPDATE lw_t")
    named("UPDATE lw_missing SET v = lw_s.nv FROM lw_s " +
      "WHERE lw_missing.k = lw_s.k", "UPDATE")
    named("DELETE FROM lw_missing USING lw_s WHERE lw_missing.k = lw_s.k",
      "DELETE")
  }

  test("INSERT after MERGE, UPDATE ... FROM and DELETE ... USING appends to the new state") {
    // probed v1.0 for the two lowered forms (MERGE is spec-pinned):
    // UPDATE..FROM then INSERT VALUES/SELECT → [(1, 5), (2, 3), ...];
    // DELETE..USING then INSERT → the inserted rows only
    val forms = Seq(
      "MERGE INTO ia_u USING ia_s ON ia_u.k = ia_s.k WHEN MATCHED THEN UPDATE SET j = 5" -> Seq((1, 5)),
      "UPDATE ia_u SET j = 5 FROM ia_s WHERE ia_u.k = ia_s.k" -> Seq((1, 5)),
      "DELETE FROM ia_u USING ia_s WHERE ia_u.k = ia_s.k" -> Seq())
    for ((dml, kept) <- forms;
         insert <- Seq("INSERT INTO ia_u VALUES (2, 3)", "INSERT INTO ia_u SELECT 2, 3")) {
      val ex = mkEx()
      def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
      run("CREATE OR REPLACE TABLE ia_u AS SELECT 1 AS k, 7 AS j")
      run("CREATE OR REPLACE TABLE ia_s AS SELECT 1 AS k")
      run(dml)
      run(insert)
      assert(rows("ia_u") == kept :+ ((2, 3)), s"$dml; $insert")
    }
  }

  test("INSERT, UPDATE, MERGE and upsert store values with the column's type, rounding like DuckDB") {
    import org.apache.spark.sql.types.{DecimalType, IntegerType}
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    def one(t: String, c: String) = {
      val df = spark.table(t)
      (df.select(c).collect().head.get(0), df.schema(c).dataType)
    }
    // tools/view_probe.py on DuckDB 1.0 — "update keeps the column
    // type": [(4, 'INTEGER')]
    run("CREATE OR REPLACE TABLE sc_w AS SELECT 1 AS k, 7 AS i")
    run("UPDATE sc_w SET i = i / 2")
    assert(one("sc_w", "i") == ((4, IntegerType)))
    // "update keeps a decimal column type": [(Decimal('11.06'), 'DECIMAL(15,2)')]
    run("CREATE OR REPLACE TABLE sc_p AS SELECT 1 AS k, 10.05::DECIMAL(15,2) AS p")
    run("UPDATE sc_p SET p = round(p * 1.1, 2)")
    assert(one("sc_p", "p") == ((new java.math.BigDecimal("11.06"), DecimalType(15, 2))))
    // "insert values rounds into an integer column": [(4, 'INTEGER')]
    run("CREATE OR REPLACE TABLE sc_u (k INTEGER PRIMARY KEY, j INTEGER)")
    run("INSERT INTO sc_u VALUES (1, 3.5)")
    assert(one("sc_u", "j") == ((4, IntegerType)))
    // "insert select rounds into an integer column": [(2, 'INTEGER')]
    // (DOUBLE rounds half to even)
    run("CREATE OR REPLACE TABLE sc_d (k INTEGER, j INTEGER)")
    run("INSERT INTO sc_d SELECT 1, 2.5::DOUBLE")
    assert(one("sc_d", "j") == ((2, IntegerType)))
    // "upsert set rounds into an integer column": [(4, 'INTEGER')]
    run("UPDATE sc_u SET j = 7")
    run("INSERT INTO sc_u VALUES (1, 0) ON CONFLICT (k) DO UPDATE SET j = sc_u.j / 2")
    assert(one("sc_u", "j") == ((4, IntegerType)))
    // "update from rounds into an integer column": [(4, 'INTEGER')]
    run("CREATE OR REPLACE TABLE sc_s AS SELECT 1 AS k")
    run("UPDATE sc_u SET j = 7")
    run("UPDATE sc_u SET j = sc_u.j / 2 FROM sc_s WHERE sc_u.k = sc_s.k")
    assert(one("sc_u", "j") == ((4, IntegerType)))
    // MERGE's INSERT clause, spec-pinned: the DECIMAL → INTEGER cast
    // rounds half away from zero (probed v1.0: 2.5::INTEGER = 3)
    run("CREATE OR REPLACE TABLE sc_s2 AS SELECT 9 AS k")
    run("MERGE INTO sc_d USING sc_s2 ON sc_d.k = sc_s2.k " +
      "WHEN NOT MATCHED THEN INSERT VALUES (sc_s2.k, 2.5)")
    assert(spark.table("sc_d").filter("k = 9").collect().head.getInt(1) == 3)
  }

  test("ALTER COLUMN TYPE, ADD COLUMN DEFAULT and COPY FROM store through the rounding cast") {
    import org.apache.spark.sql.types.IntegerType
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    def values(t: String, c: String) = {
      val df = spark.table(t).orderBy("k")
      (df.select(c).collect().map(_.get(0)).toSeq, df.schema(c).dataType)
    }
    // tools/view_probe.py on DuckDB 1.0 — "alter type rounds a double into
    // an integer column": [(4, 'INTEGER'), (-2, 'INTEGER')] (half to even)
    run("CREATE OR REPLACE TABLE sa_d AS SELECT 1 AS k, 3.5::DOUBLE AS x " +
      "UNION ALL SELECT 2, -2.5::DOUBLE")
    run("ALTER TABLE sa_d ALTER COLUMN x TYPE INTEGER")
    assert(values("sa_d", "x") == ((Seq(4, -2), IntegerType)))
    // "alter type rounds a decimal into an integer column": [(3, 'INTEGER')]
    run("CREATE OR REPLACE TABLE sa_m AS SELECT 1 AS k, 2.5::DECIMAL(4,1) AS x")
    run("ALTER TABLE sa_m ALTER COLUMN x TYPE INTEGER")
    assert(values("sa_m", "x") == ((Seq(3), IntegerType)))
    // "alter type using rounds into an integer column": [(4, 'INTEGER')]
    run("CREATE OR REPLACE TABLE sa_u AS SELECT 1 AS k, 7 AS x")
    run("ALTER TABLE sa_u ALTER COLUMN x TYPE INTEGER USING x / 2")
    assert(values("sa_u", "x") == ((Seq(4), IntegerType)))
    // "add column default rounds a decimal into an integer column":
    // [(3, 'INTEGER')]; "... a double ...": [(4, 'INTEGER')]
    run("CREATE OR REPLACE TABLE sa_a AS SELECT 1 AS k")
    run("ALTER TABLE sa_a ADD COLUMN n INTEGER DEFAULT 2.5")
    run("ALTER TABLE sa_a ADD COLUMN n2 INTEGER DEFAULT 3.5::DOUBLE")
    assert(values("sa_a", "n") == ((Seq(3), IntegerType)))
    assert(values("sa_a", "n2") == ((Seq(4), IntegerType)))
    // "copy from parquet rounds into an integer column": [(4, 'INTEGER')]
    val f = Files.createTempDirectory("graft_sa_").resolve("j.parquet")
    run(s"COPY (SELECT 1 AS k, 3.5::DOUBLE AS j) TO '$f' (FORMAT PARQUET)")
    run("CREATE OR REPLACE TABLE sa_c (k INTEGER, j INTEGER)")
    run(s"COPY sa_c FROM '$f'")
    assert(values("sa_c", "j") == ((Seq(4), IntegerType)))
  }

  test("plain UPDATE and DELETE run on the MERGE engine: aliases, no WHERE, unknown SET column") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    def after(dml: String) = {
      run("CREATE OR REPLACE TABLE p_t (k INTEGER, v INTEGER)")
      run("INSERT INTO p_t VALUES (1, 10), (2, 20), (3, 30)")
      run(dml)
      rows("p_t")
    }
    // tools/view_probe.py on DuckDB 1.0, a fresh p_t per row — "update
    // with an AS alias" and "... a bare alias": [(1, 11), (2, 20), (3, 30)]
    assert(after("UPDATE p_t AS a SET v = 11 WHERE a.k = 1") == Seq((1, 11), (2, 20), (3, 30)))
    assert(after("UPDATE p_t a SET v = 11 WHERE a.k = 1") == Seq((1, 11), (2, 20), (3, 30)))
    // "delete with an AS alias" and "... a bare alias": [(1, 10), (2, 20)]
    assert(after("DELETE FROM p_t AS a WHERE a.k = 3") == Seq((1, 10), (2, 20)))
    assert(after("DELETE FROM p_t a WHERE a.k = 3") == Seq((1, 10), (2, 20)))
    // "update without where": [(1, 11), (2, 21), (3, 31)]
    assert(after("UPDATE p_t SET v = v + 1") == Seq((1, 11), (2, 21), (3, 31)))
    // "delete without where": []
    assert(after("DELETE FROM p_t") == Seq())
    // "update where is distinct from": [(1, 0), (2, 20), (3, 0)]
    assert(after("UPDATE p_t SET v = 0 WHERE k IS DISTINCT FROM 2") ==
      Seq((1, 0), (2, 20), (3, 0)))
    // "update an unknown column": Binder Error: Referenced update column
    // nope not found in table! — here the statement names the column
    val e = intercept[UserException](after("UPDATE p_t SET nope = 5 WHERE k = 1"))
    assert(e.getMessage == "UPDATE p_t: SET column nope does not exist", e.getMessage)
    assert(rows("p_t") == Seq((1, 10), (2, 20), (3, 30)))
  }

  test("plain UPDATE and DELETE mark the target's rows in place: no join, no probe, no window") {
    val ex = mkEx()
    def run(sql: String) = ex.runStatement(Dialect.rewrite(sql))
    run("CREATE TABLE ip_t (k INTEGER, v INTEGER)")
    run("INSERT INTO ip_t VALUES (1, 1), (2, 2), (3, 3)")
    def inPlace(plans: Seq[String]): Unit = {
      val all = plans.map(_.split("== Initial Plan ==").head).mkString("\n----\n")
      assert(plans.nonEmpty)
      assert(!all.contains("Join") && !all.contains("HashAggregate") &&
        "\\bWindow\\b".r.findFirstIn(all).isEmpty, all)
    }
    inPlace(executedPlans(run("UPDATE ip_t AS a SET v = a.v * 10 WHERE a.k > 1")))
    inPlace(executedPlans(run("DELETE FROM ip_t WHERE k = 2")))
    assert(rows("ip_t") == Seq((1, 1), (3, 30)))
  }

  test("MERGE, UPDATE and DELETE dependencies read the relations inside their expressions") {
    def an(sql: String) = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(sql))
    // DuckDB 1.0 runs the join forms (tools/view_probe.py "update from with
    // subqueries in set and where": [(1, 99), (2, 20)]; "delete using with
    // a subquery in where": [(2, 20)]), so `other` must be produced first
    Seq(
      "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = (SELECT max(x) FROM other)",
      "MERGE INTO t USING s ON t.k = s.k AND t.k IN (SELECT k FROM other) WHEN MATCHED THEN DELETE",
      "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED AND t.k IN (SELECT k FROM other) THEN DELETE",
      "MERGE INTO t USING s ON t.k = s.k WHEN NOT MATCHED THEN INSERT VALUES (s.k, (SELECT max(x) FROM other))",
      "UPDATE t SET v = (SELECT max(x) FROM other) FROM s WHERE t.k = s.k",
      "UPDATE t SET v = s.v FROM s WHERE t.k = s.k AND t.k IN (SELECT k FROM other)",
      "DELETE FROM t USING s WHERE t.k = s.k AND t.k IN (SELECT k FROM other)"
    ).foreach { sql =>
      val a = an(sql)
      assert(a.dependencies == Set("t", "s", "other") && a.outputs == Set("t"), s"$sql → $a")
    }
    // the plain forms: the target plus what their expressions read
    val u = an("UPDATE ek SET v = 0 WHERE k IN (SELECT k FROM other)")
    assert(u.dependencies == Set("ek", "other") && u.outputs == Set("ek"), u)
    val d = an("DELETE FROM ek AS e WHERE e.k = 1")
    assert(d.dependencies == Set("ek") && d.outputs == Set("ek"), d)
  }
}
