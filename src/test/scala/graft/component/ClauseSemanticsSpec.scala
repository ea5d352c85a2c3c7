package graft.component

import graft.SparkSpec

/** Clause-grammar semantics pins from the r18 differential sweep
  * (tools/clause_sweep.py → SWEEP_CLAUSE_r18.json: 62 probes over set
  * operations, GROUP BY extensions, subquery three-valued logic, CASE
  * and VALUES/CTE shapes — 62 matched, 0 unexplained). Three gaps were
  * fixed and are pinned here; every expectation is a probed DuckDB
  * v1.0 value.
  *
  *  - PROJECTION-context `IN (subquery)`: Spark plans an ExistenceJoin
  *    whose boolean is non-nullable — `3 IN (set with NULL)` answered
  *    FALSE where the standard says NULL (and NOT IN then answered the
  *    wrong way). [[graft.functions.GraftExtensions.NullFaithfulInRule]]
  *    rewrites null-observable positions to the CASE form; filter-spine
  *    conjuncts keep Spark's null-aware semi/anti planning.
  *  - Multi-arg `GROUPING(a, b)` → `grouping_id` (same bit order).
  *  - Quantified comparisons `op ANY|SOME|ALL (subquery)` — no Spark
  *    spelling at all — lower to IN/NOT IN (exact truth-table twins)
  *    or the two-EXISTS CASE.
  *  - Bare NULL conditions (`CASE WHEN NULL`, `WHERE NULL`) cast to
  *    BOOLEAN instead of failing analysis. */
class ClauseSemanticsSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(Dialect.rewrite(q))
  private def one(q: String) = sql(s"SELECT ($q) AS v").collect().head

  private val M = "(VALUES (2), (2), (4), (NULL)) m(v)"
  private val E = "(VALUES (2)) e(v) WHERE v > 99"

  test("projection-context IN (subquery) is null-faithful (probed)") {
    assert(one(s"3 IN (SELECT v FROM $M)").isNullAt(0))
    assert(one(s"3 NOT IN (SELECT v FROM $M)").isNullAt(0))
    assert(one(s"2 IN (SELECT v FROM $M)").getBoolean(0))
    assert(!one(s"3 IN (SELECT v FROM (VALUES (2), (4)) m(v))").getBoolean(0))
    // empty subquery: false, even though the has-null probe is empty too
    assert(!one(s"3 IN (SELECT v FROM $E)").getBoolean(0))
    // NULL lhs over a non-empty set
    assert(one(s"NULL IN (SELECT v FROM (VALUES (2)) m(v))").isNullAt(0))
  }

  test("filter-spine IN keeps native null-aware join planning") {
    import spark.implicits._
    Seq(2, 3, 4).toDF("x").createOrReplaceTempView("cls_t")
    val semi = sql(s"SELECT x FROM cls_t WHERE x IN (SELECT v FROM $M)")
    val plan = semi.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi join:\n$plan")
    assert(!plan.contains("CASE WHEN"), s"filter conjunct must stay native:\n$plan")
    assert(semi.collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 4))
    // NOT IN with a null in the set filters everything (standard)
    assert(sql(s"SELECT x FROM cls_t WHERE x NOT IN (SELECT v FROM $M)")
      .collect().isEmpty)
    // ...but a null-OBSERVING position inside the condition rewrites:
    // NOT(x IN sub) must stay NULL for non-members, dropping the row
    assert(sql(s"SELECT x FROM cls_t WHERE NOT (x IN (SELECT v FROM $M))")
      .collect().isEmpty)
  }

  test("multi-arg GROUPING is grouping_id (probed bit order)") {
    val r = sql(
      """SELECT g, p, GROUPING(g, p) AS gr FROM
        |  (VALUES ('a', 'x', 1)) t(g, p, x)
        |GROUP BY CUBE(g, p) ORDER BY gr""".stripMargin).collect()
    assert(r.map(_.getLong(2)).toSeq == Seq(0L, 1L, 2L, 3L)) // lhs = high bit
    // unary stays native grouping()
    assert(sql(
      """SELECT GROUPING(g) AS gr FROM (VALUES ('a', 1)) t(g, x)
        |GROUP BY ROLLUP(g) ORDER BY gr""".stripMargin)
      .collect().map(_.getByte(0).toInt).toSeq == Seq(0, 1))
  }

  test("quantified comparisons over subqueries (probed three-valued matrix)") {
    assert(one(s"2 = ANY (SELECT v FROM $M)").getBoolean(0))
    assert(one(s"3 = ANY (SELECT v FROM $M)").isNullAt(0))
    assert(one(s"2 = SOME (SELECT v FROM $M)").getBoolean(0))
    assert(one(s"3 <> ALL (SELECT v FROM $M)").isNullAt(0))
    assert(one(s"5 > ALL (SELECT v FROM $M)").isNullAt(0))
    assert(!one(s"3 > ALL (SELECT v FROM $M)").getBoolean(0))
    assert(one(s"5 > ANY (SELECT v FROM $M)").getBoolean(0))
    assert(one(s"1 > ANY (SELECT v FROM $M)").isNullAt(0))
    // vacuous truth over the empty set
    assert(!one(s"1 > ANY (SELECT v FROM $E)").getBoolean(0))
    assert(one(s"1 > ALL (SELECT v FROM $E)").getBoolean(0))
    assert(one(s"NULL > ALL (SELECT v FROM $E)").getBoolean(0))
    assert(one(s"5 >= ALL (SELECT v FROM (VALUES (2), (4)) m(v))").getBoolean(0))
    assert(!one(s"2 != ANY (SELECT v FROM (VALUES (2)) m(v))").getBoolean(0))
  }

  test("bare NULL conditions are not-true, never an analysis error (probed)") {
    assert(one("CASE WHEN NULL THEN 'y' ELSE 'n' END").getString(0) == "n")
    assert(one("IF(NULL, 'y', 'n')").getString(0) == "n")
    assert(sql("SELECT v FROM (VALUES (1), (2)) t(v) WHERE NULL")
      .collect().isEmpty)
  }

  private def pairs(q: String) = sql(q).collect().map(r => (r.getInt(0), r.getInt(1))).toList

  private def clauseTables(): Unit = {
    import spark.implicits._
    Seq((1, 10), (1, 20), (2, 15)).toDF("k", "t").createOrReplaceTempView("l")
    Seq((1, 5, 100), (1, 15, 200), (2, 12, 300)).toDF("k", "t", "y").createOrReplaceTempView("r")
  }

  test("set-operation legs bound DISTINCT ON, QUALIFY and select-list UNNEST (probed v1.0)") {
    clauseTables()
    val rLeg = List((1, 100), (1, 200), (2, 300))
    // DuckDB: 5 rows — every r row, and one l row per key
    val d = pairs("SELECT DISTINCT ON (k) k, t FROM l UNION ALL SELECT k, y FROM r")
    assert(d.length == 5 && rLeg.forall(d.contains), d)
    assert(d.filterNot(rLeg.contains).map(_._1).sorted == List(1, 2), d)
    val q = List((1, 20), (1, 100), (1, 200), (2, 15), (2, 300))
    assert(pairs("SELECT k, t FROM l QUALIFY row_number() OVER (PARTITION BY k ORDER BY t DESC) = 1 " +
      "UNION ALL SELECT k, y FROM r").sorted == q)
    assert(pairs("SELECT k, y FROM r UNION ALL SELECT k, t FROM l " +
      "QUALIFY row_number() OVER (PARTITION BY k ORDER BY t DESC) = 1").sorted == q)
    val u = List((1, 10), (1, 11), (1, 20), (1, 21), (1, 100), (1, 200), (2, 15), (2, 16), (2, 300))
    assert(pairs("SELECT k, unnest([t, t + 1]) AS u FROM l UNION ALL SELECT k, y FROM r").sorted == u)
    assert(pairs("SELECT k, y FROM r UNION ALL SELECT k, unnest([t, t + 1]) AS u FROM l").sorted == u)
  }

  test("a parenthesized UNION ALL leg is no quantifier: its own ALL/ANY lowers (probed v1.0)") {
    clauseTables()
    assert(pairs("(SELECT k, t FROM l) UNION ALL " +
      "(SELECT k, y FROM r WHERE t >= ALL (SELECT t FROM l WHERE k = 2))").sorted ==
      List((1, 10), (1, 20), (1, 200), (2, 15)))
    assert(pairs("SELECT k, t FROM l UNION ALL " +
      "(SELECT k, y FROM r WHERE t > ANY (SELECT t FROM l WHERE k = 2))").sorted ==
      List((1, 10), (1, 20), (2, 15)))
  }

  test("DISTINCT ON with QUALIFY in one block: QUALIFY filters first (probed v1.0)") {
    clauseTables()
    val base = "SELECT DISTINCT ON (k) k, t FROM l QUALIFY "
    assert(pairs(base + "row_number() OVER (PARTITION BY k ORDER BY t DESC) = 1 ORDER BY k") ==
      List((1, 20), (2, 15)))
    assert(pairs(base + "row_number() OVER (PARTITION BY k ORDER BY t) = 1 ORDER BY k, t DESC") ==
      List((1, 10), (2, 15)))
    assert(pairs(base + "count(*) OVER (PARTITION BY k) > 1 ORDER BY k, t DESC") == List((1, 20)))
    assert(pairs(base + "row_number() OVER (PARTITION BY k ORDER BY t DESC) = 1 ORDER BY k LIMIT 1") ==
      List((1, 20)))
  }
}
