package graft.component

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DuckDB ASOF JOIN statement support ([[AsOfSql]]): grammar parsing,
  * the keyword-deletion dependency stub, semantics (latest right row at
  * or before the left timestamp; inner drops unmatched, LEFT keeps),
  * and an end-to-end component run. */
class AsOfSqlSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def parse(body: String) = Body.parse(body) match {
    case Body.AsOf(p) => Some(p)
    case _ => None
  }

  private def trades = Seq(
    (1L, "A", ts("2024-01-01 10:00:05"), 100.0),
    (2L, "A", ts("2024-01-01 10:00:15"), 101.0),
    (3L, "B", ts("2024-01-01 10:00:07"), 50.0),
    (4L, "C", ts("2024-01-01 10:00:07"), 7.0)) // no quotes for C
    .toDF("trade_id", "sym", "t_ts", "price")

  private def quotes = Seq(
    ("A", ts("2024-01-01 10:00:00"), 99.0),
    ("A", ts("2024-01-01 10:00:10"), 100.5),
    ("B", ts("2024-01-01 10:00:06"), 49.5))
    .toDF("q_sym", "q_ts", "bid")

  test("parse: canonical form with aliases, equality + one bound") {
    val p = parse(
      "SELECT t.trade_id, q.bid FROM trades t ASOF JOIN quotes q " +
        "ON t.sym = q.q_sym AND t.t_ts >= q.q_ts").get
    assert(p.leftSrc == "trades" && p.leftAlias == "t")
    assert(p.rightSrc == "quotes" && p.rightAlias == "q")
    assert(p.keys == Seq(("sym", "q_sym")))
    assert(p.leftTs == "t_ts" && p.rightTs == "q_ts" && !p.leftOuter)
    assert(parse(
      "SELECT * FROM a x ASOF LEFT JOIN b y ON x.k = y.k AND x.ts >= y.ts")
      .get.leftOuter)
    // a <= bound written right-to-left normalizes
    val q = parse(
      "SELECT * FROM a x ASOF JOIN b y ON x.k = y.k AND y.ts <= x.ts").get
    assert(q.leftTs == "ts" && q.rightTs == "ts")
    // not ASOF: no match
    assert(parse("SELECT * FROM a JOIN b ON a.k = b.k").isEmpty)
    // two bounds: rejected
    assert(parse(
      "SELECT * FROM a x ASOF JOIN b y ON x.ts >= y.ts AND x.e >= y.e").isEmpty)
  }

  test("table-name qualifiers work without explicit aliases") {
    trades.createOrReplaceTempView("trades")
    quotes.createOrReplaceTempView("quotes")
    val got = AsOfSql.asofDf(spark,
      "SELECT trades.trade_id, quotes.bid FROM trades ASOF JOIN quotes " +
        "ON trades.sym = quotes.q_sym AND trades.t_ts >= quotes.q_ts").get
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 99.0, 2L -> 100.5, 3L -> 49.5))
  }

  test("an ASOF body reads both sides: dependencies through the body model") {
    for (join <- Seq("ASOF JOIN", "ASOF LEFT JOIN")) {
      val a = SqlAnalyzer.analyzeStatement(spark,
        s"SELECT t.trade_id FROM trades t $join quotes q ON t.sym = q.q_sym AND t.t_ts >= q.q_ts")
      assert(a.dependencies == Set("trades", "quotes"), join)
    }
    val sub = SqlAnalyzer.analyzeStatement(spark,
      "CREATE TABLE x AS SELECT * FROM (SELECT * FROM trades) t ASOF JOIN quotes q " +
        "USING (sym, t_ts)")
    assert(sub.dependencies == Set("trades", "quotes") && sub.outputs == Set("x"))
  }

  test("asofDf: latest quote at or before each trade; inner vs LEFT") {
    trades.createOrReplaceTempView("trades")
    quotes.createOrReplaceTempView("quotes")
    val sql = "SELECT t.trade_id, t.price, q.bid, q.q_ts FROM trades t " +
      "ASOF JOIN quotes q ON t.sym = q.q_sym AND t.t_ts >= q.q_ts"
    val inner = AsOfSql.asofDf(spark, sql).get.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getTimestamp(3).toString)))
      .toMap
    // trade 1 @10:00:05 -> A quote @10:00:00; trade 2 @10:00:15 -> @10:00:10
    assert(inner(1L) == ((99.0, "2024-01-01 10:00:00.0")))
    assert(inner(2L) == ((100.5, "2024-01-01 10:00:10.0")))
    assert(inner(3L) == ((49.5, "2024-01-01 10:00:06.0")))
    assert(!inner.contains(4L), "no quotes for C: inner ASOF drops it")
    val left = AsOfSql.asofDf(spark,
      "SELECT t.trade_id, q.bid FROM trades t " +
        "ASOF LEFT JOIN quotes q ON t.sym = q.q_sym AND t.t_ts >= q.q_ts").get
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(left(4L).isEmpty && left.size == 4)
  }

  test("select-list rewrite is quote-safe and case-insensitive") {
    trades.createOrReplaceTempView("trades")
    quotes.createOrReplaceTempView("quotes")
    // alias-qualified text INSIDE a string literal must come through
    // untouched (the rewrite runs over the masked statement)
    val lit = AsOfSql.asofDf(spark,
      "SELECT t.trade_id, 'see q.bid' AS note, q.bid FROM trades t " +
        "ASOF JOIN quotes q ON t.sym = q.q_sym AND t.t_ts >= q.q_ts").get
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(lit.forall(_._2 == "see q.bid"))
    assert(lit.map { case (k, _, v) => k -> v }.toMap ==
      Map(1L -> 99.0, 2L -> 100.5, 3L -> 49.5))
    // case-mismatched RIGHT ref whose column was collision-renamed: the
    // right side also has `price`, and the user writes q.PRICE — must
    // resolve through the carry rename to the RIGHT value, never fall
    // back to the left column of the same name
    quotes.withColumnRenamed("bid", "price").createOrReplaceTempView("quotes_p")
    val got = AsOfSql.asofDf(spark,
      "SELECT t.trade_id, t.price, q.PRICE AS q_price FROM trades t " +
        "ASOF JOIN quotes_p q ON t.sym = q.q_sym AND t.t_ts >= q.q_ts").get
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((100.0, 99.0)))
    assert(got(2L) == ((101.0, 100.5)))
  }

  test("trailing WHERE / ORDER BY / LIMIT are applied after the join") {
    trades.createOrReplaceTempView("trades")
    quotes.createOrReplaceTempView("quotes")
    val p = parse(
      "SELECT t.trade_id, q.bid FROM trades t ASOF JOIN quotes q " +
        "ON t.sym = q.q_sym AND t.t_ts >= q.q_ts " +
        "WHERE q.bid > 49.5 ORDER BY q.bid DESC LIMIT 1").get
    assert(p.where.contains("q.bid > 49.5"))
    assert(p.orderBy.contains("q.bid DESC") && p.limit.contains(1))
    val got = AsOfSql.asofDf(spark,
      "SELECT t.trade_id, q.bid FROM trades t ASOF JOIN quotes q " +
        "ON t.sym = q.q_sym AND t.t_ts >= q.q_ts " +
        "WHERE q.bid > 49.5 ORDER BY q.bid DESC LIMIT 1").get
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((2L, 100.5))) // highest bid above 49.5
  }

  test("USING spelling: same-named keys, last column is the bound") {
    // rename to shared column names, the USING contract
    trades.withColumnRenamed("t_ts", "ts").createOrReplaceTempView("u_trades")
    quotes.withColumnRenamed("q_sym", "sym").withColumnRenamed("q_ts", "ts")
      .createOrReplaceTempView("u_quotes")
    val got = AsOfSql.asofDf(spark,
      "SELECT t.trade_id, q.bid FROM u_trades t ASOF JOIN u_quotes q " +
        "USING (sym, ts)").get
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 99.0, 2L -> 100.5, 3L -> 49.5))
    // SELECT *: using columns appear ONCE, carrying the LEFT's values
    val star = AsOfSql.asofDf(spark,
      "SELECT * FROM u_trades t ASOF JOIN u_quotes q USING (sym, ts)").get
    assert(star.columns.count(_.equalsIgnoreCase("sym")) == 1)
    assert(star.columns.count(_.equalsIgnoreCase("ts")) == 1)
    val r1 = star.collect().map(r =>
      r.getLong(r.fieldIndex("trade_id")) ->
        r.getTimestamp(r.fieldIndex("ts")).toString).toMap
    assert(r1(1L) == "2024-01-01 10:00:05.0", "left's ts, not the quote's")
    // LEFT variant keeps unmatched; trailing clauses still apply
    val left = AsOfSql.asofDf(spark,
      "SELECT t.trade_id, q.bid FROM u_trades t ASOF LEFT JOIN u_quotes q " +
        "USING (sym, ts) ORDER BY t.trade_id LIMIT 4").get
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(left(4L).isEmpty && left(1L).contains(99.0))
    // dependency stub still sees both sides
    val a = SqlAnalyzer.analyzeStatement(spark,
      "SELECT t.trade_id FROM u_trades t ASOF JOIN u_quotes q USING (sym, ts)")
    assert(a.dependencies == Set("u_trades", "u_quotes"))
    // case-mismatched USING columns resolve like every other path here
    val ci = AsOfSql.asofDf(spark,
      "SELECT * FROM u_trades t ASOF JOIN u_quotes q USING (SYM, TS)").get
    assert(ci.columns.count(_.equalsIgnoreCase("ts")) == 1)
    assert(ci.count() == 3)
  }

  test("unsupported ASOF forms get a clear validation message") {
    // GROUP BY after an ASOF join: not executable — a clear message, not
    // an opaque run-time Spark parse error on the ASOF token
    val bad = "SELECT t.sym, count(*) FROM trades t ASOF JOIN quotes q " +
      "ON t.sym = q.q_sym AND t.t_ts >= q.q_ts GROUP BY t.sym"
    def unsupported(stmt: String): Option[String] =
      SqlAnalyzer.check(spark, Stmt.parse(stmt)).failed.toOption.collect {
        case e: Body.UnsupportedBody => e.getMessage
      }
    assert(unsupported(bad).exists(_.contains("unsupported ASOF")))
    // ... also when wrapped in the CREATE body the executor actually runs
    assert(unsupported(s"CREATE TABLE x AS $bad").isDefined)
    // supported forms (incl. trailing ORDER BY now) report no issue
    assert(unsupported(
      "SELECT * FROM a x ASOF JOIN b y ON x.k = y.k AND x.ts >= y.ts " +
        "ORDER BY x.k LIMIT 5").isEmpty)
    // INSERT with a column list runs the remainder as the body — the
    // body model reads it the same way, no false flag
    assert(unsupported(
      "INSERT INTO t (a, b) SELECT x.a, y.b FROM l x ASOF JOIN r y " +
        "ON x.k = y.k AND x.ts >= y.ts").isEmpty)
    assert(unsupported("SELECT * FROM a JOIN b ON a.k = b.k").isEmpty)
    // a string literal containing 'ASOF JOIN' is not an ASOF statement
    assert(unsupported(
      "SELECT 'ASOF JOIN docs' AS s FROM a GROUP BY s").isEmpty)
  }

  test("end-to-end: component runs an ASOF JOIN script") {
    val dd = Files.createTempDirectory("graft_asof_")
    def write(p: Path, content: String): Unit = {
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    write(dd.resolve("in/tables/trades.csv"),
      "\"trade_id\",\"sym\",\"t_ts\",\"price\"\n" +
        "\"1\",\"A\",\"2024-01-01 10:00:05\",\"100\"\n" +
        "\"2\",\"A\",\"2024-01-01 10:00:15\",\"101\"\n")
    write(dd.resolve("in/tables/trades.csv.manifest"), """{"id": "in.c-x.trades"}""")
    write(dd.resolve("in/tables/quotes.csv"),
      "\"sym\",\"q_ts\",\"bid\"\n" +
        "\"A\",\"2024-01-01 10:00:00\",\"99\"\n" +
        "\"A\",\"2024-01-01 10:00:10\",\"100.5\"\n")
    write(dd.resolve("in/tables/quotes.csv.manifest"), """{"id": "in.c-x.quotes"}""")
    write(dd.resolve("config.json"),
      """{"parameters": {"blocks": [{"name": "B", "codes": [
        |   {"name": "asof", "script": [
        |     "CREATE TABLE joined AS SELECT t.trade_id, t.price, q.bid FROM 'trades.csv' t ASOF JOIN 'quotes.csv' q ON t.sym = q.sym AND t.t_ts >= q.q_ts;"]}
        | ]}]},
        | "storage": {
        |  "input": {"tables": [
        |    {"source": "in.c-x.trades", "destination": "trades.csv"},
        |    {"source": "in.c-x.quotes", "destination": "quotes.csv"}]},
        |  "output": {"tables": [{"source": "joined", "destination": "out.c-y.joined"}]}}}""".stripMargin)
    Component.run(spark, dd.toString)
    val out = Files.readString(dd.resolve("out/tables/joined")).linesIterator.toList
    assert(out.head == "\"trade_id\",\"price\",\"bid\"")
    // bid infers DOUBLE (the 100.5 row), so 99 renders as 99.0
    assert(out.toSet.contains("\"1\",\"100\",\"99.0\""))
    assert(out.toSet.contains("\"2\",\"101\",\"100.5\""))
  }
}
