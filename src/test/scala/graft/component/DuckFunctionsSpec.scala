package graft.component

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.SparkSpec

/** The DuckDB-named function surface, end to end through spark.sql: each
  * name must resolve to the native operator AND reproduce DuckDB's
  * semantics where they differ from Spark's spelling (inclusive
  * list_slice bounds, element-first list_prepend, literal — not regex —
  * string_split separators, C-style strftime codes). */
class DuckFunctionsSpec extends SparkSpec {

  private lazy val session = {
    DuckFunctions.register(spark)
    spark
  }

  private def one(sql: String): Any = session.sql(sql).collect().head.get(0)

  /** Through the full dialect pass — for DuckDB spellings Spark's parser
    * rejects ([1,2] literals, range() column naming). */
  private def duck(sql: String): Any =
    session.sql(Dialect.rewrite(sql)).collect().head.get(0)

  test("UUID family: uuidv4 / uuidv7 / extractors (RFC 9562 vectors)") {
    val v4 = one("SELECT uuidv4()").toString
    assert(v4.matches("[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}"), v4)
    val before = System.currentTimeMillis()
    val v7 = one("SELECT uuidv7()").toString
    val after = System.currentTimeMillis()
    assert(v7.matches("[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}"), v7)
    assert(one(s"SELECT uuid_extract_version('$v7')") == 7)
    assert(one(s"SELECT uuid_extract_version('$v4')") == 4)
    // the embedded timestamp is the generation instant (ms precision)
    val ts = one(s"SELECT unix_millis(uuid_extract_timestamp('$v7'))")
      .asInstanceOf[Long]
    assert(ts >= before - 1 && ts <= after + 1, (before, ts, after))
    // RFC 9562 appendix vectors: A.6 (v7) and A.1 (v1) both encode
    // 2022-02-22 19:22:22 UTC (14:22:22 -05:00)
    assert(one("SELECT uuid_extract_timestamp('017f22e2-79b0-7cc3-98c4-dc0c0c07398f') = TIMESTAMP '2022-02-22 19:22:22'") == true)
    assert(one("SELECT uuid_extract_timestamp('c232ab00-9414-11ec-b3c8-9f68deced846') = TIMESTAMP '2022-02-22 19:22:22'") == true)
    // a v4 carries no timestamp — loud, like DuckDB's conversion error
    val e = intercept[Exception] {
      one(s"SELECT uuid_extract_timestamp('$v4')")
    }
    assert(e.getMessage.contains("carry no timestamp"), e.getMessage)
    // time-ordering: two draws a tick apart sort by creation
    val pair = session.sql(
      "SELECT uuidv7() AS a, uuidv7() AS b").collect().head
    assert(pair.getString(0).substring(0, 13) <= pair.getString(1).substring(0, 13))
    // the expressions are codegen-native: with fallback DISABLED a
    // Janino error would throw instead of silently demoting
    session.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val gen = session.sql("SELECT uuidv7() AS u, " +
        "uuid_extract_version(uuidv7()) AS ver, " +
        "unix_millis(uuid_extract_timestamp(uuidv7())) AS ts " +
        "FROM range(100)").collect()
      assert(gen.length == 100)
      assert(gen.map(_.getString(0)).distinct.length == 100) // all unique
      assert(gen.forall(_.getInt(1) == 7))
      assert(gen.forall(_.getLong(2) > 0L))
    } finally session.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("list lambda + scalar renames bind to the native array operators") {
    assert(one("SELECT list_transform(array(1, 2, 3), x -> x * 10)")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(10, 20, 30))
    // the Python-style lambda spelling (DuckDB >= 1.3; the reference's
    // pinned engines accept it) maps to the same arrow form end-to-end
    assert(duck("SELECT list_transform([1, 2, 3], lambda x: x * 10)")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(10, 20, 30))
    assert(duck("SELECT list_filter([1, 2, 3, 4], lambda x: x % 2 = 0)")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(2, 4))
    assert(duck("SELECT list_reduce([1, 2, 3], lambda acc, x: acc + x)") == 6)
    assert(one("SELECT list_filter(array(1, 2, 3, 4), x -> x % 2 = 0)")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(2, 4))
    assert(one("SELECT list_distinct(array(3, 1, 3))")
      .asInstanceOf[scala.collection.Seq[Int]].sorted == Seq(1, 3))
    assert(one("SELECT list_sort(array(3, 1, 2))")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(1, 2, 3))
    assert(one("SELECT list_reverse_sort(array(3, 1, 2))")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(3, 2, 1))
    assert(one("SELECT list_contains(array(1, 2), 2)") == true)
    assert(one("SELECT list_position(array(7, 8, 9), 9)") == 3L)
    assert(one("SELECT list_concat(array(1), array(2), array(3))")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(1, 2, 3))
    assert(one("SELECT list_value(4, 5)").asInstanceOf[scala.collection.Seq[Int]] == Seq(4, 5))
    assert(one("SELECT array_to_string(array('a', 'b'), '-')") == "a-b")
  }

  test("round-10 additions: extract/min/max/reverse/zip + regex splits") {
    assert(one("SELECT list_extract(array(10, 20, 30), 2)") == 20)
    assert(one("SELECT list_element(array(10, 20, 30), 3)") == 30)
    assert(one("SELECT list_min(array(3, 1, 2))") == 1)
    assert(one("SELECT list_max(array(3, 1, 2))") == 3)
    assert(one("SELECT list_reverse(array(1, 2, 3))")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(3, 2, 1))
    assert(one("SELECT string_split_regex('a1b22c', '[0-9]+')")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("a", "b", "c"))
    assert(one("SELECT regexp_split_to_array('x  y z', '\\\\s+')")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("x", "y", "z"))
    val zipped = session.sql(
      "SELECT list_zip(array(1, 2), array('a', 'b')) AS z").collect().head
    assert(zipped.getSeq[org.apache.spark.sql.Row](0).map(r =>
      (r.get(0), r.get(1))) == Seq((1, "a"), (2, "b")))
  }

  test("list_append / list_prepend: DuckDB's element-first prepend order") {
    assert(one("SELECT list_append(array(1, 2), 3)")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(1, 2, 3))
    assert(one("SELECT list_prepend(0, array(1, 2))")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(0, 1, 2))
  }

  test("list_slice uses 1-based INCLUSIVE bounds") {
    assert(one("SELECT list_slice(array(10, 20, 30, 40, 50), 2, 4)")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(20, 30, 40))
    // end past the list truncates, like DuckDB
    assert(one("SELECT list_slice(array(10, 20, 30), 2, 9)")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(20, 30))
  }

  test("string_split treats the separator literally, not as a regex") {
    assert(one("SELECT string_split('a.b.c', '.')")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("a", "b", "c"))
    assert(one("SELECT string_to_array('x||y', '||')")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("x", "y"))
  }

  test("epoch_us / epoch_ms extract exact integer epochs") {
    assert(one("SELECT epoch_us(TIMESTAMP '2024-01-01 00:00:00.000001')") ==
      1704067200000001L)
    assert(one("SELECT epoch_ms(TIMESTAMP '2024-01-01 00:00:00.25')") ==
      1704067200250L)
  }

  test("strftime translates C codes; literal text is preserved") {
    assert(one("SELECT strftime(TIMESTAMP '2024-03-05 07:08:09', '%Y-%m-%d %H:%M:%S')") ==
      "2024-03-05 07:08:09")
    assert(one("SELECT strftime(DATE '2024-03-05', 'day %d of %b')") ==
      "day 05 of Mar")
    assert(one("SELECT strptime('2024-03-05 07:08:09', '%Y-%m-%d %H:%M:%S')")
      .toString == "2024-03-05 07:08:09.0")
    // non-literal formats are an explicit error, not silent misparse
    val e = intercept[Exception](session.sql(
      "SELECT strftime(TIMESTAMP '2024-01-01 00:00:00', concat('%', 'Y'))").collect())
    assert(e.getMessage.contains("literal format"))
  }

  test("list_cosine_similarity / list_dot_product over float arrays") {
    val cos = one(
      """SELECT list_cosine_similarity(
        |  CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
        |  CAST(array(0.6, 0.8) AS ARRAY<FLOAT>))""".stripMargin)
      .asInstanceOf[Double]
    assert(math.abs(cos - 0.6) < 1e-6)
    assert(one(
      """SELECT list_dot_product(
        |  CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
        |  CAST(array(3.0, 4.0) AS ARRAY<FLOAT>))""".stripMargin) == 11.0)
  }

  test("aggregates bind under DuckDB names: list, arg_max/min, string_agg") {
    import spark.implicits._
    Seq((1, "a", 10), (1, "b", 30), (1, "c", 20), (2, "z", 5))
      .toDF("g", "name", "v").createOrReplaceTempView("t_agg")
    val r = session.sql(
      "SELECT g, sort_array(list(name)) AS names, arg_max(name, v) AS hi, " +
        "arg_min(name, v) AS lo, string_agg(name, '|') AS joined " +
        "FROM t_agg GROUP BY g ORDER BY g").collect()
    assert(r(0).getSeq[String](1) == Seq("a", "b", "c"))
    assert(r(0).getString(2) == "b" && r(0).getString(3) == "a")
    assert(r(0).getString(4).split("\\|").sorted.toSeq == Seq("a", "b", "c"))
    assert(r(1).getString(2) == "z")
  }

  test("scalar renames: regexp_matches, strpos, list_unique") {
    assert(one("SELECT regexp_matches('spark engine', 'eng.ne')") == true)
    assert(one("SELECT regexp_matches('spark', '^x')") == false)
    assert(one("SELECT strpos('seafood', 'foo')") == 4) // 1-based, like DuckDB
    assert(one("SELECT list_unique(array(1, 2, 2, 3, 1))") == 3)
  }

  test("nfc_normalize composes decomposed sequences; ASCII passes untouched") {
    // e + U+0301 (combining acute) -> single precomposed U+00E9
    assert(one("SELECT length(nfc_normalize('é'))") == 1)
    assert(one("SELECT nfc_normalize('é') = 'é'") == true)
    assert(one("SELECT nfc_normalize('plain ascii')") == "plain ascii")
  }

  test("time_bucket: origin grid, weeks align to Monday, months, origin arg") {
    // 15-minute buckets floor within the hour
    assert(one("SELECT CAST(time_bucket(INTERVAL '15 minutes', " +
      "TIMESTAMP '2024-03-05 10:37:12') AS STRING)") == "2024-03-05 10:30:00")
    // week buckets anchor at 2000-01-03, a MONDAY: 2024-03-05 is a
    // Tuesday, so its week bucket is Monday 2024-03-04 — a midnight or
    // Sunday-anchored implementation gets this wrong
    assert(one("SELECT CAST(time_bucket(INTERVAL '7 days', " +
      "TIMESTAMP '2024-03-05 10:00:00') AS STRING)") == "2024-03-04 00:00:00")
    // pre-origin timestamps floor DOWN (Pmod, not truncating divide)
    assert(one("SELECT CAST(time_bucket(INTERVAL '7 days', " +
      "TIMESTAMP '1999-12-30 08:00:00') AS STRING)") == "1999-12-27 00:00:00")
    // month widths anchor at 2000-01-01: quarter buckets
    assert(one("SELECT CAST(time_bucket(INTERVAL '3 months', " +
      "TIMESTAMP '2024-05-20 12:00:00') AS STRING)") == "2024-04-01 00:00:00")
    // explicit origin overrides the default grid
    assert(one("SELECT CAST(time_bucket(INTERVAL '1 hour', " +
      "TIMESTAMP '2024-03-05 10:40:00', TIMESTAMP '2024-03-05 00:30:00') " +
      "AS STRING)") == "2024-03-05 10:30:00")
  }

  test("len is polymorphic; list folds ride native higher-order nodes") {
    assert(one("SELECT len('hello')") == 5L)
    assert(one("SELECT len(array(1, 2, 3))") == 3L)
    assert(one("SELECT len(map('a', 1))") == 1L)
    assert(one("SELECT list_sum(array(1, 2, 3))") == 6.0)
    assert(one("SELECT list_sum(array(1.5, 2.5))") == 4.0)
    assert(one("SELECT list_avg(array(2, 4, 6))") == 4.0)
    assert(one("SELECT list_aggregate(array(3, 1, 2), 'max')") == 3)
    assert(one("SELECT list_aggregate(array(3, 1, 2), 'min')") == 1)
    assert(one("SELECT list_aggregate(array(3, 1, 2), 'count')") == 3L)
    assert(one("SELECT list_aggregate(array(3, 1, 2), 'sum')") == 6.0)
    // aggregate NULL semantics, like DuckDB: NULL elements are ignored,
    // an all-NULL/empty list sums to NULL, count counts non-nulls
    assert(one("SELECT list_sum(array(1, NULL, 2))") == 3.0)
    assert(one("SELECT list_sum(array(CAST(NULL AS INT)))") == null)
    assert(one("SELECT list_avg(array(2, NULL, 4))") == 3.0)
    assert(one("SELECT list_aggregate(array(1, NULL, 2), 'count')") == 2L)
    // lambda-spelling still works alongside (parsed higher-order fn)
    assert(one("SELECT list_transform(array(1, 2), x -> x * 10)[0]") == 10)
  }

  test("round-12 gap-scan batch: array_* twins, strings, math") {
    // array_* ≡ list_* (DuckDB aliases; same Catalyst nodes)
    assert(one("SELECT array_length(array(1, 2, 3))") == 3)
    assert(one("SELECT array_indexof(array(5, 6), 6)") == 2L) // 1-based
    assert(one("SELECT array_unique(array(1, 1, 2))") == 2)
    assert(one("SELECT array_extract(array(7, 8), 2)") == 8)
    assert(one("SELECT array_slice(array(1, 2, 3, 4), 2, 3)[0]") == 2)
    assert(one("SELECT array_transform(array(1, 2), x -> x + 1)[1]") == 3)
    assert(one("SELECT array_aggregate(array(1, 2, 3), 'sum')") == 6.0)
    // 1-based gather (probed: list_select([10,20,30],[3,1]) = [30,10])
    assert(session.sql("SELECT list_select(array(10, 20, 30), array(3, 1)) AS g")
      .collect().head.getSeq[Int](0).toList == List(30, 10))
    // strings
    assert(one("SELECT starts_with('abc', 'ab')") == true)
    assert(one("SELECT ends_with('abc', 'bc')") == true)
    assert(one("SELECT strlen('abcd')") == 4)
    // unicode/ord decode the full first code point (probed: € = 8364)
    assert(one("SELECT unicode('€x')") == 8364)
    assert(one("SELECT to_base64(CAST('hi' AS BINARY))") == "aGk=")
    assert(one("SELECT to_hex(255)") == "FF")
    assert(one("SELECT sha256('a')").toString.length == 64)
    assert(one("SELECT editdist3('kitten', 'sitting')") == 3)
    assert(one("SELECT to_base(255, 16)") == "FF")
    // whole-string match (probed: 'abc' vs 'ab' false, vs 'ab.' true)
    assert(one("SELECT regexp_full_match('abc', 'ab')") == false)
    assert(one("SELECT regexp_full_match('abc', 'ab.')") == true)
    assert(one("SELECT parse_filename('/a/b/c.txt')") == "c.txt")
    assert(one("SELECT parse_dirpath('/a/b/c.txt')") == "/a/b")
    // struct/json
    assert(one("SELECT struct_extract(named_struct('a', 7), 'a')") == 7)
    assert(one("""SELECT json_extract_string('{"k": "v"}', '$.k')""") == "v")
    assert(one("""SELECT json_valid('{"k": 1}')""") == true)
    assert(one("SELECT json_valid('{bad')") == false)
    assert(one("SELECT json_valid(CAST(NULL AS STRING))") == null)
    // math predicates (NULL-propagating, probed)
    assert(one("SELECT isinf(CAST('Infinity' AS DOUBLE))") == true)
    assert(one("SELECT isfinite(1.0)") == true)
    assert(one("SELECT isinf(CAST(NULL AS DOUBLE))") == null)
    assert(one("SELECT xor(5, 3)") == 6)
    // l2 distance: probed DuckDB list_distance([1,2],[4,6]) = 5
    assert(one("SELECT list_distance(array(1.0, 2.0), array(4.0, 6.0))") == 5.0)
    assert(math.abs(one("SELECT array_cosine_similarity(" +
      "CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), " +
      "CAST(array(1.0, 0.0) AS ARRAY<FLOAT>))").asInstanceOf[Double] - 1.0) < 1e-6)
  }

  test("round-12 gap-scan batch: date parts and aggregates") {
    // probed DuckDB values: century(2019)=21, decade=201, millennium=3
    assert(one("SELECT century(DATE '2019-03-01')") == 21L)
    assert(one("SELECT decade(DATE '2019-03-01')") == 201L)
    assert(one("SELECT millennium(DATE '2019-03-01')") == 3L)
    // isodow: Mon=1 .. Sun=7
    assert(one("SELECT isodow(DATE '2024-01-08')") == 1)
    assert(one("SELECT isodow(DATE '2024-01-07')") == 7)
    assert(one("SELECT week(DATE '2024-01-08')") == 2)
    // micro/millisecond are WITHIN-MINUTE (probed: 2345678 / 2345)
    assert(one("SELECT microsecond(TIMESTAMP '2024-01-01 10:01:02.345678')")
      == 2345678L)
    assert(one("SELECT millisecond(TIMESTAMP '2024-01-01 10:01:02.345678')")
      == 2345L)
    // epoch: fractional double seconds; epoch_ns: long nanos
    assert(one("SELECT epoch(TIMESTAMP '1970-01-01 00:00:01.5')") == 1.5)
    assert(one("SELECT epoch_ns(TIMESTAMP '1970-01-01 00:00:01.5')")
      == 1500000000L)
    assert(one("SELECT datetrunc('hour', TIMESTAMP '2024-01-01 10:20:30')")
      .toString.endsWith("10:00:00.0"))
    // aggregates (probed: quantile ≡ quantile_disc; DuckDB 1/2/4/8 →
    // disc 2.0, cont 3.0)
    session.sql("SELECT * FROM (VALUES (1.0), (2.0), (4.0), (8.0)) v(x)")
      .createOrReplaceTempView("gap_q")
    assert(one("SELECT quantile_cont(x, 0.5) FROM gap_q") == 3.0)
    assert(one("SELECT quantile_disc(x, 0.5) FROM gap_q") == 2.0)
    assert(one("SELECT quantile(x, 0.5) FROM gap_q") == 2.0)
    assert(one("SELECT CAST(approx_quantile(x, 0.5) AS DOUBLE) FROM gap_q") == 2.0)
    assert(one("SELECT product(x) FROM gap_q") == 64.0)
    assert(one("SELECT count_star() FROM gap_q") == 4L)
    // VALUES (1.0) is DECIMAL — compare through an explicit double cast
    assert(one("SELECT CAST(fsum(x) AS DOUBLE) FROM gap_q") == 15.0)
    assert(one("SELECT CAST(favg(x) AS DOUBLE) FROM gap_q") == 3.75)
    session.sql("SELECT * FROM (VALUES ('a', 2), ('b', 1)) v(s, n)")
      .createOrReplaceTempView("gap_a")
    assert(one("SELECT argmax(s, n) FROM gap_a") == "a")
    assert(one("SELECT argmin(s, n) FROM gap_a") == "b")
    // group_concat defaults ',' (probed); 2-arg takes the separator
    assert(one("SELECT group_concat(s) FROM (SELECT s FROM gap_a ORDER BY s) t")
      .toString.split(",").sorted.mkString(",") == "a,b")
    assert(one("SELECT group_concat(s, '|') FROM gap_a")
      .toString.split("\\|").sorted.mkString("|") == "a|b")
    assert(Seq("a", "b").contains(one("SELECT arbitrary(s) FROM gap_a")))
  }

  test("json_extract: DuckDB quoting, key order, path grammar (probed v1.0)") {
    // scalar strings come back QUOTED (the variant branch) …
    assert(one("""SELECT json_extract('{"a": "x"}', '$.a')""") == "\"x\"")
    // … objects/arrays as minified spans with key order PRESERVED
    assert(one("""SELECT json_extract('{ "b" : 1, "a" : [ 2 ] }', '$')""")
      == """{"b":1,"a":[2]}""")
    assert(one("""SELECT json_extract('{"a": {"b": 2}}', '$.a')""") == """{"b":2}""")
    // bare key = ONE literal key; pointer form; array index (0-based)
    assert(one("""SELECT json_extract('{"a": "x"}', 'a')""") == "\"x\"")
    assert(one("""SELECT json_extract('{"a.b": 7}', 'a.b')""") == "7")
    assert(one("""SELECT json_extract('{"a": {"b": [5, 6]}}', '/a/b/1')""") == "6")
    assert(one("""SELECT json_extract('[1,2,3]', '$[1]')""") == "2")
    // JSON null and missing path are both SQL NULL
    assert(one("""SELECT json_extract('{"a": null}', '$.a')""") == null)
    assert(one("""SELECT json_extract('{"a": 1}', '$.missing')""") == null)
    assert(one("""SELECT json_extract('{"a": true}', '$.a')""") == "true")
    assert(one("""SELECT json_extract('{"a": 1.5}', '$.a')""") == "1.5")
    // the _string form stays the raw-span extractor, with the same paths
    assert(one("""SELECT json_extract_string('{"a": {"b": 1}}', '$.a')""")
      == """{"b":1}""")
    assert(one("""SELECT json_extract_string('{"a": "x"}', 'a')""") == "x")
  }

  test("json_type / json_array_length: DuckDB names and numbers (probed)") {
    assert(one("""SELECT json_type('{"a":1}')""") == "OBJECT")
    assert(one("""SELECT json_type('[1]')""") == "ARRAY")
    assert(one("""SELECT json_type('"x"')""") == "VARCHAR")
    assert(one("""SELECT json_type('3')""") == "UBIGINT")
    assert(one("""SELECT json_type('-3')""") == "BIGINT")
    assert(one("""SELECT json_type('1.5')""") == "DOUBLE")
    assert(one("""SELECT json_type('true')""") == "BOOLEAN")
    assert(one("""SELECT json_type('null')""") == "NULL")
    assert(one("""SELECT json_type('{"a":[1]}', '$.a')""") == "ARRAY")
    assert(one("""SELECT json_type('{"a":1}', '$.b')""") == null)
    assert(one("""SELECT json_array_length('[1,2,3]')""") == 3L)
    assert(one("""SELECT json_array_length('{"a":1}')""") == 0L) // non-array → 0
    assert(one("""SELECT json_array_length('{"a":[1,2]}', '$.a')""") == 2L)
    assert(one("""SELECT json_array_length('{"a":1}', '$.b')""") == null)
  }

  test("json_merge_patch: RFC 7386 with DuckDB's delete-then-append order") {
    assert(one("""SELECT json_merge_patch('{"a":1,"b":2}', '{"b":3,"c":4}')""")
      == """{"a":1,"b":3,"c":4}""")
    // a REPLACED key moves to the end (probed: {"b":2,"a":9}, not {"a":9,"b":2})
    assert(one("""SELECT json_merge_patch('{"a":1,"b":2}', '{"a":9}')""")
      == """{"b":2,"a":9}""")
    assert(one("""SELECT json_merge_patch('{"o":{"x":1,"y":2}}', '{"o":{"x":9}}')""")
      == """{"o":{"y":2,"x":9}}""")
    // null removes; NULL SQL argument is skipped; non-object patch replaces
    assert(one("""SELECT json_merge_patch('{"a":1,"b":2}', '{"a":null}')""")
      == """{"b":2}""")
    assert(one("""SELECT json_merge_patch(CAST(NULL AS STRING), '{ "a" : 1 }')""")
      == """{"a":1}""")
    assert(one("""SELECT json_merge_patch('{"a":1}', '5')""") == "5")
    // variadic folds left: ({"a":1} + {"b":2}) + {"a":9}
    assert(one("""SELECT json_merge_patch('{"a":1}', '{"b":2}', '{"a":9}')""")
      == """{"b":2,"a":9}""")
  }

  test("json constructors: json_array / json_object, raw-embed vs quote (probed)") {
    assert(one("""SELECT json_array(1, 'x', NULL, 2.5)""") == """[1,"x",null,2.5]""")
    assert(one("""SELECT json_array()""") == "[]")
    // VARCHAR quotes+escapes; a JSON-TYPED arg embeds raw
    assert(one("""SELECT json_array('{"b":2}')""") == """["{\"b\":2}"]""")
    assert(one("""SELECT json_array(json('{"b":2}'))""") == """[{"b":2}]""")
    assert(one("""SELECT json_array(json_extract('{"a":[5]}', '$.a'))""") == "[[5]]")
    assert(one("""SELECT json_object('a', 1, 'b', 'x', 'c', NULL)""")
      == """{"a":1,"b":"x","c":null}""")
    assert(one("""SELECT json_object()""") == "{}")
    // a NULL key DROPS the pair; a non-string key casts to VARCHAR
    assert(one("""SELECT json_object(NULL, 1)""") == "{}")
    assert(one("""SELECT json_object(1, 'x', 2, 'y')""") == """{"1":"x","2":"y"}""")
    assert(one("""SELECT json_object('k', json('[1]'))""") == """{"k":[1]}""")
    // string escaping: quotes and single-quote escapes through the dialect
    assert(one("""SELECT json_array('it''s')""") == """["it's"]""")
    assert(one("""SELECT json_quote('has "q"')""") == "\"has \\\"q\\\"\"")
  }

  test("json / json_quote / row_to_json rendering (probed)") {
    assert(one("""SELECT json(' {"b" : 1, "a" :  [2] } ')""") == """{"b":1,"a":[2]}""")
    assert(one("""SELECT json(json('{"a":1}'))""") == """{"a":1}""")
    assert(one("""SELECT json('not json')""") == null) // DuckDB raises; lenient here
    assert(one("""SELECT json_quote('hi')""") == "\"hi\"")
    assert(one("""SELECT json_quote(5)""") == "5")
    assert(one("""SELECT json_quote(NULL)""") == null)
    assert(one("""SELECT json_quote(CAST(1.50 AS DECIMAL(4,2)))""") == "1.5")
    assert(one("""SELECT json_quote(DATE '2024-01-02')""") == "\"2024-01-02\"")
    assert(one("""SELECT json_quote(TIMESTAMP '2024-01-02 03:04:05.120')""")
      == "\"2024-01-02 03:04:05.12\"")
    assert(one("""SELECT json_quote(CAST(2 AS DOUBLE))""") == "2.0")
    // composite renders recurse (list / struct)
    assert(duck("""SELECT json_quote([1, 2])""") == "[1,2]")
    assert(duck("""SELECT row_to_json(struct_pack(a := 1, b := 'x'))""")
      == """{"a":1,"b":"x"}""")
  }

  test("json_structure: DuckDB type names and unification (probed)") {
    assert(one("""SELECT json_structure('{"a": 1, "b": [1.5, 2], "c": {"d": "x"}}')""")
      == """{"a":"UBIGINT","b":["DOUBLE"],"c":{"d":"VARCHAR"}}""")
    assert(one("""SELECT json_structure('-3')""") == "\"BIGINT\"")
    assert(one("""SELECT json_structure('3')""") == "\"UBIGINT\"")
    assert(one("""SELECT json_structure('[1,"x"]')""") == """["JSON"]""")
    assert(one("""SELECT json_structure('[]')""") == """["NULL"]""")
    assert(one("""SELECT json_structure('{}')""") == "\"JSON\"")
    assert(one("""SELECT json_structure('[{"a":1},{"b":2.5}]')""")
      == """[{"a":"UBIGINT","b":"DOUBLE"}]""")
    assert(one("""SELECT json_structure('[{},{"a":1}]')""") == """[{"a":"UBIGINT"}]""")
    assert(one("""SELECT json_structure('{"a":{}}')""") == """{"a":"JSON"}""")
    assert(one("""SELECT json_structure('[null, 1]')""") == """["UBIGINT"]""")
    assert(one("""SELECT json_structure('[1152921504606846976123]')""")
      == """["DOUBLE"]""")
  }

  test("json_contains: strict-equality recursive match (probed)") {
    assert(one("""SELECT json_contains('{"a":[1,2],"b":3}', '2')""") == true)
    assert(one("""SELECT json_contains('{"a":[1,2],"b":3}', '4')""") == false)
    assert(one("""SELECT json_contains('{"a":{"x":1,"y":2}}', '{"x":1}')""") == true)
    assert(one("""SELECT json_contains('[1,2,3]', '[1,3]')""") == true)
    assert(one("""SELECT json_contains('{"a":1}', '{"a":1,"b":2}')""") == false)
    assert(one("""SELECT json_contains('[[1,2]]', '[[1]]')""") == true)
    assert(one("""SELECT json_contains('[1]', '1.0')""") == false) // type-strict
    assert(one("""SELECT json_contains('["1"]', '1')""") == false)
    assert(one("""SELECT json_contains('[null]', 'null')""") == true)
    assert(one("""SELECT json_contains('{"a":1}', '"a"')""") == false) // keys aren't values
    assert(one("""SELECT json_contains('{"a":1}', '{}')""") == true)
    assert(one("""SELECT json_contains(NULL, '1')""") == null)
  }

  test("json_group_array / json_group_object (single-partition order)") {
    // single partition pins arrival order (the list() ORDER CAVEAT)
    assert(duck("""SELECT json_group_array(x)
                  FROM (SELECT range AS x FROM range(3)) t""") == "[0,1,2]")
    assert(duck("""SELECT json_group_array(CASE WHEN range = 1 THEN NULL
                                               ELSE concat('s', range) END)
                  FROM range(3)""") == """["s0",null,"s2"]""")
    // JSON-typed elements embed raw
    assert(duck("""SELECT json_group_array(json_object('i', range)) FROM range(2)""")
      == """[{"i":0},{"i":1}]""")
    assert(duck("""SELECT json_group_object(concat('k', range), range) FROM range(2)""")
      == """{"k0":0,"k1":1}""")
    // empty aggregation → NULL (DuckDB's answer); null keys drop
    assert(duck("""SELECT json_group_array(range) FROM range(1) WHERE range < 0""") == null)
    assert(duck("""SELECT json_group_object(CAST(NULL AS STRING), range)
                  FROM range(1)""") == null)
    // grouped form over the hash-agg path
    val rows = session.sql(Dialect.rewrite(
      """SELECT range % 2 AS g, json_group_array(range) AS a
        |FROM (SELECT range FROM range(4) ORDER BY range) t
        |GROUP BY g ORDER BY g""".stripMargin)).collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("[0,2]", "[1,3]"))
  }

  test("json_transform / from_json: typed extraction, DuckDB coercions (probed)") {
    val r = session.sql(
      """SELECT json_transform('{"a":1,"b":"x","o":{"d":"2024-01-02"},"l":[1,2]}',
        |  '{"a":"BIGINT","b":"VARCHAR","o":{"d":"DATE"},"l":["DOUBLE"]}') AS s"""
        .stripMargin).select("s.a", "s.b", "s.o.d", "s.l").collect().head
    assert(r.getLong(0) == 1L && r.getString(1) == "x")
    assert(r.getDate(2).toString == "2024-01-02")
    assert(r.getSeq[Double](3) == Seq(1.0, 2.0))
    def f(sql: String): Any = session.sql(sql).selectExpr("s.a")
      .collect().head.get(0)
    // float→int rounds HALF-EVEN; strings parse then round; bools are 1/0
    assert(f("""SELECT json_transform('{"a":1.5}', '{"a":"BIGINT"}') AS s""") == 2L)
    assert(f("""SELECT json_transform('{"a":2.5}', '{"a":"BIGINT"}') AS s""") == 2L)
    assert(f("""SELECT json_transform('{"a":"1.9"}', '{"a":"BIGINT"}') AS s""") == 2L)
    assert(f("""SELECT json_transform('{"a":true}', '{"a":"BIGINT"}') AS s""") == 1L)
    // failed casts, overflow, missing keys → NULL (non-strict)
    assert(f("""SELECT json_transform('{"a":"zz"}', '{"a":"BIGINT"}') AS s""") == null)
    assert(f("""SELECT json_transform('{"a":300}', '{"a":"TINYINT"}') AS s""") == null)
    assert(f("""SELECT json_transform('{"b":1}', '{"a":"BIGINT"}') AS s""") == null)
    // VARCHAR: strings unquote, containers/scalars raw-span; JSON always raw
    assert(f("""SELECT json_transform('{"a":{"x":1}}', '{"a":"VARCHAR"}') AS s""")
      == """{"x":1}""")
    assert(f("""SELECT json_transform('{"a":"x"}', '{"a":"JSON"}') AS s""") == "\"x\"")
    // BOOLEAN: numbers ≠ 0, case-insensitive text
    assert(f("""SELECT json_transform('{"a":0}', '{"a":"BOOLEAN"}') AS s""") == false)
    assert(f("""SELECT json_transform('{"a":"TRUE"}', '{"a":"BOOLEAN"}') AS s""") == true)
    // UBIGINT carries the full unsigned range (DECIMAL(20,0)); negative → NULL
    assert(f("""SELECT json_transform('{"a":18446744073709551615}',
                 '{"a":"UBIGINT"}') AS s""").toString == "18446744073709551615")
    assert(f("""SELECT json_transform('{"a":-1}', '{"a":"UBIGINT"}') AS s""") == null)
    // a non-object under an object spec → row of NULLs; JSON null → NULL struct
    assert(f("""SELECT json_transform('5', '{"a":"BIGINT"}') AS s""") == null)
    assert(session.sql("""SELECT json_transform('5', '{"a":"BIGINT"}') AS s""")
      .collect().head.get(0) != null)
    assert(session.sql("""SELECT json_transform('null', '{"a":"BIGINT"}') AS s""")
      .collect().head.get(0) == null)
    // top-level list; element mismatch → NULL element
    assert(one("""SELECT json_transform('[1,"x",3]', '["BIGINT"]')""")
      .asInstanceOf[scala.collection.Seq[Any]] == Seq(1L, null, 3L))
    // strict raises on cast failure
    val e = intercept[Exception](session.sql(
      """SELECT json_transform_strict('{"a":"zz"}', '{"a":"BIGINT"}')""").collect())
    assert(e.getMessage != null)
    // from_json aliases; the Spark DDL spelling still binds
    assert(f("""SELECT from_json('{"a":7}', '{"a":"BIGINT"}') AS s""") == 7L)
    assert(f("""SELECT from_json('{"a":7}', 'a BIGINT') AS s""") == 7L)
  }

  test("struct_pack rewrites through the dialect to named_struct") {
    val sql = Dialect.rewrite("SELECT struct_pack(a := 1, b := 'x') AS s")
    assert(sql.contains("named_struct('a', 1, 'b', 'x')"))
    val row = session.sql(sql).collect().head.getStruct(0)
    assert(row.getInt(0) == 1 && row.getString(1) == "x")
    // := inside a string literal is untouched
    assert(Dialect.rewrite("SELECT 'a := b' FROM t") == "SELECT 'a := b' FROM t")
  }

  // ── post-1.0 name tail (round 15; spec-pinned — v1.0 lacks the names) ──

  test("histogram_exact + is_histogram_other_bin: exact bins, other bin") {
    import session.implicits._
    Seq("a", "b", "a", "z", "a", "q", null)
      .toDF("s").createOrReplaceTempView("hx_t")
    // requested bins always present (0 counts included); NULL ignored;
    // the two off-list values land in ONE other bin
    val m = duck("SELECT histogram_exact(s, ['a', 'b', 'c']) FROM hx_t")
      .asInstanceOf[Map[Any, Any]]
    assert(m.size == 4, m)
    assert(m("a") == 3L && m("b") == 1L && m("c") == 0L, m)
    val otherKeys = m.keys.filterNot(Set[Any]("a", "b", "c")).toSeq
    assert(otherKeys.length == 1 && m(otherKeys.head) == 2L, m)
    // is_histogram_other_bin recognizes exactly that key — through SQL,
    // over map_keys, so the pair contract holds end to end
    val flags = duck("SELECT list_transform(map_keys(" +
      "histogram_exact(s, ['a', 'b', 'c'])), k -> is_histogram_other_bin(k)) " +
      "FROM hx_t").asInstanceOf[scala.collection.Seq[Any]]
    assert(flags == Seq(false, false, false, true), flags)
    // no off-list values → NO other bin
    val m2 = duck("SELECT histogram_exact(s, ['a', 'b', 'z', 'q']) " +
      "FROM hx_t WHERE s IS NOT NULL").asInstanceOf[Map[Any, Any]]
    assert(m2.size == 4 && !m2.keys.exists(k =>
      k.toString.contains("￿")), m2)
    // integer bins: the sentinel is typed (Int.MaxValue key)
    Seq(1, 2, 2, 9).toDF("n").createOrReplaceTempView("hx_n")
    val m3 = duck("SELECT histogram_exact(n, [1, 2]) FROM hx_n")
      .asInstanceOf[Map[Any, Any]]
    assert(m3(1) == 1L && m3(2) == 2L && m3(Int.MaxValue) == 1L, m3)
    assert(one("SELECT is_histogram_other_bin(2147483647)") == true)
    assert(one("SELECT is_histogram_other_bin(1)") == false)
    assert(one("SELECT is_histogram_other_bin(CAST(NULL AS INT))") == false)
    // non-literal element lists are loud
    val e = intercept[Exception](session.sql(Dialect.rewrite(
      "SELECT histogram_exact(n, [n]) FROM hx_n")).collect())
    assert(e.getMessage.contains("literal"), e.getMessage)
  }

  test("equi_width_bins: exact and nice boundaries, integral vs double") {
    assert(duck("SELECT equi_width_bins(0, 10, 5, false)")
      .asInstanceOf[scala.collection.Seq[Any]] == Seq(2L, 4L, 6L, 8L, 10L))
    assert(duck("SELECT equi_width_bins(0.0, 10.0, 4, false)")
      .asInstanceOf[scala.collection.Seq[Any]] == Seq(2.5, 5.0, 7.5, 10.0))
    // 3-arg form defaults nice=false; non-even integral division rounds,
    // last boundary = max exactly
    assert(duck("SELECT equi_width_bins(0, 10, 3)")
      .asInstanceOf[scala.collection.Seq[Any]].last == 10L)
    // nice=true snaps to {1,2,2.5,5}·10^k multiples covering the range
    assert(duck("SELECT equi_width_bins(0, 97, 10, true)")
      .asInstanceOf[scala.collection.Seq[Any]] ==
      (1 to 10).map(_ * 10L))
    assert(intercept[Exception](session.sql(
      "SELECT equi_width_bins(10, 0, 3, false)").collect())
      .getMessage.contains("exceed"))
    // composes with histogram_exact? boundaries feed a manual bucket
    assert(duck("SELECT equi_width_bins(0, 100, 2, false)")
      .asInstanceOf[scala.collection.Seq[Any]] == Seq(50L, 100L))
  }

  test("histogram(x, boundaries): bucketing, equi_width_bins composition") {
    import session.implicits._
    Seq(1, 5, 5, 6, 50, 99, 150).toDF("n").createOrReplaceTempView("hb_t")
    // first bin unbounded below; (prev, b] buckets; > last → other bin
    val m = duck("SELECT histogram(n, [5, 10, 100]) FROM hb_t")
      .asInstanceOf[Map[Any, Any]]
    assert(m(5) == 3L && m(10) == 1L && m(100) == 2L &&
      m(Int.MaxValue) == 1L, m)
    // the documented pairing: boundaries from equi_width_bins, resolved
    // at build time inside the call
    val m2 = duck("SELECT histogram(n, equi_width_bins(0, 100, 2, false)) " +
      "FROM hb_t").asInstanceOf[Map[Any, Any]]
    assert(m2(50L) == 5L && m2(100L) == 1L && m2(Long.MaxValue) == 1L, m2)
    // the one-arg EXACT histogram keeps its r12 semantics (same name,
    // arity dispatch)
    val m1 = duck("SELECT histogram(n) FROM hb_t").asInstanceOf[Map[Any, Any]]
    assert(m1(5) == 2L && m1(150) == 1L && m1.size == 6, m1)
    // non-ascending boundaries are loud
    assert(intercept[Exception](session.sql(Dialect.rewrite(
      "SELECT histogram(n, [10, 5]) FROM hb_t")).collect())
      .getMessage.contains("ascending"))
  }

  test("parse_duration: pinned grammar, loud on malformed") {
    assert(one("SELECT parse_duration('1h 30m') = INTERVAL '1:30' HOUR TO MINUTE") == true)
    assert(one("SELECT parse_duration('90s') = INTERVAL '90' SECOND") == true)
    assert(one("SELECT parse_duration('1.5h') = INTERVAL '90' MINUTE") == true)
    assert(one("SELECT parse_duration('2d4h') = INTERVAL '2 04' DAY TO HOUR") == true)
    assert(one("SELECT parse_duration('250ms') = INTERVAL '0.25' SECOND") == true)
    assert(one("SELECT parse_duration(CAST(NULL AS STRING))") == null)
    val e = intercept[Exception](
      session.sql("SELECT parse_duration('3 bananas')").collect())
    assert(e.getMessage.contains("parse_duration") ||
      e.getCause != null, e.getMessage)
  }

  test("can_cast_implicitly: the pinned post-0.10 lattice, constant-folded") {
    val pairs = Seq(
      ("1", "CAST(1 AS BIGINT)", true),          // INT → BIGINT
      ("CAST(1 AS BIGINT)", "1", false),         // no narrowing
      ("1", "1.5e0", true),                      // INT → DOUBLE
      ("1.5e0", "1", false),
      ("1", "'a'", false),                       // no implicit to VARCHAR (0.10)
      ("'1'", "1", false),                       // nor from it
      ("CAST(1 AS FLOAT)", "1.5e0", true),       // FLOAT → DOUBLE
      ("1.5e0", "CAST(1 AS FLOAT)", false),
      ("1.5", "1.5e0", true),                    // DECIMAL(2,1) → DOUBLE
      ("1", "CAST(1 AS DECIMAL(12,2))", true),   // fits
      ("1", "CAST(1 AS DECIMAL(5,2))", false),   // 3 integral digits < 10
      ("DATE '2024-01-01'", "TIMESTAMP '2024-01-01 00:00:00'", true),
      ("TIMESTAMP '2024-01-01 00:00:00'", "DATE '2024-01-01'", false))
    for ((a, b, want) <- pairs)
      assert(one(s"SELECT can_cast_implicitly($a, $b)") == want, s"($a, $b)")
    // type-level constant: folds, never reads the row
    import session.implicits._
    Seq(1, 2).toDF("x").createOrReplaceTempView("cci_t")
    assert(session.sql("SELECT can_cast_implicitly(x, CAST(1 AS BIGINT)) " +
      "FROM cci_t").collect().map(_.getBoolean(0)).toSeq == Seq(true, true))
  }

  test("unpack(COLUMNS(...)) splats matched columns as arguments") {
    import session.implicits._
    Seq((1, 10, 100, 7), (2, 20, 5, 7))
      .toDF("k", "v_a", "v_b", "other").createOrReplaceTempView("up_t")
    val dir = java.nio.file.Files.createTempDirectory("graft_unpack_")
    val ex = new Executor(spark, dir.toString)
    ex.runStatement(Dialect.rewrite(
      "CREATE TABLE up_o AS SELECT k, greatest(unpack(COLUMNS('v_.*'))) " +
        "AS g FROM up_t"))
    assert(spark.table("up_o").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq.sortBy(_._1) ==
      Seq((1, 100), (2, 20)))
    // static analysis: the wrapper collapses with the call
    val an = SqlAnalyzer.analyzeStatement(spark, Dialect.rewrite(
      "CREATE TABLE o AS SELECT greatest(unpack(COLUMNS('x.*'))) FROM src"))
    assert(an.outputs == Set("o") && an.dependencies == Set("src"), an)
  }

  test("log() is LOG10; substring keeps Postgres window semantics (probed v1.0, r16)") {
    DuckFunctions.register(spark)
    def one(q: String) = spark.sql(Dialect.rewrite(s"SELECT $q AS v")).collect().head
    // DuckDB's log() = log10 (probed: log(100)=2) — Spark's bare log()
    // is ln, a silent value divergence before the r16 rebind
    assert(one("log(100)").getDouble(0) == 2.0)
    assert(one("log(2, 8)").getDouble(0) == 3.0)
    assert(math.abs(one("ln(100)").getDouble(0) - 4.60517) < 1e-4)
    assert(one("log2(8)").getDouble(0) == 3.0)
    // substring: positions before 1 don't exist in the 3-arg window
    // (probed: (0,3)='ab', (-10,3)=''; Spark's clamp would give 'abc')
    assert(one("substring('abcdef', 0, 3)").getString(0) == "ab")
    assert(one("substring('abcdef', -10, 3)").getString(0) == "")
    // negative starts count from the END (probed: (-1,5)='f')
    assert(one("substr('abcdef', -1, 5)").getString(0) == "f")
    assert(one("substr('abcdef', -3, 2)").getString(0) == "de")
    assert(one("substring('abcdef', 2, 3)").getString(0) == "bcd")
    assert(one("substring('abcdef', -2)").getString(0) == "ef")
    assert(one("substring('abcdef', 0)").getString(0) == "abcdef")
  }

  test("re-registering the surface logs no replaced-function warnings") {
    session // every name already bound: the next pass replaces each one
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-register-warnings", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    // the session's registry logs through its class's logger; the test
    // session runs at ERROR, so open WARN on that logger for the pass
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger("org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry")
    val level = logger.getLevel
    logger.addAppender(capture) // re-derives the logger's level: set it after
    logger.setLevel(Level.WARN)
    try DuckFunctions.register(spark)
    finally {
      logger.removeAppender(capture)
      logger.setLevel(level)
      capture.stop()
    }
    val replaced = warnings.size
    assert(replaced == 0, warnings.toArray.take(3).mkString("; "))
    assert(one("SELECT list_sum(array(1, 2, 3))").toString == "6.0") // still bound
  }
}
