package graft.tools

/** Spark leg of the function-semantics differential sweep (r17,
  * VERDICT r16 #5; driven by tools/function_sweep.py).
  *
  *  - `--names`: print the engine's registered function names as one
  *    JSON array line (DuckFunctions registry + the extension-injected
  *    duck_* operators).
  *  - `<exprsFile> <outJson>`: evaluate each line as
  *    `SELECT (<expr>) AS v` through the REAL statement path
  *    (Dialect.rewrite → spark.sql) and dump
  *    `{expr: {"value": <json>} | {"error": msg}}`.
  *
  * Value serialization is comparison-oriented (the python side
  * normalizes identically for the DuckDB leg): floats widen to double
  * before printing (float32 noise must match DuckDB's, not hide it),
  * timestamps strip trailing fractional zeros, decimals keep scale
  * (a scale mismatch IS a semantics diff). */
object FunctionSweep {

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def trimTs(s: String): String =
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse
      .stripSuffix(".")
    else s

  private def encode(v: Any): String = v match {
    case null => "null"
    case f: Float => encode(f.toDouble)
    case d: Double =>
      if (d.isNaN) jsonStr("NaN")
      else if (d.isInfinity) jsonStr(if (d > 0) "Infinity" else "-Infinity")
      else d.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case bd: java.math.BigDecimal => jsonStr(bd.toPlainString)
    case bd: BigDecimal => jsonStr(bd.underlying.toPlainString)
    case t: java.sql.Timestamp => jsonStr(trimTs(t.toString))
    case t: java.time.LocalDateTime =>
      jsonStr(trimTs(t.toString.replace('T', ' ')))
    case d: java.sql.Date => jsonStr(d.toString)
    case d: java.time.LocalDate => jsonStr(d.toString)
    case b: Array[Byte] => jsonStr(b.map("%02x".format(_)).mkString)
    case s: scala.collection.Seq[_] => s.map(encode).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(encode).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (String.valueOf(k), x) }.sortBy(_._1)
        .map { case (k, x) => jsonStr(k) + ":" + encode(x) }
        .mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      r.schema.fieldNames.zip(r.toSeq).sortBy(_._1)
        .map { case (k, x) => jsonStr(k) + ":" + encode(x) }
        .mkString("{", ",", "}")
    case other => jsonStr(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val namesOnly = args.headOption.contains("--names")
    if (namesOnly) {
      // names the engine binds itself, PLUS the DuckDB spellings that
      // resolve through Spark's NATIVE registry without a graft binding
      // (shared names can diverge silently — levenshtein measured code
      // points until the r17 sweep caught it; sweep them all)
      val sharedNatives = Seq(
        "abs", "sign", "sqrt", "cbrt", "exp", "ln", "log2", "log10",
        "log", "power", "pow", "round", "floor", "ceil", "ceiling",
        "sin", "cos", "tan", "asin", "acos", "atan", "atan2", "cot",
        "degrees", "radians", "pi", "gamma", "lgamma", "factorial",
        "greatest", "least", "trunc", "mod",
        "upper", "lower", "trim", "ltrim", "rtrim", "replace", "repeat",
        "reverse", "concat", "concat_ws", "substr", "substring",
        "position", "instr", "lpad", "rpad", "left", "right", "ascii",
        "chr", "format", "printf", "md5", "translate", "bit_length",
        "length", "contains", "split_part", "string_agg",
        "regexp_replace", "regexp_extract", "like_escape",
        "year", "month", "day", "hour", "minute", "second", "weekofyear",
        "dayofweek", "dayofmonth", "dayofyear", "quarter", "last_day",
        "date_trunc", "date_part", "date_add", "date_sub", "make_date",
        "make_timestamp", "to_timestamp", "age",
        "coalesce", "nullif", "ifnull", "nvl", "typeof",
        "array_contains", "flatten", "range", "json_valid")
      val all = graft.component.DuckFunctions.names ++
        Seq("duck_icast", "duck_div", "duck_mod", "divide") ++ sharedNatives
      println(all.distinct.sorted.map(jsonStr).mkString("[", ",", "]"))
      return
    }
    require(args.length == 2, "usage: FunctionSweep --names | <exprs> <out>")
    val spark = graft.GraftSession.component(4, graft.component.SystemResources.DefaultMemoryMb)
    spark.sparkContext.setLogLevel("ERROR")
    graft.component.DuckFunctions.register(spark)
    val exprs = scala.io.Source.fromFile(args(0)).getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    val out = new StringBuilder("{")
    var first = true
    exprs.foreach { e =>
      val entry = try {
        val row = spark.sql(
          graft.component.Dialect.rewrite(s"SELECT ($e) AS v"))
          .collect().head
        s"""{"value":${encode(row.get(0))}}"""
      } catch {
        case t: Throwable =>
          val msg = Option(t.getMessage).getOrElse(t.getClass.getName)
          s"""{"error":${jsonStr(msg.take(300))}}"""
      }
      if (!first) out.append(",")
      first = false
      out.append(jsonStr(e)).append(":").append(entry)
    }
    out.append("}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)),
      out.toString)
    println(s"swept ${exprs.length} expressions -> ${args(1)}")
    spark.stop()
  }
}
