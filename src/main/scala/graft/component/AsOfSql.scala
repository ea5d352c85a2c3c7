package graft.component

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DuckDB `ASOF JOIN` statement support — the last of DuckDB's
  * signature SQL extensions (next to QUALIFY, DISTINCT ON, PIVOT,
  * UNPIVOT, all translated elsewhere in this package). The reference
  * hands user SQL to DuckDB verbatim, and time-series users write ASOF
  * literally; Spark's parser has no ASOF token, but the engine core —
  * [[graft.ops.AsOfJoin]]'s single-exchange carry-forward — already
  * exists, so this is a front-end mapping, not a new operator.
  *
  * Supported shapes (the documented canonical forms):
  * {{{
  *   SELECT <selList>
  *   FROM <left> [alias] ASOF [LEFT] JOIN <right> [alias]
  *   ON a.k = b.k [AND ...] AND a.ts >= b.ts
  *
  *   ... ASOF [LEFT] JOIN <right> [alias] USING (k, ..., ts)
  * }}}
  * The USING spelling takes same-named columns with the LAST one as the
  * `>=` bound (DuckDB's rule); `SELECT *` shows each using column once,
  * carrying the left side's values, exactly DuckDB's output.
  * Sources are table names or parenthesized subqueries. The ON clause
  * is a conjunction of equalities plus EXACTLY ONE `>=`/`<=` timestamp
  * bound (DuckDB's rule); `l.ts >= r.ts` matches the LATEST right row
  * at or before the left timestamp. Plain ASOF JOIN drops unmatched
  * left rows; ASOF LEFT JOIN keeps them with NULL payload. Trailing
  * `WHERE` / `ORDER BY` / `LIMIT` are applied after the join;
  * GROUP BY / HAVING / QUALIFY after an ASOF join make the body
  * [[Body.Unsupported]], a clear message instead of an opaque Spark
  * parse error on the ASOF token. */
object AsOfSql {

  final case class Parsed(
      selList: String, leftSrc: String, leftAlias: String,
      rightSrc: String, rightAlias: String,
      keys: Seq[(String, String)], // (left col, right col)
      leftTs: String, rightTs: String, leftOuter: Boolean,
      where: Option[String] = None, orderBy: Option[String] = None,
      limit: Option[Int] = None,
      // USING (k.., ts) spelling: same-named keys, LAST column is the
      // >= bound; SELECT * shows the using columns once (left's values)
      usingForm: Boolean = false)

  /** (source, alias) out of a FROM-item: trailing bare identifier (not
    * preceded by a dot) is the alias; `AS` is tolerated. */
  private def srcAlias(seg0: String): (String, String) = {
    val seg = seg0.trim
    val m = "(?is)^(.*?)(?:\\s+AS)?\\s+([A-Za-z_][A-Za-z0-9_]*)$".r
      .findFirstMatchIn(seg)
    m match {
      case Some(g) if !g.group(1).trim.isEmpty &&
          (g.group(1).trim.endsWith(")") || !g.group(1).trim.contains(" ")) =>
        (g.group(1).trim, g.group(2))
      case _ => (seg, "")
    }
  }

  /** Strip `alias.` or leave bare; reject other qualifiers. */
  private def unq(term0: String, la: String, ra: String): (String, String) = {
    val term = term0.trim.stripPrefix("\"").stripSuffix("\"")
      .stripPrefix("`").stripSuffix("`")
    val parts = term.split("\\.", 2)
    if (parts.length == 2) (parts(0), parts(1).stripPrefix("\"").stripSuffix("\""))
    else ("", term)
  }

  /** Parse a normalized body ([[Body.parse]]) and its mask as a
    * supported ASOF JOIN query. */
  private[component] def parse(stmt: String, masked: String): Option[Parsed] = {
    val selM = "(?is)^\\s*SELECT\\b".r.findFirstMatchIn(masked).getOrElse(return None)
    if ("(?i)\\bASOF\\b".r.findFirstIn(masked).isEmpty) return None
    val dep = Dialect.depths(masked)
    def kwAt(re: String): Option[scala.util.matching.Regex.Match] =
      ("(?is)" + re).r.findAllMatchIn(masked).find(m => dep(m.start) == 0)
    val asofM = kwAt("\\bASOF\\s+(LEFT\\s+)?JOIN\\b").getOrElse(return None)
    val fromM = kwAt("\\bFROM\\b").getOrElse(return None)
    val onMOpt = ("(?is)\\bON\\b").r.findAllMatchIn(masked)
      .find(m => dep(m.start) == 0 && m.start > asofM.end)
    // DuckDB's second spelling: USING (k.., ts) — same-named columns,
    // the LAST one is the inequality (>= , latest-at-or-before)
    val usingMOpt =
      if (onMOpt.isDefined) None
      else "(?is)\\bUSING\\s*\\(".r.findAllMatchIn(masked)
        .find(m => dep(m.start) == 0 && m.start > asofM.end)
    if (onMOpt.isEmpty && usingMOpt.isEmpty) return None
    val usingClose = usingMOpt.map { m =>
      val found = Dialect.matchingParen(masked, m.end - 1)
      if (found < 0) return None
      found
    }
    val condEnd = onMOpt.map(_.end).getOrElse(usingClose.get + 1)
    // trailing clauses: WHERE / ORDER BY / LIMIT are carried and applied
    // after the join; GROUP BY / HAVING / QUALIFY are NOT supported (the
    // body model calls the body Unsupported, with a clear message)
    val tailKws = ("(?is)\\b(WHERE|GROUP\\s+BY|ORDER\\s+BY|LIMIT|HAVING|QUALIFY)\\b").r
      .findAllMatchIn(masked)
      .filter(m => dep(m.start) == 0 && m.start > condEnd).toList
    if (tailKws.exists { m =>
      val k = m.group(1).toUpperCase.replaceAll("\\s+", " ")
      k == "GROUP BY" || k == "HAVING" || k == "QUALIFY"
    }) return None
    val tailStart = tailKws.headOption.map(_.start).getOrElse(stmt.length)
    val tailSegs: Map[String, String] = tailKws.zipWithIndex.map { case (m, i) =>
      val end = if (i + 1 < tailKws.length) tailKws(i + 1).start else stmt.length
      val k = m.group(1).toUpperCase.replaceAll("\\s+", " ")
      k -> stmt.substring(m.end, end).trim.stripSuffix(";").trim
    }.toMap
    val limitOpt = tailSegs.get("LIMIT").map { s =>
      scala.util.Try(s.trim.toInt).getOrElse(return None)
    }
    val selList = stmt.substring(selM.end, fromM.start).trim
    val rightEnd = onMOpt.map(_.start).getOrElse(usingMOpt.get.start)
    val (leftSrc, leftAlias0) = srcAlias(stmt.substring(fromM.end, asofM.start))
    val (rightSrc, rightAlias0) = srcAlias(stmt.substring(asofM.end, rightEnd))
    // no alias + bare table name: the table name itself qualifies
    // columns (`trades.sym`), standard SQL — adopt it as the alias
    def implicitAlias(src: String, alias: String): String =
      if (alias.nonEmpty) alias
      else if ("^[A-Za-z_][A-Za-z0-9_]*$".r.findFirstIn(src).isDefined) src
      else ""
    val leftAlias = implicitAlias(leftSrc, leftAlias0)
    val rightAlias = implicitAlias(rightSrc, rightAlias0)
    val leftOuter = asofM.group(1) != null
    usingMOpt match {
      case Some(usingM) =>
        val cols = stmt.substring(usingM.end, usingClose.get)
          .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")
            .stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty).toSeq
        if (cols.length < 2) return None // at least one key + the bound
        return Some(Parsed(selList, leftSrc, leftAlias, rightSrc, rightAlias,
          cols.init.map(c => (c, c)), cols.last, cols.last, leftOuter,
          tailSegs.get("WHERE"), tailSegs.get("ORDER BY"), limitOpt,
          usingForm = true))
      case None => ()
    }
    val onM = onMOpt.get
    // conjunct split at depth 0
    val condStr = stmt.substring(onM.end, tailStart)
    val condMasked = masked.substring(onM.end, tailStart)
    val condDep = Dialect.depths(condMasked)
    val cuts = "(?i)\\bAND\\b".r.findAllMatchIn(condMasked)
      .filter(m => condDep(m.start) == 0).map(_.start).toList
    val pieces = (List(0) ++ cuts.flatMap(c => List(c, c + 3)) ++
      List(condStr.length)).grouped(2).map {
      case List(a, b) => condStr.substring(a, b)
      case _ => ""
    }.map(_.replaceAll("(?i)^AND\\b", "").trim).filter(_.nonEmpty).toList
    var keys = Vector.empty[(String, String)]
    var ts: Option[(String, String)] = None
    for (p <- pieces) {
      val geM = "(?s)^(.*?)(>=|<=)(.*)$".r.findFirstMatchIn(p)
      val eqM = "(?s)^([^=<>!]+)=([^=<>!]+)$".r.findFirstMatchIn(p)
      (geM, eqM) match {
        case (Some(g), _) =>
          if (ts.nonEmpty) return None // exactly one bound
          val (q1, c1) = unq(g.group(1), leftAlias, rightAlias)
          val (q2, c2) = unq(g.group(3), leftAlias, rightAlias)
          val geq = g.group(2) == ">="
          // normalize to left.ts >= right.ts
          val (lq, lc, rq, rc) = if (geq) (q1, c1, q2, c2) else (q2, c2, q1, c1)
          if (lq.nonEmpty && lq != leftAlias) return None
          if (rq.nonEmpty && rq != rightAlias) return None
          ts = Some((lc, rc))
        case (None, Some(e)) =>
          val (q1, c1) = unq(e.group(1), leftAlias, rightAlias)
          val (q2, c2) = unq(e.group(2), leftAlias, rightAlias)
          // orient (left, right) by alias; bare names assumed same-side order
          val oriented =
            if (q1 == rightAlias && (q2 == leftAlias || q2.isEmpty)) (c2, c1)
            else (c1, c2)
          keys :+= oriented
        case _ => return None
      }
    }
    val (lts, rts) = ts.getOrElse(return None)
    Some(Parsed(selList, leftSrc, leftAlias, rightSrc, rightAlias,
      keys, lts, rts, leftOuter,
      tailSegs.get("WHERE"), tailSegs.get("ORDER BY"), limitOpt))
  }

  /** Execute an ASOF JOIN body on the live session; None if the body is
    * not (a supported form of) one. */
  def asofDf(spark: SparkSession, body: String): Option[DataFrame] =
    Body.parse(body) match {
      case Body.AsOf(p) => Some(df(spark, p))
      case _ => None
    }

  /** Run a parsed ASOF JOIN. */
  def df(spark: SparkSession, p0: Parsed): DataFrame = {
    val l = spark.sql(s"SELECT * FROM ${p0.leftSrc} __asof_l")
    val r0 = spark.sql(s"SELECT * FROM ${p0.rightSrc} __asof_r")
    // USING names resolve case-insensitively but the engine's schema
    // surgery is exact-case — normalize to the ACTUAL column spellings
    // before anything downstream compares names
    val p = if (!p0.usingForm) p0 else {
      def actual(cols: Array[String], n: String): String =
        cols.find(_.equalsIgnoreCase(n)).getOrElse(n)
      p0.copy(
        keys = p0.keys.map { case (lk, rk) =>
          (actual(l.columns, lk), actual(r0.columns, rk)) },
        leftTs = actual(l.columns, p0.leftTs),
        rightTs = actual(r0.columns, p0.rightTs))
    }
    // same-name key contract of the engine op: rename right keys
    val r1 = p.keys.foldLeft(r0) { case (df, (lk, rk)) =>
      if (lk == rk) df else df.withColumnRenamed(rk, lk)
    }
    // the match marker distinguishes "matched with NULL payload" from
    // "no match" — inner ASOF filters on it
    val r = r1.withColumn("__asof_hit", lit(1))
    val leftNames = l.columns.map(_.toLowerCase).toSet
    val keyL = p.keys.map(_._1)
    // carry every right column except the (renamed) keys; collide-safe
    val carried: Map[String, String] = (r.columns.toSeq
      .filterNot(c => keyL.exists(_.equalsIgnoreCase(c))))
      .map { c =>
        val dst =
          if (leftNames(c.toLowerCase)) s"${if (p.rightAlias.nonEmpty) p.rightAlias else "r"}_$c"
          else c
        c -> dst
      }.toMap
    val joined = graft.ops.AsOfJoin.asof(l, r, keyL, p.leftTs,
      p.rightTs, carried)
    val matchedCol = carried("__asof_hit")
    val base = if (p.leftOuter) joined else joined.filter(col(matchedCol) === 1)
    val cleaned = base.drop(matchedCol)
    // project the original select list with alias qualifiers mapped:
    // right refs resolve through the carry renames (keys resolve to
    // the LEFT name they were renamed to), left refs just lose the
    // qualifier
    // lower-cased keys: Spark resolution is case-insensitive, so a
    // case-mismatched user ref (q.PRICE for column price) must still
    // find the carry rename — a raw-case miss would silently resolve
    // to the LEFT column after a collision rename
    val rightRef: Map[String, String] =
      (carried ++ p.keys.map { case (lk, rk) => rk -> lk }.toMap)
        .map { case (k, v) => k.toLowerCase -> v }
    // alias-qualifier rewrite, applied OUTSIDE quoted regions only
    // (a literal like 'see q.bid' must come through untouched)
    def rewriteRefs(s0: String): String = {
      var s = s0
      if (p.rightAlias.nonEmpty)
        s = Dialect.replaceUnquoted(s,
          ("(?i)\\b" + java.util.regex.Pattern.quote(p.rightAlias) + "\\.(\\w+)").r)(
          m => "`" + rightRef.getOrElse(m.group(1).toLowerCase, m.group(1)) + "`")
      if (p.leftAlias.nonEmpty)
        s = Dialect.replaceUnquoted(s,
          ("(?i)\\b" + java.util.regex.Pattern.quote(p.leftAlias) + "\\.(\\w+)").r)(
          m => "`" + m.group(1) + "`")
      s
    }
    val afterWhere = p.where match {
      case Some(w) => cleaned.where(expr(rewriteRefs(w)))
      case None    => cleaned
    }
    val projected =
      if (p.selList.trim == "*") {
        // USING semantics: each using column appears ONCE (the left's
        // values) — the carried right-side bound column leaves the
        // star projection; an explicit `q.ts` reference still works
        // (the non-star branch projects from the full frame). The
        // lookup is case-insensitive like every other resolution path
        // here (USING (sym, TS) against a physical `ts` must not
        // crash on an exact-case map miss)
        if (p.usingForm)
          carried.collectFirst {
            case (k, v) if k.equalsIgnoreCase(p.rightTs) => v
          }.map(afterWhere.drop(_: String)).getOrElse(afterWhere)
        else afterWhere
      } else {
        // selectExpr over the rewritten list: no temp-view registration
        // per call (a long-lived session must not accumulate catalog
        // entries for every statement it ever executed)
        afterWhere.selectExpr(
          Dialect.splitTop(rewriteRefs(p.selList)).filter(_.nonEmpty): _*)
      }
    val afterSort = p.orderBy
      .map(ob => projected.orderBy(UnionByNameSql.sortColumns(rewriteRefs(ob)): _*))
      .getOrElse(projected)
    p.limit.map(afterSort.limit).getOrElse(afterSort)
  }
}
