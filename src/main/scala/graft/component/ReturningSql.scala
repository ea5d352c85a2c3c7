package graft.component

/** DuckDB's `RETURNING` clause on INSERT / UPDATE / DELETE (and the
  * upsert forms) — the standard surrogate-key fetch idiom, which the
  * reference passes verbatim to DuckDB (`src/query_orchestrator.py:351`).
  * Round-13 shipped sequences and upserts, making this the most likely
  * opaque parse failure a migrating script hits; it is now mapped.
  *
  * Parsing only: [[Executor.runStatement]] executes the DML core, pins
  * the affected-row delta BEFORE the atomic file swap (the old files are
  * deleted by the swap, so a lazy delta would read deleted paths), and
  * evaluates the RETURNING projection over it as the statement's result.
  *
  * Probed DuckDB v1.0 semantics (pinned in StatementSurfaceSpec):
  *  - INSERT ... RETURNING returns the inserted rows (one output row per
  *    source row) with the target's columns in scope; expressions and
  *    aliases are allowed (`RETURNING k*10 AS kk`);
  *  - UPDATE ... RETURNING returns the matched rows with their NEW
  *    (post-SET) values; DELETE ... RETURNING returns the deleted rows'
  *    old values; a no-match DML returns zero rows;
  *  - the upsert forms return every PROPOSED row verbatim — including a
  *    conflict row DO NOTHING dropped, and the PRE-merge image of a
  *    DO UPDATE row (probed: `... (2,'B',0) ON CONFLICT DO UPDATE SET v =
  *    excluded.v RETURNING *` yields (2,'B',0) though the stored row
  *    keeps its old w). Version-sensitive by nature, so spec-pinned and
  *    never a hashed oracle row. v1.0 itself CRASHES on a multi-row
  *    upsert mixing conflict and fresh rows under RETURNING ("Duplicate
  *    key ... violates primary key constraint"); an engine bug this
  *    engine does not replicate (the sequence-MAXVALUE precedent).
  */
object ReturningSql {

  private val dmlHead = "(?is)^\\s*(?:INSERT|UPDATE|DELETE|MERGE)\\b".r
  private val returningWord = "(?i)\\bRETURNING\\b".r

  /** Split a depth-0 trailing RETURNING clause off a DML statement:
    * (core statement, projection text). Non-DML statements, and an
    * `AS returning` column alias (legal in DuckDB — only the BARE alias
    * spelling is reserved, probed), pass through whole. */
  def split(stmt: String): (String, Option[String]) = {
    if (dmlHead.findFirstIn(stmt).isEmpty) return (stmt, None)
    val masked = Dialect.maskQuoted(stmt)
    val dep = Dialect.depths(masked)
    val hit = returningWord.findAllMatchIn(masked)
      .filter(m => dep(m.start) == 0 && !precededByAs(masked, m.start))
      .toSeq.lastOption
    hit match {
      case Some(m) =>
        val proj = stmt.substring(m.end).trim.stripSuffix(";").trim
        if (proj.isEmpty) (stmt, None)
        else (stmt.substring(0, m.start).trim, Some(proj))
      case None => (stmt, None)
    }
  }

  /** True when the word at `at` is directly preceded by a bare `AS`
    * keyword — then RETURNING is a (legal) column alias, not the clause. */
  private def precededByAs(masked: String, at: Int): Boolean = {
    var i = at - 1
    while (i >= 0 && masked.charAt(i).isWhitespace) i -= 1
    i >= 1 && (masked.charAt(i) == 's' || masked.charAt(i) == 'S') &&
      (masked.charAt(i - 1) == 'a' || masked.charAt(i - 1) == 'A') &&
      (i < 2 || !(masked.charAt(i - 2).isLetterOrDigit ||
        masked.charAt(i - 2) == '_'))
  }

  /** Depth-0 comma split of the projection list (selectExpr takes one
    * string per output column). */
  def projExprs(proj: String): Seq[String] =
    Dialect.splitTop(proj).filter(_.nonEmpty)
}
