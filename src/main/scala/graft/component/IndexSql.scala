package graft.component

/** `CREATE [UNIQUE] INDEX` / `DROP INDEX` — DuckDB index maintenance
  * (reference behavior: verbatim SQL, `src/query_orchestrator.py:351`).
  *
  * A scan-based distributed engine has no secondary index object: a
  * NON-unique index is purely a lookup accelerator, so creating one is
  * semantically INERT here (the engine's analogues are the warehouse's
  * partitioned layouts and the persisted graft indexes — DedupIndex /
  * AnnIndex). A UNIQUE index carries semantics, though: it is a legal
  * conflict target for the upsert surface — so the executor RECORDS its
  * key columns next to the bare-DDL PRIMARY KEY (uniqueness enforcement
  * on plain INSERT stays unenforced, the same documented boundary as the
  * stripped PRIMARY KEY constraint). */
object IndexSql {

  final case class Create(name: String, unique: Boolean, table: String,
                          cols: Seq[String], ifNotExists: Boolean)

  private val createRe =
    ("(?is)^\\s*CREATE\\s+(UNIQUE\\s+)?INDEX\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([A-Za-z_]\\w*|\"[^\"]+\"|`[^`]+`)\\s+ON\\s+" +
      "(`[^`]+`|\"[^\"]+\"|[A-Za-z_][\\w.]*)\\s*\\(([^)]*)\\)\\s*;?\\s*$").r
  private val dropRe =
    "(?is)^\\s*DROP\\s+INDEX\\s+(IF\\s+EXISTS\\s+)?([A-Za-z_]\\w*|\"[^\"]+\"|`[^`]+`)\\s*;?\\s*$".r

  import MergeSql.unq

  def parseCreate(stmt: String): Option[Create] =
    createRe.findFirstMatchIn(stmt).map { m =>
      Create(unq(m.group(3)), unique = m.group(1) != null, unq(m.group(4)),
        m.group(5).split(",").map(unq).toSeq, ifNotExists = m.group(2) != null)
    }

  final case class Drop(name: String, ifExists: Boolean)

  def parseDrop(stmt: String): Option[Drop] =
    dropRe.findFirstMatchIn(stmt).map(m =>
      Drop(unq(m.group(2)), ifExists = m.group(1) != null))
}
