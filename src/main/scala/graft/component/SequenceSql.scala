package graft.component

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

/** DuckDB sequences — `CREATE SEQUENCE` / `nextval('s')` / `currval('s')`
  * / `DROP SEQUENCE` — over a per-run catalog counter. The reference hands
  * user SQL to DuckDB verbatim (`src/query_orchestrator.py:351`), where
  * sequences are built in; migrating scripts use them for surrogate keys.
  *
  * Spark has no sequence object, so the statements are executed HERE
  * (executor dispatch, like COPY) against a process-global registry, and
  * the value functions are Catalyst expressions drawing from it
  * ([[graft.functions.NextVal]]). Semantics pinned to DuckDB v1.0 probes:
  * first nextval returns START, then +INCREMENT; bounds default to
  * [1, Long.Max] for a positive increment and [Long.Min, -1] for a
  * negative one; passing a bound CYCLEs to MINVALUE (positive inc) /
  * MAXVALUE (negative) or errors without CYCLE; currval before any
  * nextval in the run is an error. (v1.0 itself fails to enforce
  * MAXVALUE when |increment| > 1 — probed 2,4,6,8 past MAXVALUE 5 — a
  * bug this engine does not replicate: the bound check here is exact.)
  *
  * SCALE NOTE. A sequence is an inherently serialized object: every row
  * funnels through one counter. This registry is a single-JVM atomic —
  * exact under local[*] (where the component runs, matching the
  * reference's embedded single-node engine). On a multi-executor cluster
  * a global dense counter cannot be both exact and parallel; the scale
  * path — per-partition BLOCK ALLOCATION, implemented below behind
  * `PRAGMA graft_sequence_blocks = n` — has each partition-thread
  * reserve up to n draws atomically and serve them locally: unique
  * across partitions, monotonic within one, gaps allowed (the trade
  * every distributed engine makes). Scripts needing dense global ids at
  * 100 TB should use row_number() OVER an explicit ordering instead;
  * the lint docs say so.
  *
  * Lifetime is per component run ([[clear]] runs next to Macros.clear):
  * the reference's sequences live in DuckDB's in-memory session the same
  * way. Warehouse passthrough does not persist counters (documented).
  */
object SequenceSql {

  final case class SeqDef(start: Long, increment: Long,
                          min: Long, max: Long, cycle: Boolean)

  private final class State(val defn: SeqDef) {
    // holds the NEXT value to hand out; bumped under CAS by next()
    val next = new AtomicLong(defn.start)
    @volatile var last: Option[Long] = None
    @volatile var exhausted = false
  }

  private val catalog = TrieMap[String, State]()

  /** Per-run reset, called by [[Component.run]]. Thread-local blocks
    * self-invalidate on the next draw (each block pins the State object
    * it reserved from — see [[next]]), so no cross-thread cleanup is
    * needed here. */
  def clear(): Unit = { catalog.clear(); blockSize = 1 }

  // ── per-partition block allocation (the documented scale path) ──────
  //
  // A sequence is an inherently serialized object: every row funnels
  // through one counter. blockSize == 1 (the default) is the exact dense
  // single-JVM mode — the component's actual execution model. Setting
  // `PRAGMA graft_sequence_blocks = n` (n > 1) switches nextval to block
  // reservation: each partition-thread atomically reserves up to n draws
  // from the global counter and hands them out locally — values stay
  // UNIQUE across partitions and monotonic within one, but a partially
  // used block leaves gaps (the trade every distributed engine makes),
  // and currval reflects the last RESERVED value, not the last handed
  // out. Each reserved draw goes through the exact single-draw
  // bound/CYCLE rules, so MAXVALUE/exhaustion semantics are unchanged —
  // a cluster deployment can never silently emit duplicate keys from
  // per-executor counters.

  @volatile private var blockSize: Int = 1

  def setBlockSize(n: Long): Unit = {
    if (n < 1) throw new UserException(
      s"graft_sequence_blocks must be >= 1 (got $n); 1 = exact dense mode")
    blockSize = math.min(n, Int.MaxValue.toLong).toInt
  }

  /** One thread's reserved-but-unserved draws for one sequence. Pins the
    * State it reserved from: after DROP + re-CREATE (or a run reset) the
    * stale block self-invalidates instead of leaking old values into the
    * new sequence. */
  private final class Block(val from: State) {
    val vals = new java.util.ArrayDeque[java.lang.Long]()
  }
  private val localBlocks =
    new ThreadLocal[scala.collection.mutable.Map[String, Block]] {
      override def initialValue() = scala.collection.mutable.Map.empty
    }

  /** Called by the value expressions' per-partition init: a task must
    * not inherit the previous task's half-used block on this pool
    * thread. Clearing only costs gaps, never uniqueness. */
  def resetLocalBlocks(): Unit = localBlocks.get().clear()

  /** EXPORT DATABASE leg: one CREATE SEQUENCE per live sequence with the
    * CURRENT counter as START (the DuckDB export shape), so a replayed
    * warehouse resumes surrogate-key generation where it left off. OR
    * REPLACE because this catalog is process-global while warehouses are
    * per-run: an import in the SAME process restores the exported state
    * over a live same-name sequence instead of colliding (DuckDB's
    * import always lands in a fresh database, so its plain CREATE never
    * sees this). An EXHAUSTED sequence exports its final value as START
    * and will hand it out once more after replay before erroring again —
    * recorded corner (the exhausted flag has no DDL spelling). */
  def exportDdl: Seq[String] = catalog.toSeq.sortBy(_._1).map { case (k, s) =>
    val d = s.defn
    val name =
      if (k.matches("[A-Za-z_][A-Za-z0-9_]*")) k else "\"" + k + "\""
    val cyc = if (d.cycle) " CYCLE" else ""
    s"CREATE OR REPLACE SEQUENCE $name START WITH ${s.next.get()} " +
      s"INCREMENT BY ${d.increment} MINVALUE ${d.min} MAXVALUE ${d.max}$cyc;"
  }

  def exists(name: String): Boolean = catalog.contains(key(name))

  private def key(name: String): String = name.toLowerCase

  def create(name: String, defn: SeqDef, orReplace: Boolean,
             ifNotExists: Boolean): Unit = {
    if (defn.start < defn.min || defn.start > defn.max)
      throw new UserException(
        s"CREATE SEQUENCE $name: START value (${defn.start}) must lie in " +
          s"[${defn.min}, ${defn.max}]")
    if (defn.increment == 0)
      throw new UserException(s"CREATE SEQUENCE $name: INCREMENT must not be 0")
    val k = key(name)
    if (catalog.contains(k) && !orReplace) {
      if (ifNotExists) return
      throw new UserException(s"CREATE SEQUENCE: sequence $name already exists " +
        "(use OR REPLACE or IF NOT EXISTS)")
    }
    catalog.put(k, new State(defn))
  }

  def drop(name: String, ifExists: Boolean): Unit =
    if (catalog.remove(key(name)).isEmpty && !ifExists)
      throw new UserException(s"DROP SEQUENCE: sequence $name does not exist")

  private def state(name: String): State =
    catalog.getOrElse(key(name),
      throw new UserException(s"Sequence with name $name does not exist"))

  /** Hand out the next value. Synchronized per sequence: a CAS loop
    * cannot atomically pair the bound check with the exhausted flag (two
    * threads at the last value would both hand it out), and the counter
    * is a surrogate-key generator, not a hot aggregation path. The bound
    * value itself IS returned; exhaustion fires on the call AFTER it
    * (probed: MAXVALUE 3 yields 1,2,3 then errors). */
  def next(name: String): Long = {
    val s = state(name)
    if (blockSize == 1) return s.synchronized(drawLocked(s, name))
    val blocks = localBlocks.get()
    val b = blocks.get(name) match {
      case Some(b0) if b0.from eq s => b0
      case _ => // first use, or a stale block from a dropped/replaced sequence
        val b0 = new Block(s); blocks.put(name, b0); b0
    }
    if (b.vals.isEmpty) s.synchronized {
      // reserve up to blockSize draws through the EXACT single-draw
      // rules; a bound hit mid-block serves the partial block and lets
      // exhaustion surface on the draw after (the probed v1.0 contract)
      var i = 0
      var stop = false
      while (i < blockSize && !stop) {
        try b.vals.add(drawLocked(s, name))
        catch { case e: UserException => if (b.vals.isEmpty) throw e; stop = true }
        i += 1
      }
    }
    b.vals.poll()
  }

  /** The exact single-draw: bound check, CYCLE wrap, exhaustion flag.
    * Caller holds `s`'s monitor. */
  private def drawLocked(s: State, name: String): Long = {
    val d = s.defn
    if (s.exhausted)
      throw new UserException(if (d.increment > 0)
        s"nextval: reached maximum value of sequence \"$name\" (${d.max})"
      else
        s"nextval: reached minimum value of sequence \"$name\" (${d.min})")
    val cur = s.next.get()
    val bumped = cur + d.increment
    // the < / > cur legs catch Long wraparound at the type's edge
    val overflow = (d.increment > 0 && (bumped > d.max || bumped < cur)) ||
      (d.increment < 0 && (bumped < d.min || bumped > cur))
    if (overflow && !d.cycle) s.exhausted = true
    else s.next.set(if (overflow) { if (d.increment > 0) d.min else d.max }
      else bumped)
    s.last = Some(cur)
    cur
  }

  def curr(name: String): Long =
    state(name).last.getOrElse(throw new UserException(
      s"currval: sequence $name is not yet defined in this session"))

  // CREATE [OR REPLACE] SEQUENCE [IF NOT EXISTS] name [options...]
  // quoted names may arrive double-quoted (raw) or backticked (after the
  // dialect's identifier pass)
  // TEMP/TEMPORARY parse and behave identically here: every sequence is
  // already per-run session state (DuckDB probe: CREATE TEMP SEQUENCE ts
  // START 5 → nextval 5)
  private val createRe =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?(?:TEMP\\s+|TEMPORARY\\s+)?SEQUENCE\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([A-Za-z_][A-Za-z0-9_]*|\"[^\"]+\"|`[^`]+`)\\s*(.*?);?\\s*$").r
  private val dropRe =
    "(?is)^\\s*DROP\\s+SEQUENCE\\s+(IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_]*|\"[^\"]+\"|`[^`]+`)\\s*;?\\s*$".r

  final case class CreateStmt(name: String, defn: SeqDef,
                              orReplace: Boolean, ifNotExists: Boolean)

  import MergeSql.unq

  def parseCreate(stmt: String): Option[CreateStmt] =
    createRe.findFirstMatchIn(stmt).map { m =>
      val opts = m.group(4)
      def longOpt(re: String): Option[Long] =
        re.r.findFirstMatchIn(opts).map(_.group(1).toLong)
      val inc = longOpt("(?is)\\bINCREMENT(?:\\s+BY)?\\s+(-?\\d+)").getOrElse(1L)
      val cycle = "(?is)(?<!NO\\s)\\bCYCLE\\b".r.findFirstIn(opts).isDefined
      val noMin = "(?is)\\bNO\\s+MINVALUE\\b".r.findFirstIn(opts).isDefined
      val noMax = "(?is)\\bNO\\s+MAXVALUE\\b".r.findFirstIn(opts).isDefined
      // probed defaults: [1, Max] for inc>0; [Min, -1] for inc<0
      val min = if (noMin) (if (inc > 0) 1L else Long.MinValue)
        else longOpt("(?is)\\bMINVALUE\\s+(-?\\d+)")
          .getOrElse(if (inc > 0) 1L else Long.MinValue)
      val max = if (noMax) (if (inc > 0) Long.MaxValue else -1L)
        else longOpt("(?is)\\bMAXVALUE\\s+(-?\\d+)")
          .getOrElse(if (inc > 0) Long.MaxValue else -1L)
      val start = longOpt("(?is)\\bSTART(?:\\s+WITH)?\\s+(-?\\d+)")
        .getOrElse(if (inc > 0) min else max)
      CreateStmt(unq(m.group(3)), SeqDef(start, inc, min, max, cycle),
        orReplace = m.group(1) != null, ifNotExists = m.group(2) != null)
    }

  final case class DropStmt(name: String, ifExists: Boolean)

  def parseDrop(stmt: String): Option[DropStmt] =
    dropRe.findFirstMatchIn(stmt).map(m =>
      DropStmt(unq(m.group(2)), ifExists = m.group(1) != null))

  /** Sequence names a statement's nextval/currval calls reference —
    * injected as dependencies by [[SqlAnalyzer]] so the DAG runs the
    * CREATE SEQUENCE first (the function argument is a string literal,
    * invisible to the relation walk). */
  def valueDeps(stmt: String): Set[String] =
    "(?is)\\b(?:nextval|currval)\\s*\\(\\s*'([^']+)'\\s*\\)".r
      .findAllMatchIn(stmt).map(m => Names.view(m.group(1)).toLowerCase).toSet
}
