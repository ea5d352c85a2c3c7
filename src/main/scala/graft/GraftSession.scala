package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one place a graft SparkSession is built. Two kinds, each the exact
  * configuration of the entry points that run it:
  *
  *  - [[component]]: the transformation component (`component.Main`, the
  *    test suite's `TestSpark`, `tools.FunctionSweep`), sized from the
  *    resolved container resources.
  *  - [[queryPack]]: the query-pack harness (Bench, Verify, tools.Profile,
  *    tools.ScaleCheck, tools.ScaleUp, tools.Explain), which adds
  *    single-host shuffle and codegen tuning for a resident engine.
  *
  * Both share [[base]]: the graft extensions and
  * [[GraftExtensions.ExcludedOptimizerRules]] ride every session. Settings
  * are plain maps so `GraftSessionSpec` pins them without a session.
  */
object GraftSession {

  def component(threads: Int, memMb: Long): SparkSession =
    build(componentConf(threads, memMb))

  def queryPack(cpus: Int): SparkSession = build(queryPackConf(cpus))

  private[graft] def componentConf(threads: Int, memMb: Long): Map[String, String] =
    base(threads) +
      ("spark.sql.files.maxPartitionBytes" -> maxPartitionBytes(threads, memMb).toString)

  /** `threads` tasks scan concurrently; size input splits so their working
    * set (~8× on-disk bytes after decompression + exec structures) fits the
    * memory budget, clamped to Spark's sane [16 MB, 128 MB] band. */
  private[graft] def maxPartitionBytes(threads: Int, memMb: Long): Long =
    math.min(128L << 20, math.max(16L << 20, memMb * 1048576L / (threads * 8L)))

  /** Query-pack tuning on top of [[base]]:
    *
    *  - `codegen.cache.maxEntries`: the headline queries' codegen stages
    *    overflow the default 100-entry generated-class cache, so every
    *    "warm" run would recompile evicted stages with Janino.
    *  - no locality wait (every task is process-local) and no shuffle block
    *    compression (blocks live on local tmpfs/page cache; lz4 costs CPU
    *    per block with nothing to save on a loopback "network"). On a real
    *    cluster leave compression on.
    *  - `bypassMergeThreshold=8` (`GRAFT_BYPASS_THRESHOLD`): the bypass
    *    writer opens one file per reduce partition per map task, quadratic
    *    in core count (r19 jstack of d03: `FileOutputStream.open0` was the
    *    top task-time sink at width 32); wider shuffles take the sort-based
    *    writer, one data file + index per map task.
    *  - `spark.local.dir` on `/dev/shm` when present and writable
    *    (`GRAFT_LOCAL_DIR` overrides): shuffle blocks of a resident local
    *    engine belong in tmpfs. tmpfs shares RAM, so a run expected to
    *    shuffle beyond its headroom should point GRAFT_LOCAL_DIR at disk.
    */
  private[graft] def queryPackConf(
      cpus: Int, env: String => Option[String] = sys.env.get): Map[String, String] = {
    val shm = new java.io.File("/dev/shm")
    val localDir = env("GRAFT_LOCAL_DIR").orElse(
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm/spark-graft-local") else None)
    base(cpus) ++ Map(
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.locality.wait" -> "0s",
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false",
      "spark.shuffle.sort.bypassMergeThreshold" ->
        env("GRAFT_BYPASS_THRESHOLD").getOrElse("8")) ++
      localDir.map("spark.local.dir" -> _)
  }

  private def base(threads: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$threads]",
    "spark.sql.shuffle.partitions" -> threads.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // post-shuffle partition count follows data volume (advisory size),
    // not defaultParallelism — small intermediate results don't pay a
    // full-width task launch per stage
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.optimizer.excludedRules" -> GraftExtensions.ExcludedOptimizerRules,
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    "spark.ui.enabled" -> "false")

  private def build(conf: Map[String, String]): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
