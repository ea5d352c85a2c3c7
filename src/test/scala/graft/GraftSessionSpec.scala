package graft

import graft.component.SystemResources

/** Pins both session kinds key for key, extensions and excluded optimizer
  * rules included. The component map is the configuration `component.Main`
  * has always run (and the one `perfbench/tracer`'s Traced driver copies
  * by hand); the query-pack map is graft.Bench's. Reads the maps and the
  * shared test session only — never builds a second session. */
class GraftSessionSpec extends SparkSpec {

  private val ext = "spark.sql.extensions" -> "graft.functions.GraftExtensions"
  private val excluded = "spark.sql.optimizer.excludedRules" ->
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  test("component session: component.Main's settings") {
    assert(GraftSession.componentConf(8, 3000) == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.files.maxPartitionBytes" -> (3000L * 1048576 / 64).toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      excluded, ext,
      "spark.ui.enabled" -> "false"))
    // the split budget clamps to [16 MB, 128 MB]
    assert(GraftSession.maxPartitionBytes(4, 4096) == (128L << 20))
    assert(GraftSession.maxPartitionBytes(32, 1024) == (16L << 20))
  }

  test("query-pack session: graft.Bench's settings, shuffle I/O folded in") {
    val env = Map("GRAFT_LOCAL_DIR" -> "/tmp/graft-local", "GRAFT_BYPASS_THRESHOLD" -> "16")
    assert(GraftSession.queryPackConf(32, env.get) == Map(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.locality.wait" -> "0s",
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false",
      "spark.shuffle.sort.bypassMergeThreshold" -> "16",
      "spark.local.dir" -> "/tmp/graft-local",
      excluded, ext,
      "spark.ui.enabled" -> "false"))
    val unset = GraftSession.queryPackConf(4, _ => None)
    assert(unset("spark.shuffle.sort.bypassMergeThreshold") == "8")
    val shm = new java.io.File("/dev/shm")
    assert(unset.get("spark.local.dir") ==
      Some("/dev/shm/spark-graft-local").filter(_ => shm.isDirectory && shm.canWrite))
  }

  test("the shared test session runs the component settings") {
    val live = spark.sparkContext.getConf.getAll.toMap
    GraftSession.componentConf(4, SystemResources.DefaultMemoryMb).foreach {
      case (k, v) => assert(live.get(k).contains(v), k)
    }
  }
}
