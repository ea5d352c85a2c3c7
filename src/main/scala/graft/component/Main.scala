package graft.component

/** Component entrypoint: `graft.component.Main <dataDir> [action]` — the
  * Spark analogue of the reference's `component.py` run (KBC_DATADIR
  * layout: config.json, in/tables, in/files, out/tables, out/files).
  * Threads/memory resolve config-first, then cgroup detection, then
  * defaults (A23/A24: local[threads], shuffle partitions, partition-size
  * budget from the memory limit).
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.component.Main <dataDir> [action]")
    val dataDir = args(0)
    val configPath = java.nio.file.Paths.get(dataDir, "config.json")
    if (!java.nio.file.Files.exists(configPath)) {
      System.err.println(s"error: data directory has no config.json: $dataDir")
      sys.exit(1)
    }
    val config = Config.parse(java.nio.file.Files.readString(configPath))
    val threads = SystemResources.resolveThreads(config.threads)
    val memMb = SystemResources.resolveMemoryMb(config.maxMemoryMb)
    System.err.println(
      s"[component] resources: threads=$threads (config=${config.threads.getOrElse("auto")}), " +
        s"memory=${memMb}MB (config=${config.maxMemoryMb.getOrElse("auto")}), " +
        s"maxPartitionBytes=${graft.GraftSession.maxPartitionBytes(threads, memMb)}")
    val spark = graft.GraftSession.component(threads, memMb)
    try {
      val t0 = System.nanoTime()
      val result = Component.run(spark, dataDir)
      result.actionOutput match {
        case Some(out) => println(out)
        case None =>
          for (t <- result.stats.timings)
            println(f"Query '${t.name}' completed in ${t.seconds}%.2fs")
          println(f"Total component execution time: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    } finally spark.stop()
  }
}
