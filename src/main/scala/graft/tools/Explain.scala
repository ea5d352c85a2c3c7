package graft.tools

/** Print the executed physical plan of named queries (comma list in
  * GRAFT_ONLY) against SPARK_GRAFT_SF_DIR — the plan-audit companion to
  * [[Profile]]: run the query once (so AQE finalizes), then dump the
  * adaptive plan for exchange/codegen inspection. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = sys.env.getOrElse("GRAFT_ONLY", "").split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.GraftSession.queryPack(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      for (n <- names) {
        // benched variant when one exists (the plan the bench prices)
        val df = graft.SparkEntry.benchQueries
          .getOrElse(n, graft.SparkEntry.queries(n))(spark, sfDir)
        df.queryExecution.toRdd.foreachPartition(_ => ())
        println(s"==== $n ====")
        println(df.queryExecution.executedPlan.toString)
      }
    } finally spark.stop()
  }
}
