package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Stage-level profiler for one or more `SparkEntry.queries` entries.
  *
  * Bench reports one wall-clock number per query; when that number is
  * dominated by overhead rather than data, the fix needs a per-stage
  * breakdown: how many jobs a query launches (AQE stage materialization,
  * range-sampling jobs, broadcast jobs), how many tasks each stage runs,
  * and where the task-time actually accumulates.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 GRAFT_ONLY=d03_ngram_jaccard \
  *     java -cp ... graft.tools.Profile
  *
  * Prints, per run: total wall, job count, and per-stage
  * (name, tasks, wall ms, task-time ms) sorted by wall.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.queryPack(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // GRAFT_CONF="spark.sql.adaptive.advisoryPartitionSizeInBytes=4m;..." —
    // apply runtime confs for A/B experiments without recompiling
    sys.env.get("GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty).foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k, v)
        case _ => sys.error(s"GRAFT_CONF entry '$kv' is not key=value")
      }
    })

    case class St(name: String, tasks: Int, wallMs: Long, taskMs: Long, submitted: Long,
                  spillMem: Long, spillDisk: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        stages += St(si.name.takeWhile(_ != '\n'), si.numTasks, wall,
          si.taskMetrics.executorRunTime, si.submissionTime.getOrElse(-1L),
          si.taskMetrics.memoryBytesSpilled, si.taskMetrics.diskBytesSpilled)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val names = sys.env.getOrElse("GRAFT_ONLY", "d03_ngram_jaccard").split(",").toSeq
    val iters = sys.env.getOrElse("GRAFT_BENCH_N", "3").toInt

    names.foreach { name =>
      (0 until iters).foreach { i =>
        stages.clear(); jobs = 0
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd
          .foreachPartition { it => while (it.hasNext) it.next() }
        val wall = (System.nanoTime() - t0) / 1e6
        // listener events are posted asynchronously; give the bus a moment
        Thread.sleep(300)
        println(f"== $name run $i: wall ${wall}%.0f ms, $jobs jobs, ${stages.size} stages, " +
          f"stage-wall sum ${stages.map(_.wallMs).sum} ms, task-time sum ${stages.map(_.taskMs).sum} ms, " +
          f"spill mem ${stages.map(_.spillMem).sum / 1048576} MiB disk ${stages.map(_.spillDisk).sum / 1048576} MiB")
        stages.sortBy(-_.wallMs).take(12).foreach { s =>
          println(f"   ${s.wallMs}%6d ms wall ${s.taskMs}%7d ms task ${s.tasks}%4d tasks " +
            f"${s.spillDisk / 1048576}%4d MiB spill  ${s.name}")
        }
      }
    }
    spark.stop()
  }
}
