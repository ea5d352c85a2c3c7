package graft.component.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.component._

/** Traced in-process run of one component job:
  * `Traced <dataDir> <outJson> <runId>`.
  *
  * Builds the session with `Main`'s settings and calls the component's
  * public layer functions in `Component.run`'s order, wrapping each call in
  * a span. Nothing inside the program is instrumented: counts come from a
  * `SparkListener`, a `QueryExecutionListener` and the function registry,
  * read at layer boundaries. The benchmark checks that this run's outputs
  * digest exactly like the untraced `Main` run's, so any drift from
  * `Component.run` fails loudly. Spans and metrics go to `<outJson>`.
  */
object Traced {

  final case class Span(name: String, start: Long, end: Long, parent: Int)

  /** Spans of one run, kept in memory; the main thread is the only caller. */
  final class Spans {
    val all = mutable.ArrayBuffer[Span]()
    private var stack = List(-1)

    def apply[T](name: String)(body: => T): T = {
      val id = all.size
      val start = System.nanoTime()
      all += Span(name, start, start, stack.head)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        all(id) = all(id).copy(end = System.nanoTime())
      }
    }

    def seconds(name: String): Double =
      all.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum
  }

  /** Job/stage/task totals from the scheduler's listener bus. */
  final class SchedulerCounters extends SparkListener {
    private val c = mutable.Map[String, Double]().withDefaultValue(0.0)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { c("jobs") += 1 }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      c("stages") += 1
      c("tasks") += si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        c("task_cpu_s") += m.executorCpuTime / 1e9
        c("input_mb") += m.inputMetrics.bytesRead / 1048576.0
        c("shuffle_mb") += m.shuffleWriteMetrics.bytesWritten / 1048576.0
        c("spill_mb") += m.diskBytesSpilled / 1048576.0
        c("write_mb") += m.outputMetrics.bytesWritten / 1048576.0
      }
    }

    def snapshot: Map[String, Double] = synchronized(c.toMap.withDefaultValue(0.0))
  }

  /** Catalyst phase times of every executed query. */
  final class CatalystCounters extends QueryExecutionListener {
    private val c = mutable.Map[String, Double]().withDefaultValue(0.0)

    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

    private def record(qe: QueryExecution): Unit = synchronized {
      c("executions") += 1
      val phases = qe.tracker.phases
      for ((phase, key) <- Seq(
        QueryPlanningTracker.ANALYSIS -> "analysis_s",
        QueryPlanningTracker.OPTIMIZATION -> "optimization_s",
        QueryPlanningTracker.PLANNING -> "planning_s"))
        phases.get(phase).foreach(p => c(key) += p.durationMs / 1e3)
    }

    def snapshot: Map[String, Double] = synchronized(c.toMap.withDefaultValue(0.0))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Traced <dataDir> <outJson> <runId>")
    val Array(dataDir, outJson, runId) = args
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val sp = new Spans
    val m = mutable.LinkedHashMap[String, Double]()

    sp("trace.wall") {
      val config = sp("config") {
        Config.parse(Files.readString(Paths.get(dataDir, "config.json")))
      }
      require(config.action.isEmpty && !config.syntaxCheckOnStartup && !config.debug,
        "the traced driver covers the plain run path only")
      val threads = SystemResources.resolveThreads(config.threads)
      val memMb = SystemResources.resolveMemoryMb(config.maxMemoryMb)
      val maxPartitionBytes = math.min(128L << 20,
        math.max(16L << 20, memMb * 1048576L / (threads * 8L)))

      // Main's session, setting for setting
      val spark = sp("session.build") {
        val s = SparkSession.builder()
          .master(s"local[$threads]")
          .config("spark.sql.shuffle.partitions", threads)
          .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
          .config("spark.sql.optimizer.excludedRules",
            graft.functions.GraftExtensions.ExcludedOptimizerRules)
          .config("spark.sql.extensions", "graft.functions.GraftExtensions")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }
      val sched = new SchedulerCounters
      val catalyst = new CatalystCounters

      def counted(prefix: String, keys: Seq[String])(body: => Unit): Unit = {
        val before = sp("trace.bookkeeping") {
          PerfbenchBus.drain(spark.sparkContext); sched.snapshot
        }
        body
        sp("trace.bookkeeping") {
          PerfbenchBus.drain(spark.sparkContext)
          val after = sched.snapshot
          keys.foreach(k => m(s"$prefix.$k") = after(k) - before(k))
        }
      }

      // registration: every function (re)bound, and those that overwrote a
      // function already bound in this session. Each registration stores a
      // fresh ExpressionInfo, so identity tells a re-registration apart even
      // when the builder object is reused.
      var regCalls = 0
      var regReplaced = 0
      def registering(body: => Unit): Unit = {
        def bound(): Map[String, AnyRef] = {
          val fr = spark.sessionState.functionRegistry
          fr.listFunction().map(id => id.unquotedString -> fr.lookupFunction(id).orNull).toMap
        }
        val before = sp("trace.bookkeeping")(bound())
        sp("registration")(body)
        sp("trace.bookkeeping") {
          val changed = bound().filter { case (n, info) => !before.get(n).exists(_ eq info) }
          regCalls += changed.size
          regReplaced += changed.keys.count(before.contains)
        }
      }

      try {
        sp("trace.bookkeeping") {
          spark.sparkContext.addSparkListener(sched)
          spark.listenerManager.register(catalyst)
        }
        sp("component") {
          sp("reset") {
            Macros.clear()
            FileReads.clear()
            SequenceSql.clear()
            TypeSql.reset()
          }
          registering(graft.functions.GraftExtensions.register(spark))
          registering(DuckFunctions.register(spark))

          sp("passthrough") {
            val inWarehouse = Paths.get(dataDir, "in", "files", "warehouse")
            var tables = 0
            if (Files.isDirectory(inWarehouse)) {
              val listing = Files.list(inWarehouse)
              try listing.forEach { p =>
                if (Files.isDirectory(p) && !Files.exists(p.resolve("meta.json"))) {
                  spark.read.parquet(p.toString)
                    .createOrReplaceTempView(Names.view(p.getFileName.toString))
                  tables += 1
                }
              } finally listing.close()
            }
            m("passthrough.tables") = tables
          }

          counted("ingest", Seq("jobs")) {
            sp("ingest")(Ingest.loadAll(spark, dataDir, config))
          }
          val tablesDir = Paths.get(dataDir, "in", "tables")
          m("ingest.tables") =
            if (!Files.isDirectory(tablesDir)) 0
            else {
              val l = Files.list(tablesDir)
              try l.iterator().asScala.count { p =>
                val n = p.getFileName.toString
                !n.endsWith(".manifest") && !n.startsWith(".")
              } finally l.close()
            }

          val resolved = Versions.resolve(config.duckdbVersion.getOrElse(Versions.LatestAlias))
          registering(spark.udf.register("version", () => Versions.reportedVersion(resolved)))
          registering(DuckFunctions.register(spark, resolved))

          val outWarehouse = Paths.get(dataDir, "out", "files", "warehouse")
          Files.createDirectories(outWarehouse)
          val plan = sp("planner") {
            val queries = config.namedScripts.map { s =>
              val a = sp("analyzer")(SqlAnalyzer.analyzeScript(spark, s.sql))
              val stmts = sp("dialect.prepare")(Dialect.prepare(s.sql))
              Query(s.blockIdx, s.block, s.code, s.name, s.sql, stmts,
                a.dependencies, a.outputs, a.statementType)
            }
            val prod = Planner.producers(queries)
            val byIdx = queries.groupBy(_.blockIdx)
            ExecutionPlan(
              byIdx.keys.toList.sorted.map { bi =>
                PlannedBlock(byIdx(bi).head.block, Planner.batchBlock(byIdx(bi), prod))
              },
              prod)
          }
          m("planner.queries") = plan.blocks.map(_.batches.map(_.queries.size).sum).sum
          m("planner.batches") = plan.blocks.map(_.batches.size).sum

          counted("executor", Seq("jobs", "stages", "tasks", "task_cpu_s",
            "input_mb", "shuffle_mb", "spill_mb", "write_mb")) {
            sp("executor") {
              val executor = new Executor(spark, outWarehouse.toString, threads)
              var querySum = 0.0
              var idle = 0.0
              for (block <- plan.blocks; batch <- block.batches) {
                val t0 = System.nanoTime()
                val stats = sp("executor.batch") {
                  executor.execute(ExecutionPlan(
                    List(PlannedBlock(block.name, List(batch))), plan.producers))
                }
                val wall = (System.nanoTime() - t0) / 1e9
                querySum += stats.total
                // pool lanes this batch could occupy, minus the time they
                // spent on queries: the wait at the Kahn barrier
                idle += math.max(0.0, math.min(threads, batch.queries.size) * wall - stats.total)
              }
              m("executor.query_s") = querySum
              m("executor.batch_wait_s") = idle
            }
          }
          m("executor.parallel_eff") =
            m("executor.query_s") / (threads * math.max(sp.seconds("executor"), 1e-9))

          counted("export", Seq("jobs")) {
            sp("export") {
              config.outputTables.foreach(t =>
                sp("export.table")(Export.exportTable(spark, dataDir, t)))
              Export.exportFileManifests(dataDir, config)
            }
          }
          m("export.mb") = config.outputTables.map { t =>
            Files.size(Paths.get(dataDir, "out", "tables", t.source)) / 1048576.0
          }.sum
        }
        sp("trace.bookkeeping")(PerfbenchBus.drain(spark.sparkContext))
        val cat = catalyst.snapshot
        for (k <- Seq("executions", "analysis_s", "optimization_s", "planning_s"))
          m(s"catalyst.$k") = cat(k)
        m("registration.calls") = regCalls
        m("registration.replaced") = regReplaced
      } finally sp("session.stop")(spark.stop())
    }

    for ((metric, span) <- Seq(
      "session.build_s" -> "session.build", "registration.s" -> "registration",
      "passthrough.s" -> "passthrough", "ingest.s" -> "ingest",
      "planner.s" -> "planner", "dialect.prepare_s" -> "dialect.prepare",
      "analyzer.s" -> "analyzer", "executor.s" -> "executor", "export.s" -> "export",
      "session.stop_s" -> "session.stop", "trace.run_s" -> "component",
      "trace.bookkeeping_s" -> "trace.bookkeeping", "trace.wall_s" -> "trace.wall"))
      m(metric) = sp.seconds(span)
    // layer spans: the children of the run and of its component part; the
    // wall they leave uncovered is the trace's unattributed remainder
    val wallId = sp.all.indexWhere(_.name == "trace.wall")
    val componentId = sp.all.indexWhere(_.name == "component")
    val layers = sp.all.zipWithIndex.collect {
      case (s, i) if i != componentId && (s.parent == wallId || s.parent == componentId) => s
    }
    m("trace.unattributed_s") = m("trace.wall_s") - layers.map(s => (s.end - s.start) / 1e9).sum
    m("jvm.boot_s") = bootS
    m("jvm.classes_loaded") = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble
    m("jvm.gc_s") = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    writeOut(outJson, runId, sp, m)
  }

  private def writeOut(path: String, runId: String, sp: Spans,
                       m: mutable.LinkedHashMap[String, Double]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val origin = sp.all.head.start
    val spans = sp.all.map { s =>
      f"""{"name": ${q(s.name)}, "start_s": ${(s.start - origin) / 1e9}%.6f, """ +
        f""""end_s": ${(s.end - origin) / 1e9}%.6f, "parent": ${s.parent}, "run_id": ${q(runId)}}"""
    }
    val metrics = m.map { case (k, v) =>
      s"${q(k)}: ${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    }
    Files.writeString(Paths.get(path),
      s"""{"run_id": ${q(runId)}, "metrics": {${metrics.mkString(", ")}},\n"spans": [\n""" +
        spans.mkString(",\n") + "\n]}\n")
  }
}
