package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide instance — Spark
  * session startup dominates test wall-clock otherwise). It is the
  * component session `component.Main` runs, so the tests certify the
  * production configuration. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.component(4, graft.component.SystemResources.DefaultMemoryMb)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"
}
