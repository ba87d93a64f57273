package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps
  * `sbt test` fast). */
object TestSpark {
  // local[4, 2]: 4 threads, TWO task attempts — local mode defaults
  // to maxFailures=1 (first task failure kills the job), which would
  // make the ChaosSpec retry/exactly-once scenarios untestable; a
  // second attempt only changes behavior when a task actually fails
  val master = "local[4, 2]"

  lazy val spark: SparkSession = {
    val s = Harness.session(master)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf: String = "/root/testdata/sf0.001"
}
