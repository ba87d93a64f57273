package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import scala.jdk.CollectionConverters._

/** One session harness, one install of graft's functions and rules:
  * `Harness.session` and the `SparkEntry` boundary install them, and
  * nothing else in `src/main` builds a session or calls `register`.
  */
class HarnessSpec extends SparkSpec {

  private def installed(s: SparkSession): Unit = {
    val listed = s.sessionState.functionRegistry.listFunction()
    GraftFunctions.functions.foreach { case (ident, _, _) =>
      assert(listed.count(_ == ident) == 1, s"${ident.funcName} not installed once")
    }
    GraftFunctions.rules.foreach { r =>
      assert(s.experimental.extraOptimizations.count(_ eq r) == 1,
        s"${r.ruleName} not installed once")
    }
    assert(s.experimental.extraStrategies
      .count(_ eq graft.plans.GreedyThinStrategy) == 1)
  }

  test("SparkEntry installs the rules on a session it is handed") {
    val fused = spark.newSession()
    assert(!fused.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("graft_multi_contains")))
    val q418 = SparkEntry.queries("q418_fused_blocklist")(fused, sf)
    assert(q418.queryExecution.optimizedPlan.toString
      .contains("graft_multi_contains"))
    val q264 = SparkEntry.queries("q264_unicode_fold")(spark.newSession(), sf)
    assert(q264.queryExecution.analyzed.toString.contains("graft_fold_accents"))
  }

  test("register is idempotent: everything is present exactly once") {
    val s = spark.newSession()
    GraftFunctions.register(s)
    GraftFunctions.register(s)
    installed(s)
  }

  test("Harness.session has the rules before any query runs") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = Harness.session(TestSpark.master)
      assert(fresh ne spark)
      installed(fresh)
      assert(fresh.conf.get("spark.sql.shuffle.partitions") == "4")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
      spark.sparkContext.setLogLevel("ERROR")
    }
  }

  test("only Harness builds sessions; only Harness and SparkEntry install rules") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def callers(call: String): Set[String] = files.filter { p =>
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains(call)
    }.map(_.getFileName.toString).toSet
    assert(callers("SparkSession.builder()") == Set("Harness.scala"))
    assert(callers("GraftFunctions.register(") ==
      Set("Harness.scala", "SparkEntry.scala"))
  }
}
