package graft

import org.apache.spark.sql.functions._

/** Round-7ao pins: the FuseMultiContains optimizer rule fires on
  * naive contains-OR chains (plan shows the fused expression, not
  * per-term Contains), rewrites only what it may, and preserves
  * results exactly.
  */
class Round7aoSpec extends SparkSpec {
  import spark.implicits._

  private def optimized(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("q418: the OR-chain optimizes into one graft_multi_contains scan") {
    val df = graft.queries.Registry.byName("q418_fused_blocklist").fn(spark, sf)
    val plan = optimized(df)
    assert(plan.contains("graft_multi_contains"),
      s"fusion did not fire:\n$plan")
    assert(!plan.contains("Contains("), s"per-term scans survived:\n$plan")
  }

  test("fusion preserves results and null semantics exactly") {
    val rows = Seq((1L, "xx merge batch yy"), (2L, "row scan"),
      (3L, "nothing here"), (4L, null.asInstanceOf[String]), (5L, ""))
    // RDD-backed, NOT a LocalRelation: ConvertToLocalRelation would
    // otherwise evaluate the filter away before the plan is observable
    val df = spark.sparkContext.parallelize(rows, 2).toDF("id", "text")
    val terms = Seq("merge batch", "row scan", "windowpane")
    val gate = terms.map(col("text").contains(_)).reduce(_ || _)
    val fused = df.where(gate)
    assert(optimized(fused).contains("graft_multi_contains"))
    assert(fused.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    // per-term union = the unfused semantics (each filter is a single
    // Contains, below the fusion threshold)
    val unfused = terms.map(t => df.where(col("text").contains(t)))
      .reduce(_ unionByName _).select("id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(unfused == Seq(1L, 2L))
  }

  test("mixed disjunctions are left untouched") {
    val df = Seq((1L, "a", "b")).toDF("id", "s", "t")
    // different columns — must NOT fuse
    val mixed = df.where(col("s").contains("a") || col("t").contains("b")
      || col("s").contains("c"))
    assert(!optimized(mixed).contains("graft_multi_contains"))
    // two terms — below threshold, must NOT fuse
    val two = df.where(col("s").contains("a") || col("s").contains("c"))
    assert(!optimized(two).contains("graft_multi_contains"))
  }
}
