package graft

import graft.ops.Relational
import graft.plans.{StatsBroadcastJoin, StatsLedger}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** Pins the stats-fed broadcast rule (r9 verdict #8): Catalyst's
  * size-only estimation keeps a Filter's child size, so a thin slice
  * of an over-threshold dimension statically plans as SMJ; with
  * ANALYZE stats in the ledger the rule must flip it to a broadcast
  * join — removing the FACT side's exchange, the cost AQE's late
  * conversion still pays at 100 TB. Also pins the conservative paths:
  * empty ledger = untouched plan, user hints = untouched, estimate
  * above threshold = untouched.
  */
class StatsBroadcastSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val dimPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sbdim").toString
    // ~50k rows with padding: comfortably above the 64 KB threshold the
    // tests set, and 'grp' has NDV 50 so one literal slices ~1/50
    spark.range(50000)
      .selectExpr("id AS k", "CAST(id % 50 AS STRING) AS grp",
        "md5(CAST(id AS STRING)) AS pad") // incompressible: the file must
      .coalesce(1).write.mode("overwrite").parquet(dir) // exceed 64 KB
    dir
  }

  private def withConfs[A](body: => A): A = {
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      body
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  private def fact = spark.range(200000)
    .selectExpr("id % 50000 AS k", "id AS v")

  private def slicedDim = spark.read.parquet(dimPath).where("grp = '7'")

  private def plan() =
    fact.join(slicedDim, "k").queryExecution.executedPlan

  test("empty ledger: over-threshold filtered dim stays sort-merge") {
    StatsLedger.clear()
    withConfs {
      val p = plan()
      assert(collect(p) { case j: SortMergeJoinExec => j }.nonEmpty,
        s"expected SMJ baseline, got:\n$p")
    }
  }

  test("ANALYZE stats flip the join to broadcast and drop the fact exchange") {
    StatsLedger.clear()
    withConfs {
      val key = StatsBroadcastJoin.pathKeyOf(spark.read.parquet(dimPath))
      assert(key.nonEmpty, "no ledger key derivable from the dim scan")
      val st = Relational.analyzeForCbo(
        spark.read.parquet(dimPath), key.get, Seq("grp", "k"))
      assert(st.rows == 50000L && st.ndv("grp") == 50L)
      val p = plan()
      assert(collect(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"expected stats-fed BHJ, got:\n$p")
      // the 100 TB argument: no shuffle exchange left anywhere — the
      // fact side streams straight into the broadcast probe
      assert(collect(p) { case e: ShuffleExchangeExec => e }.isEmpty,
        s"fact side still pays an exchange:\n$p")
      // results are identical either way (57 = 7 % 50 ... key slice)
      val n = fact.join(slicedDim, "k").count()
      StatsLedger.clear()
      assert(fact.join(slicedDim, "k").count() == n)
    }
  }

  test("conservative paths: big estimate and user hints stay untouched") {
    StatsLedger.clear()
    withConfs {
      val key = StatsBroadcastJoin.pathKeyOf(spark.read.parquet(dimPath)).get
      Relational.analyzeForCbo(spark.read.parquet(dimPath), key, Seq("grp", "k"))
      // no filter: estimated bytes = 50k rows × width > 64 KB → no flip
      val pFull = fact.join(spark.read.parquet(dimPath), "k")
        .queryExecution.executedPlan
      assert(collect(pFull) { case j: SortMergeJoinExec => j }.nonEmpty,
        s"rule broadcast an over-threshold side:\n$pFull")
      // an explicit user hint wins: SHUFFLE_MERGE on the dim side must
      // survive even though the ledger says the slice is tiny
      val hinted = fact.join(slicedDim.hint("shuffle_merge"), "k")
        .queryExecution.executedPlan
      assert(collect(hinted) { case j: SortMergeJoinExec => j }.nonEmpty,
        s"rule overrode a user hint:\n$hinted")
      StatsLedger.clear()
    }
  }

  test("staleness gate: stats from before a table grew are not trusted") {
    StatsLedger.clear()
    withConfs {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_sbgrow").toString
      def writeDim(rows: Int, mode: String): Unit =
        spark.range(rows)
          .selectExpr("id AS k", "CAST(id % 50 AS STRING) AS grp",
            "md5(CAST(id AS STRING)) AS pad")
          .coalesce(1).write.mode(mode).parquet(dir)
      writeDim(50000, "overwrite")
      val key = StatsBroadcastJoin.pathKeyOf(spark.read.parquet(dir)).get
      val st = Relational.analyzeForCbo(
        spark.read.parquet(dir), key, Seq("grp", "k"))
      assert(st.scanBytes > 0L, "ANALYZE did not record the fingerprint")
      // the table then GROWS ~32% (past the 25% gate, but small enough
      // that a FRESH analyze still finds the slice broadcastable) — the
      // old stats still say "the grp='7' slice is 1k rows", but the
      // ledger can no longer bound a broadcast: the rule must go silent
      writeDim(16000, "append")
      spark.catalog.clearCache() // fresh relation => fresh size
      val grown = spark.read.parquet(dir).where("grp = '7'")
      val p = fact.join(grown, "k").queryExecution.executedPlan
      assert(collect(p) { case j: SortMergeJoinExec => j }.nonEmpty,
        s"rule trusted stale stats on a grown table:\n$p")
      // re-ANALYZE refreshes the fingerprint and re-arms the rule
      Relational.analyzeForCbo(spark.read.parquet(dir), key, Seq("grp", "k"))
      val p2 = fact.join(spark.read.parquet(dir).where("grp = '7'"), "k")
        .queryExecution.executedPlan
      assert(collect(p2) { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"re-ANALYZE did not re-arm the rule:\n$p2")
      StatsLedger.clear()
    }
  }
}
