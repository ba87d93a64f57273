package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, TestCacheEntries}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

/** The block rule of the test suites: a call leaves persisted only the
  * RDDs and SQL cache entries its result reads. */
object Leaks {

  /** The RDDs a frame reads: the LogicalRDD leaves of its plan, and
    * for each cached relation in it the cache's blocks and the RDDs
    * they were built from (nested caches and checkpoints included). */
  def resultRdds(df: DataFrame): Set[Int] = planRdds(df.queryExecution.withCachedData)

  private def planRdds(p: LogicalPlan): Set[Int] = p.collectWithSubqueries {
    case lr: LogicalRDD => Set(lr.rdd.id)
    case m: InMemoryRelation => cacheRdds(m)
  }.flatten.toSet

  // a cache not yet built reads what its physical plan scans (its
  // logical plan names the tables, not the caches it was planned over)
  private def cacheRdds(m: InMemoryRelation): Set[Int] = {
    val b = m.cacheBuilder
    if (b.isCachedColumnBuffersLoaded) lineage(b.cachedColumnBuffers)
    else execRdds(b.cachedPlan)
  }

  private def execRdds(p: SparkPlan): Set[Int] = p.collectWithSubqueries {
    case s: InMemoryTableScanExec => cacheRdds(s.relation)
    case r: RDDScanExec => Set(r.rdd.id)
    case a: AdaptiveSparkPlanExec => execRdds(a.inputPlan)
  }.flatten.toSet

  /** The SQL cache entries a frame reads: the cached relations of its
    * plan and those each one's physical plan scans. */
  def resultEntries(df: DataFrame): Int = planEntries(df.queryExecution.withCachedData).size

  private def planEntries(p: LogicalPlan): Set[Builder] = p.collectWithSubqueries {
    case m: InMemoryRelation => cacheEntries(m)
  }.flatten.toSet

  private def cacheEntries(m: InMemoryRelation): Set[Builder] =
    Set(new Builder(m.cacheBuilder)) ++ execEntries(m.cacheBuilder.cachedPlan)

  private def execEntries(p: SparkPlan): Set[Builder] = p.collectWithSubqueries {
    case s: InMemoryTableScanExec => cacheEntries(s.relation)
    case a: AdaptiveSparkPlanExec => execEntries(a.inputPlan)
  }.flatten.toSet

  private final class Builder(val b: AnyRef) {
    override def equals(o: Any): Boolean = o match {
      case x: Builder => x.b eq b
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(b)
  }

  private def lineage(r: RDD[_]): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    walk(r)
    seen.toSet
  }

  /** Runs `body` and one collect of its result. Returns the jobs the
    * two ran, the RDDs the call left persisted beyond what its result
    * reads, and the number of SQL cache entries it added beyond those
    * the result reads (a lower bound when the result reads entries
    * that were there before), after checking that the result still
    * reads back. Frees what the call persisted before it returns. */
  def jobsAndLeaks(spark: SparkSession)(body: => DataFrame): (Int, Set[Int], Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val entriesBefore = TestCacheEntries.count(spark)
    val (res, jobs) = JobCount.of(spark) { val r = body; r.collect(); r }
    val reads = resultRdds(res)
    val leaked = (sc.getPersistentRDDs.keySet -- before -- reads).toSet
    val leakedEntries =
      math.max(0, TestCacheEntries.count(spark) - entriesBefore - resultEntries(res))
    res.collect() // none of the result's blocks was freed under it
    ((reads -- before) ++ leaked).foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
    (jobs, leaked, leakedEntries)
  }
}
