package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs, and their stages, a block starts on the
  * calling thread. */
object JobCount {
  private val jobTag = "graft.test.jobs"
  private val jobSeq = new AtomicInteger

  /** `body`'s result and the Spark jobs it started on this thread,
    * counted once the listener bus has delivered every event. */
  def of[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (r, jobs, _) = withStages(spark)(body)
    (r, jobs)
  }

  /** `body`'s result, its jobs and the stages of those jobs. */
  def withStages[T](spark: SparkSession)(body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-${jobSeq.incrementAndGet()}"
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(jobTag) == tag) {
          jobs.incrementAndGet()
          stages.addAndGet(e.stageInfos.size)
        }
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(jobTag, tag)
    try {
      val r = body
      TestListenerBus.drain(sc)
      (r, jobs.get, stages.get)
    } finally {
      sc.setLocalProperty(jobTag, null)
      sc.removeSparkListener(l)
    }
  }
}
