package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Scratch per-query profiling main (not part of the library surface):
  * runs named SparkEntry queries one at a time and, for each, prints
  *  - the per-JOB wall-clock breakdown (iterative operators hide their
  *    cost in localCheckpoint jobs a final explain can't show), and
  *  - the final frame's `explain("formatted")`, written to
  *    `<outDir>/<name>_<tag>.txt` for the plans/rNN evidence trail.
  *
  * Usage: runMain graft.tools.QueryProbe <sfDir> <outDir> <tag> q503,q319
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.Harness.session()
    new java.io.File(outDir).mkdirs()

    // job ledger: (jobId, description, millis)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(js.jobId, (desc, js.time))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (desc, t0) =>
          done.add((je.jobId, desc, je.time - t0))
        }
      }
    })

    graft.Harness.warmup(spark, sfDir)

    names.foreach { prefix =>
      graft.SparkEntry.queries.filter(_._1.startsWith(prefix)).foreach {
        case (name, fn) =>
          // run 1: warm (codegen/JIT), untimed
          try { fn(spark, sfDir).count() } catch {
            case t: Throwable =>
              println(s"[probe] $name FAILED: ${t.getMessage}")
          }
          graft.Harness.clearBlocks(spark)
          done.clear()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          df.count()
          val secs = (System.nanoTime() - t0) / 1e9
          // drain listener (private bus — a short sleep is enough here)
          Thread.sleep(200)
          println(f"[probe] $name total=${secs}%.2f s, jobs=${done.size}")
          val byJob = done.toArray(Array.empty[(Int, String, Long)])
            .sortBy(_._1)
          byJob.foreach { case (id, desc, ms) =>
            if (ms >= 50)
              println(f"[probe]   job $id%4d ${ms / 1000.0}%7.2f s  $desc")
          }
          val small = byJob.filter(_._3 < 50)
          if (small.nonEmpty)
            println(f"[probe]   (+${small.size} jobs < 50 ms, ${small.map(_._3).sum / 1000.0}%.2f s total)")
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          val short = { val i = name.indexOf('_'); if (i > 0) name.substring(0, i) else name }
          val f = new java.io.PrintWriter(s"$outDir/${short}_$tag.txt")
          try f.write(plan) finally f.close()
          graft.Harness.clearBlocks(spark)
      }
    }
    spark.stop()
  }
}
