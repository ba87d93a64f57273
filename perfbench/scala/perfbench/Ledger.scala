package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties the driver thread sets before each op and each
  * public call; Spark copies them into every job the call submits,
  * including jobs AQE submits from its own threads. */
object Props {
  val Op = "perfbench.op"
  val Span = "perfbench.span"
}

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * clock as Spark's event timestamps. */
object Clock {
  private val baseNs = System.currentTimeMillis() * 1e6 - System.nanoTime()
  def nowMs: Double = (baseNs + System.nanoTime()) / 1e6
}

/** Engine-layer counts of one op, summed over the jobs, stages and
  * tasks that carried the op's local property. */
final class OpStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var taskGcMs = 0L
  var scanBytes = 0L
  var scanRows = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shufflePartitions = 0
  var spillBytes = 0L
  var blockBytes = 0L
}

/** The bench's SparkListener. Always registered: job and task counts
  * per op feed the repeatability check in every run. Block updates
  * are attributed to `currentOp`, which the runner sets only for
  * traced ops and clears after draining the bus. */
final class Ledger extends SparkListener {
  final class Job(val id: Int, val op: Int, val span: Long, val start: Long) {
    var end: Long = start
  }
  final class Stage(val id: Int, val op: Int, val job: Int, val start: Long) {
    var end: Long = start
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val ops = mutable.Map.empty[Int, OpStats]
  @volatile var currentOp: Int = Int.MinValue

  private def opOf(p: Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Props.Op))).map(_.toInt)

  def stats(op: Int): OpStats = synchronized(ops.getOrElseUpdate(op, new OpStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      val span = Option(e.properties.getProperty(Props.Span)).map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = new Job(e.jobId, op, span, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      stats(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      val info = e.stageInfo
      stages(info.stageId) = new Stage(info.stageId, op,
        stageJob.getOrElse(info.stageId, -1),
        info.submissionTime.getOrElse(System.currentTimeMillis()))
      stats(op).stages += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      val o = stats(s.op)
      o.tasks += 1
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        o.taskCpuNs += m.executorCpuTime
        o.taskRunMs += m.executorRunTime
        o.taskGcMs += m.jvmGCTime
        o.scanBytes += m.inputMetrics.bytesRead
        o.scanRows += m.inputMetrics.recordsRead
        o.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        o.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        if (m.shuffleReadMetrics.totalBlocksFetched > 0) o.shufflePartitions += 1
        o.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val op = currentOp
    val b = e.blockUpdatedInfo
    if (op != Int.MinValue && b.blockId.isRDD && b.storageLevel.isValid)
      synchronized { stats(op).blockBytes += b.memSize + b.diskSize }
  }

  def jobsOf(op: Int): Seq[Job] = synchronized(jobs.values.filter(_.op == op).toSeq)
  def stagesOf(op: Int): Seq[Stage] = synchronized(stages.values.filter(_.op == op).toSeq)
}

/** Catalyst phase times of every action, from the QueryExecution
  * tracker. Delivered on the listener thread, so each record carries
  * its phase start time and the runner attributes it to the op whose
  * interval holds it. */
final class Phases extends QueryExecutionListener {
  case class Rec(startMs: Long, analysisMs: Long, optimizerMs: Long, physicalMs: Long)
  private val recs = mutable.ArrayBuffer.empty[Rec]

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    synchronized {
      recs += Rec(start, ms(QueryPlanningTracker.ANALYSIS),
        ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  def within(fromMs: Double, toMs: Double): Seq[Rec] =
    synchronized(recs.filter(r => r.startMs >= fromMs - 1 && r.startMs <= toMs + 1).toSeq)
}

/** One span: an op, a public call inside it, or a Spark job or stage. */
final case class Span(id: Long, parent: Long, op: Int, kind: String, name: String,
                      start: Double, var end: Double) {
  def ms: Double = end - start
}

/** Records op and call spans when enabled; otherwise runs the body
  * untouched. Spans stay in memory until the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Span] = Nil
  private var enabled = false

  def beginOp(op: Int, name: String, traced: Boolean, startMs: Double): Unit = {
    enabled = traced
    if (enabled) {
      val s = Span(nextId, 0L, op, "op", name, startMs, startMs)
      nextId += 1
      spans += s
      stack = List(s)
      sc.setLocalProperty(Props.Span, s.id.toString)
    }
  }

  def endOp(endMs: Double): Unit = {
    stack.lastOption.foreach(_.end = endMs)
    stack = Nil
    enabled = false
    sc.setLocalProperty(Props.Span, null)
  }

  /** Time one call into the program under test. */
  def call[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, stack.head.id, stack.head.op, "call", name, Clock.nowMs, 0.0)
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Props.Span, s.id.toString)
      try body
      finally {
        s.end = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(Props.Span, stack.head.id.toString)
      }
    }

  /** Durations of the named call in each traced op, summed per op. */
  def callMs(name: String): Map[Int, Double] =
    spans.filter(s => s.kind == "call" && s.name == name)
      .groupMapReduce(_.op)(_.ms)(_ + _)
}
