package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** One benchmark workload: a closed loop whose single client is the
  * driver thread. `run` is the timed op; everything else runs outside
  * the timed window. */
trait Workload {
  def warmups: Int
  /** Run a `System.gc()` after every n-th op, outside the window. */
  def gcEvery: Int = 1
  /** Generate the run's inputs from the seed. */
  def setup(): Unit
  /** Untimed preparation of op k's input. */
  def prepare(k: Int): Unit = ()
  /** The timed op; returns the workload units it completed. */
  def run(k: Int, t: Tracer): Long
  /** Compare op k's output with a reference computed without the
    * program under test. */
  def check(k: Int): Boolean
  /** Ops with the same key must run the same jobs and tasks. */
  def key(k: Int): String = "op"
  def cleanup(k: Int): Unit = ()
  /** Per-layer counts of op k (recorded in every run). */
  val counts = mutable.Map.empty[Int, mutable.Map[String, Double]]
  def count(k: Int, name: String, v: Double): Unit =
    counts.getOrElseUpdate(k, mutable.Map.empty)(name) = v
  /** Per-layer metric name -> public call whose traced time it is. */
  def callMetrics: Seq[(String, String)]
  /** Per-layer metric name -> public call whose Spark jobs it counts. */
  def callJobMetrics: Seq[(String, String)] = Nil
  /** The timed window ends on a multiple of this many ops. */
  def opsPerPass: Int = 1
  /** Ops of one group are traced or untraced together. */
  def group(k: Int): Int = k
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      slots: Int, work: String, result: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("slots").toInt, req("work"), req("result"))
  }
}

object Stats {
  /** NaN for an empty sample. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON writer for flat maps, lists and numbers. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
  }
}

/** Host and JVM health over the timed window, so a disturbed or
  * unconverged run is visible beside its numbers. */
object Health {
  final case class Sample(total: Long, idle: Long, steal: Long, self: Long, jitMs: Long)

  private def read(p: String): Option[String] =
    if (Files.isReadable(Paths.get(p))) Some(new String(Files.readAllBytes(Paths.get(p))))
    else None

  def sample(): Sample = {
    // cpu  user nice system idle iowait irq softirq steal (clock ticks)
    val cpu = read("/proc/stat").map(_.linesIterator.next().split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.fill(8)(0L))
    // utime and stime are fields 14 and 15; the name in field 2 may hold spaces
    val self = read("/proc/self/stat").map { s =>
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong
    }.getOrElse(0L)
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    Sample(cpu.take(8).sum, cpu(3) + cpu(4), cpu(7), self, jit)
  }

  def between(a: Sample, b: Sample): Map[String, Double] = {
    val total = (b.total - a.total).toDouble.max(1.0)
    val steal = (b.steal - a.steal).toDouble
    val busy = total - (b.idle - a.idle) - steal
    val self = (b.self - a.self).toDouble
    Map(
      "host.steal_share" -> steal / total,
      "host.other_cpu_share" -> ((busy - self) / total).max(0.0),
      "jvm.jit_ms" -> (b.jitMs - a.jitMs).toDouble)
  }

  def heapAfterGcMb(): Double = {
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}

final case class OpRec(k: Int, key: String, startMs: Double, endMs: Double, ms: Double,
                       cpuMs: Double, units: Option[Long], matched: Boolean, pinned: Int,
                       traced: Boolean)

/** CPU time of this process's threads, read from /proc/self/task:
  * the driver, Spark's task and scheduler threads, and the GC. The JIT
  * compiler threads are left out; their work is warm-up. The kernel
  * does not charge a thread for time the hypervisor steals from its
  * vCPU, so host steal, which moves wall-clock op times by up to a
  * third on a shared VM, does not enter this figure. */
object ProcessCpu {
  private val tasks = Paths.get("/proc/self/task")

  private def read(p: Path): String = new String(Files.readAllBytes(p)).trim

  /** Nanoseconds of CPU per thread id. */
  def snapshot(): Map[String, Long] = {
    val s = Files.list(tasks)
    try s.iterator.asScala.flatMap { t =>
      try {
        if (read(t.resolve("comm")).contains("CompilerThre")) None
        else Some(t.getFileName.toString -> read(t.resolve("schedstat")).split(" ")(0).toLong)
      } catch { case _: java.nio.file.NoSuchFileException => None } // the thread has ended
    }.toMap
    finally s.close()
  }

  /** Milliseconds of CPU the threads used since `from`. */
  def since(from: Map[String, Long]): Double =
    snapshot().map { case (t, ns) => ns - from.getOrElse(t, 0L) }.filter(_ > 0).sum / 1e6
}

/** Runs set-up, warm-ups and the timed closed loop; computes every
  * metric of the run. */
final class Runner(spark: SparkSession, wl: Workload, ledger: Ledger, phases: Phases,
                   tracer: Tracer, a: Args) {
  private val sc = spark.sparkContext
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  private def sweep(k: Int): Unit = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    if ((k + 1) % wl.gcEvery == 0) System.gc()
  }

  private def runOne(k: Int, timed: Boolean, traced: Boolean): OpRec = {
    wl.prepare(k)
    sc.setLocalProperty(Props.Op, k.toString)
    // the planning-phase listener is attached for traced ops only, so
    // its cost falls on the traced side of trace.overhead
    if (traced) { spark.listenerManager.register(phases); ledger.currentOp = k }
    val t0 = Clock.nowMs
    tracer.beginOp(k, wl.key(k), traced, t0)
    val c0 = ProcessCpu.snapshot()
    val n0 = System.nanoTime()
    val units =
      if (!timed) Some(wl.run(k, tracer)) // a failing warm-up fails the run
      else try Some(wl.run(k, tracer)) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op $k failed: $e")
          e.printStackTrace()
          None
      }
    val n1 = System.nanoTime()
    val cpuMs = ProcessCpu.since(c0)
    val t1 = Clock.nowMs
    tracer.endOp(t1)
    sc.setLocalProperty(Props.Op, null)
    val pinned = sc.getPersistentRDDs.size
    // every op's listener events are handled before the next op starts,
    // so no op is charged for the CPU of another's
    Bus.drain(sc)
    if (traced) spark.listenerManager.unregister(phases)
    ledger.currentOp = Int.MinValue
    val matched = units.isDefined && (try wl.check(k) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] check of op $k failed: $e")
        e.printStackTrace()
        false
    })
    if (!timed && !matched)
      throw new IllegalStateException(s"warm-up op $k produced a wrong result")
    wl.cleanup(k)
    sweep(k)
    System.err.println(f"[perfbench] op $k ${wl.key(k)}: ${(n1 - n0) / 1e6}%.1f ms, cpu $cpuMs%.1f ms" +
      f"${if (timed) "" else " (warm-up)"}, then ${(System.nanoTime() - n1) / 1e6}%.1f ms untimed")
    OpRec(k, wl.key(k), t0, t1, (n1 - n0) / 1e6, cpuMs, units, matched, pinned, traced)
  }

  def run(): Map[String, Any] = {
    System.err.println(f"[perfbench] session ready at ${Clock.nowMs - jvmStartMs}%.0f ms")
    wl.setup()
    System.err.println(f"[perfbench] inputs ready at ${Clock.nowMs - jvmStartMs}%.0f ms")
    var k = 0
    while (k < wl.warmups) { runOne(k, timed = false, traced = false); k += 1 }
    val h0 = Health.sample()
    val firstOpMs = Clock.nowMs
    val n0 = System.nanoTime()
    val recs = mutable.ArrayBuffer.empty[OpRec]
    // a traced run measures the tracing overhead inside one process:
    // groups run untraced, traced, traced, untraced (ABBA), and its
    // window ends on a whole block, so a steady drift in op time falls
    // on both sides alike
    def block(k: Int): Int = (wl.group(k) - wl.group(wl.warmups)) % 4
    while (System.nanoTime() - n0 < a.seconds * 1e9 || recs.size % wl.opsPerPass != 0 ||
           (a.trace && block(k) != 0)) {
      recs += runOne(k, timed = true, traced = a.trace && block(k) % 3 != 0)
      k += 1
    }
    val health = Health.between(h0, Health.sample())
    Bus.drain(sc)
    summarize(recs.toSeq, firstOpMs, health)
  }

  private def summarize(recs: Seq[OpRec], firstOpMs: Double,
                        health: Map[String, Double]): Map[String, Any] = {
    val done = recs.filter(_.units.isDefined)
    val lat = done.map(_.ms)
    val half = lat.size / 2

    // repeatability: identical ops must run identical jobs and tasks; a
    // difference means a cache hit or a plan that changed between ops.
    // Shuffle volumes are not compared: with concurrent tasks they vary
    // slightly between identical ops (by 24 of 41,440 records in one
    // curate_dedup run). A failed op is left out: it counts against
    // op_success_ratio instead.
    val shapes = done.groupBy(_.key).map { case (key, rs) =>
      key -> rs.map { r => val s = ledger.stats(r.k); (s.jobs, s.tasks) }.distinct
    }
    val unstable = shapes.filter(_._2.size > 1)
    unstable.foreach { case (key, v) =>
      System.err.println(s"[perfbench] ops '$key' ran differing (jobs, tasks): ${v.mkString(" ")}")
    }

    // drift compares each op with the median of its kind, so a window
    // whose halves hold different kinds of ops does not read as drift
    val kindMedian = done.groupBy(_.key).view.mapValues(rs => Stats.median(rs.map(_.cpuMs))).toMap
    val rel = done.map(r => r.cpuMs / kindMedian(r.key))
    val runHealth = health ++ Map(
      "jvm.heap_after_gc_mb" -> Health.heapAfterGcMb(),
      "run.drift" -> (if (half == 0) 1.0 else Stats.median(rel.drop(half)) / Stats.median(rel.take(half))))

    val layers = mutable.LinkedHashMap.empty[String, Double]
    val traced = done.filter(_.traced)
    if (a.trace) {
      def med(f: OpRec => Double): Double = Stats.median(traced.map(f))
      def st(r: OpRec) = ledger.stats(r.k)
      val ph = traced.map(r => r -> phases.within(r.startMs, r.endMs)).toMap
      layers ++= Seq(
        "spark.analysis_ms" -> med(r => ph(r).map(_.analysisMs).sum.toDouble),
        "spark.optimizer_ms" -> med(r => ph(r).map(_.optimizerMs).sum.toDouble),
        "spark.physical_ms" -> med(r => ph(r).map(_.physicalMs).sum.toDouble),
        "spark.jobs" -> med(st(_).jobs.toDouble),
        "spark.stages" -> med(st(_).stages.toDouble),
        "spark.tasks" -> med(st(_).tasks.toDouble),
        "spark.driver_gap_ms" -> med(r => r.ms - covered(r.startMs, r.endMs,
          ledger.jobsOf(r.k).map(j => (j.start.toDouble, j.end.toDouble)))),
        "spark.task_cpu_ms" -> med(st(_).taskCpuNs / 1e6),
        "spark.task_run_ms" -> med(st(_).taskRunMs.toDouble),
        "spark.task_gc_ms" -> med(st(_).taskGcMs.toDouble),
        "spark.scan_bytes" -> med(st(_).scanBytes.toDouble),
        "spark.scan_rows" -> med(st(_).scanRows.toDouble),
        "spark.shuffle_write_bytes" -> med(st(_).shuffleWriteBytes.toDouble),
        "spark.shuffle_read_bytes" -> med(st(_).shuffleReadBytes.toDouble),
        "spark.shuffle_partitions" -> med(st(_).shufflePartitions.toDouble),
        "spark.task_skew" -> med(r => skew(r.k)),
        "spark.spill_bytes" -> med(st(_).spillBytes.toDouble),
        "spark.pinned_rdds" -> med(_.pinned.toDouble),
        "spark.checkpoint_bytes" -> med(st(_).blockBytes.toDouble))
      // per call type: median over the traced ops that made the call
      wl.callMetrics.foreach { case (metric, call) =>
        val per = tracer.callMs(call)
        layers(metric) = orZero(Stats.median(traced.flatMap(r => per.get(r.k))))
      }
      wl.callJobMetrics.foreach { case (metric, call) =>
        val ids = tracer.spans.filter(s => s.kind == "call" && s.name == call).map(s => s.id -> s.op).toMap
        val perOp = traced.map(r => ledger.jobsOf(r.k).count(j => ids.get(j.span).contains(r.k)).toDouble)
        layers(metric) = orZero(Stats.median(perOp))
      }
      // on CPU time, like the end-to-end op metric, so host steal does not enter it
      val plain = done.filterNot(_.traced).map(_.cpuMs)
      layers("trace.overhead") = Stats.median(traced.map(_.cpuMs)) / Stats.median(plain) - 1.0
      layers ++= writeSpans(traced)
    }
    // workload counts: medians over the timed ops (traced ones in a traced run)
    val pool = if (a.trace) traced else done
    val names = pool.flatMap(r => wl.counts.get(r.k).map(_.keySet).getOrElse(Set.empty)).distinct
    names.foreach { n =>
      layers(n) = Stats.median(pool.flatMap(r => wl.counts.get(r.k).flatMap(_.get(n))))
    }
    // exact repeatability of the counts the workloads promise to repeat
    val drifting = names.filter(n => pool.flatMap(r => wl.counts.get(r.k).flatMap(_.get(n)))
      .groupBy(identity).size > 1 && Workloads.exact(n))

    Map(
      "attempted" -> recs.size,
      "failed" -> (recs.size - done.size),
      "matched" -> done.count(_.matched),
      "first_op_epoch_ms" -> firstOpMs,
      "units" -> done.flatMap(_.units).sum,
      "op_ok" -> recs.map(_.units.isDefined),
      "health" -> runHealth,
      "layers" -> layers,
      "repeat_ok" -> (unstable.isEmpty && drifting.isEmpty),
      "drifting_counts" -> drifting,
      "op_ms" -> recs.map(_.ms),
      "op_cpu_ms" -> recs.map(_.cpuMs))
  }

  private def orZero(d: Double): Double = if (d.isNaN) 0.0 else d

  /** Milliseconds of [from, to] covered by the union of `iv`. */
  private def covered(from: Double, to: Double, iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var reach = from
    iv.map { case (s, e) => (s.max(from), e.min(to)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - s.max(reach); reach = e }
      }
    total
  }

  private def skew(op: Int): Double = {
    val ratios = ledger.stagesOf(op).filter(_.taskMs.size >= 2).map { s =>
      s.taskMs.max.toDouble / Stats.median(s.taskMs.map(_.toDouble).toSeq).max(1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Write op, call, job and stage spans of the traced ops as JSONL,
    * with each span's self time; returns the accounting figures. */
  private def writeSpans(traced: Seq[OpRec]): Seq[(String, Double)] = {
    val ops = traced.map(_.k).toSet
    val spans = mutable.ArrayBuffer.empty[Span]
    spans ++= tracer.spans.filter(s => ops(s.op))
    val opSpan = spans.filter(_.kind == "op").map(s => s.op -> s.id).toMap
    val jobBase = 1000000000L
    val stageBase = 2000000000L
    ops.foreach { k =>
      ledger.jobsOf(k).foreach { j =>
        val parent = if (j.span != 0L) j.span else opSpan(k)
        spans += Span(jobBase + j.id, parent, k, "job", s"job ${j.id}", j.start.toDouble, j.end.toDouble)
      }
      ledger.stagesOf(k).foreach { st =>
        val parent = if (st.job >= 0) jobBase + st.job else opSpan(k)
        spans += Span(stageBase + st.id, parent, k, "stage", s"stage ${st.id}",
          st.start.toDouble, st.end.toDouble)
      }
    }
    val children = spans.groupBy(_.parent)
    def childCover(s: Span): Double =
      covered(s.start, s.end, children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
    val out = Paths.get(a.work, "trace.jsonl")
    val w = Files.newBufferedWriter(out)
    try spans.foreach { s =>
      val c = childCover(s)
      w.write(Json(mutable.LinkedHashMap("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "dur_ms" -> s.ms, "self_ms" -> (s.ms - c), "child_ms" -> c)))
      w.newLine()
    } finally w.close()
    val opSpans = spans.filter(_.kind == "op")
    val wall = opSpans.map(_.ms).sum
    Seq(
      "trace.spans" -> spans.size.toDouble,
      "trace.op_self_share" -> opSpans.map(s => s.ms - childCover(s)).sum / wall,
      "trace.op_child_share" -> opSpans.map(childCover).sum / wall)
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(Paths.get(a.work, "tmp"))
    val spark = SparkSession.builder()
      .master(s"local[${a.slots}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", a.slots.toString)
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val phases = new Phases
    val wl = Workloads(a.workload, spark, a)
    val res = new Runner(spark, wl, ledger, phases, new Tracer(spark.sparkContext), a).run()
    spark.stop()
    Files.write(Paths.get(a.result), Json(res).getBytes("UTF-8"))
  }
}

object Workloads {
  def apply(name: String, spark: SparkSession, a: Args): Workload = name match {
    case "ingest_fallback" => new IngestFallback(spark, a)
    case "curate_dedup" => new CurateDedup(spark, a)
    case "table_commits" => new TableCommits(spark, a)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Counts that must repeat exactly across the timed ops of a run. */
  val exact: Set[String] = Set("ingest.sink_bytes_per_record", "ingest.sink_files",
    "ingest.fetch_calls_per_id", "ingest.asr_calls_per_failed_id", "ingest.client_inits",
    "dedup.candidate_pairs", "dedup.survivors")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
