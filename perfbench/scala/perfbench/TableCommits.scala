package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ops.TxnLog
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `TxnLog` writes beside reads: one writer runs a fixed script of
  * appends, snapshot reads, merge-on-read deletes and compactions on a
  * table built during set-up. The table is restored from its set-up
  * copy before every pass of the script, outside the timed window, so
  * op k costs the same as op k + Script.size; the timed window ends on
  * a pass boundary. */
final class TableCommits(spark: SparkSession, a: Args) extends Workload {
  import TableCommits._

  val warmups: Int = 2 * Script.size
  override def gcEvery: Int = Script.size
  override def opsPerPass: Int = Script.size
  override def group(k: Int): Int = k / Script.size
  override def key(k: Int): String = s"${Script(k % Script.size)}@${k % Script.size}"

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("grp", LongType), StructField("payload", StringType)))
  private val tmpl = Paths.get(a.work, "template").toAbsolutePath
  private val table = Paths.get(a.work, "table").toAbsolutePath
  private var baseRows: Map[Long, Row] = Map.empty
  private var baseVersion = 0L
  private var appends: IndexedSeq[Seq[Row]] = IndexedSeq.empty
  private var deletes: IndexedSeq[(Long, Long)] = IndexedSeq.empty
  // replay of the acknowledged commits
  private val model = mutable.Map.empty[Long, Row]
  private var version = 0L
  private var outcome: Option[Long] = None // version the op's commit acknowledged
  private var scanned: Array[Row] = Array.empty

  private def rows(rnd: scala.util.Random, from: Long, n: Int): Seq[Row] =
    (from until from + n).map(id => Row(id, rnd.nextInt(100).toLong, rnd.alphanumeric.take(12).mkString))

  private def writeSegment(dir: String, rs: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema).write.parquet(dir)

  def setup(): Unit = {
    val rnd = new scala.util.Random(a.seed)
    val base = (0 until BaseSegments).map(i => rows(rnd, i.toLong * BaseRows, BaseRows))
    base.zipWithIndex.foreach { case (rs, i) =>
      val seg = tmpl.resolve(s"base-$i").toString
      writeSegment(seg, rs)
      TxnLog.commitWithRetry(spark, tmpl.toString, Writer, Seq(TxnLog.Action("add", seg)))
      TxnLog.checkpointIfDue(spark, tmpl.toString, CheckpointEvery)
    }
    // a checkpoint at the base version puts a pass's one due checkpoint
    // on its fifth write (see Script)
    TxnLog.checkpointIfDue(spark, tmpl.toString, BaseSegments)
    baseVersion = BaseSegments.toLong
    baseRows = base.flatten.map(r => r.getLong(0) -> r).toMap
    val nAppends = Script.count(_ == "append")
    appends = (0 until nAppends).map(j => rows(rnd, 1000000L + j * AppendRows, AppendRows))
    deletes = (0 until Script.count(_ == "delete")).map { _ =>
      val lo = rnd.nextInt(BaseSegments * BaseRows - DeleteRows).toLong
      (lo, lo + DeleteRows)
    }
  }

  /** Restore the set-up table: its log is copied, its segments are
    * immutable and shared. */
  private def reset(): Unit = {
    Workloads.deleteTree(table)
    val log = tmpl.resolve("_txnlog")
    Files.createDirectories(table.resolve("_txnlog"))
    Files.list(log).iterator.asScala.foreach { f =>
      Files.copy(f, table.resolve("_txnlog").resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
    }
    model.clear()
    model ++= baseRows
    version = baseVersion
  }

  override def prepare(k: Int): Unit = {
    if (k % Script.size == 0) reset()
    outcome = None
    scanned = Array.empty
  }

  private def fileStats: Seq[FileSystem.Statistics] =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").toSeq
  private def threadRead: Long = fileStats.map(_.getThreadStatistics.getBytesRead).sum
  private def threadWritten: Long = fileStats.map(_.getThreadStatistics.getBytesWritten).sum
  private def allWritten: Long = fileStats.map(_.getBytesWritten).sum

  def run(k: Int, t: Tracer): Long = {
    val pos = k % Script.size
    val ts = table.toString
    Script(pos) match {
      case "append" =>
        val j = Script.take(pos).count(_ == "append")
        val seg = table.resolve(s"append-$j").toString
        val w0 = allWritten
        t.call("segment.write") { writeSegment(seg, appends(j)) }
        val l0 = threadWritten
        val r = t.call("TxnLog.commitWithRetry") {
          TxnLog.commitWithRetry(spark, ts, Writer, Seq(TxnLog.Action("add", seg)))
        }
        t.call("TxnLog.checkpointIfDue") { TxnLog.checkpointIfDue(spark, ts, CheckpointEvery) }
        count(k, "txn.log_bytes_written", (threadWritten - l0).toDouble)
        val user = appends(j).map(r => 16 + r.getString(2).length).sum
        count(k, "txn.bytes_stored_per_user_byte", (allWritten - w0).toDouble / user)
        count(k, "txn.publish_attempts", r.attempts.toDouble)
        outcome = Some(r.version)
      case "read" =>
        val r0 = threadRead
        val (df, _, _) = t.call("TxnLog.snapshot") { TxnLog.snapshot(spark, ts) }
        count(k, "txn.log_bytes_read", (threadRead - r0).toDouble)
        scanned = t.call("scan.collect") { df.select("id", "grp", "payload").collect() }
      case "delete" =>
        val (lo, hi) = deletes(Script.take(pos).count(_ == "delete"))
        val r = t.call("TxnLog.deleteWhereMoR") {
          TxnLog.deleteWhereMoR(spark, ts, Writer, col("id") >= lo && col("id") < hi)
        }
        r.foreach(x => count(k, "txn.publish_attempts", x.attempts.toDouble))
        outcome = r.map(_.version)
      case "compact" =>
        val plan = t.call("TxnLog.compactionPlan") { TxnLog.compactionPlan(spark, ts) }
        val merged = table.resolve(s"compact-$pos").toString
        val r = plan.headOption.map { bin =>
          t.call("TxnLog.compactBin") { TxnLog.compactBin(spark, ts, Writer, bin, merged) }
        }
        r.foreach(x => count(k, "txn.publish_attempts", x.attempts.toDouble))
        outcome = r.map(_.version)
    }
    1L
  }

  def check(k: Int): Boolean = Script(k % Script.size) match {
    case "read" =>
      scanned.length == model.size && scanned.forall(r => model.get(r.getLong(0)).contains(r))
    case kind =>
      // every write must publish exactly the next version
      val ok = outcome.contains(version + 1)
      version += 1
      if (kind == "append") {
        val j = Script.take(k % Script.size).count(_ == "append")
        appends(j).foreach(r => model(r.getLong(0)) = r)
      } else if (kind == "delete") {
        val (lo, hi) = deletes(Script.take(k % Script.size).count(_ == "delete"))
        model.filterInPlace((id, _) => id < lo || id >= hi)
      }
      ok
  }

  def callMetrics = Seq(
    "txn.commit_ms" -> "TxnLog.commitWithRetry",
    "txn.checkpoint_ms" -> "TxnLog.checkpointIfDue",
    "txn.snapshot_ms" -> "TxnLog.snapshot",
    "txn.scan_ms" -> "scan.collect",
    "txn.delete_ms" -> "TxnLog.deleteWhereMoR",
    "txn.compact_ms" -> "TxnLog.compactBin")
}

object TableCommits {
  /** One pass: 8 appends, 2 snapshot reads, 1 delete, 1 compaction.
    * The median op must fall among like ops, not on a step between two
    * kinds (with 3 : 3 : 1 : 1 it fell between appends and reads and
    * moved by half between runs). So appends are the majority and the
    * cheapest kind, and only one of them writes a checkpoint: the table
    * starts each pass checkpointed at version 4, the checkpoint falls
    * due at version 9 (the fourth append), and the last
    * write, at version 14, is the compaction, which does not
    * checkpoint. The cost of the first op after the untimed reset and
    * GC falls on the delete. The median op is then one of the seven
    * appends without a checkpoint. */
  val Script: IndexedSeq[String] = IndexedSeq("delete", "append", "append", "append", "read",
    "append", "append", "append", "read", "append", "append", "compact")
  val BaseSegments = 4
  val BaseRows = 1500
  val AppendRows = 300
  val DeleteRows = 100
  val CheckpointEvery = 5
  val Writer = "perfbench"
}
