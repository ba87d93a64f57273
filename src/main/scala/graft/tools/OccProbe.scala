package graft.tools

import graft.ops.TxnLog
import graft.ops.TxnLog.Action

/** OCC throughput under contention (r10 verdict #8 stretch): the
  * 8-writer race spec proves SAFETY; this probe MEASURES the protocol
  * — commits/s and publish attempts at 2/4/8 concurrent writers, for
  * disjoint path sets (every writer must land) and conflicting ones
  * (overlapping writers must abort, never corrupt).
  *
  *   graft.tools.OccProbe [commitsPerWriter]   (default 20)
  *
  * One JSON line per (writers, mode):
  *   commits_s  — landed commits per second of wall clock
  *   attempts   — total tryCommit publishes (attempts/commit ≈ the
  *                contention tax; 1.0 = uncontended)
  *   landed / aborted — writer outcomes (disjoint: all land;
  *                conflict mode: exactly one lands per hot path)
  *   lost       — landed commits whose actions are missing from the
  *                log fold (MUST be 0 — the zero-lost-updates check)
  */
object OccProbe {

  def main(args: Array[String]): Unit = {
    val perWriter = if (args.nonEmpty) args(0).toInt else 20
    val spark = graft.Harness.session()

    def run(writers: Int, conflicting: Boolean): Unit = {
      val t = java.nio.file.Files
        .createTempDirectory(s"graft_occprobe_${writers}_$conflicting")
        .toString
      val seg = s"$t/seg0"
      spark.range(1).coalesce(1).write.parquet(seg)
      require(TxnLog.tryCommit(spark, t, 1L, "seed", Seq(Action("add", seg))))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      val attempts = new java.util.concurrent.atomic.AtomicLong(0)
      val landed = new java.util.concurrent.atomic.AtomicLong(0)
      val aborted = new java.util.concurrent.atomic.AtomicLong(0)
      val t0 = System.nanoTime()
      val futures = (1 to writers).map { w =>
        pool.submit(new Runnable {
          override def run(): Unit = (1 to perWriter).foreach { i =>
            // conflicting mode: all writers fight over ONE hot path per
            // round, from a PINNED-stale base (the seed) so every loser
            // must pass the conflict check — exactly one owns each hot
            // path, the rest abort cleanly
            val path = if (conflicting) s"$t/hot_$i"
                       else s"$t/w${w}_$i"
            try {
              val r = TxnLog.commitWithRetry(spark, t, s"w$w",
                Seq(Action("add", path)), maxAttempts = 512,
                baseVersion = if (conflicting) Some(1L) else None)
              attempts.addAndGet(r.attempts.toLong)
              landed.incrementAndGet()
            } catch {
              case e: TxnLog.CommitConflictException =>
                aborted.incrementAndGet()
                // the REAL publish count the loser burned — an abort
                // may have lost several version races before its
                // conflict surfaced; one flat increment undercounted
                // the contention tax in conflicting mode
                attempts.addAndGet(e.attempts.toLong)
            }
          }
        })
      }
      futures.foreach(_.get())
      pool.shutdownNow()
      val secs = (System.nanoTime() - t0) / 1e9
      // zero-lost-updates audit: every landed commit's path must be in
      // the final log fold exactly once (adds only — nothing removes)
      val cs = TxnLog.commits(spark, t)
      val live = TxnLog.liveFiles(cs).toSet
      val lost = cs.count(c => c.writer != "seed" &&
        !c.actions.forall(a => live.contains(a.path)))
      require(cs.map(_.version) == (1L to cs.last.version),
        "log not contiguous after the race")
      def f(d: Double) = String.format(java.util.Locale.ROOT, "%.1f",
        Double.box(d))
      println(s"""{"probe":"occ_throughput","writers":$writers,""" +
        s""""mode":"${if (conflicting) "conflicting" else "disjoint"}",""" +
        s""""commits_s":${f(landed.get / secs)},""" +
        s""""attempts":${attempts.get},"landed":${landed.get},""" +
        s""""aborted":${aborted.get},"lost":$lost}""")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(t))
    }

    Seq(2, 4, 8).foreach { w => run(w, conflicting = false) }
    Seq(2, 4, 8).foreach { w => run(w, conflicting = true) }
    spark.stop()
  }
}
