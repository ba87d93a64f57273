package graft.tools

import graft.ops.TxnLog
import graft.ops.TxnLog.Action

/** Log-length scaling probe for the transaction log (r10 verdict #2):
  * a table's txn lanes are corpus-size-flat because protocol costs
  * dominate — the axis a LOG scales on is COMMIT COUNT. This probe
  * builds logs of increasing length and measures snapshot resolution
  * with and without a checkpoint, pinning O(suffix) vs O(n):
  *
  *   graft.tools.TxnProbe [nCommits ...]     (default 100 400 1600)
  *
  * Every commit adds the same one-row segment (the live set stays one
  * file), so the measured time is pure log resolution — listing +
  * commit-body reads — with the data scan held constant. Output: one
  * JSON line per log length with
  *   full_ms      — full-log snapshot resolution (reads every body)
  *   ckpt_ms      — checkpoint resolution (reads the ckpt + suffix)
  *   head_ms      — currentVersion (listing only, no bodies)
  *   build_ms     — total commit time (protocol write throughput)
  * Expectation at 16× commits: full_ms grows ~16× (O(n) by design —
  * that is WHY checkpoints exist), ckpt_ms and head_ms stay ~flat.
  */
object TxnProbe {

  def main(args: Array[String]): Unit = {
    val counts = if (args.nonEmpty) args.map(_.toInt).toSeq
                 else Seq(100, 400, 1600)
    val spark = graft.Harness.session()

    def minOf3(body: => Unit): Double = {
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e6
      }.min
    }

    counts.foreach { n =>
      val t = java.nio.file.Files.createTempDirectory(s"graft_txnprobe_$n")
        .toString
      val seg = s"$t/seg"
      spark.range(1).coalesce(1).write.parquet(seg)
      val b0 = System.nanoTime()
      (1 to n).foreach { v =>
        require(TxnLog.tryCommit(spark, t, v.toLong, "probe",
          Seq(Action("add", seg)), ts = v * 1000L))
      }
      val buildMs = (System.nanoTime() - b0) / 1e6
      val fullMs = minOf3 {
        val (_, v, _) = TxnLog.snapshot(spark, t)
        require(v == n.toLong)
      }
      val headMs = minOf3 {
        require(TxnLog.currentVersion(spark, t) == n.toLong)
      }
      TxnLog.writeCheckpoint(spark, t, n.toLong)
      val ckptMs = minOf3 {
        val (_, v, _, ck) = TxnLog.snapshotViaCheckpoint(spark, t)
        require(v == n.toLong && ck == n.toLong)
      }
      // pure log-resolution split (no parquet plan constant): full-log
      // body reads vs the checkpoint suffix read (zero bodies here —
      // the checkpoint IS the head)
      val bodiesMs = minOf3 {
        require(TxnLog.commits(spark, t).size == n)
      }
      val suffixMs = minOf3 {
        require(TxnLog.commits(spark, t, fromVersion = n.toLong).isEmpty)
      }
      // timestamp resolution scales on the same axis: versionAt reads
      // every readable commit HEADER (O(n) bodies on a full log) —
      // truncation bounds it to O(suffix) below, the retention trade
      val tsMs = minOf3 {
        require(TxnLog.versionAt(spark, t, n * 500L) == n / 2L)
      }
      def f(d: Double) = String.format(java.util.Locale.ROOT, "%.1f",
        Double.box(d))
      // log retention closes the loop: the O(N) residue in checkpoint
      // resolution is the directory LISTING of old .txn files —
      // truncateLog deletes the bodies the checkpoint already folded,
      // so the same reads must go ~flat afterwards (no removes were
      // committed, so no vacuum gate applies)
      TxnLog.truncateLog(spark, t)
      val truncCkptMs = minOf3 {
        val (_, v, _, ck) = TxnLog.snapshotViaCheckpoint(spark, t)
        require(v == n.toLong && ck == n.toLong)
      }
      val truncHeadMs = minOf3 {
        require(TxnLog.currentVersion(spark, t) == n.toLong)
      }
      // after truncation, land ONE more stamped commit: timestamp
      // resolution then rides the O(suffix) path — a fully-truncated
      // log has no timestamp info at all (checkpoints carry no ts),
      // and mid-history timestamps get the named truncation error
      require(TxnLog.tryCommit(spark, t, n + 1L, "probe",
        Seq(Action("add", seg)), ts = (n + 1) * 1000L))
      val truncTsMs = minOf3 {
        require(TxnLog.versionAt(spark, t, (n + 1) * 1000L) == n + 1L)
      }
      println(s"""{"probe":"txn_log_length","n_commits":$n,""" +
        s""""full_ms":${f(fullMs)},"ckpt_ms":${f(ckptMs)},""" +
        s""""head_ms":${f(headMs)},"build_ms":${f(buildMs)},""" +
        s""""log_bodies_ms":${f(bodiesMs)},"log_suffix_ms":${f(suffixMs)},""" +
        s""""trunc_ckpt_ms":${f(truncCkptMs)},""" +
        s""""trunc_head_ms":${f(truncHeadMs)},""" +
        s""""ts_resolve_ms":${f(tsMs)},""" +
        s""""trunc_ts_resolve_ms":${f(truncTsMs)}}""")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(t))
    }
    spark.stop()
  }
}
