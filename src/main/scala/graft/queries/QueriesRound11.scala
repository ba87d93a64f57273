package graft.queries

import graft.Tables._
import graft.ops.TxnLog
import graft.ops.TxnLog.Action
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 first batch: the change-data-feed read path of the
  * transaction log (r10 verdict #4) and physical vacuum execution with
  * the named time-travel failure mode (r10 verdict #3).
  *
  * CDF is the read-side capability every public table format grew
  * after time travel: a consumer tails ROW-LEVEL changes derived from
  * the commit ACTIONS alone, so its cost is O(changed data) — at
  * 100 TB the difference between "diff two snapshots" (two full table
  * reads, the q570 formulation) and "read the segments the suffix
  * commits name" is the whole feature.
  */
object QueriesRound11 {

  private def reset(s: SparkSession, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q571: incremental change-data-feed, hash-matched to the snapshot diff ----
    // Same question as q570 ("what changed between v2 and v4?") but
    // answered INCREMENTALLY: fold the suffix commits' actions — v3 is
    // a rewrite (compaction), so its net diff is adds⟕removes
    // anti-joins that cancel exactly; v4 is an append, so its rows are
    // inserts. The output hash-matches the q570 snapshot-join oracle
    // (the two formulations must agree row-for-row), and the CDF
    // never resolves a snapshot: it opens exactly the 4 segments the
    // suffix commits name (audited in the output — the oracle pins
    // it), where the snapshot-join reads v2's live set AND v4's.
    QueryDef("q571_txn_cdf_incremental",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q571"
        QueriesRound10.buildHistory(s, d, root)
        val (chg, opened) = TxnLog.changeFeed(s, root, 2L, 4L,
          Seq("o_orderkey"))
        val ins = chg.where(col("_change_type") === "insert")
        val del = chg.where(col("_change_type") === "delete")
        ins.agg(count(lit(1)).as("n_added"), sum("cents").as("added_cents"))
          .crossJoin(del.agg(count(lit(1)).as("n_removed")))
          .select(col("n_added"), col("added_cents"), col("n_removed"),
            lit(opened).as("n_segments_opened"))
      },
      // v3 compaction nets to zero; v4 append = keys ≡ 2 (mod 4); the
      // feed opens v3's {c, a, b} and v4's {d} — 4 segments, no
      // snapshot resolution
      Some("""SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 4 = 2) AS n_added,
        |  (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) FROM orders WHERE o_orderkey % 4 = 2)
        |    AS added_cents,
        |  CAST(0 AS BIGINT) AS n_removed,
        |  CAST(4 AS INTEGER) AS n_segments_opened""".stripMargin)),

    // ---- q572: CDF on an append-only range reads ONLY the appended segment --------
    // The pruning payoff, pinned IN the oracle: the (v3, v4] range
    // contains one add-only commit, so the feed opens exactly seg_d —
    // 1 of the table's 4 ever-written segments — and the
    // `n_files_outside_changed` audit column proves from
    // DataFrame.inputFiles that the PLAN touches no other segment (a
    // snapshot-diff formulation would read 5 segment-reads across the
    // two live sets). This is what a CDC consumer tails at 100 TB:
    // cost proportional to the append, not the table.
    QueryDef("q572_txn_cdf_append_prune",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q572"
        QueriesRound10.buildHistory(s, d, root)
        val (chg, opened) = TxnLog.changeFeed(s, root, 3L, 4L,
          Seq("o_orderkey"))
        // plan audit: every input file of the feed's scan must live
        // under the one segment the suffix commit named
        val outside = chg.inputFiles.count(f => !f.contains("/seg_d/"))
        chg.groupBy("_change_type").agg(
          count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .withColumn("n_segments_opened", lit(opened))
          .withColumn("n_files_outside_changed", lit(outside))
          .orderBy("_change_type")
      },
      Some("""SELECT 'insert' AS _change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(1 AS INTEGER) AS n_segments_opened,
        |  CAST(0 AS INTEGER) AS n_files_outside_changed
        |FROM orders WHERE o_orderkey % 4 = 2""".stripMargin)),

    // ---- q573: copy-on-write delete surfaces as row-level deletes in the CDF ------
    // The rewrite classification carrying a REAL row change: v3
    // rewrites seg_b minus the keys ≡ 1 (mod 8) — a copy-on-write
    // delete, the q542 merge-on-read family's compile-time sibling.
    // The feed anti-joins the rewrite's two sides on the row identity
    // and must surface EXACTLY the deleted keys as deletes (and
    // nothing as inserts), reading only {seg_b, seg_b2} — seg_a is
    // untouched by the commit and must not appear in the plan
    // (inputFiles-audited, oracle-pinned).
    QueryDef("q573_txn_cdf_cow_delete",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q573"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey"),
          col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        def seg(name: String, df: DataFrame): String = {
          val p = s"$root/$name"
          df.coalesce(1).write.parquet(p)
          p
        }
        val a = seg("seg_a", base.where(col("o_orderkey") % 2 === 0))
        require(TxnLog.tryCommit(s, root, 1L, "ingest", Seq(Action("add", a))))
        val b = seg("seg_b", base.where(col("o_orderkey") % 2 === 1))
        require(TxnLog.tryCommit(s, root, 2L, "ingest", Seq(Action("add", b))))
        // copy-on-write delete: rewrite b without the ≡1 (mod 8) keys
        val b2 = seg("seg_b2", s.read.parquet(b)
          .where(col("o_orderkey") % 8 =!= 1))
        require(TxnLog.tryCommit(s, root, 3L, "deleter",
          Seq(Action("remove", b), Action("add", b2))))
        val (chg, opened) = TxnLog.changeFeed(s, root, 2L, 3L,
          Seq("o_orderkey"))
        val outside = chg.inputFiles.count(f => !f.contains("/seg_b"))
        val del = chg.where(col("_change_type") === "delete")
        val ins = chg.where(col("_change_type") === "insert")
        del.agg(count(lit(1)).as("n_deleted"),
            sum("cents").as("deleted_cents"))
          .crossJoin(ins.agg(count(lit(1)).as("n_inserted")))
          .select(col("n_deleted"), col("deleted_cents"), col("n_inserted"),
            lit(opened).as("n_segments_opened"),
            lit(outside).as("n_files_outside_changed"))
      },
      Some("""SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 8 = 1) AS n_deleted,
        |  (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) FROM orders WHERE o_orderkey % 8 = 1)
        |    AS deleted_cents,
        |  CAST(0 AS BIGINT) AS n_inserted,
        |  CAST(2 AS INTEGER) AS n_segments_opened,
        |  CAST(0 AS INTEGER) AS n_files_outside_changed""".stripMargin)),

    // ---- q574: vacuum EXECUTION + the named time-travel failure mode --------------
    // q555 planned; this lane executes: vacuum at horizon 3 publishes
    // the watermark, then physically deletes the two compacted-away
    // segments (verified gone from the filesystem). Afterwards the
    // latest snapshot is bit-identical (vacuum must be invisible to
    // live readers), and a time-travel read BELOW the horizon fails
    // with the protocol's NAMED error — VersionVacuumedException, the
    // retention story told at the resolution layer — never a parquet
    // FileNotFound from deep inside a scan.
    QueryDef("q574_txn_vacuum_execute",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q574"
        QueriesRound10.buildHistory(s, d, root)
        val res = TxnLog.vacuum(s, root, horizon = 3L)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val stillPresent = res.removed
          .count(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
        val namedError =
          try { TxnLog.snapshot(s, root, Some(2L)); 0L }
          catch { case _: TxnLog.VersionVacuumedException => 1L }
        val (snap, _, nSegs) = TxnLog.snapshot(s, root)
        snap.agg(count(lit(1)).as("rows_live"), sum("cents").as("sum_cents"))
          .select(lit(res.removed.size).as("n_removed_segments"),
            lit(stillPresent).as("n_removed_still_present"),
            col("rows_live"), col("sum_cents"),
            lit(nSegs).as("n_live_segments"),
            lit(namedError).as("vacuumed_read_named_error"))
      },
      // vacuum at horizon 3 removes exactly the two pre-compaction
      // segments (keys ≡ 0,1 live on in seg_c); live = keys ≡ 0,1,2
      Some("""SELECT CAST(2 AS INTEGER) AS n_removed_segments,
        |  CAST(0 AS INTEGER) AS n_removed_still_present,
        |  CAST(count(*) AS BIGINT) AS rows_live,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(2 AS INTEGER) AS n_live_segments,
        |  CAST(1 AS BIGINT) AS vacuumed_read_named_error
        |FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)""".stripMargin)),

    // ---- q575: log retention — truncate folded commit bodies ----------------------
    // The third lifecycle deleter beside vacuum (old data) and
    // checkpoints (derived summaries): once a checkpoint has folded a
    // prefix of the log, the commit BODIES below it are pure history —
    // TxnLog.truncateLog deletes them, the reader anchors at the
    // floor's checkpoint (the logFloor rule distinguishes a truncated
    // log from a listing gap by the checkpoint at head-1), and a read
    // below the floor fails with the named LogTruncatedException. The
    // lane runs the WHOLE lifecycle: 8 ingest commits, policy
    // checkpoints every 4, truncate (floor 8, zero .txn left), then a
    // 9th commit (a delete of segment 0) lands on the truncated log
    // and the head read folds checkpoint + suffix correctly — pinned
    // by the oracle's membership predicate.
    QueryDef("q575_txn_log_retention",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q575"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey"),
          col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val segs = (0 to 7).map { i =>
          val p = s"$root/seg_$i"
          base.where(col("o_orderkey") % 8 === i)
            .coalesce(1).write.parquet(p)
          require(TxnLog.tryCommit(s, root, i + 1L, "ingest",
            Seq(Action("add", p))))
          TxnLog.checkpointIfDue(s, root, every = 4)
          p
        }
        val trunc = TxnLog.truncateLog(s, root)
        val retentionError =
          try { TxnLog.snapshot(s, root, Some(3L)); 0L }
          catch { case _: TxnLog.LogTruncatedException => 1L }
        // life after retention: a delete commit lands at v9 and the
        // head read folds checkpoint(8) + suffix(9)
        require(TxnLog.commitWithRetry(s, root, "deleter",
          Seq(Action("remove", segs.head))).version == 9L)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val txnLeft = fs.listStatus(
          new org.apache.hadoop.fs.Path(root, "_txnlog"))
          .map(_.getPath.getName).count(_.endsWith(".txn"))
        val (snap, ver, nSegs) = TxnLog.snapshot(s, root)
        snap.agg(count(lit(1)).as("rows_live"), sum("cents").as("sum_cents"))
          .select(lit(trunc.floor).as("floor"),
            lit(trunc.deletedCommits).as("n_deleted_commits"),
            lit(retentionError).as("below_floor_named_error"),
            lit(txnLeft).as("n_txn_files_left"),
            lit(ver).as("head_version"), lit(nSegs).as("n_live_segments"),
            col("rows_live"), col("sum_cents"))
      },
      Some("""SELECT CAST(8 AS BIGINT) AS floor,
        |  CAST(8 AS INTEGER) AS n_deleted_commits,
        |  CAST(1 AS BIGINT) AS below_floor_named_error,
        |  CAST(1 AS INTEGER) AS n_txn_files_left,
        |  CAST(9 AS BIGINT) AS head_version,
        |  CAST(7 AS INTEGER) AS n_live_segments,
        |  CAST(count(*) AS BIGINT) AS rows_live,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders WHERE o_orderkey % 8 != 0""".stripMargin)),

    // ---- q576: MERGE (copy-on-write update) with stats-pruned rewrite --------------
    // The write-side op every lakehouse grew after CDF: update rows
    // matching a predicate WITHOUT rewriting the table. Planning reads
    // only the LOG (q569's stats-in-manifest: the update predicate
    // [150k$, 180k$) intersects exactly one band segment's [min, max] —
    // 3 of 4 segments pruned without a file listing); execution
    // rewrites that one segment copy-on-write and commits remove+add
    // with REFRESHED stats; audit derives the row-level changes from
    // the commit via the CDF's update classification (update_pre /
    // update_post pairs with identity preserved), so the oracle pins
    // the updated-row count, the exact cents delta, and that the
    // final table equals predicate-applied original — end to end from
    // one hash gate.
    QueryDef("q576_txn_merge_update",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q576"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey"),
          col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .withColumn("band", expr("least(CAST(cents div 7500000 AS INT), 3)"))
        val stats = TxnLog.segmentStats(base, "band", Seq("cents"))
        (0 to 3).foreach { bnd =>
          val bandStats = stats.getOrElse(bnd, throw new IllegalStateException(
            s"q576: price band $bnd is empty at this scale factor"))
          val p = s"$root/seg_band$bnd"
          base.where(col("band") === bnd).drop("band")
            .coalesce(1).write.parquet(p)
          require(TxnLog.tryCommit(s, root, bnd + 1L, "ingest",
            Seq(Action("add", p, bandStats))))
        }
        // MERGE: cents in [15.0M, 18.0M) and o_orderkey % 10 = 3 get
        // +555 cents. Touched segments from the LOG alone.
        val (lo, hi, delta) = (15000000L, 18000000L, 555L)
        val live = TxnLog.liveActions(TxnLog.commits(s, root))
        val touched = live.filter(_.stats.get("cents")
          .exists { case (mn, mx) => mn < hi && mx >= lo })
        require(touched.size == 1, s"expected 1 touched band segment")
        val old = s.read.parquet(touched.map(_.path): _*)
        val cond = col("cents") >= lo && col("cents") < hi &&
          col("o_orderkey") % 10 === 3
        val merged = old.withColumn("cents",
          when(cond, col("cents") + delta).otherwise(col("cents")))
        val newPath = s"$root/seg_band_merged"
        merged.coalesce(1).write.parquet(newPath)
        // refreshed stats: the writer knows its own min/max (the
        // documented driver-side commit-metadata pull)
        val mm = merged.agg(min("cents"), max("cents")).head
        val rc = TxnLog.commitWithRetry(s, root, "merger",
          touched.map(a => Action("remove", a.path)) :+
            Action("add", newPath, Map("cents" -> (mm.getLong(0), mm.getLong(1)))))
        // audit: row-level changes derived from the rewrite commit
        val (chg, _) = TxnLog.changeFeed(s, root, 4L, rc.version,
          Seq("o_orderkey"))
        val pre = chg.where(col("_change_type") === "update_pre")
          .agg(count(lit(1)).as("n_pre"), sum("cents").as("c_pre"))
        val post = chg.where(col("_change_type") === "update_post")
          .agg(count(lit(1)).as("n_post"), sum("cents").as("c_post"))
        val other = chg.where(
          !col("_change_type").isin("update_pre", "update_post"))
          .agg(count(lit(1)).as("n_other"))
        val (snap, _, nSegs) = TxnLog.snapshot(s, root)
        post.crossJoin(pre).crossJoin(other)
          .crossJoin(snap.agg(count(lit(1)).as("rows_head"),
            sum("cents").as("sum_cents_head")))
          .select(lit(touched.size).as("n_touched_segments"),
            lit(live.size - touched.size).as("n_pruned_from_log"),
            col("n_post").as("n_updated"),
            (coalesce(col("c_post"), lit(0L)) -
              coalesce(col("c_pre"), lit(0L))).as("cents_delta"),
            col("n_other").as("n_non_update_changes"),
            lit(nSegs).as("n_live_segments"),
            col("rows_head"), col("sum_cents_head"))
      },
      Some("""WITH o AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |upd AS (SELECT count(*) AS n FROM o
        |  WHERE cents >= 15000000 AND cents < 18000000
        |    AND o_orderkey % 10 = 3)
        |SELECT CAST(1 AS INTEGER) AS n_touched_segments,
        |  CAST(3 AS INTEGER) AS n_pruned_from_log,
        |  CAST(upd.n AS BIGINT) AS n_updated,
        |  CAST(upd.n * 555 AS BIGINT) AS cents_delta,
        |  CAST(0 AS BIGINT) AS n_non_update_changes,
        |  CAST(4 AS INTEGER) AS n_live_segments,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o) AS rows_head,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM o) + upd.n * 555
        |    AS sum_cents_head
        |FROM upd""".stripMargin)),

    // ---- q577: OPTIMIZE — small-file compaction policy, invisible by CDF -----------
    // The operational sibling of q570's compaction commit: a PLANNER
    // (TxnLog.compactionPlan — listing-only, relative threshold:
    // "small" = under half this table's largest live segment, so the
    // plan is scale-factor-stable) bins the 6 small ingest segments
    // into one rewrite commit; execution merges and commits them via
    // the OCC path (a concurrent writer on a binned segment would
    // abort the compaction, not lose data). Invisibility is PROVEN,
    // not asserted: the CDF across the compaction commit nets to zero
    // row changes (in-frame count, oracle-pinned), and the head
    // aggregate equals the full table.
    QueryDef("q577_txn_auto_compaction",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q577"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey"),
          col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val big = s"$root/seg_big"
        base.where(col("o_orderkey") % 32 >= 6)
          .coalesce(1).write.parquet(big)
        require(TxnLog.tryCommit(s, root, 1L, "ingest",
          Seq(Action("add", big))))
        (0 to 5).foreach { i =>
          val p = s"$root/seg_small$i"
          base.where(col("o_orderkey") % 32 === i)
            .coalesce(1).write.parquet(p)
          require(TxnLog.tryCommit(s, root, i + 2L, "ingest",
            Seq(Action("add", p))))
        }
        val preHead = TxnLog.currentVersion(s, root) // 7
        val plan = TxnLog.compactionPlan(s, root)
        plan.zipWithIndex.foreach { case (bin, k) =>
          val merged = s"$root/seg_merged$k"
          s.read.parquet(bin: _*).coalesce(1).write.parquet(merged)
          TxnLog.commitWithRetry(s, root, "optimizer",
            bin.map(Action("remove", _)) :+ Action("add", merged))
        }
        val head = TxnLog.currentVersion(s, root)
        val (chg, _) = TxnLog.changeFeed(s, root, preHead, head,
          Seq("o_orderkey"))
        val (snap, _, nSegs) = TxnLog.snapshot(s, root)
        snap.agg(count(lit(1)).as("rows_live"), sum("cents").as("sum_cents"))
          .crossJoin(chg.agg(count(lit(1)).as("n_cdf_changes")))
          .select(lit(plan.size).as("n_bins"),
            lit(plan.map(_.size).sum).as("n_compacted_segments"),
            col("n_cdf_changes"), lit(nSegs).as("n_live_segments"),
            col("rows_live"), col("sum_cents"))
      },
      Some("""SELECT CAST(1 AS INTEGER) AS n_bins,
        |  CAST(6 AS INTEGER) AS n_compacted_segments,
        |  CAST(0 AS BIGINT) AS n_cdf_changes,
        |  CAST(2 AS INTEGER) AS n_live_segments,
        |  CAST(count(*) AS BIGINT) AS rows_live,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders""".stripMargin)),

    // ---- q578: STREAMING manifest tailing (lane #35) -------------------------------
    // The read-side twin of q552's streaming writer: a CDC consumer
    // tails the commit LOG as a file stream (a lakehouse manifest IS a
    // directory of tiny text files — this is how streaming ingestion
    // from a table format discovers work). The log's action lines
    // arrive as a genuine text readStream (version recovered from
    // input_file_name, the commit protocol's name-carries-version
    // design paying off in the streaming plan); the fold — last action
    // per path wins, adds survive — runs on the streamed frame and
    // must agree with the batch resolution EXACTLY (the in-frame
    // symmetric-difference count is oracle-pinned to zero), on a
    // history that exercises all three commit shapes: appends, a
    // compaction, and a delete.
    QueryDef("q578_streaming_manifest_tail",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q578"
        val (_, _, _, dd) = QueriesRound10.buildHistory(s, d, root)
        // v5: a delete commit retires seg_d — live set becomes {seg_c}
        require(TxnLog.commitWithRetry(s, root, "deleter",
          Seq(Action("remove", dd))).version == 5L)
        val acts = graft.streaming.Sessions.runTextStreamToBatch(s,
          s"$root/_txnlog",
          transform = st => st
            .withColumn("version", regexp_extract(input_file_name(),
              "(\\d{20})\\.txn", 1).cast("long"))
            .where(col("value").rlike("^(add|remove)\t"))
            .select(col("version"),
              split(col("value"), "\t").getItem(0).as("kind"),
              split(col("value"), "\t").getItem(1).as("path")),
          globFilter = Some("*.txn"))
        // fold on the STREAMED frame: last action per path wins
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("path").orderBy(col("version").desc)
        val liveStream = acts.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1 && col("kind") === "add")
          .select("path")
        // batch resolution of the same log (the reference fold)
        val liveBatch = TxnLog.liveFiles(TxnLog.commits(s, root))
        val liveBatchDf = s.createDataFrame(
          liveBatch.map(Tuple1(_))).toDF("path")
        val mismatch = liveStream.exceptAll(liveBatchDf)
          .unionAll(liveBatchDf.exceptAll(liveStream))
          .agg(count(lit(1)).as("n_fold_mismatch"))
        val audit = acts.agg(count(lit(1)).as("n_actions_streamed"),
          countDistinct(col("version")).as("n_commits_streamed"))
        val data = s.read.parquet(liveBatch: _*)
          .agg(count(lit(1)).as("rows_live"), sum("cents").as("sum_cents"))
        audit.crossJoin(mismatch)
          .crossJoin(liveStream.agg(count(lit(1)).as("n_live_segments")))
          .crossJoin(data)
      },
      // 5 commits / 7 action lines (2 adds, compaction remove+remove+
      // add, add, remove); live after v5 = {seg_c} = keys ≡ 0,1 (mod 4)
      Some("""SELECT CAST(7 AS BIGINT) AS n_actions_streamed,
        |  CAST(5 AS BIGINT) AS n_commits_streamed,
        |  CAST(0 AS BIGINT) AS n_fold_mismatch,
        |  CAST(1 AS BIGINT) AS n_live_segments,
        |  CAST(count(*) AS BIGINT) AS rows_live,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders WHERE o_orderkey % 4 IN (0, 1)""".stripMargin)),

    // ---- q579: shallow clone — zero-copy table fork through the log ----------------
    // CLONE TABLE without copying a byte: the clone's v1 commit ADDS
    // the source's live segment paths (segments are immutable, so two
    // logs can safely reference one file — the public shallow-clone
    // design). The lane pins the three contract points: the clone
    // reads identically to the source at clone time; a write to the
    // clone (an appended segment) is invisible to the source (heads
    // diverge 2 vs 4); and the shared bytes are audited (2 of the
    // clone's 3 live segments live under the SOURCE's directory).
    QueryDef("q579_txn_shallow_clone",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q579"
        reset(s, root)
        val src = s"$root/src"
        val cln = s"$root/clone"
        QueriesRound10.buildHistory(s, d, src)
        // zero-copy fork: one commit referencing the source's live set
        val srcLive = TxnLog.liveFiles(TxnLog.commits(s, src))
        require(TxnLog.tryCommit(s, cln, 1L, "cloner",
          srcLive.map(TxnLog.Action("add", _))))
        // the clone evolves independently: append keys ≡ 3 (mod 4)
        val e = s"$cln/seg_e"
        orders(s, d).select(col("o_orderkey"),
            col("o_orderstatus").as("status"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .where(col("o_orderkey") % 4 === 3)
          .coalesce(1).write.parquet(e)
        require(TxnLog.commitWithRetry(s, cln, "writer",
          Seq(Action("add", e))).version == 2L)
        val (cSnap, cVer, cSegs) = TxnLog.snapshot(s, cln)
        val (sSnap, sVer, sSegs) = TxnLog.snapshot(s, src)
        val shared = TxnLog.liveFiles(TxnLog.commits(s, cln))
          .count(_.startsWith(s"$src/"))
        cSnap.agg(count(lit(1)).as("clone_rows"),
            sum("cents").as("clone_cents"))
          .crossJoin(sSnap.agg(count(lit(1)).as("src_rows")))
          .select(col("clone_rows"), col("clone_cents"), col("src_rows"),
            lit(shared).as("n_shared_segments"),
            lit(cSegs).as("clone_segments"), lit(sSegs).as("src_segments"),
            lit(cVer).as("clone_head"), lit(sVer).as("src_head"))
      },
      // clone = src live (keys ≡ 0,1,2) + its own append (≡ 3) = ALL
      // orders; src stays at keys ≡ 0,1,2 and head 4
      Some("""SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS clone_rows,
        |  (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) FROM orders) AS clone_cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 4 IN (0, 1, 2)) AS src_rows,
        |  CAST(2 AS INTEGER) AS n_shared_segments,
        |  CAST(3 AS INTEGER) AS clone_segments,
        |  CAST(2 AS INTEGER) AS src_segments,
        |  CAST(2 AS BIGINT) AS clone_head,
        |  CAST(4 AS BIGINT) AS src_head""".stripMargin)),

    // ---- q580: hard purge — right-to-be-forgotten against time travel --------------
    // The operational truth every lakehouse documents: DELETE is a
    // logical operation (old segments still hold the rows for time
    // travel) — a GDPR-grade purge is copy-on-write delete THEN vacuum
    // to the deleting version. The lane deletes the keys ≡ 7 (mod
    // 1000) from every segment that contains them (stats CANNOT prune
    // a scattered key — all 4 band segments rewrite, the honest
    // opposite of q576), vacuums at the delete version, and pins all
    // three erasure guarantees: the purged rows are gone from the
    // head, the pre-delete version is UNREADABLE (named vacuum error,
    // 1 in the output), and the pre-delete segment FILES are
    // physically deleted (0 still present).
    QueryDef("q580_txn_hard_purge",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q580"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey"),
          col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .withColumn("band", expr("least(CAST(cents div 7500000 AS INT), 3)"))
        val stats = TxnLog.segmentStats(base, "band", Seq("cents"))
        (0 to 3).foreach { bnd =>
          val bandStats = stats.getOrElse(bnd, throw new IllegalStateException(
            s"q580: price band $bnd is empty at this scale factor"))
          val p = s"$root/seg_band$bnd"
          base.where(col("band") === bnd).drop("band")
            .coalesce(1).write.parquet(p)
          require(TxnLog.tryCommit(s, root, bnd + 1L, "ingest",
            Seq(Action("add", p, bandStats))))
        }
        // copy-on-write delete of the purged identity across EVERY
        // segment (key-scattered — stats cannot prune), ONE commit
        val live = TxnLog.liveActions(TxnLog.commits(s, root))
        val purgeCond = col("o_orderkey") % 1000 === 7
        val rewrites = live.zipWithIndex.map { case (a, i) =>
          val np = s"$root/seg_purged$i"
          s.read.parquet(a.path).where(!purgeCond)
            .coalesce(1).write.parquet(np)
          (a.path, np)
        }
        val rc = TxnLog.commitWithRetry(s, root, "purger",
          rewrites.map(r => Action("remove", r._1)) ++
            rewrites.map(r => Action("add", r._2)))
        // the purge is only REAL after vacuum at the deleting version
        val vac = TxnLog.vacuum(s, root, horizon = rc.version)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val stillPresent = vac.removed
          .count(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
        val preDeleteReadError =
          try { TxnLog.snapshot(s, root, Some(rc.version - 1)); 0L }
          catch { case _: TxnLog.VersionVacuumedException => 1L }
        val (snap, _, _) = TxnLog.snapshot(s, root)
        snap.agg(count(lit(1)).as("rows_after"),
            sum(purgeCond.cast("long")).as("purged_still_visible"),
            sum("cents").as("sum_cents_after"))
          .select(col("rows_after"), col("purged_still_visible"),
            col("sum_cents_after"),
            lit(vac.removed.size).as("n_files_purged"),
            lit(stillPresent).as("n_purged_files_still_present"),
            lit(preDeleteReadError).as("pre_delete_read_named_error"))
      },
      Some("""SELECT
        |  CAST(count(*) AS BIGINT) AS rows_after,
        |  CAST(0 AS BIGINT) AS purged_still_visible,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents_after,
        |  CAST(4 AS INTEGER) AS n_files_purged,
        |  CAST(0 AS INTEGER) AS n_purged_files_still_present,
        |  CAST(1 AS BIGINT) AS pre_delete_read_named_error
        |FROM orders WHERE o_orderkey % 1000 != 7""".stripMargin))
  )
}
