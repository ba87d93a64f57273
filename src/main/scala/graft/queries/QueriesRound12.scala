package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup, TxnLog}
import graft.ops.TxnLog.Action
import org.apache.spark.sql.functions._

/** Round-12 batch: the suffix-array family composed END TO END (the
  * exact Lee et al. strike-and-reassemble on top of the q581/q582
  * index), and the round's other new lanes.
  */
object QueriesRound12 {

  private val MaxLen = 64 // per-doc prefix cap (the q581/q582 bound)
  private val MinRepeat = 16 // strike spans repeated >= 16 chars

  private def reset(s: org.apache.spark.sql.SparkSession,
                    root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q584: exact substring dedup — SA → LCP → strike → reassembly ---------------
    // The payoff lane of the suffix-array family: q581 builds the
    // index, q582 reads the repeated-substring inventory off it; this
    // lane runs the EXACT Lee et al. pipeline — strike every span of
    // >= 16 chars that occurs more than once in the corpus (found via
    // SA-adjacent LCPs + shared-rank exact tails, the standard SA
    // identity that repeated prefixes are contiguous in suffix order),
    // then reassemble each doc's remainder in order. The n-gram-window
    // (q170/q172) and fixed-grid (q180) lanes approximate this; the
    // oracle replays the same SA → LCP → cover → rebuild recursion as
    // chained CTEs, and the hash gate carries the REBUILT TEXT itself
    // (any mis-ranked suffix, off-by-one cover bound, or
    // wrong-order reassembly shifts some doc's kept_text). Every stage
    // is O(positions) rows on (doc, pos) or rank keys; the cover
    // explode is bounded by the 64-char cap.
    QueryDef("q584_sa_strike_reassemble",
      (s, d) => Dedup.saStrikeReassemble(documents(s, d), "doc_id",
          "text", MaxLen, MinRepeat)
        .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id, substr(text, 1, $MaxLen) AS t
        |  FROM documents WHERE length(substr(text, 1, $MaxLen)) > 0),
        |e AS (SELECT doc_id, t,
        |    unnest(generate_series(1, length(t))) AS j FROM d),
        |s AS (SELECT doc_id, CAST(j AS BIGINT) AS pos, substr(t, j) AS sfx,
        |    CAST(length(t) - j + 1 AS BIGINT) AS slen FROM e),
        |rk AS (SELECT doc_id, pos, sfx, slen,
        |    dense_rank() OVER (ORDER BY sfx) AS r FROM s),
        |reps AS (SELECT DISTINCT r, sfx FROM rk),
        |lcps AS (SELECT a.r AS r, list_max(list_transform(
        |    generate_series(1, $MaxLen),
        |    k -> CASE WHEN substr(a.sfx, 1, k) = substr(b.sfx, 1, k)
        |         THEN k ELSE 0 END)) AS lcp
        |  FROM reps a JOIN reps b ON b.r = a.r + 1),
        |dc AS (SELECT r, count(*) AS c FROM rk GROUP BY r),
        |rep AS (SELECT rk.doc_id, rk.pos,
        |    GREATEST(coalesce(ln.lcp, 0), coalesce(lp.lcp, 0),
        |      CASE WHEN dc.c > 1 THEN rk.slen ELSE 0 END) AS replen
        |  FROM rk JOIN dc USING (r)
        |  LEFT JOIN lcps ln ON ln.r = rk.r
        |  LEFT JOIN lcps lp ON lp.r = rk.r - 1),
        |cov AS (SELECT DISTINCT doc_id,
        |    pos + unnest(generate_series(0, replen - 1)) AS j
        |  FROM rep WHERE replen >= $MinRepeat),
        |ch AS (SELECT doc_id, CAST(j AS BIGINT) AS j, substr(t, j, 1) AS c
        |  FROM e),
        |kept AS (SELECT ch.doc_id, ch.j, ch.c FROM ch
        |  LEFT JOIN cov ON cov.doc_id = ch.doc_id AND cov.j = ch.j
        |  WHERE cov.doc_id IS NULL),
        |agg AS (SELECT doc_id, string_agg(c, '' ORDER BY j) AS kept_text,
        |    CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(agg.kept_text, '') AS kept_text,
        |  coalesce(agg.n_kept, 0) AS n_kept,
        |  CAST(length(d.t) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_struck
        |FROM d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    // ---- q585: WebDataset sample assembly — tar → multimodal sample table -----------
    // The step after q583's shard LISTING: training ingest needs the
    // SAMPLES. Each shard carries two samples in the WebDataset
    // convention (`<key>.txt` + `<key>.cls` + `<key>.wav` → one
    // training row); the walk's per-entry payload OFFSETS make
    // extraction a builtin binary substring (codegen slice — the
    // native tar expression never re-walks), the wav payload routes
    // through the REAL RIFF parser, and completeness is enforced as
    // data: a sample missing a part (every 7th shard omits sample b's
    // wav) is quarantined, not dropped silently and never a task
    // failure; truncated shards (every 13th) quarantine wholesale at
    // the walk. The oracle mirrors the synthesis arithmetic — label
    // sums, text lengths (digit-width-aware), wav sample counts — so
    // the hash gate covers grouping, extraction, and routing at once.
    QueryDef("q585_webdataset_assembly",
      (s, d) => {
        val mk = udf { (id: Long) =>
          def txt(smp: String) =
            s"doc $id sample $smp".getBytes("UTF-8")
          def cls(v: Long) = Array(('0' + v.toInt).toByte)
          val a = Seq(
            (s"${id}a.txt", txt("a")),
            (s"${id}a.cls", cls(id % 10)),
            (s"${id}a.wav", graft.ops.Multimodal.makeWav(8000, 1,
              new Array[Short]((id % 50).toInt + 10))))
          val b = Seq(
            (s"${id}b.txt", txt("b")),
            (s"${id}b.cls", cls((id + 3) % 10))) ++
            (if (id % 7 != 0) Seq((s"${id}b.wav",
              graft.ops.Multimodal.makeWav(8000, 1,
                new Array[Short]((id % 31).toInt + 5))))
             else Seq.empty)
          val full = graft.ops.Multimodal.makeTar(a ++ b)
          if (id % 13 == 0) full.take(600) else full
        }
        val walked = documents(s, d)
          .select(col("doc_id"), mk(col("doc_id")).as("b"))
          .withColumn("w", graft.ops.Multimodal.tarWalk(col("b")))
        val audit = walked.agg(count(lit(1)).as("n_shards"),
          sum((!col("w.valid")).cast("long")).as("n_bad_shards"))
        val entries = walked.where(col("w.valid"))
          .select(col("doc_id"), col("b"), explode(col("w.entries")).as("e"))
          .select(col("doc_id"),
            expr("substring_index(e.name, '.', 1)").as("k"),
            expr("substring_index(e.name, '.', -1)").as("ext"),
            expr("substring(b, e.offset + 1, e.size)").as("payload"))
        val samples = entries.groupBy("doc_id", "k").agg(
          first(when(col("ext") === "txt", col("payload")), ignoreNulls = true)
            .as("txt"),
          first(when(col("ext") === "cls", col("payload")), ignoreNulls = true)
            .as("cls"),
          first(when(col("ext") === "wav", col("payload")), ignoreNulls = true)
            .as("wav"))
        val complete = samples.where(col("txt").isNotNull &&
            col("cls").isNotNull && col("wav").isNotNull)
          .withColumn("wm", graft.ops.Multimodal.wavMetadata(col("wav")))
          .select(
            col("cls").cast("string").cast("int").as("label"),
            length(col("txt").cast("string")).cast("long").as("tc"),
            col("wm.n_samples").as("ws"),
            col("wm.valid").cast("long").as("wok"))
        val quarantined = samples.where(col("txt").isNull ||
          col("cls").isNull || col("wav").isNull)
        complete.agg(count(lit(1)).as("n_complete"),
            sum("label").as("sum_label"), sum("tc").as("sum_text_chars"),
            sum("ws").as("sum_wav_samples"), sum("wok").as("n_wav_valid"))
          .crossJoin(quarantined.agg(count(lit(1)).as("n_incomplete")))
          .crossJoin(audit)
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents),
        |v AS (SELECT doc_id FROM ids WHERE doc_id % 13 != 0),
        |comp AS (
        |  SELECT doc_id, doc_id % 10 AS label,
        |    13 + length(CAST(doc_id AS VARCHAR)) AS tc,
        |    doc_id % 50 + 10 AS ws FROM v
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 3) % 10,
        |    13 + length(CAST(doc_id AS VARCHAR)),
        |    doc_id % 31 + 5 FROM v WHERE doc_id % 7 != 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_complete,
        |  CAST(sum(label) AS BIGINT) AS sum_label,
        |  CAST(sum(tc) AS BIGINT) AS sum_text_chars,
        |  CAST(sum(ws) AS BIGINT) AS sum_wav_samples,
        |  CAST(count(*) AS BIGINT) AS n_wav_valid,
        |  (SELECT CAST(count(*) AS BIGINT) FROM v WHERE doc_id % 7 = 0)
        |    AS n_incomplete,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ids) AS n_shards,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ids WHERE doc_id % 13 = 0)
        |    AS n_bad_shards
        |FROM comp""".stripMargin)),

    // ---- q586: merge-on-read delete ≡ copy-on-write, with zero rewrites --------------
    // The deletion-vector design (q542 proved the SEMANTICS standalone;
    // the log now speaks it): two identical 2-segment tables take the
    // same DELETE — one copy-on-write (rewrite the hit segment), one
    // merge-on-read (commit a dv sidecar, rewrite NOTHING). Pins: the
    // readers agree row-for-row (symmetric exceptAll = 0); the MoR
    // table's live segment PATHS are unchanged (0 rewritten) and only
    // the hit segment carries a sidecar (per-segment targeting — the
    // even-keys segment matched nothing and got no action); the MoR
    // read opens base segments + sidecar (3 files vs CoW's 2);
    // and both CDFs emit the SAME row-level deletes (dv delta ≡
    // rewrite diff). At 100 TB this is the write-amplification story:
    // a point delete costs O(deleted positions), not O(segment rewrite).
    QueryDef("q586_txn_merge_on_read",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q586"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey"),
          col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        def seg(t: String, name: String, df: org.apache.spark.sql.DataFrame)
            : String = {
          val p = s"$t/$name"
          df.coalesce(1).write.parquet(p)
          p
        }
        def build(t: String): (String, String) = {
          val a = seg(t, "seg_a", base.where(col("o_orderkey") % 2 === 0))
          require(TxnLog.tryCommit(s, t, 1L, "ingest", Seq(Action("add", a))))
          val b = seg(t, "seg_b", base.where(col("o_orderkey") % 2 === 1))
          require(TxnLog.tryCommit(s, t, 2L, "ingest", Seq(Action("add", b))))
          (a, b)
        }
        val cow = s"$root/cow"
        val mor = s"$root/mor"
        val (_, cb) = build(cow)
        val (ma, mb) = build(mor)
        // the same delete, two execution strategies
        val cb2 = seg(cow, "seg_b2",
          s.read.parquet(cb).where(col("o_orderkey") % 8 =!= 1))
        require(TxnLog.tryCommit(s, cow, 3L, "deleter",
          Seq(Action("remove", cb), Action("add", cb2))))
        require(TxnLog.deleteWhereMoR(s, mor, "deleter",
          col("o_orderkey") % 8 === 1).exists(_.version == 3L))
        // reader equivalence + the zero-rewrite plan audit
        val (snapCow, _, nSegsCow) = TxnLog.snapshot(s, cow)
        val (snapMor, _, nSegsMor) = TxnLog.snapshot(s, mor)
        val readerMismatch = snapCow.exceptAll(snapMor)
          .unionAll(snapMor.exceptAll(snapCow))
          .agg(count(lit(1)).as("n_reader_mismatch"))
        val morState = TxnLog.liveState(TxnLog.commits(s, mor))
        val nRewritten = morState.map(_._1).count(p => p != ma && p != mb)
        val nSidecars = morState.count(_._2.nonEmpty)
        val dvOnB = morState.toMap.apply(mb).nonEmpty
        // the files the MoR read opens: the scan's parquet files plus
        // the active sidecars its reader loaded on the driver
        val morInputs = snapMor.inputFiles.length + nSidecars
        // CDF equivalence: dv delta ≡ rewrite diff, row for row
        val (cdfCow, _) = TxnLog.changeFeed(s, cow, 2L, 3L, Seq("o_orderkey"))
        val (cdfMor, _) = TxnLog.changeFeed(s, mor, 2L, 3L, Seq("o_orderkey"))
        val cdfMismatch = cdfCow.exceptAll(cdfMor)
          .unionAll(cdfMor.exceptAll(cdfCow))
          .agg(count(lit(1)).as("n_cdf_mismatch"))
        snapMor.agg(count(lit(1)).as("rows_live"),
            sum("cents").as("sum_cents"))
          .crossJoin(cdfMor.where(col("_change_type") === "delete")
            .agg(count(lit(1)).as("n_deleted")))
          .crossJoin(readerMismatch)
          .crossJoin(cdfMismatch)
          .select(col("rows_live"), col("sum_cents"), col("n_deleted"),
            col("n_reader_mismatch"), col("n_cdf_mismatch"),
            lit(nSegsCow).as("cow_segments"), lit(nSegsMor).as("mor_segments"),
            lit(nRewritten).as("n_mor_rewritten"),
            lit(nSidecars).as("n_dv_sidecars"),
            lit(dvOnB).cast("int").as("dv_on_hit_segment"),
            lit(morInputs).as("n_mor_input_files"))
      },
      Some("""SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 8 != 1) AS rows_live,
        |  (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) FROM orders WHERE o_orderkey % 8 != 1)
        |    AS sum_cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 8 = 1) AS n_deleted,
        |  CAST(0 AS BIGINT) AS n_reader_mismatch,
        |  CAST(0 AS BIGINT) AS n_cdf_mismatch,
        |  CAST(2 AS INTEGER) AS cow_segments,
        |  CAST(2 AS INTEGER) AS mor_segments,
        |  CAST(0 AS INTEGER) AS n_mor_rewritten,
        |  CAST(1 AS INTEGER) AS n_dv_sidecars,
        |  CAST(1 AS INTEGER) AS dv_on_hit_segment,
        |  CAST(3 AS INTEGER) AS n_mor_input_files""".stripMargin)),

    // ---- q587: STREAMING change-data-feed (lane #36) ----------------------------------
    // The consumer-facing twin of q578's manifest tail: q578 streams
    // the live-set FOLD; this lane streams the CHANGES — a readStream
    // over the commit manifest emits q571's row-level feed
    // incrementally as commits land (one micro-batch per commit file,
    // contiguity-buffered so version order survives mod-time arrival
    // order, dv state threaded across micro-batches). The history
    // exercises every commit shape the feed classifies: two appends, a
    // compaction (must net to ZERO streamed changes), and a
    // merge-on-read delete (the dv DELTA, q586's write path). Pinned
    // against the batch changeFeed over the same range — the in-frame
    // symmetric difference is an oracle column, and the per-shape
    // counts are synthesis arithmetic.
    QueryDef("q587_streaming_cdf",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q587"
        val (_, _, _, dd) = QueriesRound10.buildHistory(s, d, root)
        // v5: MoR delete of keys ≡ 2 (mod 8) — hits seg_d only
        require(TxnLog.deleteWhereMoR(s, root, "deleter",
          col("o_orderkey") % 8 === 2).exists(_.version == 5L))
        require(dd.nonEmpty) // seg_d exists (the dv's base segment)
        val sink = s"$root/_cdf_sink"
        val streamed = graft.streaming.Sessions.streamChangeFeedToBatch(
          s, root, fromV = 1L, idCols = Seq("o_orderkey"), outDir = sink)
        val (batch, _) = TxnLog.changeFeed(s, root, 1L, 5L,
          Seq("o_orderkey"))
        val mismatch = streamed.exceptAll(batch)
          .unionAll(batch.exceptAll(streamed))
          .agg(count(lit(1)).as("n_stream_batch_mismatch"))
        streamed.agg(
            sum((col("_change_type") === "insert").cast("long"))
              .as("n_inserts"),
            sum((col("_change_type") === "delete").cast("long"))
              .as("n_deletes"),
            sum(when(col("_change_type") === "delete", col("cents")))
              .as("deleted_cents"),
            countDistinct(col("_commit_version"))
              .as("n_commits_with_changes"))
          .crossJoin(mismatch)
      },
      // v2 inserts keys ≡ 1 (mod 4); v3 compaction nets zero; v4
      // inserts ≡ 2 (mod 4); v5 dv-deletes ≡ 2 (mod 8) → commits with
      // changes = {2, 4, 5}
      Some("""SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 4 IN (1, 2)) AS n_inserts,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 8 = 2) AS n_deletes,
        |  (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) FROM orders WHERE o_orderkey % 8 = 2)
        |    AS deleted_cents,
        |  CAST(3 AS BIGINT) AS n_commits_with_changes,
        |  CAST(0 AS BIGINT) AS n_stream_batch_mismatch""".stripMargin)),

    // ---- q588: OPTIMIZE a merge-on-read table — dv-aware compaction ------------------
    // The q577 × q586 interaction: compacting a DV'd segment from its
    // RAW bytes would resurrect every MoR-deleted row (the sidecar's
    // position filter lives at read time, and a rewrite that forgets it
    // bakes the zombies in). TxnLog.compactBin reads each member's
    // VISIBLE rows; the lane pins the whole contract — the snapshot is
    // bit-identical across the rewrite (rows + cents), the compaction
    // commit nets to ZERO CDF changes (the q577 invisibility proof,
    // now over a dv'd member: a raw-read rewrite would surface the
    // deleted rows as phantom deletes), the merged table drops to 2
    // segments with NO active sidecar (the MoR read tax retired), and
    // vacuum afterwards reaps the dead sidecar with its segment.
    QueryDef("q588_txn_optimize_mor",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q588"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey"),
          col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val big = s"$root/seg_big"
        base.where(col("o_orderkey") % 32 >= 4)
          .coalesce(1).write.parquet(big)
        require(TxnLog.tryCommit(s, root, 1L, "ingest",
          Seq(Action("add", big))))
        (0 to 3).foreach { i =>
          val p = s"$root/seg_small$i"
          base.where(col("o_orderkey") % 32 === i)
            .coalesce(1).write.parquet(p)
          require(TxnLog.tryCommit(s, root, i + 2L, "ingest",
            Seq(Action("add", p))))
        }
        // MoR delete hits ONE small segment (keys ≡ 2 mod 32, ≡ 0 mod 3)
        require(TxnLog.deleteWhereMoR(s, root, "deleter",
          col("o_orderkey") % 32 === 2 && col("o_orderkey") % 3 === 0)
          .exists(_.version == 6L))
        val dvPath = TxnLog.liveState(TxnLog.commits(s, root))
          .collectFirst { case (_, Some(dv)) => dv }.get
        val preHead = TxnLog.currentVersion(s, root)
        val (preSnap, _, _) = TxnLog.snapshot(s, root)
        // materialize NOW: the compaction + vacuum below delete the
        // member files this lazy plan would otherwise scan at the end
        val pre = preSnap.agg(count(lit(1)).as("rows_live"),
          sum("cents").as("sum_cents")).localCheckpoint()
        val plan = TxnLog.compactionPlan(s, root)
        plan.zipWithIndex.foreach { case (bin, k) =>
          TxnLog.compactBin(s, root, "optimizer", bin, s"$root/seg_merged$k")
        }
        val head = TxnLog.currentVersion(s, root)
        val (chg, _) = TxnLog.changeFeed(s, root, preHead, head,
          Seq("o_orderkey"))
        // materialize the CDF verdict NOW too: the feed's plan reads
        // the removed members the vacuum below physically deletes
        val cdfCount = chg.agg(count(lit(1)).as("n_cdf_changes"))
          .localCheckpoint()
        val state = TxnLog.liveState(TxnLog.commits(s, root))
        val vac = TxnLog.vacuum(s, root, horizon = head)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val (postSnap, _, _) = TxnLog.snapshot(s, root)
        postSnap.agg(count(lit(1)).as("rows_live"),
            sum("cents").as("sum_cents"))
          .unionAll(pre).distinct() // pre ≡ post collapses to ONE row
          .crossJoin(cdfCount)
          .select(col("rows_live"), col("sum_cents"), col("n_cdf_changes"),
            lit(plan.size).as("n_bins"),
            lit(state.size).as("n_live_segments"),
            lit(state.count(_._2.nonEmpty)).as("n_active_sidecars"),
            lit(vac.removed.contains(dvPath)).cast("int")
              .as("dv_vacuumed"),
            lit(!fs.exists(new org.apache.hadoop.fs.Path(dvPath)))
              .cast("int").as("dv_gone"))
      },
      // live = all keys except the MoR-deleted (≡2 mod 32 AND ≡0 mod 3)
      Some("""SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE NOT (o_orderkey % 32 = 2 AND o_orderkey % 3 = 0))
        |    AS rows_live,
        |  (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) FROM orders
        |     WHERE NOT (o_orderkey % 32 = 2 AND o_orderkey % 3 = 0))
        |    AS sum_cents,
        |  CAST(0 AS BIGINT) AS n_cdf_changes,
        |  CAST(1 AS INTEGER) AS n_bins,
        |  CAST(2 AS INTEGER) AS n_live_segments,
        |  CAST(0 AS INTEGER) AS n_active_sidecars,
        |  CAST(1 AS INTEGER) AS dv_vacuumed,
        |  CAST(1 AS INTEGER) AS dv_gone""".stripMargin)),

    // ---- q589: timestamp time travel — AS OF an instant, not a version ---------------
    // In-commit timestamps (the writer's clock, frozen in the commit
    // body — never the store's mutable modtime) + the standard
    // monotonicity adjustment: v3's writer has a LAGGING clock and
    // claims t=1500 after v2 claimed t=2000, so resolution places v3
    // effectively at 2001 (history must stay causal — `AS OF 1999`
    // returning a snapshot that contains v3 but not v2 would order
    // time backwards). Probes pin the full resolution ladder, the
    // skew adjustment itself (eff_v3), the before-first-commit named
    // error, and a snapshot read AS OF a mid-history instant. O(log)
    // driver-side metadata, zero data reads beyond the final scan.
    QueryDef("q589_txn_timestamp_travel",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q589"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        def seg(name: String, m: Int): String = {
          val p = s"$root/$name"
          base.where(col("o_orderkey") % 4 === m).coalesce(1).write.parquet(p)
          p
        }
        require(TxnLog.tryCommit(s, root, 1L, "w1",
          Seq(Action("add", seg("seg_a", 0))), ts = 1000L))
        require(TxnLog.tryCommit(s, root, 2L, "w1",
          Seq(Action("add", seg("seg_b", 1))), ts = 2000L))
        require(TxnLog.tryCommit(s, root, 3L, "w2",
          Seq(Action("add", seg("seg_c", 2))), ts = 1500L)) // skewed clock
        require(TxnLog.tryCommit(s, root, 4L, "w1",
          Seq(Action("add", seg("seg_d", 3))), ts = 3000L))
        val effV3 = TxnLog.commitTimestamps(s, root)
          .find(_._1 == 3L).get._3
        def vAt(ts: Long): Long = TxnLog.versionAt(s, root, ts)
        val beforeErr =
          try { vAt(999L); 0 }
          catch { case _: TxnLog.TimestampBeforeTableException => 1 }
        val (snap, vRead, _) = TxnLog.snapshotAt(s, root, 2400L)
        snap.agg(count(lit(1)).as("rows_at_2400"),
            sum("cents").as("cents_at_2400"))
          .select(col("rows_at_2400"), col("cents_at_2400"),
            lit(vRead).as("v_read_2400"),
            lit(vAt(1000L)).as("v_at_1000"), lit(vAt(1999L)).as("v_at_1999"),
            lit(vAt(2000L)).as("v_at_2000"), lit(vAt(2001L)).as("v_at_2001"),
            lit(vAt(3000L)).as("v_at_3000"),
            lit(vAt(Long.MaxValue)).as("v_at_max"),
            lit(effV3).as("eff_ts_v3"),
            lit(beforeErr).as("n_before_table_error"))
      },
      // AS OF 2400 resolves to v3 (eff 2001) → segments a+b+c =
      // keys ≢ 3 (mod 4)
      Some("""SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 4 != 3) AS rows_at_2400,
        |  (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) FROM orders WHERE o_orderkey % 4 != 3)
        |    AS cents_at_2400,
        |  CAST(3 AS BIGINT) AS v_read_2400,
        |  CAST(1 AS BIGINT) AS v_at_1000,
        |  CAST(1 AS BIGINT) AS v_at_1999,
        |  CAST(2 AS BIGINT) AS v_at_2000,
        |  CAST(3 AS BIGINT) AS v_at_2001,
        |  CAST(4 AS BIGINT) AS v_at_3000,
        |  CAST(4 AS BIGINT) AS v_at_max,
        |  CAST(2001 AS BIGINT) AS eff_ts_v3,
        |  CAST(1 AS INTEGER) AS n_before_table_error""".stripMargin)),

    // ---- q590: column mapping — rename/drop/re-add without touching a file -----------
    // The id-based schema-evolution design: data files keep their
    // physical column names forever; a `meta` commit re-points the
    // logical schema. RENAME (v2) and DROP (v3) are single metadata
    // commits — zero segments rewritten at any table size, the live
    // path set pinned unchanged. Re-adding the dropped logical name
    // (v4) binds it to a FRESH physical column, so the old values
    // CANNOT resurrect — every pre-evolution row reads NULL while the
    // bytes still sit in the file (the exact hazard name-based
    // evolution suffers, pinned as n_status_null = all old rows).
    // The mapping is versioned state: time travel to v2 reads the
    // renamed column from the ORIGINAL physical bytes.
    QueryDef("q590_txn_column_mapping",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q590"
        reset(s, root)
        val segA = s"$root/seg_a"
        orders(s, d).select(col("o_orderkey").as("k"),
            col("o_orderstatus").as("c1"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c2"))
          .coalesce(1).write.parquet(segA)
        require(TxnLog.tryCommit(s, root, 1L, "ingest",
          Seq(Action("add", segA), TxnLog.columnMappingAction(
            Seq("k" -> "k", "status" -> "c1", "cents" -> "c2")))))
        // v2: RENAME status -> order_status (metadata only)
        require(TxnLog.tryCommit(s, root, 2L, "evolver",
          Seq(TxnLog.columnMappingAction(
            Seq("k" -> "k", "order_status" -> "c1", "cents" -> "c2")))))
        // v3: DROP order_status (metadata only — bytes stay)
        require(TxnLog.tryCommit(s, root, 3L, "evolver",
          Seq(TxnLog.columnMappingAction(Seq("k" -> "k", "cents" -> "c2")))))
        // v4: re-ADD logical order_status bound to FRESH physical c3,
        // plus a segment that actually carries c3
        val segB = s"$root/seg_b"
        orders(s, d).where(col("o_orderkey") % 5 === 0)
          .select((col("o_orderkey") + 3000000000L).as("k"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c2"),
            lit("R").as("c3"))
          .coalesce(1).write.parquet(segB)
        require(TxnLog.tryCommit(s, root, 4L, "ingest",
          Seq(Action("add", segB), TxnLog.columnMappingAction(
            Seq("k" -> "k", "cents" -> "c2", "order_status" -> "c3")))))
        val (head, _, nSegs) = TxnLog.snapshot(s, root)
        val (v2, _, _) = TxnLog.snapshot(s, root, Some(2L))
        val live = TxnLog.liveFiles(TxnLog.commits(s, root))
        val headCols = head.columns.mkString(",")
        val v2Cols = v2.columns.mkString(",")
        head.agg(count(lit(1)).as("n_rows_head"),
            sum(col("order_status").isNull.cast("long")).as("n_status_null"),
            sum((col("order_status") === "R").cast("long")).as("n_status_r"),
            sum("cents").as("sum_cents_head"))
          .crossJoin(v2.agg(
            countDistinct(col("order_status")).as("n_distinct_status_v2"),
            count(lit(1)).as("rows_v2")))
          .select(col("n_rows_head"), col("n_status_null"),
            col("n_status_r"), col("sum_cents_head"),
            col("n_distinct_status_v2"), col("rows_v2"),
            lit(headCols).as("head_columns"), lit(v2Cols).as("v2_columns"),
            lit(nSegs).as("n_live_segments"),
            lit((live == Seq(segA, segB)).compare(false))
              .as("zero_rewrites"))
      },
      Some("""SELECT
        |  (SELECT CAST(count(*)
        |       + count(*) FILTER (WHERE o_orderkey % 5 = 0)
        |       AS BIGINT) FROM orders) AS n_rows_head,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_status_null,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 5 = 0) AS n_status_r,
        |  (SELECT CAST(sum(c)
        |       + sum(c) FILTER (WHERE o_orderkey % 5 = 0)
        |       AS BIGINT) FROM (SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |       FROM orders)) AS sum_cents_head,
        |  (SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT)
        |     FROM orders) AS n_distinct_status_v2,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS rows_v2,
        |  'k,cents,order_status' AS head_columns,
        |  'k,order_status,cents' AS v2_columns,
        |  CAST(2 AS INTEGER) AS n_live_segments,
        |  CAST(1 AS INTEGER) AS zero_rewrites""".stripMargin)),

    // ---- q591: RESTORE — rollback as a forward commit ---------------------------------
    // The bad-deploy recovery path: v3 MoR-deleted good rows, v4
    // appended junk; RESTORE to v2 publishes ONE metadata commit (v5)
    // that removes the junk segment and resets the dv association —
    // zero bytes rewritten, the MoR-deleted rows RESURRECT, and the
    // bad versions stay readable for forensics (rollback never erases
    // history — concurrent readers must not see the log shrink). The
    // sister table pins the boundary: restoring to a version whose
    // segment vacuum reaped fails with the NAMED error, before any
    // commit publishes. Action shape of the restore commit itself is
    // under the hash gate (1 junk remove + dv-reset remove/add pair).
    QueryDef("q591_txn_restore",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q591"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val segA = s"$root/seg_a"
        base.where(col("o_orderkey") % 2 === 0).coalesce(1).write.parquet(segA)
        require(TxnLog.tryCommit(s, root, 1L, "ingest",
          Seq(Action("add", segA))))
        val segB = s"$root/seg_b"
        base.where(col("o_orderkey") % 2 === 1).coalesce(1).write.parquet(segB)
        require(TxnLog.tryCommit(s, root, 2L, "ingest",
          Seq(Action("add", segB))))
        // v3: the bad MoR delete (hits only seg_b — even keys can't
        // match); v4: the junk append
        require(TxnLog.deleteWhereMoR(s, root, "bad-job",
          col("o_orderkey") % 8 === 1).exists(_.version == 3L))
        val segC = s"$root/seg_c"
        base.where(col("o_orderkey") % 16 === 2)
          .withColumn("o_orderkey", col("o_orderkey") + 4000000000L)
          .coalesce(1).write.parquet(segC)
        require(TxnLog.tryCommit(s, root, 4L, "bad-job",
          Seq(Action("add", segC))))
        val res = TxnLog.restore(s, root, "restorer", 2L)
        val restoreCommit = TxnLog.commits(s, root).last
        val kinds = restoreCommit.actions.groupBy(_.kind)
          .map { case (k, as) => k -> as.size }
        val (head, _, _) = TxnLog.snapshot(s, root)
        val (v2, _, _) = TxnLog.snapshot(s, root, Some(2L))
        val (v4, _, _) = TxnLog.snapshot(s, root, Some(4L))
        val mismatch = head.exceptAll(v2).unionAll(v2.exceptAll(head))
          .agg(count(lit(1)).as("n_head_v2_mismatch"))
        // the restore moved no data: seg_a/seg_b are the only live
        // segments and both are the ORIGINAL files
        val live = TxnLog.liveFiles(TxnLog.commits(s, root))
        head.agg(count(lit(1)).as("rows_head"),
            sum("cents").as("sum_cents_head"),
            sum((col("o_orderkey") % 8 === 1).cast("long"))
              .as("n_resurrected"))
          .crossJoin(v4.agg(count(lit(1)).as("rows_v4_forensic")))
          .crossJoin(mismatch)
          .select(col("rows_head"), col("sum_cents_head"),
            col("n_resurrected"), col("rows_v4_forensic"),
            col("n_head_v2_mismatch"),
            lit(res.version).as("restore_version"),
            lit(kinds.getOrElse("remove", 0)).as("n_removes"),
            lit(kinds.getOrElse("add", 0)).as("n_adds"),
            lit(kinds.getOrElse("dv", 0)).as("n_dvs"),
            lit((live == Seq(segA, segB)).compare(false))
              .as("original_files_live"),
            lit {
              // sister table: vacuum reaps v1's segment, restore fails
              val t2 = Scratch.dir(s, d) + "/txn_q591_vac"
              reset(s, t2)
              val x = s"$t2/seg_x"
              base.limit(10).coalesce(1).write.parquet(x)
              require(TxnLog.tryCommit(s, t2, 1L, "w",
                Seq(Action("add", x))))
              val y = s"$t2/seg_y"
              base.limit(5).coalesce(1).write.parquet(y)
              require(TxnLog.tryCommit(s, t2, 2L, "w",
                Seq(Action("remove", x), Action("add", y))))
              require(TxnLog.vacuum(s, t2, horizon = 2L)
                .removed.contains(x))
              try { TxnLog.restore(s, t2, "w", 1L); 0 }
              catch { case _: TxnLog.RestoreVacuumedException =>
                if (TxnLog.currentVersion(s, t2) == 2L) 1 else 0 }
            }.as("n_vacuumed_restore_error"))
      },
      // restored head ≡ v2 = ALL orders rows; v4 forensic read =
      // all − MoR-deleted (≡1 mod 8) + junk (≡2 mod 16); restore
      // commit = remove(junk) + remove/add(dv reset) = 2 removes 1 add
      Some("""SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS rows_head,
        |  (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) FROM orders) AS sum_cents_head,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 8 = 1) AS n_resurrected,
        |  (SELECT CAST(count(*) FILTER (WHERE o_orderkey % 8 != 1)
        |       + count(*) FILTER (WHERE o_orderkey % 16 = 2) AS BIGINT)
        |     FROM orders) AS rows_v4_forensic,
        |  CAST(0 AS BIGINT) AS n_head_v2_mismatch,
        |  CAST(5 AS BIGINT) AS restore_version,
        |  CAST(2 AS INTEGER) AS n_removes,
        |  CAST(1 AS INTEGER) AS n_adds,
        |  CAST(0 AS INTEGER) AS n_dvs,
        |  CAST(1 AS INTEGER) AS original_files_live,
        |  CAST(1 AS INTEGER) AS n_vacuumed_restore_error""".stripMargin)),

    // ---- q592: CHECK constraints — write-side governance in the log -------------------
    // Constraints live in the commit log as `meta` actions and gate
    // every write BEFORE it publishes (one distributed aggregation
    // evaluates all active constraints in a single pass over the
    // batch — governance at the write boundary, where one bad batch
    // is cheap, not at read time where a baked-in violation taxes
    // every scan forever). The lane pins the whole lifecycle: a
    // conforming batch lands; a poisoned batch fails NAMED with the
    // exact violation count and publishes nothing; NULL passes (SQL
    // CHECK semantics); the constraint survives checkpoint +
    // truncation (the declaring commit's body is deleted — the
    // checkpoint must carry the folded constraint set); DROP retires
    // it and the same poison then commits, visible in the final sum.
    QueryDef("q592_txn_constraints",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q592"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey"),
          col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        def commitSeg(name: String, df: org.apache.spark.sql.DataFrame,
                      v: Long): String = {
          val p = s"$root/$name"
          df.coalesce(1).write.parquet(p)
          require(TxnLog.tryCommit(s, root, v, "ingest",
            Seq(Action("add", p))))
          p
        }
        val segA = s"$root/seg_a"
        base.where(col("o_orderkey") % 2 === 0).coalesce(1).write.parquet(segA)
        require(TxnLog.tryCommit(s, root, 1L, "ingest", Seq(
          Action("add", segA),
          TxnLog.constraintAction("cents_nonneg", "cents >= 0"),
          TxnLog.constraintAction("status_known",
            "status IN ('F', 'O', 'P')"))))
        // a conforming batch validates and lands
        val valid = base.where(col("o_orderkey") % 2 === 1)
        TxnLog.checkConstraints(s, root, valid)
        commitSeg("seg_b", valid, 2L)
        // the poisoned batch: negated cents — rejected NAMED with the
        // exact count, nothing published
        val poison = base.where(col("o_orderkey") % 97 === 0)
          .withColumn("cents", -col("cents") - 1L)
        val (rejName, rejCount) =
          try { TxnLog.checkConstraints(s, root, poison); ("", -1L) }
          catch { case e: TxnLog.ConstraintViolationException =>
            (e.name, e.violations) }
        val headAfterReject = TxnLog.currentVersion(s, root)
        // NULL passes — SQL CHECK semantics
        val nullPasses =
          try {
            TxnLog.checkConstraints(s, root,
              valid.limit(3).withColumn("cents",
                lit(null).cast("long")))
            1
          } catch { case _: TxnLog.ConstraintViolationException => 0 }
        // the constraint survives checkpoint + log truncation
        TxnLog.writeCheckpoint(s, root, 2L)
        TxnLog.truncateLog(s, root)
        val survives =
          try { TxnLog.checkConstraints(s, root, poison); 0 }
          catch { case _: TxnLog.ConstraintViolationException => 1 }
        // DROP retires it: the same poison now validates and commits
        require(TxnLog.tryCommit(s, root, 3L, "admin",
          Seq(TxnLog.dropConstraintAction("cents_nonneg"))))
        TxnLog.checkConstraints(s, root, poison)
        commitSeg("seg_c", poison, 4L)
        val (snap, headV, _) = TxnLog.snapshot(s, root)
        snap.agg(count(lit(1)).as("rows_final"),
            sum("cents").as("sum_cents_final"))
          .select(col("rows_final"), col("sum_cents_final"),
            lit(rejName).as("rejected_constraint"),
            lit(rejCount).as("n_violations"),
            lit(headAfterReject).as("head_after_reject"),
            lit(nullPasses).as("null_passes"),
            lit(survives).as("survives_truncation"),
            lit(headV).as("head_final"))
      },
      Some("""SELECT
        |  (SELECT CAST(count(*) + count(*) FILTER (WHERE o_orderkey % 97 = 0)
        |       AS BIGINT) FROM orders) AS rows_final,
        |  (SELECT CAST(sum(c) + sum(-c - 1) FILTER (WHERE o_orderkey % 97 = 0)
        |       AS BIGINT) FROM (SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |       FROM orders)) AS sum_cents_final,
        |  'cents_nonneg' AS rejected_constraint,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 97 = 0) AS n_violations,
        |  CAST(2 AS BIGINT) AS head_after_reject,
        |  CAST(1 AS INTEGER) AS null_passes,
        |  CAST(1 AS INTEGER) AS survives_truncation,
        |  CAST(4 AS BIGINT) AS head_final""".stripMargin)),

    // ---- q593: STREAMING validated ingest with a dead-letter table (lane #37) --------
    // q552 (exactly-once streaming writer) × q592 (CHECK constraints):
    // production ingest can neither crash the stream on one poisoned
    // row nor silently drop it. Each micro-batch splits row-level
    // against the constraint set read from the COMMIT LOG (the log is
    // the source of truth — no config channel): conforming rows land
    // as a segment + commit on the main table, violating rows land on
    // a SECOND logged table (the dead-letter queue) tagged with the
    // violated constraint's name and batch — BOTH channels get the
    // version = batchId + offset exactly-once discipline, and batches
    // with no violations publish an empty commit so the dead-letter
    // log stays contiguous. Pins: clean table carries exactly the
    // conforming rows (zero negatives), the dead letter exactly the
    // violations with the right name, and both heads/segment counts.
    QueryDef("q593_streaming_dead_letter",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q593"
        reset(s, root)
        val main = s"$root/main"
        val dead = s"$root/dead"
        // v1 on the main table: the constraint, BEFORE any data
        require(TxnLog.tryCommit(s, main, 1L, "admin",
          Seq(TxnLog.constraintAction("cents_nonneg", "cents >= 0"))))
        // quarter-split source with planted poison: every 13th event's
        // cents negated (−c−1 is negative for every c ≥ 0)
        val ev = events(s, d).select(col("event_id"),
          expr("""CASE WHEN event_id % 13 = 0
            THEN -CAST(round(value * 100) AS BIGINT) - 1
            ELSE CAST(round(value * 100) AS BIGINT) END""").as("cents"),
          expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT) % 4")
            .as("q"))
        (0 until 4).foreach { i =>
          ev.where(col("q") === i).drop("q")
            .coalesce(1).write.parquet(s"$root/in/in_$i")
        }
        val sch = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cents",
            org.apache.spark.sql.types.LongType)))
        val stream = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", 1)
          .option("pathGlobFilter", "*.parquet")
          .option("recursiveFileLookup", "true")
          .parquet(s"$root/in")
        val q = stream.writeStream
          .option("checkpointLocation", s"$root/_ckpt")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            Checkpoints.scoped { pin =>
              // the split predicate comes from the LOG, per batch — a
              // constraint added mid-stream takes effect next batch
              val cons = TxnLog.constraints(TxnLog.commits(s, main))
              val viol = cons.foldRight(lit(null).cast("string")) {
                case ((n, e), acc) =>
                  when(expr(e) === lit(false), lit(n)).otherwise(acc)
              }
              // one source read for both channels
              val tagged = pin(batch.withColumn("__viol", viol))
              val ok = tagged.where(col("__viol").isNull).drop("__viol")
              val seg = s"$main/seg_$id"
              ok.coalesce(1).write.mode("overwrite").parquet(seg)
              require(TxnLog.tryCommit(s, main, id + 2L, s"streamer_$id",
                Seq(Action("add", seg))))
              val bad = tagged.where(col("__viol").isNotNull)
                .withColumnRenamed("__viol", "violated")
                .withColumn("batch_id", lit(id))
              val badActions =
                if (bad.isEmpty) Seq.empty // empty commit keeps the log contiguous
                else {
                  val p = s"$dead/dl_$id"
                  bad.coalesce(1).write.mode("overwrite").parquet(p)
                  Seq(Action("add", p))
                }
              require(TxnLog.tryCommit(s, dead, id + 1L, s"streamer_$id",
                badActions))
            }
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination()
        finally q.stop()
        val (clean, mainV, mainSegs) = TxnLog.snapshot(s, main)
        val (dl, deadV, _) = TxnLog.snapshot(s, dead)
        clean.agg(count(lit(1)).as("n_clean"),
            sum("cents").as("sum_clean_cents"),
            sum((col("cents") < 0).cast("long")).as("n_clean_negative"))
          .crossJoin(dl.agg(count(lit(1)).as("n_dead"),
            sum("cents").as("sum_dead_cents"),
            sum((col("violated") === "cents_nonneg").cast("long"))
              .as("n_dead_named")))
          .select(col("n_clean"), col("sum_clean_cents"),
            col("n_clean_negative"), col("n_dead"), col("sum_dead_cents"),
            col("n_dead_named"),
            lit(mainV).as("main_head"), lit(mainSegs).as("main_segments"),
            lit(deadV).as("dead_head"))
      },
      Some("""WITH ev AS (SELECT event_id,
        |    CASE WHEN event_id % 13 = 0
        |      THEN -CAST(round(value * 100) AS BIGINT) - 1
        |      ELSE CAST(round(value * 100) AS BIGINT) END AS cents
        |  FROM events)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM ev WHERE cents >= 0)
        |    AS n_clean,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM ev WHERE cents >= 0)
        |    AS sum_clean_cents,
        |  CAST(0 AS BIGINT) AS n_clean_negative,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ev WHERE cents < 0)
        |    AS n_dead,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM ev WHERE cents < 0)
        |    AS sum_dead_cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ev WHERE cents < 0)
        |    AS n_dead_named,
        |  CAST(5 AS BIGINT) AS main_head,
        |  CAST(4 AS INTEGER) AS main_segments,
        |  CAST(4 AS BIGINT) AS dead_head""".stripMargin)),

    // ---- q594: OPTIMIZE CLUSTER BY — the layout → manifest-pruning loop EXECUTED -----
    // q291/q546 MEASURED layouts and q569 proved manifest pruning;
    // this lane closes the loop as an OPERATION: four ingest-order
    // segments each stripe the whole key domain (mod-4), so their
    // zone maps all overlap and a key-band predicate must read 4/4
    // segments from the log. TxnLog.clusterBin rewrites the visible
    // rows into 4 DISJOINT key-range segments (deterministic
    // fixed-width boundaries — no sampled quantiles) with refreshed
    // stats in the commit; the same band then reads 1/4 FROM THE LOG
    // ALONE. Both pruning counts are computed from liveActions stats
    // (Spark) and replayed from raw arithmetic (oracle) — no
    // constants assumed where the data decides; the rewrite is
    // CDF-invisible and row/sum-invariant like any compaction. At
    // 100 TB this is the difference between a point query costing a
    // full scan and costing one segment.
    QueryDef("q594_txn_optimize_cluster",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q594"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey").as("k"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        (0 until 4).foreach { i =>
          val p = s"$root/stripe_$i"
          val df = base.where(col("k") % 4 === i)
          df.coalesce(1).write.parquet(p)
          val mm = df.agg(min("k"), max("k")).head()
          require(TxnLog.tryCommit(s, root, i + 1L, "ingest", Seq(
            Action("add", p,
              stats = Map("k" -> (mm.getLong(0), mm.getLong(1)))))))
        }
        // the probe band == post-cluster range 1 exactly: [b1, b2)
        val mm = base.agg(min("k"), max("k")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val span = hi - lo + 1L
        val (b1, b2) = (lo + span / 4L, lo + span * 2L / 4L)
        def nRead(asOf: Option[Long]): Int =
          TxnLog.liveActions(TxnLog.commits(s, root, asOf)).count { a =>
            a.stats.get("k").exists { case (sLo, sHi) =>
              sLo <= b2 - 1L && sHi >= b1 }
          }
        val readBefore = nRead(Some(4L))
        val preHead = TxnLog.currentVersion(s, root)
        TxnLog.clusterBin(s, root, "optimizer",
          TxnLog.liveFiles(TxnLog.commits(s, root)), s"$root/clustered",
          "k", 4)
        val head = TxnLog.currentVersion(s, root)
        val readAfter = nRead(None)
        val nLive = TxnLog.liveActions(TxnLog.commits(s, root)).size
        val (chg, _) = TxnLog.changeFeed(s, root, preHead, head, Seq("k"))
        val cdf = chg.agg(count(lit(1)).as("n_cdf_changes"))
        val (snap, _, _) = TxnLog.snapshot(s, root)
        snap.agg(count(lit(1)).as("rows_live"),
            sum("cents").as("sum_cents"),
            sum(col("k").between(b1, b2 - 1L).cast("long"))
              .as("rows_in_band"))
          .crossJoin(cdf)
          .select(col("rows_live"), col("sum_cents"), col("rows_in_band"),
            col("n_cdf_changes"),
            lit(readBefore).as("n_read_before"),
            lit(readAfter).as("n_read_after"),
            lit(nLive).as("n_live_after"),
            lit(head).as("head_final"))
      },
      // the oracle replays the pruning arithmetic from raw data: a
      // stripe i intersects the band iff its true [min, max] does
      Some("""WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
        |    max(o_orderkey) - min(o_orderkey) + 1 AS span FROM orders),
        |band AS (SELECT lo + span // 4 AS b1, lo + span * 2 // 4 AS b2
        |  FROM b),
        |stripes AS (SELECT o_orderkey % 4 AS i, min(o_orderkey) AS sLo,
        |    max(o_orderkey) AS sHi FROM orders GROUP BY 1)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS rows_live,
        |  (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) FROM orders) AS sum_cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders, band
        |     WHERE o_orderkey >= b1 AND o_orderkey < b2) AS rows_in_band,
        |  CAST(0 AS BIGINT) AS n_cdf_changes,
        |  (SELECT CAST(count(*) AS INTEGER) FROM stripes, band
        |     WHERE sLo <= b2 - 1 AND sHi >= b1) AS n_read_before,
        |  CAST(1 AS INTEGER) AS n_read_after,
        |  CAST(4 AS INTEGER) AS n_live_after,
        |  CAST(5 AS BIGINT) AS head_final""".stripMargin)),

    // ---- q595: identity column — exactly-once id allocation through the log ----------
    // Auto-assigned surrogate keys with the log as the allocator:
    // each append claims [hwm+1, hwm+n] and commits the new
    // high-water mark alongside the segment; ids within a batch are
    // contiguous and DETERMINISTIC (global row number by the order
    // key via the two-level form — no single-partition window at any
    // batch size). Two racing allocators of the same column hit the
    // per-column OCC sentinel and the loser reassigns from the fresh
    // mark (the concurrent no-collision race is TxnProtocolSpec's;
    // this lane pins the deterministic assignment row-for-row —
    // sum(id · cents) would shift if ANY row got a different id).
    QueryDef("q595_txn_identity",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q595"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey").as("k"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val (r1, lo1, hi1) = TxnLog.appendWithIdentity(s, root, "w1",
          base.where(col("k") % 2 === 0), s"$root/seg1", "row_id", "k")
        val (r2, lo2, hi2) = TxnLog.appendWithIdentity(s, root, "w2",
          base.where(col("k") % 2 === 1), s"$root/seg2", "row_id", "k")
        val (snap, headV, _) = TxnLog.snapshot(s, root)
        val hwm = TxnLog.identityHighWater(TxnLog.commits(s, root),
          "row_id")
        snap.agg(count(lit(1)).as("n_rows"),
            max("row_id").as("max_id"), sum("row_id").as("sum_id"),
            sum(col("row_id") * col("cents")).as("sum_id_cents"))
          .select(col("n_rows"), col("max_id"), col("sum_id"),
            col("sum_id_cents"),
            lit(lo1).as("b1_first"), lit(hi1).as("b1_last"),
            lit(lo2).as("b2_first"), lit(hi2).as("b2_last"),
            lit(hwm).as("hwm_final"),
            lit(headV).as("head_final"),
            lit(r1.version).as("v1"), lit(r2.version).as("v2"))
      },
      Some("""WITH b AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE 1 END AS grp
        |  FROM orders),
        |n1 AS (SELECT count(*) AS c FROM b WHERE grp = 0),
        |ids AS (SELECT k, cents, CASE WHEN grp = 0
        |    THEN row_number() OVER (PARTITION BY grp ORDER BY k)
        |    ELSE (SELECT c FROM n1)
        |      + row_number() OVER (PARTITION BY grp ORDER BY k)
        |    END AS row_id FROM b)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(max(row_id) AS BIGINT) AS max_id,
        |  CAST(sum(row_id) AS BIGINT) AS sum_id,
        |  CAST(sum(row_id * cents) AS BIGINT) AS sum_id_cents,
        |  CAST(1 AS BIGINT) AS b1_first,
        |  (SELECT CAST(c AS BIGINT) FROM n1) AS b1_last,
        |  (SELECT CAST(c + 1 AS BIGINT) FROM n1) AS b2_first,
        |  CAST(count(*) AS BIGINT) AS b2_last,
        |  CAST(count(*) AS BIGINT) AS hwm_final,
        |  CAST(2 AS BIGINT) AS head_final,
        |  CAST(1 AS BIGINT) AS v1,
        |  CAST(2 AS BIGINT) AS v2
        |FROM ids""".stripMargin)),

    // ---- q596: write-audit-publish — staged branches gate production ------------------
    // The WAP pattern on the log: a candidate batch stages on a
    // BRANCH (a shallow clone — the branch's v1 re-references main's
    // live segments AND its folded constraint set, zero bytes
    // copied), the audits run against the branch snapshot (constraint
    // gate + a duplicate-key audit the constraint system can't
    // express), and only a PASSING candidate publishes — one
    // metadata-only commit on main referencing the ALREADY-WRITTEN
    // staged segment (publish moves no data). A failing candidate
    // abandons its branch and main's head never moves: the lane
    // stages a clean batch (passes, publishes) then re-stages the
    // same keys (the dup audit catches it, with the dup count as
    // data) — isolation pinned by reading main BETWEEN staging and
    // publish.
    QueryDef("q596_txn_write_audit_publish",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q596"
        reset(s, root)
        val main = s"$root/main"
        val base = orders(s, d).select(col("o_orderkey").as("k"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val segA = s"$root/seg_a"
        base.where(col("k") % 3 === 0).coalesce(1).write.parquet(segA)
        require(TxnLog.tryCommit(s, main, 1L, "ingest", Seq(
          Action("add", segA),
          TxnLog.constraintAction("cents_nonneg", "cents >= 0"))))
        // one WAP cycle: clone → stage → audit → publish-or-abandon
        def wap(branch: String, candidate: org.apache.spark.sql.DataFrame,
                segPath: String): (Int, Long, Boolean) = {
          val mainCs = TxnLog.commits(s, main)
          val cloneActions = TxnLog.liveActions(mainCs) ++
            TxnLog.constraints(mainCs).map { case (n, e) =>
              TxnLog.constraintAction(n, e) }
          require(TxnLog.tryCommit(s, branch, 1L, "wap", cloneActions))
          candidate.coalesce(1).write.parquet(segPath)
          require(TxnLog.tryCommit(s, branch, 2L, "wap",
            Seq(Action("add", segPath))))
          // audit 1: the constraint gate, on the branch
          val consOk =
            try { TxnLog.checkConstraints(s, branch, candidate); true }
            catch { case _: TxnLog.ConstraintViolationException => false }
          // audit 2: duplicate keys across the WHOLE branch snapshot —
          // the cross-batch invariant a row-local constraint can't see
          val (br, _, _) = TxnLog.snapshot(s, branch)
          val dups = br.groupBy("k").count().where(col("count") > 1)
            .count()
          val pass = consOk && dups == 0L
          if (pass) {
            // publish = ONE metadata commit on main; the staged
            // segment is referenced in place, never rewritten
            val head = TxnLog.currentVersion(s, main)
            require(TxnLog.tryCommit(s, main, head + 1L, "wap-publish",
              Seq(Action("add", segPath))))
          }
          (if (consOk) 1 else 0, dups, pass)
        }
        val clean = base.where(col("k") % 3 === 1)
        // isolation probe: main's row count BEFORE the first publish
        val rowsBefore = TxnLog.snapshot(s, main)._1.count()
        val (cons1, dups1, pass1) = wap(s"$root/br1", clean,
          s"$root/staged_1")
        val rowsAfterPublish = TxnLog.snapshot(s, main)._1.count()
        // the second candidate re-submits the SAME keys: the dup
        // audit must catch it and main must not move
        val (cons2, dups2, pass2) = wap(s"$root/br2", clean,
          s"$root/staged_2")
        val headFinal = TxnLog.currentVersion(s, main)
        val (snap, _, _) = TxnLog.snapshot(s, main)
        snap.agg(count(lit(1)).as("rows_final"),
            sum("cents").as("sum_cents"))
          .select(col("rows_final"), col("sum_cents"),
            lit(rowsBefore).as("rows_before_publish"),
            lit(rowsAfterPublish).as("rows_after_publish"),
            lit(cons1 * 10 + (if (pass1) 1 else 0)).as("audit1_code"),
            lit(dups1).as("audit1_dups"),
            lit(cons2 * 10 + (if (pass2) 1 else 0)).as("audit2_code"),
            lit(dups2).as("audit2_dups"),
            lit(headFinal).as("main_head"))
      },
      Some("""SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 3 IN (0, 1)) AS rows_final,
        |  (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) FROM orders WHERE o_orderkey % 3 IN (0, 1))
        |    AS sum_cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 3 = 0) AS rows_before_publish,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 3 IN (0, 1)) AS rows_after_publish,
        |  CAST(11 AS INTEGER) AS audit1_code,
        |  CAST(0 AS BIGINT) AS audit1_dups,
        |  CAST(10 AS INTEGER) AS audit2_code,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 3 = 1) AS audit2_dups,
        |  CAST(2 AS BIGINT) AS main_head""".stripMargin))
  )
}
