package graft

import graft.ops.TxnLog
import graft.ops.TxnLog.Action

/** Real-thread concurrency over the commit protocol: q540 stages its
  * race deterministically; this spec runs an ACTUAL 8-writer race on
  * the rename primitive and pins the invariants that cannot be staged
  * — every writer lands, versions are distinct and contiguous, and
  * the total attempt count shows genuine contention. Plus a
  * randomized equivalence property: for arbitrary add/remove/ckpt
  * histories, checkpoint-based resolution equals full-log resolution
  * at every version.
  */
class TxnLogConcurrencySpec extends SparkSpec {

  private def freshTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_txn_conc")
    dir.toFile.deleteOnExit()
    dir.toString
  }

  test("8 threads racing commitWithRetry all land, versions contiguous") {
    val t = freshTable()
    // seed v1 so every racer starts from the same head
    val seed = s"$t/seg_seed"
    spark.range(1).coalesce(1).write.parquet(seed)
    assert(TxnLog.tryCommit(spark, t, 1L, "seed", Seq(Action("add", seed))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[TxnLog.CommitResult] {
          override def call(): TxnLog.CommitResult =
            TxnLog.commitWithRetry(spark, t, s"racer_$i",
              Seq(Action("add", s"$t/seg_$i")), maxAttempts = 64)
        })
      }
      val results = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      val versions = results.map(_.version).sorted
      assert(versions == (2L to 9L).toVector.sorted.toSeq.map(identity),
        s"writers did not land contiguous distinct versions: $versions")
      // contention really happened: with 8 racers from one head, the
      // attempt total must exceed one-each (at most one wins attempt 1
      // at each version, so the MINIMUM total for 8 writers is 8; any
      // real interleaving pushes it higher — require at least one retry)
      assert(results.map(_.attempts).sum >= 9,
        s"no contention observed: ${results.map(_.attempts)}")
      // the log itself is the ground truth: 9 contiguous commits,
      // every racer's segment live exactly once
      val cs = TxnLog.commits(spark, t)
      assert(cs.map(_.version) == (1L to 9L))
      val live = TxnLog.liveFiles(cs)
      assert(live.size == 9 && live.distinct.size == 9)
    } finally pool.shutdownNow()
  }

  test("property: checkpoint resolution equals full-log at every version") {
    val rnd = new scala.util.Random(4242)
    for (_ <- 1 to 5) {
      val t = freshTable()
      var live = Set.empty[String]
      var nextSeg = 0
      var v = 0L
      val ckpts = scala.collection.mutable.ListBuffer.empty[Long]
      while (v < 12) {
        v += 1
        val actions =
          if (live.nonEmpty && rnd.nextInt(3) == 0) {
            // compaction: retire 1-2 live segments, add one
            val gone = rnd.shuffle(live.toSeq).take(1 + rnd.nextInt(2))
            nextSeg += 1
            val add = s"seg_$nextSeg"
            live = live -- gone + add
            gone.map(Action("remove", _)) :+ Action("add", add)
          } else {
            nextSeg += 1
            val add = s"seg_$nextSeg"
            live = live + add
            Seq(Action("add", add))
          }
        assert(TxnLog.tryCommit(spark, t, v, "w", actions))
        if (rnd.nextInt(4) == 0) {
          TxnLog.writeCheckpoint(spark, t, v)
          ckpts += v
        }
      }
      // at every version, ckpt-based live set == full-fold live set
      val cs = TxnLog.commits(spark, t)
      (1L to 12L).foreach { asOf =>
        val full = TxnLog.liveFiles(cs.filter(_.version <= asOf)).toSet
        // checkpoint-based fold (the snapshotViaCheckpoint resolution,
        // replayed on the fold itself — segments here are names, not
        // readable parquet, so the scan step is out of scope)
        val ck = ckpts.filter(_ <= asOf).sorted.lastOption
        val viaFold = ck match {
          case Some(cv) =>
            val base = TxnLog.Commit(cv, "ckpt",
              TxnLog.liveFiles(cs.filter(_.version <= cv))
                .map(Action("add", _)))
            TxnLog.liveFiles(
              base +: cs.filter(c => c.version > cv && c.version <= asOf)).toSet
          case None => full
        }
        assert(viaFold == full,
          s"ckpt fold diverged at v$asOf: $viaFold vs $full")
      }
    }
  }

  // ---- the slow path of the state differential: every commit folded
  // from TxnLog.commits, each segment's one part file read alone with
  // its rows in file order, a sidecar's positions indexing those rows

  private type Rows = Seq[String]

  private val segFiles =
    scala.collection.mutable.Map.empty[String, (String, Seq[String], Seq[Seq[Any]])]

  /** The one part file of `seg`: its name, columns and rows in file
    * order (segments are immutable, so each is read once). */
  private def segFile(seg: String): (String, Seq[String], Seq[Seq[Any]]) =
    segFiles.getOrElseUpdate(seg, {
      val Seq(f) = new java.io.File(seg).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).toSeq
      val df = spark.read.parquet(s"$seg/$f")
      (f, df.columns.toSeq, df.collect().map(_.toSeq).toSeq)
    })

  /** (columns, sorted rows) of the table after `cs`, under its mapping. */
  private def slowSnapshot(cs: Seq[TxnLog.Commit]): (Seq[String], Rows) = {
    val m = TxnLog.columnMapping(cs)
    val live = TxnLog.liveState(cs)
    val rows = live.flatMap { case (seg, dv) =>
      val (f, cols, rs) = segFile(seg)
      val gone = dv.flatMap(TxnLog.DeletionVector.read(spark, _).get(f))
      rs.zipWithIndex.collect { case (r, i) if !gone.exists(_.contains(i.toLong)) =>
        m.fold(r)(_.map { case (_, p) =>
          val j = cols.indexOf(p)
          if (j < 0) null else r(j)
        }).mkString("|")
      }
    }
    (m.fold(segFile(live.head._1)._2)(_.map(_._1)), rows.sorted)
  }

  /** Random logs of appends, removes, MoR deletes, column mappings,
    * constraints and identity appends, with checkpoints at random
    * versions, some of them torn. After each step the write paths'
    * folds at the head (constraints, identity mark) equal the slow
    * path's; at the end, at every version, so do the snapshot (rows,
    * version, segment count), the checkpoint it starts from, the dv
    * state and the column mapping. Returns the op kinds that ran and
    * (reads that started at a checkpoint, reads that skipped a torn
    * one), so the caller can check the logs exercised every path. */
  private def stateDifferential(seed: Int): (Set[Int], Int, Int) = {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(seed)
    val t = freshTable()
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var nextId = 0L
    var nSeg = 0
    // checkpoint version -> complete (false = torn)
    val ckpts = scala.collection.mutable.Map.empty[Long, Boolean]
    def head = TxnLog.currentVersion(spark, t)
    def full = TxnLog.commits(spark, t)
    def newSeg(): String = { nSeg += 1; s"$t/seg$nSeg" }
    def ids(n: Int): Seq[Long] = (1 to n).map { _ => nextId += 1; nextId }
    def commit(actions: Action*): Unit =
      TxnLog.commitWithRetry(spark, t, "w", actions)
    def append(): Unit = {
      val p = newSeg()
      spark.createDataFrame(ids(2 + rnd.nextInt(4)).map(i => (i, rnd.nextInt(100).toLong, -i)))
        .toDF("id", "v", "rid").coalesce(1).write.parquet(p)
      commit(Action("add", p))
    }
    def identityAppend(ctx: String): Unit = {
      val hwm = TxnLog.identityHighWater(full, "rid")
      val df = spark.createDataFrame(ids(1 + rnd.nextInt(3)).map(i => (i, rnd.nextInt(100).toLong)))
        .toDF("id", "v")
      val (_, lo, _) = TxnLog.appendWithIdentity(spark, t, "w", df, newSeg(), "rid", "id")
      assert(lo == hwm + 1L, s"$ctx: identity mark")
    }
    val mappings = Seq(Seq("key" -> "id", "val" -> "v", "rid" -> "rid"),
      Seq("id" -> "id", "rid" -> "rid"), Seq.empty)
    val constraints = Seq("c_pos" -> "v >= 0", "c_small" -> "v < 1000")
    /** The constraint each write path reports for a batch of one row
      * with value `v`, against the slow path's active set. */
    def checkConstraints(ctx: String): Unit = {
      val active = TxnLog.constraints(full).map(_._1)
      Seq(-1L -> "c_pos", 5000L -> "c_small").foreach { case (v, name) =>
        val got =
          try {
            TxnLog.checkConstraints(spark, t, spark.createDataFrame(Seq(Tuple1(v))).toDF("v"))
            None
          } catch { case e: TxnLog.ConstraintViolationException => Some(e.name) }
        assert(got == Some(name).filter(active.contains), s"$ctx: constraints at v=$v")
      }
    }
    def checkpoint(): Unit = {
      val at = 1L + rnd.nextInt(head.toInt)
      TxnLog.writeCheckpoint(spark, t, at)
      val torn = rnd.nextInt(3) == 0
      ckpts(at) = !torn
      if (torn) {
        // a prefix of the body without its trailer: a rewrite that died
        val p = new org.apache.hadoop.fs.Path(s"$t/_txnlog/${"%020d".format(at)}.ckpt")
        val in = fs.open(p)
        val lines = try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq
          finally in.close()
        val out = fs.create(p, true)
        out.write(lines.take(1 + rnd.nextInt(lines.size - 1)).map(_ + "\n").mkString
          .getBytes("UTF-8"))
        out.close()
      }
    }
    append()
    val kinds = (1 to 14).map { step =>
      val ctx = s"seed=$seed step=$step"
      val live = TxnLog.liveFiles(full)
      val kind = rnd.nextInt(6)
      kind match {
        case 0 => append()
        case 1 =>
          if (live.size < 2) append()
          else commit(Action("remove", live(rnd.nextInt(live.size))))
        case 2 =>
          val lo = 1L + rnd.nextInt(nextId.toInt)
          if (TxnLog.deleteWhereMoR(spark, t, "w", col("id") >= lo && col("id") < lo + 3L)
              .isEmpty) append()
        case 3 => commit(TxnLog.columnMappingAction(mappings(rnd.nextInt(mappings.size))))
        case 4 =>
          val (name, e) = constraints(rnd.nextInt(constraints.size))
          commit(if (TxnLog.constraints(full).exists(_._1 == name))
            TxnLog.dropConstraintAction(name) else TxnLog.constraintAction(name, e))
        case 5 => identityAppend(ctx)
      }
      if (rnd.nextInt(3) == 0) checkpoint()
      checkConstraints(ctx)
      kind
    }
    val cs = full
    val anchors = (1L to head).map { v =>
      val ctx = s"seed=$seed v$v"
      val upTo = cs.filter(_.version <= v)
      val (cols, want) = slowSnapshot(upTo)
      val (snap, sv, n, ckptV) = TxnLog.snapshotViaCheckpoint(spark, t, Some(v))
      assert(sv == v && n == TxnLog.liveState(upTo).size, s"$ctx: version, segments")
      assert(snap.columns.toSeq == cols, s"$ctx: columns")
      assert(snap.collect().map(_.toSeq.mkString("|")).toSeq.sorted == want, s"$ctx: rows")
      assert(ckptV == ckpts.collect { case (c, true) if c <= v => c }.maxOption.getOrElse(0L),
        s"$ctx: checkpoint the read starts from")
      val skippedTorn = ckpts.exists { case (c, ok) => !ok && c <= v && c > ckptV }
      assert(TxnLog.snapshot(spark, t, Some(v))._2 == v, s"$ctx: snapshot")
      assert(TxnLog.dvStateAt(spark, t, v) ==
        TxnLog.liveState(upTo).collect { case (p, Some(dv)) => p -> dv }.toMap, s"$ctx: dv state")
      assert(TxnLog.mappingAt(spark, t, v) == TxnLog.columnMapping(upTo), s"$ctx: mapping")
      (ckptV > 0L, skippedTorn)
    }
    (kinds.toSet, anchors.count(_._1), anchors.count(_._2))
  }

  test("differential: every state read equals a fold of the full log") {
    val runs = Seq(7, 8, 9).map(stateDifferential)
    info(s"(op kinds, reads from a checkpoint, reads past a torn one) per seed: $runs")
    assert(runs.flatMap(_._1).toSet == (0 until 6).toSet, s"op kinds: $runs")
    assert(runs.map(_._2).sum > 0 && runs.map(_._3).sum > 0,
      s"no read started at a checkpoint or skipped a torn one: $runs")
  }

  test("8 overlapping writers: one winner per contested path, zero lost updates") {
    // the HIGHEST-contention mode of the OccProbe ledger, pinned as an
    // invariant: all 8 writers fight over the same 5 hot paths from a
    // pinned-stale base — exactly one writer may own each path, every
    // loser must abort with the named conflict error (never publish),
    // and every WINNER's action must survive into the final fold
    // (zero lost updates under maximum contention).
    val t = freshTable()
    val seed = s"$t/seg_seed"
    spark.range(1).coalesce(1).write.parquet(seed)
    assert(TxnLog.tryCommit(spark, t, 1L, "seed", Seq(Action("add", seed))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val landed = new java.util.concurrent.atomic.AtomicInteger(0)
    val aborted = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val futures = for (w <- 1 to 8; i <- 1 to 5) yield {
        pool.submit(new Runnable {
          override def run(): Unit =
            try {
              TxnLog.commitWithRetry(spark, t, s"racer_$w",
                Seq(Action("add", s"$t/hot_$i")), maxAttempts = 256,
                baseVersion = Some(1L))
              landed.incrementAndGet()
            } catch {
              case _: IllegalStateException => aborted.incrementAndGet()
            }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(landed.get == 5 && aborted.get == 35,
      s"expected one winner per hot path: landed=${landed.get} aborted=${aborted.get}")
    val cs = TxnLog.commits(spark, t)
    // contiguous log, exactly 6 commits (seed + 5 winners), and every
    // hot path live exactly once — no lost update, no double-publish
    assert(cs.map(_.version) == (1L to 6L))
    val live = TxnLog.liveFiles(cs)
    assert(live.toSet == (1 to 5).map(i => s"$t/hot_$i").toSet + seed,
      s"fold lost or duplicated a winner: $live")
  }
}
