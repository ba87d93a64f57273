package graft

import graft.ops.TxnLog
import graft.ops.TxnLog.Action

/** Pins the commit-protocol rules of [[graft.ops.TxnLog]] that the
  * oracle lanes (q538-q540) exercise end to end but cannot isolate:
  * rename-atomicity (one winner per version), the OCC conflict rule
  * (disjoint rebases commute, overlapping ones abort), snapshot
  * isolation (a resolved read is immune to later commits), the
  * contiguity rule (readers stop at a gap), and torn-write hygiene.
  */
class TxnLogSpec extends SparkSpec {

  private def freshTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_txn_spec")
    dir.toFile.deleteOnExit()
    dir.toString
  }

  private def writeSeg(table: String, name: String, ids: Seq[Long]): String = {
    val p = s"$table/$name"
    spark.createDataFrame(ids.map(Tuple1(_))).toDF("id")
      .coalesce(1).write.parquet(p)
    p
  }

  test("exactly one writer can own a version") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 2L))
    assert(TxnLog.tryCommit(spark, t, 1L, "w1", Seq(Action("add", a))))
    // second publish of v1 — different writer, different content —
    // must lose, and the winning commit must be untouched
    assert(!TxnLog.tryCommit(spark, t, 1L, "w2", Seq(Action("remove", a))))
    val cs = TxnLog.commits(spark, t)
    assert(cs.map(c => (c.version, c.writer)) == Seq((1L, "w1")))
    assert(cs.head.actions == Seq(Action("add", a)))
    // the loser's temp staging file must not linger
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(t, "_txnlog"))
      .map(_.getPath.getName).filter(_.startsWith("_tmp_"))
    assert(leftovers.isEmpty, s"staging leftovers: ${leftovers.toSeq}")
  }

  test("snapshot isolation: a resolved read ignores later commits") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 2L, 3L))
    TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)))
    val (snap, ver, n) = TxnLog.snapshot(spark, t)
    assert(ver == 1L && n == 1)
    // a writer replaces segment a AFTER the reader resolved its
    // snapshot; the reader's frame still scans the immutable old file
    val b = writeSeg(t, "b", Seq(10L, 20L))
    TxnLog.tryCommit(spark, t, 2L, "w",
      Seq(Action("remove", a), Action("add", b)))
    assert(snap.count() == 3L)
    assert(snap.agg(org.apache.spark.sql.functions.sum("id"))
      .head.getLong(0) == 6L)
    // a fresh resolution sees the new state
    val (snap2, ver2, _) = TxnLog.snapshot(spark, t)
    assert(ver2 == 2L && snap2.count() == 2L)
  }

  test("time travel resurrects retired segments") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L))
    val b = writeSeg(t, "b", Seq(2L))
    TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)))
    TxnLog.tryCommit(spark, t, 2L, "w", Seq(Action("add", b)))
    val c = writeSeg(t, "c", Seq(1L, 2L))
    TxnLog.tryCommit(spark, t, 3L, "w",
      Seq(Action("remove", a), Action("remove", b), Action("add", c)))
    val (v2, ver, n) = TxnLog.snapshot(spark, t, Some(2L))
    assert(ver == 2L && n == 2 && v2.count() == 2L)
    val (v3, _, n3) = TxnLog.snapshot(spark, t, Some(3L))
    assert(n3 == 1 && v3.count() == 2L)
  }

  test("OCC: disjoint writer rebases; overlapping writer aborts") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L))
    TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)))
    val staleBase = TxnLog.currentVersion(spark, t) // 1
    // an intervening commit lands (compacts a → b)
    val b = writeSeg(t, "b", Seq(1L))
    TxnLog.tryCommit(spark, t, 2L, "compactor",
      Seq(Action("remove", a), Action("add", b)))
    // disjoint append from the stale base: loses v2, rebases, wins v3
    val c = writeSeg(t, "c", Seq(5L))
    val r = TxnLog.commitWithRetry(spark, t, "appender",
      Seq(Action("add", c)), baseVersion = Some(staleBase))
    assert(r.version == 3L && r.attempts == 2)
    // overlapping writer (also touches a) from the same stale base:
    // must throw, and must NOT advance the log
    intercept[IllegalStateException] {
      TxnLog.commitWithRetry(spark, t, "rival",
        Seq(Action("remove", a), Action("add", s"$t/g")),
        baseVersion = Some(staleBase))
    }
    assert(TxnLog.currentVersion(spark, t) == 3L)
  }

  test("checkpoint: ckpt+suffix resolution equals full-log; torn ckpt is skipped") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L))
    val b = writeSeg(t, "b", Seq(2L))
    val c = writeSeg(t, "c", Seq(1L, 2L))
    TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)))
    TxnLog.tryCommit(spark, t, 2L, "w", Seq(Action("add", b)))
    TxnLog.tryCommit(spark, t, 3L, "w",
      Seq(Action("remove", a), Action("remove", b), Action("add", c)))
    TxnLog.writeCheckpoint(spark, t, 2L)
    val d = writeSeg(t, "d", Seq(9L))
    TxnLog.tryCommit(spark, t, 4L, "w", Seq(Action("add", d)))
    val (snap, ver, n, ckptV) = TxnLog.snapshotViaCheckpoint(spark, t)
    assert(ckptV == 2L && ver == 4L && n == 2)
    assert(snap.count() == 3L) // {c, d} = rows 1,2,9
    // torn checkpoint (no `end` trailer) at a NEWER version must be
    // skipped in favor of the older complete one
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = fs.create(new org.apache.hadoop.fs.Path(
      s"$t/_txnlog/${"%020d".format(3)}.ckpt"), true)
    torn.write(s"ckpt\t3\nadd\t$a\n".getBytes("UTF-8")); torn.close()
    val (snap2, ver2, _, ckptV2) = TxnLog.snapshotViaCheckpoint(spark, t)
    assert(ckptV2 == 2L && ver2 == 4L, "reader trusted a torn checkpoint")
    assert(snap2.count() == 3L)
  }

  test("checkpoint path reads O(suffix): pre-checkpoint bodies never open") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L))
    val b = writeSeg(t, "b", Seq(2L))
    TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)))
    TxnLog.tryCommit(spark, t, 2L, "w", Seq(Action("add", b)))
    TxnLog.writeCheckpoint(spark, t, 2L)
    val c = writeSeg(t, "c", Seq(3L))
    TxnLog.tryCommit(spark, t, 3L, "w", Seq(Action("add", c)))
    // corrupt the BODIES of the checkpointed commits: if the
    // checkpoint read path (or currentVersion) ever opened them, it
    // would throw — this is the behavioral pin that the path is
    // O(suffix), not O(all commits)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(1, 2).foreach { v =>
      val p = new org.apache.hadoop.fs.Path(
        s"$t/_txnlog/${"%020d".format(v)}.txn")
      val out = fs.create(p, true)
      out.write("garbage not a commit".getBytes("UTF-8")); out.close()
    }
    assert(TxnLog.currentVersion(spark, t) == 3L) // listing-only
    val (snap, ver, n, ckptV) = TxnLog.snapshotViaCheckpoint(spark, t)
    assert(ckptV == 2L && ver == 3L && n == 3)
    assert(snap.count() == 3L)
    // sanity: the raw full-log reader DOES open the bodies and must
    // fail — proving the corruption was real and the read skipped it
    intercept[Exception] { TxnLog.commits(spark, t) }
    // snapshot is the same checkpoint-anchored read
    val (snap2, ver2, n2) = TxnLog.snapshot(spark, t)
    assert(ver2 == 3L && n2 == 3 && snap2.count() == 3L)
  }

  test("every state read starts at the newest checkpoint: pre-checkpoint bodies never open") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 2L))
    val b = writeSeg(t, "b", Seq(3L, 4L))
    // v1-v3 carry every kind of state a fold resolves: segments with
    // zone maps, a column mapping, a constraint, an identity mark, a dv
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(
      Action("add", a, stats = Map("id" -> (1L, 2L))),
      TxnLog.columnMappingAction(Seq("id" -> "id")),
      TxnLog.constraintAction("id_pos", "id > 0"))))
    assert(TxnLog.tryCommit(spark, t, 2L, "w",
      Seq(Action("add", b), Action("meta", "idhwm=rid:2"))))
    assert(TxnLog.deleteWhereMoR(spark, t, "w", col("id") === 4L).exists(_.version == 3L))
    TxnLog.writeCheckpoint(spark, t, 3L)
    val c = writeSeg(t, "c", Seq(5L))
    val d = writeSeg(t, "d", Seq(6L))
    assert(TxnLog.tryCommit(spark, t, 4L, "w", Seq(Action("add", c))))
    assert(TxnLog.tryCommit(spark, t, 5L, "w", Seq(Action("add", d))))
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(1, 2, 3).foreach { v =>
      val out = fs.create(new org.apache.hadoop.fs.Path(
        s"$t/_txnlog/${"%020d".format(v)}.txn"), true)
      out.write("garbage not a commit".getBytes("UTF-8")); out.close()
    }
    intercept[Exception] { TxnLog.commits(spark, t) } // the corruption is real
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    // each entry point in turn, on the log the previous ones left;
    // every one that opens a pre-checkpoint body is named at the end
    val entryPoints: Seq[(String, () => Unit)] = Seq(
      "snapshot" -> (() => assert(ids(TxnLog.snapshot(spark, t)._1) == Seq(1L, 2L, 3L, 5L, 6L))),
      "snapshot asOf" -> (() => assert(ids(TxnLog.snapshot(spark, t, Some(3L))._1) == Seq(1L, 2L, 3L))),
      "snapshotViaCheckpoint" -> (() => assert(TxnLog.snapshotViaCheckpoint(spark, t)._4 == 3L)),
      "dvStateAt" -> (() => assert(TxnLog.dvStateAt(spark, t, 4L).keySet == Set(b))),
      "mappingAt" -> (() => assert(TxnLog.mappingAt(spark, t, 4L).contains(Seq("id" -> "id")))),
      "changeFeed" -> (() => assert(TxnLog.changeFeed(spark, t, 3L, 5L, Seq("id"))._1.count() == 2L)),
      "checkConstraints" -> (() => intercept[TxnLog.ConstraintViolationException] {
        TxnLog.checkConstraints(spark, t, spark.createDataFrame(Seq(Tuple1(-1L))).toDF("id"))
      }),
      "compactionPlan" -> (() => TxnLog.compactionPlan(spark, t)),
      "compactBin" -> (() => assert(TxnLog.compactBin(spark, t, "w", Seq(c, d), s"$t/m").version == 6L)),
      "clusterBin" -> (() => assert(TxnLog.clusterBin(spark, t, "w", Seq(a), s"$t/cl", "id", 1).version == 7L)),
      "deleteWhereMoR" -> (() => assert(TxnLog.deleteWhereMoR(spark, t, "w", col("id") === 3L).nonEmpty)),
      "appendWithIdentity" -> (() => assert(TxnLog.appendWithIdentity(spark, t, "w",
        spark.createDataFrame(Seq(Tuple1(7L))).toDF("id"), s"$t/e", "rid", "id")._2 == 3L)),
      "restore" -> (() => {
        TxnLog.restore(spark, t, "w", 3L)
        assert(ids(TxnLog.snapshot(spark, t)._1) == Seq(1L, 2L, 3L))
      }),
      "writeCheckpoint" -> (() => TxnLog.writeCheckpoint(spark, t, TxnLog.currentVersion(spark, t) - 1L)),
      "checkpointIfDue" -> (() => assert(TxnLog.checkpointIfDue(spark, t, 1).nonEmpty)))
    val failed = entryPoints.flatMap { case (name, body) =>
      scala.util.Try(body()).failed.toOption.map(e => s"$name: $e")
    }
    assert(failed.isEmpty, s"entry points that opened a pre-checkpoint body:\n${failed.mkString("\n")}")
  }

  test("log format rejects delimiter characters at the write boundary") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L))
    // a tab inside a segment path would serialize fine and corrupt the
    // log at parse time — must be rejected before any bytes are staged
    intercept[IllegalArgumentException] {
      TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", "/x/se\tg")))
    }
    // a stats column name carrying the stats-blob delimiters likewise
    intercept[IllegalArgumentException] {
      TxnLog.tryCommit(spark, t, 1L, "w",
        Seq(Action("add", a, Map("a:b" -> (1L, 2L)))))
    }
    intercept[IllegalArgumentException] {
      TxnLog.tryCommit(spark, t, 1L, "w",
        Seq(Action("add", a, Map("a,b" -> (1L, 2L)))))
    }
    // nothing landed: the log is still empty and a clean commit wins v1
    assert(TxnLog.currentVersion(spark, t) == 0L)
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a))))
  }

  test("contiguity: readers stop before a version gap") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L))
    val b = writeSeg(t, "b", Seq(2L))
    TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)))
    // version 3 exists but 2 does not (an in-flight publish on an
    // eventually-listing store): the reader must see only v1
    TxnLog.tryCommit(spark, t, 3L, "w", Seq(Action("add", b)))
    val cs = TxnLog.commits(spark, t)
    assert(cs.map(_.version) == Seq(1L))
    val (snap, ver, _) = TxnLog.snapshot(spark, t)
    assert(ver == 1L && snap.count() == 1L)
  }
}
