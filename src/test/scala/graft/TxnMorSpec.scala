package graft

import graft.ops.TxnLog
import graft.ops.TxnLog.{Action, DeletionVector}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Merge-on-read deletion vectors (the q586 library half): a delete
  * that rewrites NOTHING — one cumulative positional dv sidecar per
  * touched segment — must read exactly like its copy-on-write twin at
  * every version, survive checkpoint round-trips, supersede correctly,
  * vacuum its dead sidecars, and conflict with rewrites of its base
  * segment under OCC. The sidecar codec round-trips every position.
  */
class TxnMorSpec extends SparkSpec {

  private def freshTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_txn_mor")
    dir.toFile.deleteOnExit()
    dir.toString
  }

  private def writeSeg(table: String, name: String, ids: Seq[Long]): String = {
    val p = s"$table/$name"
    spark.createDataFrame(ids.map(Tuple1(_))).toDF("id")
      .coalesce(1).write.parquet(p)
    p
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  /** Each part file of `seg` by its path within the segment, with its
    * ids in file order (a small file is one split, read in order). */
  private def fileIds(seg: String): Seq[(String, Seq[Long])] =
    new java.io.File(seg).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      .sorted.toSeq.map(f => f -> spark.read.parquet(s"$seg/$f").collect().map(_.getLong(0)).toSeq)

  /** The ids of `seg` at the positions its sidecar `dv` deletes. */
  private def deletedIds(seg: String, dv: String): Seq[Long] = {
    val ps = DeletionVector.read(spark, dv)
    fileIds(seg).flatMap { case (f, ids) =>
      ids.zipWithIndex.collect { case (id, i) if ps.get(f).exists(_.contains(i.toLong)) => id }
    }.sorted
  }

  /** A sidecar of `seg` deleting the rows with `ids`, written by the
    * writer the MoR delete uses. */
  private def sidecar(table: String, seg: String, ids: Seq[Long]): String =
    DeletionVector.write(spark, table, seg, fileIds(seg).map { case (f, rows) =>
      val b = new Roaring64NavigableMap()
      rows.zipWithIndex.foreach { case (id, i) => if (ids.contains(id)) b.addLong(i.toLong) }
      f -> b
    }.toMap)

  test("MoR delete reads like CoW, rewrites nothing, time travel intact") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 2L, 3L, 4L))
    val b = writeSeg(t, "b", Seq(5L, 6L))
    TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)))
    TxnLog.tryCommit(spark, t, 2L, "w", Seq(Action("add", b)))
    val res = TxnLog.deleteWhereMoR(spark, t, "mor", col("id").isin(2L, 4L))
    assert(res.exists(_.version == 3L))
    // per-segment targeting: only a matched, so exactly ONE dv action
    val c3 = TxnLog.commits(spark, t).last
    assert(c3.actions.map(_.kind) == Seq("dv"), s"wrong actions: $c3")
    assert(c3.actions.head.ref == a)
    // reader: rows gone, SEGMENTS unchanged (nothing rewritten)
    val (snap, v, nSegs) = TxnLog.snapshot(spark, t)
    assert(v == 3L && nSegs == 2)
    assert(ids(snap) == Seq(1L, 3L, 5L, 6L))
    assert(TxnLog.liveFiles(TxnLog.commits(spark, t)) == Seq(a, b),
      "a MoR delete must not change the live segment set")
    // time travel: v2 still shows the deleted rows
    assert(ids(TxnLog.snapshot(spark, t, Some(2L))._1) ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // no-op delete publishes no commit
    assert(TxnLog.deleteWhereMoR(spark, t, "mor", col("id") === 999L).isEmpty)
    assert(TxnLog.currentVersion(spark, t) == 3L)
  }

  test("second delete supersedes: cumulative sidecar, CDF emits the delta") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 2L, 3L, 4L, 5L))
    TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)))
    TxnLog.deleteWhereMoR(spark, t, "mor", col("id") === 2L) // v2
    TxnLog.deleteWhereMoR(spark, t, "mor", col("id") === 4L) // v3
    assert(ids(TxnLog.snapshot(spark, t)._1) == Seq(1L, 3L, 5L))
    // exactly one ACTIVE dv for a, carrying BOTH deleted rows
    val state = TxnLog.liveState(TxnLog.commits(spark, t))
    assert(state.map(_._1) == Seq(a))
    val dv2 = state.head._2.get
    assert(deletedIds(a, dv2) == Seq(2L, 4L))
    // CDF: each dv commit surfaces ONLY its delta, never the re-read
    // of the cumulative sidecar
    val (chg, _) = TxnLog.changeFeed(spark, t, 1L, 3L, Seq("id"))
    val del = chg.where(col("_change_type") === "delete")
      .select("id", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(del == Seq((2L, 2L), (4L, 3L)), s"wrong dv deltas: $del")
    assert(chg.count() == 2L)
  }

  test("checkpoint round-trips dv state; vacuum reaps superseded sidecars") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 2L, 3L, 4L))
    TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)))
    TxnLog.deleteWhereMoR(spark, t, "mor", col("id") === 1L) // v2, dv1
    val dv1 = TxnLog.liveState(TxnLog.commits(spark, t)).head._2.get
    TxnLog.deleteWhereMoR(spark, t, "mor", col("id") === 3L) // v3, dv2
    TxnLog.writeCheckpoint(spark, t, 3L)
    // checkpoint-based resolution must reapply the ACTIVE dv
    val (snap, v, n, ckptV) = TxnLog.snapshotViaCheckpoint(spark, t)
    assert(v == 3L && ckptV == 3L && n == 1)
    assert(ids(snap) == Seq(2L, 4L))
    // vacuum at the head: dv1 (superseded at v3) is dead, dv2 active
    val vac = TxnLog.vacuum(spark, t, horizon = 3L)
    assert(vac.removed == Seq(dv1), s"wrong vacuum set: $vac")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dv1)))
    assert(ids(TxnLog.snapshot(spark, t)._1) == Seq(2L, 4L))
  }

  test("removing a dv'd segment: CDF deletes only still-visible rows; vacuum reaps the dv") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 2L, 3L))
    TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)))
    TxnLog.deleteWhereMoR(spark, t, "mor", col("id") === 2L) // v2
    val dv = TxnLog.liveState(TxnLog.commits(spark, t)).head._2.get
    // v3 retires the segment outright
    TxnLog.tryCommit(spark, t, 3L, "w", Seq(Action("remove", a)))
    val (chg, _) = TxnLog.changeFeed(spark, t, 2L, 3L, Seq("id"))
    // id 2 was ALREADY deleted at v2 — it must not die twice
    assert(ids(chg.where(col("_change_type") === "delete")) == Seq(1L, 3L))
    // vacuum reaps segment AND its sidecar together
    val vac = TxnLog.vacuum(spark, t, horizon = 3L)
    assert(vac.removed.toSet == Set(a, dv), s"wrong vacuum set: $vac")
  }

  test("OCC: a MoR delete conflicts with a rewrite of its base segment") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 2L))
    val b = writeSeg(t, "b", Seq(3L))
    TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)))
    TxnLog.tryCommit(spark, t, 2L, "w", Seq(Action("add", b)))
    // a compaction of a+b lands FIRST; a dv prepared against v2 must
    // abort (its base segment no longer exists), never commit blind
    val c = writeSeg(t, "c", Seq(1L, 2L, 3L))
    val dvPath = sidecar(t, a, Seq(1L))
    TxnLog.tryCommit(spark, t, 3L, "compactor",
      Seq(Action("remove", a), Action("remove", b), Action("add", c)))
    val e = intercept[IllegalStateException] {
      TxnLog.commitWithRetry(spark, t, "mor",
        Seq(Action("dv", dvPath, ref = a)), baseVersion = Some(2L))
    }
    assert(e.getMessage.contains("conflicts"), e.getMessage)
    // disjoint-segment work still commutes: a dv on c rebases fine
    val dvC = sidecar(t, c, Seq(3L))
    val res = TxnLog.commitWithRetry(spark, t, "mor",
      Seq(Action("dv", dvC, ref = c)), baseVersion = Some(3L))
    assert(res.version == 4L)
    assert(ids(TxnLog.snapshot(spark, t)._1) == Seq(1L, 2L))
  }

  private def bits(rows: Long*): Roaring64NavigableMap = {
    val b = new Roaring64NavigableMap()
    rows.foreach(b.addLong)
    b
  }

  test("sidecar codec round-trips empty, single, dense and 64-bit positions") {
    val dense = new Roaring64NavigableMap()
    dense.addRange(0L, 100000L)
    val above = Int.MaxValue.toLong + 1L
    val cases: Seq[DeletionVector.Positions] = Seq(
      Map.empty,
      Map("part-0.parquet" -> bits()),
      Map("part-0.parquet" -> bits(7L)),
      Map("part-0.parquet" -> dense, "sub/part-1.parquet" -> bits(0L, 99999L)),
      Map("part-0.parquet" -> bits(above, 5L << 40, 3L)))
    cases.foreach { ps =>
      val back = DeletionVector.decode(DeletionVector.encode(ps), "case")
      assert(back == ps, s"round trip of $ps")
    }
    // 64-bit positions stay 64-bit: their 32-bit truncations are absent
    val big = DeletionVector.decode(DeletionVector.encode(cases.last), "big")("part-0.parquet")
    assert(big.contains(above) && big.contains(5L << 40) && big.contains(3L))
    assert(!big.contains(above.toInt.toLong) && !big.contains(0L))
    assert(big.getLongCardinality == 3L)
    // a file that is not a sidecar is a named error, never empty positions
    Seq(Array.emptyByteArray, "PAR1 not a sidecar".getBytes("UTF-8")).foreach { b =>
      val e = intercept[IllegalArgumentException](DeletionVector.decode(b, "junk"))
      assert(e.getMessage.contains("not a positional deletion vector"), e.getMessage)
    }
  }

  /** `TxnLog` loaded afresh, with none of this process's static state:
    * what a second process running the same code would see. */
  private def freshProcessTxnLog(): AnyRef = {
    val home = classOf[TxnLog.Action].getProtectionDomain.getCodeSource.getLocation
    val loader = new java.net.URLClassLoader(Array(home), getClass.getClassLoader) {
      override def loadClass(name: String, resolve: Boolean): Class[_] =
        if (!name.startsWith("graft.ops.TxnLog")) super.loadClass(name, resolve)
        else getClassLoadingLock(name).synchronized {
          Option(findLoadedClass(name)).getOrElse(findClass(name))
        }
    }
    loader.loadClass("graft.ops.TxnLog$").getField("MODULE$").get(null)
  }

  test("sidecar names never collide across process lifetimes") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 2L, 3L))
    TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)))
    // two processes, one delete each, on the same segment
    Seq(1L, 2L).foreach { id =>
      val log = freshProcessTxnLog()
      log.getClass.getMethod("deleteWhereMoR", classOf[SparkSession], classOf[String],
          classOf[String], classOf[Column])
        .invoke(log, spark, t, "mor", col("id") === id)
    }
    assert(TxnLog.currentVersion(spark, t) == 3L)
    assert(ids(TxnLog.snapshot(spark, t)._1) == Seq(3L))
    val dvs = TxnLog.commits(spark, t).flatMap(_.actions.filter(_.kind == "dv").map(_.path))
    assert(dvs.distinct.size == 2, s"sidecars: $dvs")
  }
}
