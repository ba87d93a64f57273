package graft

import graft.ops.TxnLog
import graft.ops.TxnLog.Action
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TxnLog's one reader of visible rows (segment minus its active dv
  * sidecar). A table without a column mapping has one physical schema,
  * inferred once per read: snapshot, MoR delete and compaction run a
  * fixed number of Spark jobs however many segments they read. The
  * differential test pins that the reader returns what per-file schema
  * inference returns, on unmapped and column-mapped tables alike.
  */
class TxnReaderSpec extends SparkSpec {

  private def freshTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_txn_reader")
    dir.toFile.deleteOnExit()
    dir.toString
  }

  private def writeSeg(table: String, name: String, ids: Seq[Long]): String = {
    val p = s"$table/$name"
    spark.createDataFrame(ids.map(i => (i, s"t$i"))).toDF("id", "tag")
      .coalesce(1).write.parquet(p)
    p
  }

  /** A table of `n` plain segments of 10 ids each: segment i holds
    * ids 10i until 10i + 10. */
  private def plainTable(n: Int): (String, Seq[String]) = {
    val t = freshTable()
    val segs = (0 until n).map { i =>
      val p = writeSeg(t, s"s$i", i * 10L until i * 10L + 10L)
      assert(TxnLog.tryCommit(spark, t, i + 1L, "w", Seq(Action("add", p))))
      p
    }
    (t, segs)
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def jobsOf[T](body: => T): (T, Int) = JobCount.of(spark)(body)

  test("deleteWhereMoR on plain segments runs <= 3 jobs, whatever their number") {
    val counts = Seq(2, 6).map { n =>
      val (t, _) = plainTable(n)
      // a delete that matches nothing: inference and probe, no write
      val (none, noJobs) = jobsOf(
        TxnLog.deleteWhereMoR(spark, t, "mor", col("id") === -1L))
      assert(none.isEmpty && noJobs <= 2, s"$n segments, no match: $noJobs jobs")
      val (res, jobs) = jobsOf(
        TxnLog.deleteWhereMoR(spark, t, "mor", col("id") === 3L))
      assert(res.exists(_.version == n + 1L))
      assert(TxnLog.commits(spark, t).last.actions.map(_.kind) == Seq("dv"))
      assert(ids(TxnLog.snapshot(spark, t)._1) ==
        (0L until n * 10L).filterNot(_ == 3L))
      jobs
    }
    // schema inference, one probe over every segment, one sidecar write
    assert(counts.forall(_ <= 3) && counts.distinct.size == 1,
      s"jobs at 2 and 6 segments: $counts")
  }

  test("compactBin of an 8-member bin runs 2 jobs") {
    val (t, segs) = plainTable(8)
    val (res, jobs) = jobsOf(
      TxnLog.compactBin(spark, t, "opt", segs, s"$t/merged"))
    assert(res.version == 9L)
    assert(jobs == 2, s"$jobs jobs") // schema inference + the merged write
    val (snap, _, nSegs) = TxnLog.snapshot(spark, t)
    assert(nSegs == 1 && ids(snap) == (0L until 80L))
  }

  test("snapshot with dv'd segments runs <= 1 job before its scan") {
    val (t, _) = plainTable(4)
    TxnLog.deleteWhereMoR(spark, t, "mor", col("id").isin(3L, 13L, 23L))
    assert(TxnLog.liveState(TxnLog.commits(spark, t)).count(_._2.nonEmpty) == 3)
    val ((snap, v, n), jobs) = jobsOf(TxnLog.snapshot(spark, t))
    assert(v == 5L && n == 4)
    assert(jobs <= 1, s"$jobs jobs")
    assert(ids(snap) == (0L until 40L).filterNot(Set(3L, 13L, 23L)))
    TxnLog.writeCheckpoint(spark, t, 5L)
    val ((ck, _, _, ckV), ckJobs) = jobsOf(TxnLog.snapshotViaCheckpoint(spark, t))
    assert(ckV == 5L && ckJobs <= 1, s"$ckJobs jobs")
    assert(ids(ck) == ids(snap))
  }

  // ---- the slow path: every file read with its own inferred schema ----

  private type Rows = Seq[Seq[Any]]
  private def rowsOf(df: DataFrame): Rows = df.collect().map(_.toSeq).toSeq
  private def sorted(rs: Rows): Rows = rs.sortBy(_.mkString("|"))
  private def own(p: String): DataFrame = spark.read.parquet(p)
  private def ownVisible(seg: String, dv: Option[String]): DataFrame =
    dv.fold(own(seg))(d => own(seg).exceptAll(own(d)))
  private def logical(df: DataFrame, m: Option[Seq[(String, String)]]): DataFrame =
    m.fold(df)(m => df.select(m.map { case (l, p) =>
      (if (df.columns.contains(p)) col(p) else lit(null)).as(l)
    }: _*))

  /** (columns, rows) of the head snapshot, one file at a time. */
  private def slowSnapshot(t: String): (Seq[String], Rows) = {
    val cs = TxnLog.commits(spark, t)
    val m = TxnLog.columnMapping(cs)
    val live = TxnLog.liveState(cs)
    (m.map(_.map(_._1)).getOrElse(own(live.head._1).columns.toSeq),
      live.flatMap { case (seg, dv) => rowsOf(logical(ownVisible(seg, dv), m)) })
  }

  /** Every change from version 1 on, one file at a time: an append
    * inserts its rows, a dv deletes its sidecar minus the one it
    * supersedes, a rewrite (compaction, clustering) must carry its
    * removed segments' visible rows exactly and so changes nothing. */
  private def slowFeed(t: String): Rows = {
    var m: Option[Seq[(String, String)]] = None
    var dvs = Map.empty[String, String]
    TxnLog.commits(spark, t).flatMap { c =>
      m = TxnLog.mappingAfter(c, m)
      val adds = c.actions.filter(_.kind == "add").map(_.path)
      val removes = c.actions.filter(_.kind == "remove").map(_.path)
      def tagged(df: DataFrame, kind: String): Rows =
        rowsOf(logical(df, m)).map(_ :+ kind :+ c.version)
      val rewritten =
        if (removes.isEmpty) adds.flatMap(p => tagged(own(p), "insert"))
        else {
          val before = removes.flatMap(p => rowsOf(logical(ownVisible(p, dvs.get(p)), m)))
          val after = adds.flatMap(p => rowsOf(logical(own(p), m)))
          assert(sorted(before) == sorted(after),
            s"rewrite at v${c.version} changed the visible rows")
          Seq.empty
        }
      val deleted = c.actions.filter(_.kind == "dv").flatMap { a =>
        val rs = tagged(ownVisible(a.path, dvs.get(a.ref)), "delete")
        dvs += a.ref -> a.path
        rs
      }
      dvs --= removes
      rewritten ++ deleted
    }
  }

  /** The sidecar a MoR delete of `cond` must write per hit segment:
    * (columns, rows) of the previous sidecar plus the newly matched
    * visible rows. */
  private def slowSidecars(t: String, cond: Column): Map[String, (Seq[String], Rows)] =
    TxnLog.liveState(TxnLog.commits(spark, t)).flatMap { case (seg, dv) =>
      val hits = rowsOf(ownVisible(seg, dv).filter(cond))
      if (hits.isEmpty) None
      else Some(seg -> (own(seg).columns.toSeq,
        dv.map(d => rowsOf(own(d))).getOrElse(Seq.empty) ++ hits))
    }.toMap

  /** Random appends, MoR deletes, compactions and clusterings; after
    * each, the snapshot (direct and through a checkpoint) and every new
    * sidecar equal the slow path; at the end, so does the change feed. */
  private def differential(mapped: Boolean, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val t = freshTable()
    var nextId = 0L
    var v = 0L
    var nSeg = 0
    def live = TxnLog.liveFiles(TxnLog.commits(spark, t))
    def append(): Unit = {
      val rows = (1 to 2 + rnd.nextInt(5)).map { _ => nextId += 1; nextId }
        .map(i => (i, s"t$i", i % 3))
      nSeg += 1
      val p = s"$t/seg$nSeg"
      val df = spark.createDataFrame(rows).toDF("id", "c1", "c9")
      // a mapped table's segments alternate between two physical
      // schemas, as after a column was added
      (if (mapped && nSeg % 2 == 1) df.drop("c9") else df)
        .coalesce(1).write.parquet(p)
      val meta =
        if (mapped && v == 0L) Seq(TxnLog.columnMappingAction(
          Seq("id" -> "id", "tag" -> "c1", "score" -> "c9")))
        else Seq.empty
      v += 1
      assert(TxnLog.tryCommit(spark, t, v, "w", Action("add", p) +: meta))
    }
    def pick(segs: Seq[String], min: Int): Seq[String] =
      rnd.shuffle(segs).take(min + rnd.nextInt(segs.size - min + 1))
    append(); append()
    // every op kind runs, in a seeded order
    val ops = rnd.shuffle(Seq("append", "delete", "compact", "cluster",
      "delete", "compact", "cluster", "append"))
    for ((op, step) <- ops.zipWithIndex) {
      val ctx = s"mapped=$mapped seed=$seed step=$step op=$op"
      if (op == "append" || (op == "compact" && live.size < 2)) append()
      if (op == "delete") {
        if (slowSnapshot(t)._2.isEmpty) append()
        val visible = slowSnapshot(t)._2.map(_.head.asInstanceOf[Long])
        val doomed = visible.filter(_ => rnd.nextInt(10) < 3) :+ visible.head
        val cond = col("id").isin(doomed: _*)
        val want = slowSidecars(t, cond)
        val res = TxnLog.deleteWhereMoR(spark, t, "mor", cond)
        assert(res.nonEmpty, ctx)
        v = res.get.version
        val got = TxnLog.commits(spark, t).last.actions.map { a =>
          val df = own(a.path)
          a.ref -> (df.columns.toSeq, rowsOf(df))
        }.toMap
        assert(got.keySet == want.keySet, ctx)
        got.foreach { case (seg, (cols, rs)) =>
          assert(cols == want(seg)._1 && sorted(rs) == sorted(want(seg)._2),
            s"$ctx: sidecar of $seg")
        }
      } else if (op == "compact") {
        v = TxnLog.compactBin(spark, t, "opt", pick(live, 2), s"$t/m$step").version
      } else if (op == "cluster") {
        // a clustering bin needs a visible row
        def withRows = {
          val dvs = TxnLog.liveState(TxnLog.commits(spark, t)).toMap
          live.filterNot(p => ownVisible(p, dvs(p)).isEmpty)
        }
        if (withRows.isEmpty) append()
        v = TxnLog.clusterBin(spark, t, "opt", pick(withRows, 1), s"$t/c$step",
          "id", 2).version
      }
      TxnLog.checkpointIfDue(spark, t, 3)
      val (cols, want) = slowSnapshot(t)
      val (snap, sv, _) = TxnLog.snapshot(spark, t)
      assert(sv == v, ctx)
      assert(snap.columns.toSeq == cols, ctx)
      assert(sorted(rowsOf(snap)) == sorted(want), ctx)
      val (viaCk, _, _, _) = TxnLog.snapshotViaCheckpoint(spark, t)
      assert(sorted(rowsOf(viaCk)) == sorted(want), s"$ctx: via checkpoint")
    }
    val (feed, _) = TxnLog.changeFeed(spark, t, 0L, v, Seq("id"))
    assert(sorted(rowsOf(feed)) == sorted(slowFeed(t)), s"mapped=$mapped seed=$seed: CDF")
  }

  test("differential: unmapped tables read like per-file schema inference") {
    differential(mapped = false, seed = 11)
  }

  test("differential: column-mapped tables read like per-file schema inference") {
    differential(mapped = true, seed = 21)
  }
}
