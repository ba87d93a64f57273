package graft

import java.nio.file.{Files, Paths}

import graft.ops.TxnLog
import graft.ops.TxnLog.{Action, DeletionVector}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** TxnLog's one reader of visible rows: the segments as one relation,
  * minus the row positions their active dv sidecars delete. A read
  * infers its schema once: snapshot, MoR delete and compaction run a
  * fixed number of Spark jobs however many segments they read, and a
  * dv costs a row filter, not a shuffle. The differential test pins
  * that the reader returns what reading each part file alone and
  * dropping the sidecar's positions returns, on unmapped and
  * column-mapped tables alike.
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

  test("deleteWhereMoR on plain segments runs <= 2 jobs, whatever their number") {
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
    // schema inference and one probe over every segment; the driver
    // writes the sidecar itself
    assert(counts.forall(_ <= 2) && counts.distinct.size == 1,
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
    // the scan is one job of one stage: no shuffle
    val (_, scanJobs, scanStages) = JobCount.withStages(spark)(snap.collect())
    assert(scanJobs == 1 && scanStages == 1, s"scan: $scanJobs jobs, $scanStages stages")
    assert(ids(snap) == (0L until 40L).filterNot(Set(3L, 13L, 23L)))
    TxnLog.writeCheckpoint(spark, t, 5L)
    val ((ck, _, _, ckV), ckJobs) = jobsOf(TxnLog.snapshotViaCheckpoint(spark, t))
    assert(ckV == 5L && ckJobs <= 1, s"$ckJobs jobs")
    assert(ids(ck) == ids(snap))
  }

  test("a 100-row contiguous delete writes a sidecar of at most 128 bytes") {
    val t = freshTable()
    val p = writeSeg(t, "s0", 0L until 1000L)
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", p))))
    TxnLog.deleteWhereMoR(spark, t, "mor", col("id") >= 400L && col("id") < 500L)
    val dv = TxnLog.liveState(TxnLog.commits(spark, t)).head._2.get
    val bytes = new java.io.File(dv).length
    assert(bytes <= 128L, s"sidecar of 100 deleted rows: $bytes bytes")
    assert(ids(TxnLog.snapshot(spark, t)._1) ==
      (0L until 1000L).filterNot(i => i >= 400L && i < 500L))
  }

  // ---- the slow path: each part file read alone, its rows collected in
  // file order; a sidecar's positions index those rows. No Spark filter.

  private type Rows = Seq[Seq[Any]]
  private def rowsOf(df: DataFrame): Rows = df.collect().map(_.toSeq).toSeq
  private def sorted(rs: Rows): Rows = rs.sortBy(_.mkString("|"))

  private val partFiles =
    scala.collection.mutable.Map.empty[String, Seq[(String, Seq[String], Rows)]]

  /** Each part file of `seg` by its path within the segment, with its
    * columns and its rows in file order (a small file is one split,
    * read in order). Segments are immutable, so each is read once. */
  private def files(seg: String): Seq[(String, Seq[String], Rows)] =
    partFiles.getOrElseUpdate(seg,
      new java.io.File(seg).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        .sorted.toSeq.map { f =>
          val df = spark.read.parquet(s"$seg/$f")
          (f, df.columns.toSeq, rowsOf(df))
        })

  /** Whether the sidecar `dv` deletes position i of file f. */
  private def deletes(dv: Option[String]): (String, Long) => Boolean = {
    val ps = dv.fold(Map.empty: DeletionVector.Positions)(DeletionVector.read(spark, _))
    (f, i) => ps.get(f).exists(_.contains(i))
  }

  /** The rows of `seg` whose (file, position) `keep` accepts, in the
    * logical columns of mapping `m`. */
  private def slowRows(seg: String, m: Option[Seq[(String, String)]])
                      (keep: (String, Long) => Boolean): Rows =
    files(seg).flatMap { case (f, cols, rows) =>
      rows.zipWithIndex.collect { case (r, i) if keep(f, i.toLong) =>
        m.fold(r)(_.map { case (_, p) =>
          val j = cols.indexOf(p)
          if (j < 0) null else r(j)
        })
      }
    }

  private def ownVisible(seg: String, dv: Option[String],
                         m: Option[Seq[(String, String)]]): Rows = {
    val gone = deletes(dv)
    slowRows(seg, m)((f, i) => !gone(f, i))
  }

  /** (columns, rows) of the snapshot at `asOf`, one file at a time. */
  private def slowSnapshot(t: String, asOf: Option[Long] = None): (Seq[String], Rows) = {
    val cs = TxnLog.commits(spark, t, asOf)
    val m = TxnLog.columnMapping(cs)
    val live = TxnLog.liveState(cs)
    (m.map(_.map(_._1)).getOrElse(files(live.head._1).head._2),
      live.flatMap { case (seg, dv) => ownVisible(seg, dv, m) })
  }

  /** Every change from version 1 on, one file at a time: an append
    * inserts its rows, a dv deletes its base segment's rows at the
    * positions it adds to the sidecar it supersedes, a rewrite
    * (compaction, clustering) must carry its removed segments' visible
    * rows exactly and so changes nothing. */
  private def slowFeed(t: String): Rows = {
    var m: Option[Seq[(String, String)]] = None
    var dvs = Map.empty[String, String]
    TxnLog.commits(spark, t).flatMap { c =>
      m = TxnLog.mappingAfter(c, m)
      val adds = c.actions.filter(_.kind == "add").map(_.path)
      val removes = c.actions.filter(_.kind == "remove").map(_.path)
      def tagged(rs: Rows, kind: String): Rows = rs.map(_ :+ kind :+ c.version)
      val rewritten =
        if (removes.isEmpty) adds.flatMap(p => tagged(ownVisible(p, None, m), "insert"))
        else {
          val before = removes.flatMap(p => ownVisible(p, dvs.get(p), m))
          val after = adds.flatMap(p => ownVisible(p, None, m))
          assert(sorted(before) == sorted(after),
            s"rewrite at v${c.version} changed the visible rows")
          Seq.empty
        }
      val deleted = c.actions.filter(_.kind == "dv").flatMap { a =>
        val (now, was) = (deletes(Some(a.path)), deletes(dvs.get(a.ref)))
        dvs += a.ref -> a.path
        tagged(slowRows(a.ref, m)((f, i) => now(f, i) && !was(f, i)), "delete")
      }
      dvs --= removes
      rewritten ++ deleted
    }
  }

  private def positions(b: Roaring64NavigableMap): Set[Long] = {
    val it = b.getLongIterator
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSet
  }

  /** The sidecar a MoR delete of the ids `doomed` must write per hit
    * segment: per part file, the previous sidecar's positions plus the
    * positions of the newly matched visible rows. */
  private def slowSidecars(t: String, doomed: Long => Boolean)
      : Map[String, Map[String, Set[Long]]] =
    TxnLog.liveState(TxnLog.commits(spark, t)).flatMap { case (seg, dv) =>
      val was = deletes(dv)
      def hit(f: String, cols: Seq[String], rows: Rows): Seq[Long] = {
        val id = cols.indexOf("id")
        rows.zipWithIndex.collect {
          case (r, i) if !was(f, i.toLong) && doomed(r(id).asInstanceOf[Long]) => i.toLong
        }
      }
      if (files(seg).forall { case (f, cols, rows) => hit(f, cols, rows).isEmpty }) None
      else Some(seg -> files(seg).map { case (f, cols, rows) =>
        f -> (hit(f, cols, rows).toSet ++ rows.indices.map(_.toLong).filter(was(f, _)))
      }.filter(_._2.nonEmpty).toMap)
    }.toMap

  private def rowGroups(file: String): Int = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRowGroups.size finally r.close()
  }

  /** A multi-row-group segment, then random appends (some of two part
    * files, some with a duplicated row), copies of a live segment's
    * part files under their own names (rows and file names shared with
    * a dv'd segment, none of its deletes), MoR deletes (id lists, and id ranges that let
    * parquet skip row groups), compactions and clusterings. After each
    * step, the snapshot (direct and through a checkpoint) and every new
    * sidecar equal the slow path; at the end, so do the snapshots at
    * every version and the change feed. */
  private def differential(mapped: Boolean, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val t = freshTable()
    var nextId = 0L
    var v = 0L
    var nSeg = 0
    def live = TxnLog.liveFiles(TxnLog.commits(spark, t))
    def commitSeg(p: String): Unit = {
      val meta =
        if (mapped && v == 0L) Seq(TxnLog.columnMappingAction(
          Seq("id" -> "id", "tag" -> "c1", "score" -> "c9")))
        else Seq.empty
      v += 1
      assert(TxnLog.tryCommit(spark, t, v, "w", Action("add", p) +: meta))
    }
    def rows(n: Int): Seq[(Long, String, Long)] =
      (1 to n).map { _ => nextId += 1; nextId }.map(i => (i, s"t$i", i % 3))
    def newSeg(): String = { nSeg += 1; s"$t/seg$nSeg" }
    def bigSegment(): Unit = {
      val p = newSeg()
      // parquet closes a row group every 100 rows at this block size
      spark.createDataFrame(rows(600)).toDF("id", "c1", "c9").coalesce(1)
        .write.option("parquet.block.size", "1").parquet(p)
      assert(files(p).map(f => rowGroups(s"$p/${f._1}")).forall(_ > 1))
      commitSeg(p)
    }
    def append(): Unit = {
      val fresh = rows(2 + rnd.nextInt(5))
      val rs = if (rnd.nextInt(3) == 0) fresh :+ fresh(rnd.nextInt(fresh.size)) else fresh
      val p = newSeg()
      val df = spark.createDataFrame(rs).toDF("id", "c1", "c9")
      // a mapped table's segments alternate between two physical
      // schemas, as after a column was added
      val phys = if (mapped && nSeg % 2 == 1) df.drop("c9") else df
      (if (rnd.nextBoolean()) phys.repartition(2) else phys.coalesce(1)).write.parquet(p)
      commitSeg(p)
    }
    def copy(ctx: String): Unit = {
      // a copy of a dv'd segment shares its file names but not its
      // deletes: positions must be matched by path, not by name
      def dvd = TxnLog.liveState(TxnLog.commits(spark, t)).collect { case (p, Some(_)) => p }
      if (dvd.isEmpty) delete(ctx, range = false)
      val src = dvd(rnd.nextInt(dvd.size))
      val p = newSeg()
      Files.createDirectories(Paths.get(p))
      files(src).foreach { case (f, _, _) => Files.copy(Paths.get(src, f), Paths.get(p, f)) }
      commitSeg(p)
    }
    def delete(ctx: String, range: Boolean): Unit = {
      if (slowSnapshot(t)._2.isEmpty) append()
      val visible = slowSnapshot(t)._2.map(_.head.asInstanceOf[Long])
      val (cond, doomed) =
        if (range) {
          val lo = visible(rnd.nextInt(visible.size))
          val hi = lo + 1L + rnd.nextInt(40)
          (col("id") >= lo && col("id") < hi, (i: Long) => i >= lo && i < hi)
        } else {
          val ids = (visible.filter(_ => rnd.nextInt(10) < 3) :+ visible.head).toSet
          (col("id").isin(ids.toSeq: _*), ids)
        }
      val want = slowSidecars(t, doomed)
      val res = TxnLog.deleteWhereMoR(spark, t, "mor", cond)
      assert(res.nonEmpty, ctx)
      v = res.get.version
      val got = TxnLog.commits(spark, t).last.actions.map { a =>
        a.ref -> DeletionVector.read(spark, a.path).map { case (f, b) => f -> positions(b) }
      }.toMap
      assert(got == want, s"$ctx: sidecars")
    }
    def pick(segs: Seq[String], min: Int): Seq[String] =
      rnd.shuffle(segs).take(min + rnd.nextInt(segs.size - min + 1))
    def check(ctx: String): Unit = {
      val (cols, want) = slowSnapshot(t)
      val (snap, sv, _) = TxnLog.snapshot(spark, t)
      assert(sv == v, ctx)
      assert(snap.columns.toSeq == cols, ctx)
      assert(sorted(rowsOf(snap)) == sorted(want), ctx)
      val (viaCk, _, _, _) = TxnLog.snapshotViaCheckpoint(spark, t)
      assert(sorted(rowsOf(viaCk)) == sorted(want), s"$ctx: via checkpoint")
    }
    bigSegment(); append(); append()
    delete(s"mapped=$mapped seed=$seed: row-group skipping", range = true)
    check(s"mapped=$mapped seed=$seed: row-group skipping")
    // every op kind runs, in a seeded order
    val ops = rnd.shuffle(Seq("append", "delete", "compact", "cluster", "copy",
      "delete", "compact", "cluster", "append", "copy", "delete"))
    for ((op, step) <- ops.zipWithIndex) {
      val ctx = s"mapped=$mapped seed=$seed step=$step op=$op"
      if (op == "append" || (op == "compact" && live.size < 2)) append()
      if (op == "copy") copy(ctx)
      if (op == "delete") delete(ctx, range = rnd.nextBoolean())
      else if (op == "compact") {
        v = TxnLog.compactBin(spark, t, "opt", pick(live, 2), s"$t/m$step").version
      } else if (op == "cluster") {
        // a clustering bin needs a visible row
        def withRows = {
          val dvs = TxnLog.liveState(TxnLog.commits(spark, t)).toMap
          live.filterNot(p => ownVisible(p, dvs(p), None).isEmpty)
        }
        if (withRows.isEmpty) append()
        v = TxnLog.clusterBin(spark, t, "opt", pick(withRows, 1), s"$t/c$step",
          "id", 2).version
      }
      TxnLog.checkpointIfDue(spark, t, 3)
      check(ctx)
    }
    (1L to v).foreach { at =>
      val (cols, want) = slowSnapshot(t, Some(at))
      val (snap, sv, _) = TxnLog.snapshot(spark, t, Some(at))
      assert(sv == at && snap.columns.toSeq == cols && sorted(rowsOf(snap)) == sorted(want),
        s"mapped=$mapped seed=$seed: time travel to v$at")
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
