package graft

import graft.ops.TxnLog
import graft.ops.TxnLog.Action
import org.apache.spark.sql.functions._

/** The round-12 protocol completions: timestamp time travel (in-commit
  * timestamps + monotonicity adjustment), column mapping (rename/drop
  * without rewrite), and RESTORE (rollback as a forward commit).
  */
class TxnProtocolSpec extends SparkSpec {

  private def freshTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_txn_proto")
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

  // ---- timestamp time travel --------------------------------------------

  test("versionAt resolves in-commit timestamps with skew adjustment") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L))
    val b = writeSeg(t, "b", Seq(2L))
    val c = writeSeg(t, "c", Seq(3L))
    assert(TxnLog.tryCommit(spark, t, 1L, "w1", Seq(Action("add", a)),
      ts = 1000L))
    assert(TxnLog.tryCommit(spark, t, 2L, "w1", Seq(Action("add", b)),
      ts = 2000L))
    // w2's clock lags: version 3 claims t=1500, BEFORE version 2's —
    // the monotonicity adjustment must place it at 2001
    assert(TxnLog.tryCommit(spark, t, 3L, "w2", Seq(Action("add", c)),
      ts = 1500L))
    val effs = TxnLog.commitTimestamps(spark, t)
    assert(effs == Seq((1L, 1000L, 1000L), (2L, 2000L, 2000L),
      (3L, 1500L, 2001L)), s"wrong effective timestamps: $effs")
    assert(TxnLog.versionAt(spark, t, 1000L) == 1L)
    assert(TxnLog.versionAt(spark, t, 1999L) == 1L)
    assert(TxnLog.versionAt(spark, t, 2000L) == 2L)
    assert(TxnLog.versionAt(spark, t, 2001L) == 3L)
    assert(TxnLog.versionAt(spark, t, Long.MaxValue) == 3L)
    // AS OF a mid-history instant reads the snapshot of that instant
    assert(ids(TxnLog.snapshotAt(spark, t, 2000L)._1) == Seq(1L, 2L))
    intercept[TxnLog.TimestampBeforeTableException] {
      TxnLog.versionAt(spark, t, 999L)
    }
  }

  test("unstamped commits fall back to file modtime, stay monotone") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L))
    val b = writeSeg(t, "b", Seq(2L))
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a))))
    assert(TxnLog.tryCommit(spark, t, 2L, "w", Seq(Action("add", b)),
      ts = 5L)) // absurdly early claim vs v1's modtime
    val effs = TxnLog.commitTimestamps(spark, t)
    assert(effs.head._2 > 5L, "v1 raw should be a real modtime")
    // adjustment forces v2 effective AFTER v1 despite the early claim
    assert(effs(1)._3 == effs.head._3 + 1L)
    assert(TxnLog.versionAt(spark, t, Long.MaxValue) == 2L)
  }

  test("timestamp travel below a truncated log's floor is a named error") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L))
    val b = writeSeg(t, "b", Seq(2L))
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a)),
      ts = 1000L))
    assert(TxnLog.tryCommit(spark, t, 2L, "w", Seq(Action("add", b)),
      ts = 2000L))
    TxnLog.writeCheckpoint(spark, t, 2L)
    TxnLog.truncateLog(spark, t)
    val c = writeSeg(t, "c", Seq(3L))
    assert(TxnLog.tryCommit(spark, t, 3L, "w", Seq(Action("add", c)),
      ts = 3000L))
    assert(TxnLog.versionAt(spark, t, 3000L) == 3L)
    // ts=1500 truly resolved to v1 once; that body is gone — the
    // answer must be the truncation error, never a silent wrong pick
    intercept[TxnLog.LogTruncatedException] {
      TxnLog.versionAt(spark, t, 1500L)
    }
  }

  // ---- column mapping -----------------------------------------------------

  private def writePhys(table: String, name: String,
                        rows: Seq[(Long, String)],
                        valueCol: String): String = {
    val p = s"$table/$name"
    spark.createDataFrame(rows).toDF("id", valueCol)
      .coalesce(1).write.parquet(p)
    p
  }

  test("rename and drop are metadata-only; re-add never resurrects") {
    val t = freshTable()
    val a = writePhys(t, "a", Seq((1L, "x"), (2L, "y")), "c1")
    // v1: segment + the initial mapping (id->id, tag->c1)
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a),
      TxnLog.columnMappingAction(Seq("id" -> "id", "tag" -> "c1")))))
    val (s1, _, _) = TxnLog.snapshot(spark, t)
    assert(s1.columns.toSeq == Seq("id", "tag"))
    assert(s1.where(col("tag") === "x").count() == 1L)
    // v2: RENAME tag -> label, zero files
    assert(TxnLog.tryCommit(spark, t, 2L, "w", Seq(
      TxnLog.columnMappingAction(Seq("id" -> "id", "label" -> "c1")))))
    val (s2, _, n2) = TxnLog.snapshot(spark, t)
    assert(s2.columns.toSeq == Seq("id", "label") && n2 == 1)
    assert(TxnLog.liveFiles(TxnLog.commits(spark, t)) == Seq(a),
      "rename must rewrite nothing")
    // time travel: the mapping is versioned — v1 still reads `tag`
    assert(TxnLog.snapshot(spark, t, Some(1L))._1.columns.toSeq ==
      Seq("id", "tag"))
    // v3: DROP label (metadata-only)
    assert(TxnLog.tryCommit(spark, t, 3L, "w", Seq(
      TxnLog.columnMappingAction(Seq("id" -> "id")))))
    assert(TxnLog.snapshot(spark, t)._1.columns.toSeq == Seq("id"))
    // v4: re-ADD logical `label` bound to FRESH physical c2 + a new
    // segment carrying it — old rows must read NULL, never old c1
    val b = writePhys(t, "b", Seq((3L, "z")), "c2")
    assert(TxnLog.tryCommit(spark, t, 4L, "w", Seq(Action("add", b),
      TxnLog.columnMappingAction(Seq("id" -> "id", "label" -> "c2")))))
    val (s4, _, _) = TxnLog.snapshot(spark, t)
    val byId = s4.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(byId(1L) == null && byId(2L) == null,
      s"dropped values resurrected: $byId")
    assert(byId(3L) == "z")
  }

  test("mapping survives checkpoint + truncation; empty mapping resets") {
    val t = freshTable()
    val a = writePhys(t, "a", Seq((1L, "x")), "c1")
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a),
      TxnLog.columnMappingAction(Seq("id" -> "id", "tag" -> "c1")))))
    val b = writePhys(t, "b", Seq((2L, "y")), "c1")
    assert(TxnLog.tryCommit(spark, t, 2L, "w", Seq(Action("add", b))))
    TxnLog.writeCheckpoint(spark, t, 2L)
    TxnLog.truncateLog(spark, t)
    // the commit that declared the mapping is GONE; the checkpoint
    // must carry it or the drop/rename silently reverts
    val (s, _, _) = TxnLog.snapshot(spark, t)
    assert(s.columns.toSeq == Seq("id", "tag"),
      "column mapping lost across truncation")
    assert(ids(s.select(col("id"))) == Seq(1L, 2L))
    // empty mapping = reset to physical reads
    val head = TxnLog.currentVersion(spark, t)
    assert(TxnLog.tryCommit(spark, t, head + 1L, "w",
      Seq(TxnLog.columnMappingAction(Seq.empty))))
    assert(TxnLog.snapshot(spark, t)._1.columns.toSeq == Seq("id", "c1"))
  }

  test("mapping names with delimiters are rejected at the write boundary") {
    intercept[IllegalArgumentException] {
      TxnLog.columnMappingAction(Seq("a:b" -> "c"))
    }
    intercept[IllegalArgumentException] {
      TxnLog.columnMappingAction(Seq("a" -> "c", "a" -> "d"))
    }
  }

  test("change feed emits LOGICAL columns under an evolving mapping") {
    val t = freshTable()
    val a = writePhys(t, "a", Seq((1L, "x"), (2L, "y")), "c1")
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a),
      TxnLog.columnMappingAction(Seq("id" -> "id", "tag" -> "c1")))))
    // v2: rename tag -> label (meta-only; must emit NO rows)
    assert(TxnLog.tryCommit(spark, t, 2L, "w", Seq(
      TxnLog.columnMappingAction(Seq("id" -> "id", "label" -> "c1")))))
    // v3: append a POST-evolution segment with a fresh physical column
    val b = s"$t/b"
    spark.createDataFrame(Seq((3L, "z", 7L))).toDF("id", "c1", "c9")
      .coalesce(1).write.parquet(b)
    assert(TxnLog.tryCommit(spark, t, 3L, "w", Seq(Action("add", b),
      TxnLog.columnMappingAction(
        Seq("id" -> "id", "label" -> "c1", "score" -> "c9")))))
    // v4: MoR delete — the dv delta must also surface logically
    assert(TxnLog.deleteWhereMoR(spark, t, "mor", col("id") === 1L)
      .exists(_.version == 4L))
    // a range crossing the v3 mapping change has no single logical
    // schema — the named split-your-range error, never a misaligned
    // positional union
    val e = intercept[TxnLog.CdfSchemaChangeException] {
      TxnLog.changeFeed(spark, t, 0L, 4L, Seq("id"))
    }
    assert(e.version == 2L) // the FIRST mapping change in the range
    // per-commit classification carries each commit's own mapping
    val cs = TxnLog.commits(spark, t)
    var m: Option[Seq[(String, String)]] = None
    val schemas = cs.map { c =>
      m = TxnLog.mappingAfter(c, m)
      val (dfs, _, _) = TxnLog.commitChanges(spark, c, Map.empty, Seq("id"), m)
      (c.version, dfs.map(_.columns.toSeq.filterNot(_.startsWith("_"))))
    }
    assert(schemas(0) == (1L, Seq(Seq("id", "tag"))))
    assert(schemas(1) == (2L, Seq.empty), "meta-only commit emits rows")
    assert(schemas(2) == (3L, Seq(Seq("id", "label", "score"))))
    assert(schemas(3) == (4L, Seq(Seq("id", "label", "score"))))
    // and the v4 delta's logical content is right: id=1 under `label`
    val (dfs4, _, _) = TxnLog.commitChanges(spark, cs.last,
      TxnLog.dvStateAt(spark, t, 3L), Seq("id"),
      TxnLog.mappingAt(spark, t, 4L))
    val row = dfs4.head.select("id", "label").collect().head
    assert(row.getLong(0) == 1L && row.getString(1) == "x")
    // a range STARTING at the mapping-change commit is fine: (2, 4]
    // shares v3's mapping throughout
    val (feed, _) = TxnLog.changeFeed(spark, t, 2L, 4L, Seq("id"))
    assert(feed.columns.toSeq ==
      Seq("id", "label", "score", "_change_type", "_commit_version"))
    assert(feed.count() == 2L) // v3 insert + v4 dv delete
  }

  test("compaction across a schema evolution aligns by name, loses nothing") {
    val t = freshTable()
    val a = writePhys(t, "a", Seq((1L, "x")), "c1")
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a),
      TxnLog.columnMappingAction(Seq("id" -> "id", "tag" -> "c1")))))
    val b = s"$t/b"
    spark.createDataFrame(Seq((2L, "y", 9L))).toDF("id", "c1", "c9")
      .coalesce(1).write.parquet(b)
    assert(TxnLog.tryCommit(spark, t, 2L, "w", Seq(Action("add", b),
      TxnLog.columnMappingAction(
        Seq("id" -> "id", "tag" -> "c1", "score" -> "c9")))))
    val (before, _, _) = TxnLog.snapshot(spark, t)
    val pre = before.orderBy("id").collect().toSeq
    TxnLog.compactBin(spark, t, "opt", Seq(a, b), s"$t/merged")
    val (after, _, nSegs) = TxnLog.snapshot(spark, t)
    assert(nSegs == 1)
    assert(after.orderBy("id").collect().toSeq == pre,
      "compaction across evolution must be reader-invisible")
  }

  // ---- CHECK constraints ----------------------------------------------------

  test("CHECK constraints gate writes, accumulate, drop, and survive truncation") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 2L))
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a),
      TxnLog.constraintAction("id_pos", "id > 0"))))
    // a conforming batch passes
    TxnLog.checkConstraints(spark, t,
      spark.createDataFrame(Seq(Tuple1(5L))).toDF("id"))
    // a violating batch fails NAMED with the count, before any commit
    val bad = spark.createDataFrame(Seq(Tuple1(-1L), Tuple1(3L),
      Tuple1(-2L))).toDF("id")
    val e = intercept[TxnLog.ConstraintViolationException] {
      TxnLog.checkConstraints(spark, t, bad)
    }
    assert(e.name == "id_pos" && e.violations == 2L)
    // NULL passes (SQL CHECK semantics)
    TxnLog.checkConstraints(spark, t,
      spark.createDataFrame(Seq(Tuple1(Option.empty[java.lang.Long])))
        .toDF("id"))
    // constraints accumulate; both evaluate in one pass
    assert(TxnLog.tryCommit(spark, t, 2L, "w",
      Seq(TxnLog.constraintAction("id_small", "id < 100"))))
    val e2 = intercept[TxnLog.ConstraintViolationException] {
      TxnLog.checkConstraints(spark, t,
        spark.createDataFrame(Seq(Tuple1(500L))).toDF("id"))
    }
    assert(e2.name == "id_small")
    // survives checkpoint + truncation (the declaring commits die)
    TxnLog.writeCheckpoint(spark, t, 2L)
    TxnLog.truncateLog(spark, t)
    intercept[TxnLog.ConstraintViolationException] {
      TxnLog.checkConstraints(spark, t,
        spark.createDataFrame(Seq(Tuple1(-7L))).toDF("id"))
    }
    // drop retires it — the same batch now passes
    val head = TxnLog.currentVersion(spark, t)
    assert(TxnLog.tryCommit(spark, t, head + 1L, "w",
      Seq(TxnLog.dropConstraintAction("id_pos"))))
    TxnLog.checkConstraints(spark, t,
      spark.createDataFrame(Seq(Tuple1(-7L))).toDF("id"))
  }

  test("restore re-points constraints to the target version's set") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L))
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a),
      TxnLog.constraintAction("id_pos", "id > 0"))))
    assert(TxnLog.tryCommit(spark, t, 2L, "w", Seq(
      TxnLog.dropConstraintAction("id_pos"),
      TxnLog.constraintAction("id_big", "id > 10"))))
    TxnLog.restore(spark, t, "restorer", 1L)
    assert(TxnLog.constraints(TxnLog.commits(spark, t)) ==
      Seq("id_pos" -> "id > 0"))
  }

  test("clusterBin: dv-aware, disjoint ranges, refreshed stats, empty ranges skipped") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 5L, 9L, 13L))
    val b = writeSeg(t, "b", Seq(2L, 6L, 10L, 14L))
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a))))
    assert(TxnLog.tryCommit(spark, t, 2L, "w", Seq(Action("add", b))))
    assert(TxnLog.deleteWhereMoR(spark, t, "mor", col("id") === 14L)
      .exists(_.version == 3L))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    TxnLog.clusterBin(spark, t, "opt", Seq(a, b), s"$t/cl", "id", 2)
    // the checkpointed bin is freed once the commit lands
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "clusterBin left its bin checkpoint persisted")
    // lo=1 hi=13 span=13 → range0 [1,7): {1,2,5,6}, range1 [7,14): {9,10,13}
    val live = TxnLog.liveActions(TxnLog.commits(spark, t))
    assert(live.size == 2)
    assert(live.map(_.stats("id")) == Seq((1L, 6L), (9L, 13L)),
      s"stats not disjoint/refreshed: ${live.map(_.stats)}")
    // the MoR-deleted row did NOT resurrect through the rewrite
    assert(ids(TxnLog.snapshot(spark, t)._1) ==
      Seq(1L, 2L, 5L, 6L, 9L, 10L, 13L))
    // no active sidecar survives (its base segments were removed)
    assert(TxnLog.liveState(TxnLog.commits(spark, t)).forall(_._2.isEmpty))
    // degenerate: clustering a single-value bin skips empty ranges
    val t2 = freshTable()
    val x = writeSeg(t2, "x", Seq(7L, 7L, 7L))
    assert(TxnLog.tryCommit(spark, t2, 1L, "w", Seq(Action("add", x))))
    TxnLog.clusterBin(spark, t2, "opt", Seq(x), s"$t2/cl", "id", 4)
    val live2 = TxnLog.liveActions(TxnLog.commits(spark, t2))
    assert(live2.size == 1 && live2.head.stats("id") == ((7L, 7L)))
    assert(ids(TxnLog.snapshot(spark, t2)._1) == Seq(7L, 7L, 7L))
    // a clustering that fails after the bin is checkpointed frees it
    // too
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[org.apache.spark.sql.AnalysisException] {
      TxnLog.clusterBin(spark, t2, "opt", live2.map(_.path), s"$t2/cl2",
        "no_such_col", 4)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "clusterBin left its bin checkpoint persisted after failing")
  }

  // ---- identity columns -----------------------------------------------------

  test("identity allocation: contiguous, deterministic, truncation-safe") {
    val t = freshTable()
    val b1 = spark.createDataFrame(Seq(Tuple1(30L), Tuple1(10L),
      Tuple1(20L))).toDF("k")
    val (r1, lo1, hi1) = TxnLog.appendWithIdentity(spark, t, "w", b1,
      s"$t/seg1", "row_id", "k")
    assert(r1.version == 1L && lo1 == 1L && hi1 == 3L)
    // deterministic: ids follow the order key, not partition layout
    val got = TxnLog.snapshot(spark, t)._1.orderBy("k")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("row_id")))
    assert(got.toSeq == Seq((10L, 1L), (20L, 2L), (30L, 3L)))
    val (_, lo2, hi2) = TxnLog.appendWithIdentity(spark, t, "w",
      spark.createDataFrame(Seq(Tuple1(5L), Tuple1(7L))).toDF("k"),
      s"$t/seg2", "row_id", "k")
    assert(lo2 == 4L && hi2 == 5L)
    // the mark survives checkpoint + truncation
    TxnLog.writeCheckpoint(spark, t, 2L)
    TxnLog.truncateLog(spark, t)
    val (_, lo3, _) = TxnLog.appendWithIdentity(spark, t, "w",
      spark.createDataFrame(Seq(Tuple1(99L))).toDF("k"),
      s"$t/seg3", "row_id", "k")
    assert(lo3 == 6L, "high-water lost across truncation")
  }

  test("concurrent identity allocations never collide (OCC sentinel)") {
    val t = freshTable()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = (0 until 4).map { i =>
      scala.concurrent.Future {
        TxnLog.appendWithIdentity(spark, t, s"w$i",
          spark.createDataFrame(
            Seq(Tuple1(i * 10L + 1L), Tuple1(i * 10L + 2L))).toDF("k"),
          s"$t/alloc_$i", "row_id", "k")
      }
    }
    val results = futures.map(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration
        .Duration(120, "s")))
    pool.shutdown()
    // every writer landed; the 8 ids are exactly 1..8, no collisions
    val ranges = results.map { case (_, lo, hi) => (lo, hi) }
    assert(ranges.forall { case (lo, hi) => hi - lo == 1L })
    val all = ranges.flatMap { case (lo, hi) => Seq(lo, hi) }.sorted
    assert(all == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
      s"id ranges collide or gap: $ranges")
    val ids = TxnLog.snapshot(spark, t)._1
      .select("row_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 8L))
    assert(TxnLog.identityHighWater(TxnLog.commits(spark, t),
      "row_id") == 8L)
  }

  // ---- RESTORE -------------------------------------------------------------

  test("restore rolls back CoW + append history as one forward commit") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 2L))
    val b = writeSeg(t, "b", Seq(3L, 4L))
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a))))
    assert(TxnLog.tryCommit(spark, t, 2L, "w", Seq(Action("add", b))))
    // v3: CoW delete of 4 (rewrite b); v4: append c
    val b2 = writeSeg(t, "b2", Seq(3L))
    assert(TxnLog.tryCommit(spark, t, 3L, "w",
      Seq(Action("remove", b), Action("add", b2))))
    val c = writeSeg(t, "c", Seq(9L))
    assert(TxnLog.tryCommit(spark, t, 4L, "w", Seq(Action("add", c))))
    val res = TxnLog.restore(spark, t, "restorer", 2L)
    assert(res.version == 5L)
    // head now reads exactly like v2
    assert(ids(TxnLog.snapshot(spark, t)._1) == Seq(1L, 2L, 3L, 4L))
    // history is intact: the bad v4 is still readable for forensics
    assert(ids(TxnLog.snapshot(spark, t, Some(4L))._1) == Seq(1L, 2L, 3L, 9L))
    // restore-to-current is a no-op (no empty commit published)
    val noop = TxnLog.restore(spark, t, "restorer", 5L)
    assert(noop.version == 5L && noop.attempts == 0)
    assert(TxnLog.currentVersion(spark, t) == 5L)
  }

  test("restore undoes a MoR delete by resetting the dv association") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L, 2L, 3L, 4L))
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a))))
    assert(TxnLog.deleteWhereMoR(spark, t, "mor", col("id") > 2L)
      .exists(_.version == 2L))
    assert(ids(TxnLog.snapshot(spark, t)._1) == Seq(1L, 2L))
    val res = TxnLog.restore(spark, t, "restorer", 1L)
    assert(res.version == 3L)
    // the deleted rows are RESURRECTED — and without a rewrite
    assert(ids(TxnLog.snapshot(spark, t)._1) == Seq(1L, 2L, 3L, 4L))
    assert(TxnLog.liveFiles(TxnLog.commits(spark, t)) == Seq(a))
    val state = TxnLog.liveState(TxnLog.commits(spark, t))
    assert(state == Seq(a -> None), s"dv association must clear: $state")
  }

  test("restore re-points the column mapping of the target version") {
    val t = freshTable()
    val a = writePhys(t, "a", Seq((1L, "x")), "c1")
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a),
      TxnLog.columnMappingAction(Seq("id" -> "id", "tag" -> "c1")))))
    assert(TxnLog.tryCommit(spark, t, 2L, "w", Seq(
      TxnLog.columnMappingAction(Seq("id" -> "id", "label" -> "c1")))))
    TxnLog.restore(spark, t, "restorer", 1L)
    assert(TxnLog.snapshot(spark, t)._1.columns.toSeq == Seq("id", "tag"))
  }

  test("restore to a vacuumed version fails with the named error") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(1L))
    assert(TxnLog.tryCommit(spark, t, 1L, "w", Seq(Action("add", a))))
    val a2 = writeSeg(t, "a2", Seq(1L, 2L))
    assert(TxnLog.tryCommit(spark, t, 2L, "w",
      Seq(Action("remove", a), Action("add", a2))))
    val vac = TxnLog.vacuum(spark, t, horizon = 2L)
    assert(vac.removed.contains(a))
    val e = intercept[TxnLog.RestoreVacuumedException] {
      TxnLog.restore(spark, t, "restorer", 1L)
    }
    assert(e.getMessage.contains(a))
    // and the table is untouched by the failed restore
    assert(TxnLog.currentVersion(spark, t) == 2L)
  }

  test("restore preserves original zone-map stats on re-added segments") {
    val t = freshTable()
    val a = writeSeg(t, "a", Seq(10L, 20L))
    assert(TxnLog.tryCommit(spark, t, 1L, "w",
      Seq(Action("add", a, stats = Map("id" -> (10L, 20L))))))
    val a2 = writeSeg(t, "a2", Seq(10L))
    assert(TxnLog.tryCommit(spark, t, 2L, "w",
      Seq(Action("remove", a), Action("add", a2))))
    TxnLog.restore(spark, t, "restorer", 1L)
    val live = TxnLog.liveActions(TxnLog.commits(spark, t))
    assert(live.map(_.path) == Seq(a))
    assert(live.head.stats == Map("id" -> (10L, 20L)),
      "re-add must carry the original stats — segments are immutable")
  }

  test("restore after truncation re-adds a segment with its zone-map stats") {
    val t = freshTable()
    val a = writeSeg(t, "a", 1L to 10L)
    assert(TxnLog.tryCommit(spark, t, 1L, "w",
      Seq(Action("add", a, stats = Map("id" -> (1L, 10L))))))
    val b = writeSeg(t, "b", Seq(11L))
    assert(TxnLog.tryCommit(spark, t, 2L, "w", Seq(Action("add", b))))
    TxnLog.writeCheckpoint(spark, t, 2L)
    TxnLog.truncateLog(spark, t)
    // v1, the add that carried a's stats, survives only in the checkpoint
    assert(TxnLog.tryCommit(spark, t, 3L, "w", Seq(Action("remove", a))))
    assert(TxnLog.restore(spark, t, "restorer", 2L).version == 4L)
    assert(TxnLog.commits(spark, t, fromVersion = 3L).last.actions ==
      Seq(Action("add", a, stats = Map("id" -> (1L, 10L)))))
  }

  test("an unreadable floor checkpoint is the named error on every write path") {
    val t = freshTable()
    assert(TxnLog.tryCommit(spark, t, 1L, "w",
      Seq(TxnLog.constraintAction("id_pos", "id > 0"))))
    def batch(ks: Long*) = spark.createDataFrame(ks.map(Tuple1(_))).toDF("k")
    val (r2, lo, hi) = TxnLog.appendWithIdentity(spark, t, "w", batch(10L, 20L),
      s"$t/seg2", "id", "k")
    assert(r2.version == 2L && lo == 1L && hi == 2L)
    TxnLog.writeCheckpoint(spark, t, 2L)
    TxnLog.truncateLog(spark, t)
    val seg3 = s"$t/seg3"
    spark.createDataFrame(Seq((30L, 3L))).toDF("k", "id").coalesce(1).write.parquet(seg3)
    assert(TxnLog.tryCommit(spark, t, 3L, "w", Seq(Action("add", seg3))))
    // tear the trailer off the floor checkpoint — the state an
    // in-place checkpoint rewrite leaves if it dies mid-write
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckpt = new org.apache.hadoop.fs.Path(s"$t/_txnlog/${"%020d".format(2)}.ckpt")
    val in = fs.open(ckpt)
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(body.endsWith("end\n"))
    val out = fs.create(ckpt, true)
    out.write(body.stripSuffix("end\n").getBytes("UTF-8")); out.close()
    def named(op: => Any): Unit = {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage.contains("history floor 2") &&
        e.getMessage.contains("no readable checkpoint"), e.getMessage)
    }
    named(TxnLog.deleteWhereMoR(spark, t, "w", col("id") === 3L))
    // never a fold of v3 alone: that accepts id = -7 and hands id 1 out again
    named(TxnLog.checkConstraints(spark, t, spark.createDataFrame(Seq(Tuple1(-7L))).toDF("id")))
    named(TxnLog.appendWithIdentity(spark, t, "w", batch(40L), s"$t/seg4", "id", "k"))
    assert(TxnLog.currentVersion(spark, t) == 3L)
  }
}
