package graft.ops

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Mini-lakehouse transaction log: ACID table commits as an ordered
  * sequence of atomically-published log files, the protocol behind
  * every modern table format (public designs: the Delta Lake VLDB'20
  * paper, the Iceberg spec, Hive ACID). The reference's
  * `last_run.json` overwrite (reference `main.py:19-22`) is the
  * degenerate single-writer case of exactly this — one state file,
  * last writer wins; this is the multi-writer generalization SURVEY
  * §2A maps to "checkpoint/commit-log".
  *
  * Design (all public-knowledge techniques):
  * - A table is a directory of immutable parquet segments plus
  *   `_txnlog/<version 20-digit zero-padded>.txn` commit files.
  * - Each commit lists `add`/`remove` segment actions. The LIVE set at
  *   version v is the ordered fold of actions ≤ v (adds insert,
  *   removes delete) — so compaction, append, and delete are all just
  *   commits, and any historical snapshot is reconstructible (time
  *   travel).
  * - **Optimistic concurrency**: a writer prepares its segments, then
  *   publishes `<v>.txn` via write-to-temp + a CREATION-EXCLUSIVE
  *   publish — hard link (`link(2)`, atomic EEXIST) on POSIX local
  *   filesystems, [[FileContext]] rename-without-overwrite on HDFS
  *   (atomic at the NameNode), a conditional PUT on object stores —
  *   the per-store LogStore strategy public table formats document.
  *   Exactly one writer can own a version; the loser re-reads the
  *   log, checks its action set against the intervening commits, and
  *   either rebases to the new head or aborts.
  * - **Snapshot isolation**: a reader lists the log ONCE, resolves the
  *   live set at the version it saw, and reads only those immutable
  *   segments — concurrent commits create new versions, never mutate
  *   segments, so the read is consistent without locks.
  * - Contiguity rule: versions start at 1 and must be gap-free; a
  *   reader stops at the first gap (a gap can only be a not-yet-
  *   visible in-flight publish on an eventually-listing store).
  * - **One scan per read**: the segments of a read are ONE multi-path
  *   parquet relation, so a table's schema is inferred once per read
  *   (one job); a column-mapped table, whose segments may differ
  *   physically, merges their schemas by name instead.
  * - **Positional deletion vectors**: a merge-on-read delete records
  *   the deleted rows' parquet positions (`_metadata.row_index`) per
  *   part file in one small sidecar per segment ([[DeletionVector]]),
  *   the Delta deletion-vector / Iceberg position-delete design. The
  *   driver reads the active sidecars, and the scan drops those
  *   positions with one row filter: no value comparison, no shuffle,
  *   no second relation ([[VisibleRows]]).
  *
  * At 100 TB the log is O(commits), not O(data): resolving it is a
  * driver-side listing of tiny files, and every state read opens only
  * the newest checkpoint and the commits after it ([[stateAt]]),
  * while the data reads stay fully distributed over the resolved
  * segment list. On object stores without atomic rename the publish
  * step swaps to a conditional PUT / external lock service — same
  * protocol, different primitive (the Delta paper's LogStore
  * abstraction).
  */
object TxnLog {

  /** One file-level action inside a commit. `kind` ∈ add | remove |
    * dv. `stats` optionally carries the segment's column zone maps
    * (name → (min, max) as longs) INSIDE the commit — so a reader can
    * prune segments from the LOG ALONE, without listing or opening a
    * single data file (manifest-level pruning, the public
    * Iceberg/Delta stats-in-metadata design).
    *
    * `dv` is the MERGE-ON-READ delete (the public deletion-vector
    * design): `path` is a [[DeletionVector]] sidecar holding the
    * CUMULATIVE deleted row positions of the base segment named by
    * `ref` — the segment is NOT rewritten; readers drop those
    * positions at scan time. A newer dv on the same segment SUPERSEDES
    * the older one (each dv carries the full deleted-position set, so
    * the active state is one sidecar per segment, never a chain).
    * Zone-map stats on the base add remain
    * valid BOUNDS under row deletes (deletes only shrink a segment's
    * min/max range, never widen it). */
  case class Action(kind: String, path: String,
                    stats: Map[String, (Long, Long)] = Map.empty,
                    ref: String = "")

  /** `ts`: the writer's IN-COMMIT timestamp (epoch millis; -1 = not
    * recorded). Recording the clock inside the commit body — not
    * trusting file modification times — is the public in-commit-
    * timestamp design: modtimes change under log copy/restore and are
    * assigned by the STORE's clock, while `ts` is the writer's claim,
    * frozen at publish. Timestamp time travel ([[versionAt]]) resolves
    * against these, falling back to the commit file's modtime for
    * unstamped commits, with the standard monotonicity adjustment
    * (clock skew between writers must not make history non-causal). */
  case class Commit(version: Long, writer: String, actions: Seq[Action],
                    ts: Long = -1L)

  /** Outcome of [[commitWithRetry]]: the version finally owned plus
    * how many publish attempts it took (1 = no contention). */
  case class CommitResult(version: Long, attempts: Int)

  /** Abort outcome of [[commitWithRetry]] — a true path conflict or
    * attempt exhaustion. Carries the REAL publish count so a
    * contention probe can account every tryCommit the loser burned
    * before detecting the conflict (an aborted writer may have lost
    * several version races first; counting it as one undercounts the
    * contention tax). Subclasses IllegalStateException so existing
    * abort handling is unchanged. */
  class CommitConflictException(msg: String, val attempts: Int)
    extends IllegalStateException(msg)

  private def logDir(table: String) = new Path(table, "_txnlog")

  private def versionFile(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.txn")

  private def hfs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Every byte of the file at `p`. */
  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  private def readUtf8(fs: FileSystem, p: Path): String =
    new String(readBytes(fs, p), java.nio.charset.StandardCharsets.UTF_8)

  /** Attempt to publish `actions` as exactly `version`. Returns true
    * iff this writer won the version. Never throws on contention —
    * losing the rename race is a normal protocol outcome. */
  def tryCommit(s: SparkSession, table: String, version: Long,
                writer: String, actions: Seq[Action],
                ts: Long = -1L): Boolean = {
    require(version >= 1, s"versions start at 1, got $version")
    // the commit-file format is delimiter-framed (\t between fields,
    // \n between actions, ,/: inside the stats blob) with NO escaping
    // — a path or column name carrying a delimiter would serialize
    // fine and corrupt the log at PARSE time, making the whole table
    // unreadable. Reject at the write boundary instead: segment paths
    // and stats column names are producer-controlled (not data), so a
    // hard error here costs nothing and a torn log costs everything.
    actions.foreach { a =>
      require(!a.path.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"segment path contains a log delimiter (tab/newline): '${a.path}'")
      require(!a.ref.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"dv base-segment path contains a log delimiter: '${a.ref}'")
      require(a.ref.isEmpty || a.kind == "dv",
        s"ref is only meaningful on dv actions, got '${a.kind}'")
      require(a.kind != "dv" || a.ref.nonEmpty,
        "a dv action must name its base segment via ref")
      require(a.kind != "meta" || a.path.startsWith("colmap=") ||
          a.path.startsWith("constraint=") ||
          a.path.startsWith("dropconstraint=") ||
          a.path.startsWith("idhwm="),
        s"unknown meta payload '${a.path}' — a reader that cannot " +
          "interpret table metadata must not silently ignore it")
      a.stats.keys.foreach(c =>
        require(!c.exists(ch => ":,\t\n\r".contains(ch)),
          s"stats column name contains a log delimiter (:,\\t): '$c'"))
    }
    val dir = logDir(table)
    val fs = hfs(s, dir)
    fs.mkdirs(dir)
    val target = versionFile(table, version)
    if (fs.exists(target)) return false // fast-path: already owned
    // stage the full commit body in an INVOCATION-private temp file so
    // a crash mid-write can never leave a torn <v>.txn visible. The
    // name carries a random UUID, not just (writer, version): two
    // concurrent commits under the SAME writer id otherwise share a
    // staging path — one deletes it while the other links, and the
    // publish dies on NoSuchFile instead of losing the race cleanly
    // (found by the 8-overlapping-writers spec). A per-process counter
    // is not enough: it restarts with every process, so two processes
    // committing under one writer id would still share the path.
    val tmp = new Path(dir,
      s"_tmp_${writer}_${version}_${java.util.UUID.randomUUID()}.txn")
    val out = fs.create(tmp, true)
    try {
      // header field 4 is the optional in-commit timestamp — absent
      // (3-field header) for unstamped commits, so pre-ts logs and
      // new ones parse through the same reader
      val hdr = s"commit\t$version\t$writer" +
        (if (ts >= 0L) s"\t$ts" else "")
      val body = (hdr +: actions.map(actionLine)).mkString("", "\n", "\n")
      out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    // the atomic publish: a creation-exclusive primitive per store
    // (the LogStore-per-filesystem strategy every public table format
    // documents). On POSIX local FS that is hard link — link(2) fails
    // with EEXIST and never overwrites; FileContext.rename(NONE) is
    // NOT safe here because its default implementation is
    // check-then-rename (TOCTOU) and the checksum wrapper renames
    // data + crc as TWO renames, so two racing publishers can
    // interleave into B's bytes under A's crc (found by the 8-writer
    // race in TxnLogConcurrencySpec). On HDFS the NameNode makes
    // rename-without-overwrite a single atomic op, so it stays the
    // publish there; object stores would swap in a conditional PUT.
    val won = fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      case _ =>
        // rename-without-overwrite is only creation-exclusive where a
        // central authority serializes it (the HDFS NameNode). On an
        // object store (s3a, gs, abfs…) rename is copy+delete with no
        // exclusivity — two racing publishers could BOTH "succeed" and
        // silently violate one-winner-per-version. Fail fast there
        // instead of corrupting the log: those stores need a
        // conditional-PUT LogStore (the Delta paper's per-store
        // strategy), which this sandbox cannot exercise.
        val scheme = target.toUri.getScheme
        if (scheme != "hdfs" && scheme != "viewfs")
          throw new UnsupportedOperationException(
            s"TxnLog publish on scheme '$scheme' is not atomic: " +
              "rename-without-overwrite is only creation-exclusive on " +
              "HDFS; this store needs a conditional-PUT LogStore")
        val fc = FileContext.getFileContext(target.toUri,
          s.sparkContext.hadoopConfiguration)
        try { fc.rename(tmp, target, Options.Rename.NONE); true }
        catch {
          // ONLY already-exists means we lost the race. Any other
          // IOException is a real failure (network, quota, auth) —
          // swallowing it as `false` would send commitWithRetry into a
          // rebase spin against an unchanged head and end in a
          // misleading "gave up after N attempts".
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
    }
    // staging file (and its checksum sidecar) is no longer needed on
    // either path: the link carries the data; no .crc ever follows it,
    // so no torn data/crc pair can exist for a published commit
    fs.delete(tmp, false)
    won
  }

  /** ONE directory listing's view of the log — every resolution path
    * derives all its decisions (floor, head, vacuum horizon, commit
    * set) from a single [[logState]] call, so one read cannot mix two
    * log states (the listing IS the snapshot-isolation boundary).
    *
    * floor: 0 = full history; F > 0 = commit bodies 1..F were
    * retention-deleted ([[truncateLog]]) and the checkpoint at F is
    * the only anchor — reads below F are impossible. A listing whose
    * first txn is v > 1 WITHOUT a checkpoint at v-1 is a gap (an
    * in-flight publish on an eventually-listing store), not a
    * truncation.
    *
    * head: highest contiguous committed version, anchored at the
    * floor — a property of file NAMES alone, no body reads. */
  private case class LogState(txns: Seq[(Long, Path)], ckpts: Seq[Long],
                              vacHorizon: Long) {
    lazy val floor: Long = txns.headOption match {
      case Some((v, _)) if v > 1L && ckpts.contains(v - 1L) => v - 1L
      case Some(_) => 0L
      case None => ckpts.lastOption.getOrElse(0L)
    }
    lazy val head: Long = {
      if (txns.isEmpty) floor // fully-truncated: the ckpt IS the head
      else if (txns.head._1 > 1L && floor == 0L) 0L // listing gap
      else txns.map(_._1).zipWithIndex
        .takeWhile { case (v, i) => v == floor + 1L + i }
        .lastOption.map(_._1).getOrElse(floor)
    }
  }

  private def logState(s: SparkSession, table: String): LogState = {
    val dir = logDir(table)
    val fs = hfs(s, dir)
    if (!fs.exists(dir)) return LogState(Seq.empty, Seq.empty, 0L)
    val names = fs.listStatus(dir).map(_.getPath)
    LogState(
      names.filter(_.getName.matches("\\d{20}\\.txn"))
        .map(p => p.getName.stripSuffix(".txn").toLong -> p)
        .sortBy(_._1).toSeq,
      names.map(_.getName).filter(_.matches("\\d{20}\\.ckpt"))
        .map(_.stripSuffix(".ckpt").toLong).sorted.toSeq,
      names.map(_.getName).filter(_.matches("_vacuum_\\d{20}\\.mark"))
        .map(_.stripPrefix("_vacuum_").stripSuffix(".mark").toLong)
        .foldLeft(0L)(math.max))
  }

  def logFloor(s: SparkSession, table: String): Long =
    logState(s, table).floor

  /** Read at a version whose commit history was retention-deleted:
    * the named failure mode of [[truncateLog]] — distinct from
    * [[VersionVacuumedException]] (there the DATA is gone; here the
    * LOG below the floor is). */
  class LogTruncatedException(table: String, requested: Long, floor: Long)
    extends RuntimeException(
      s"version $requested of $table is below the log's history floor " +
        s"$floor: commits 1..$floor were retention-deleted and survive " +
        s"only as the checkpoint at $floor — read at or above it")

  /** Read the commit log up to (and including) `asOf`, in version
    * order, stopping at the first gap (contiguity rule above). One
    * listing = one consistent snapshot of the log.
    *
    * `fromVersion` is the checkpoint lower bound: versions ≤ it are
    * verified present in the LISTING (contiguity still holds) but
    * their bodies are never opened — that is what makes the
    * checkpoint read path O(suffix) instead of O(all commits). A
    * year-old table with a checkpoint reads two tiny files, not ten
    * thousand. */
  def commits(s: SparkSession, table: String,
              asOf: Option[Long] = None,
              fromVersion: Long = 0L): Seq[Commit] =
    commitsFrom(s, table, logState(s, table), asOf, fromVersion)

  /** [[commits]] against an already-taken [[LogState]] — the form the
    * resolution paths use so one read never mixes two log states. */
  private def commitsFrom(s: SparkSession, table: String, st: LogState,
                          asOf: Option[Long],
                          fromVersion: Long): Seq[Commit] = {
    val dir = logDir(table)
    val fs = hfs(s, dir)
    // contiguity anchor: version 1, or the truncation floor + 1 when
    // the head's predecessor is a checkpoint (see LogState.floor). A
    // fold that starts at a floor is only correct on top of that
    // checkpoint's base — so a caller that did NOT come through the
    // checkpoint path (fromVersion below the floor) must get the named
    // error, never a silently-partial fold. The floor check runs
    // BEFORE the empty-listing exit: a FULLY-truncated log (zero .txn,
    // checkpoint-only — q575's end state) must also refuse a full-log
    // fold instead of silently reporting an empty table.
    val txns = st.txns
    val floor = st.floor
    if (fromVersion < floor)
      throw new LogTruncatedException(table, fromVersion + 1, floor)
    if (txns.isEmpty) return Seq.empty
    val cap = asOf.getOrElse(Long.MaxValue)
    if (txns.head._1 > 1L && floor == 0L) return Seq.empty // listing gap
    val files = txns.filter(_._1 <= cap)
    val start = floor + 1L
    val contiguous = files.zipWithIndex
      .takeWhile { case ((v, _), i) => v == start + i }
      .map(_._1)
      .filter(_._1 > fromVersion) // bodies below the bound never open
    contiguous.map { case (v, p) =>
      parseCommit(v, readUtf8(fs, p).split("\n").toSeq.filter(_.nonEmpty))
    }.toSeq
  }

  /** The non-empty lines of commit `v`'s body → [[Commit]]: the header
    * `commit \t v \t writer [\t ts]`, then one action line each — the
    * parser under the batch log reader and the streaming change feed. */
  private[graft] def parseCommit(v: Long, lines: Seq[String]): Commit = {
    val head = lines.head.split("\t")
    require(head(0) == "commit" && head(1).toLong == v,
      s"malformed commit file ${f"$v%020d.txn"}")
    Commit(v, head(2), lines.tail.map(parseActionLine),
      ts = if (head.length > 3) head(3).toLong else -1L)
  }

  private def noCheckpoint(table: String, floor: Long) =
    new IllegalStateException(
      s"history floor $floor of $table has no readable checkpoint")

  /** The commits a fold of the table STATE at version `v` opens, from
    * one listing: the newest complete checkpoint at or below `v` (as a
    * synthetic base commit), then the commits above it up to `v`. With
    * no readable checkpoint at or below `v` it is the whole log from
    * version 1 — unless the log was truncated, where that history is
    * gone and the named error is the only honest answer. Every read of
    * table state (snapshots, checkpoints, the change feed's base, the
    * write paths' constraint, identity, compaction, delete and restore
    * folds) starts here, so each costs O(commits since the newest
    * checkpoint) body reads however old the table is. Returns (the
    * checkpoint version the fold starts at, 0 = none; the commits). */
  private def stateAt(s: SparkSession, table: String, st: LogState,
                      v: Long): (Long, Seq[Commit]) = {
    if (v < st.floor) throw new LogTruncatedException(table, v, st.floor)
    latestCheckpointFrom(s, table, st.ckpts, v) match {
      case Some(base) =>
        (base.version, base +: commitsFrom(s, table, st, Some(v), base.version))
      case None if st.floor > 0L => throw noCheckpoint(table, st.floor)
      case None => (0L, commitsFrom(s, table, st, Some(v), 0L))
    }
  }

  /** The HISTORY fold at the head, for the two callers whose point is
    * the removes a checkpoint folds away ([[vacuum]], [[truncateLog]]):
    * the whole log, or on a truncated log the floor checkpoint plus
    * every commit above it (all of them survive by the truncation rule,
    * so a fold anchored at the floor sees every remove since). */
  private def headFold(s: SparkSession, table: String,
                       st: LogState): Seq[Commit] =
    if (st.floor == 0L) commitsFrom(s, table, st, None, 0L)
    else latestCheckpointFrom(s, table, st.ckpts, st.floor)
        .getOrElse(throw noCheckpoint(table, st.floor)) +:
      commitsFrom(s, table, st, None, st.floor)

  /** [[Action]] → one ACTION line, the format of commit bodies and
    * checkpoint bodies alike: `kind \t path [\t stats [\t ref]]`. */
  private def actionLine(a: Action): String = {
    val st =
      if (a.stats.isEmpty) ""
      else a.stats.toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"$c:$lo:$hi" }
        .mkString("\t", ",", "")
    // ref is field 4 — an empty stats field holds its slot so old
    // parsers (≤3 fields) and new lines stay one format
    val rf =
      if (a.ref.isEmpty) ""
      else (if (a.stats.isEmpty) "\t\t" else "\t") + a.ref
    s"${a.kind}\t${a.path}$st$rf"
  }

  /** One ACTION line → [[Action]] — the single parser under the batch
    * log reader, the checkpoint reader and the streaming manifest tail
    * (the streamed lines are the same bytes the batch reader opens). */
  def parseActionLine(l: String): Action = {
    val a = l.split("\t")
    val stats =
      if (a.length > 2 && a(2).nonEmpty)
        a(2).split(",").map { f =>
          val p = f.split(":"); p(0) -> (p(1).toLong, p(2).toLong)
        }.toMap
      else Map.empty[String, (Long, Long)]
    Action(a(0), a(1), stats, ref = if (a.length > 3) a(3) else "")
  }

  /** Live table state after folding `cs` ([[foldLive]]): each live
    * segment path with its ACTIVE deletion-vector sidecar, if any. */
  def liveState(cs: Seq[Commit]): Seq[(String, Option[String])] =
    foldLive(cs).map { case (a, dv) => a.path -> dv }

  /** Live ADD actions (with their stats) after folding `cs`
    * ([[foldLive]]) — the manifest view a stats-aware reader prunes
    * from without touching data files. */
  def liveActions(cs: Seq[Commit]): Seq[Action] = foldLive(cs).map(_._1)

  /** The one fold over file actions, in version order (stable insertion
    * order — deterministic read plans): each live segment's ADD action
    * (with its zone maps) and its ACTIVE deletion-vector sidecar, if
    * any. A `dv` action requires its base segment live and supersedes
    * any earlier dv on the same segment — the base add and its stats
    * stay, since row deletes only SHRINK a segment's min/max range; a
    * `remove` retires the segment AND its dv association. */
  private def foldLive(cs: Seq[Commit]): Seq[(Action, Option[String])] = {
    val live = new java.util.LinkedHashMap[String, (Action, Option[String])]()
    cs.foreach(_.actions.foreach { a =>
      a.kind match {
        case "add" => live.put(a.path, (a, None))
        case "remove" => live.remove(a.path)
        case "dv" =>
          val base = live.get(a.ref)
          require(base != null,
            s"dv sidecar ${a.path} references non-live segment ${a.ref}")
          live.put(a.ref, (base._1, Some(a.path))) // keeps insertion order
        case "meta" => () // table metadata, not a file — see columnMapping
        case k => throw new IllegalArgumentException(s"unknown action $k")
      }
    })
    import scala.jdk.CollectionConverters._
    live.values.asScala.toSeq
  }

  /** Live segment paths after folding `cs` in version order (stable
    * insertion order — deterministic read plans). */
  def liveFiles(cs: Seq[Commit]): Seq[String] = liveState(cs).map(_._1)

  /** Positional deletion vector sidecars: the CUMULATIVE deleted row
    * positions of ONE segment. For each part file of the segment, keyed
    * by the file's path within the segment, a Roaring bitmap of parquet
    * `_metadata.row_index` values — 64-bit, so no file is too long for
    * it. A sidecar is one small driver-written file: a magic number,
    * the entry count, then each (key, bitmap) with the bitmap in the
    * portable 64-bit Roaring format. Writing and reading it start no
    * Spark job. */
  object DeletionVector {
    /** Deleted row positions per part file. */
    type Positions = Map[String, Roaring64NavigableMap]

    private val Magic = 0x47445631 // "GDV1"

    def encode(ps: Positions): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(buf)
      out.writeInt(Magic)
      out.writeInt(ps.size)
      ps.toSeq.sortBy(_._1).foreach { case (file, rows) =>
        out.writeUTF(file)
        rows.runOptimize() // a contiguous range costs a few bytes
        rows.serializePortable(out)
      }
      out.close()
      buf.toByteArray
    }

    /** `bytes` of the sidecar `name` as positions, or the named error
      * for a file that is not a sidecar. */
    def decode(bytes: Array[Byte], name: String): Positions = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      if (bytes.length < 8 || in.readInt() != Magic)
        throw new IllegalArgumentException(
          s"$name is not a positional deletion vector sidecar")
      Seq.fill(in.readInt()) {
        val file = in.readUTF()
        val rows = new Roaring64NavigableMap()
        rows.deserializePortable(in)
        file -> rows
      }.toMap
    }

    /** Write `ps` as a new sidecar of `seg` under `table/_dv` and return
      * its path. The name carries a random UUID, so no two deletes —
      * in one process or across process lifetimes — ever pick the same
      * name, and the create refuses to overwrite. */
    def write(s: SparkSession, table: String, seg: String, ps: Positions): String = {
      val p = new Path(s"$table/_dv/${new Path(seg).getName}_${java.util.UUID.randomUUID()}.dv")
      val out = hfs(s, p).create(p, false)
      try out.write(encode(ps)) finally out.close()
      p.toString
    }

    def read(s: SparkSession, path: String): Positions = {
      val p = new Path(path)
      decode(readBytes(hfs(s, p), p), path)
    }
  }

  /** The absolute path of `p` as a scan reports it in
    * `_metadata.file_path`, decoded: the key positions are matched by. */
  private def absolute(s: SparkSession, p: String): String = {
    val path = new Path(p)
    hfs(s, path).makeQualified(path).toUri.getPath
  }

  private def fileKey(metadataFilePath: String): String =
    new java.net.URI(metadataFilePath).getPath

  /** `ps` of segment `seg` keyed by absolute file path. */
  private def byFile(s: SparkSession, seg: String,
                     ps: DeletionVector.Positions): Map[String, Roaring64NavigableMap] = {
    val dir = absolute(s, seg)
    ps.map { case (f, rows) => s"$dir/$f" -> rows }
  }

  /** Keeps a row iff its position is (`in`) or is not (`!in`) among
    * `deleted`, keyed by absolute file path. A task reads its rows file
    * by file, so the path decodes once per file, not once per row. */
  private final class AtPositions(deleted: Map[String, Roaring64NavigableMap],
                                  in: Boolean)
      extends ((String, Long) => Boolean) with Serializable {
    @transient private var file: String = _
    @transient private var rows: Roaring64NavigableMap = _

    def apply(f: String, row: Long): Boolean = {
      if (f != file) {
        file = f
        rows = deleted.getOrElse(fileKey(f), null)
      }
      (rows != null && rows.contains(row)) == in
    }
  }

  private def atPositions(deleted: Map[String, Roaring64NavigableMap],
                          in: Boolean): Column =
    udf(new AtPositions(deleted, in))
      .apply(col("_metadata.file_path"), col("_metadata.row_index"))

  /** The one reader of VISIBLE rows: `segs` as ONE multi-path parquet
    * relation, minus the positions their active dv sidecars delete
    * (the merge-on-READ — no segment is ever rewritten). Snapshot
    * reads, the change feed, compaction, clustering and the MoR
    * delete's probe all read through it.
    *
    * The relation's schema is inferred once — one job — and a dv adds
    * one row filter on (`_metadata.file_path`, `_metadata.row_index`)
    * against the sidecars, which the driver reads before the scan: no
    * union, no shuffle, no value comparison. With no dv at all, [[all]]
    * IS the multi-path relation. `evolved` = the segments may have been
    * written under different schema versions with DIFFERENT physical
    * column sets: the relation then merges the files' schemas by NAME
    * with null-fill (mergeSchema). Positions have no schema, so the
    * filter is the same either way. */
  private final class VisibleRows(s: SparkSession,
                                  segs: Seq[(String, Option[String])],
                                  evolved: Boolean) {
    lazy val relation: DataFrame =
      (if (evolved) s.read.option("mergeSchema", "true") else s.read)
        .parquet(segs.map(_._1): _*)

    /** Deleted positions of every active sidecar, by absolute file path. */
    lazy val deleted: Map[String, Roaring64NavigableMap] =
      segs.flatMap { case (seg, dv) =>
        dv.toSeq.flatMap(d => byFile(s, seg, DeletionVector.read(s, d)))
      }.toMap

    def all: DataFrame =
      if (segs.forall(_._2.isEmpty)) relation
      else relation.where(atPositions(deleted, in = false))
  }

  /** Visible rows of `segs` under the column mapping `mapping`, with
    * LOGICAL column names. */
  private def readVisible(s: SparkSession, segs: Seq[(String, Option[String])],
                          mapping: Option[Seq[(String, String)]]): DataFrame =
    applyMapping(new VisibleRows(s, segs, mapping.isDefined).all, mapping)

  /** Apply a column mapping to a physically-read frame: each logical
    * name selects its physical column; a physical name present in NO
    * live segment yet (mapped-then-never-written) reads as nulls —
    * the same answer a null-filled segment would give. */
  private def applyMapping(df: DataFrame,
                           mapping: Option[Seq[(String, String)]])
      : DataFrame = mapping match {
    case None => df
    case Some(m) =>
      import org.apache.spark.sql.functions.{col, lit}
      df.select(m.map { case (l, p) =>
        (if (df.columns.contains(p)) col(p) else lit(null)).as(l)
      }: _*)
  }

  /** Write-time segment zone maps: (min, max) of each stats column per
    * segment-key value, pulled to the driver — an O(segments ×
    * stats-cols) pull in the same documented class as the IVF
    * centroid-training collect: commit METADATA is driver-side by
    * construction (the writer is about to serialize it into a commit
    * file), so this is the one place a pull is the design, not a
    * shortcut. */
  def segmentStats(df: DataFrame, segCol: String,
                   cols: Seq[String]): Map[Int, Map[String, (Long, Long)]] = {
    import org.apache.spark.sql.functions.{col, max, min}
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c")))
    df.groupBy(col(segCol)).agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        r.getInt(0) -> cols.zipWithIndex.map { case (c, i) =>
          c -> (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i))
        }.toMap
      }.toMap
  }

  // ---- column mapping (rename / drop without rewrite) -----------------

  /** Build a `meta` action carrying the table's column mapping:
    * logical (reader-visible) name → physical (parquet file) name.
    * The mapping is the ID-BASED schema-evolution design every public
    * table format uses: data files keep their physical column names
    * forever; RENAME is a metadata-only commit that re-points a
    * logical name (zero files touched at any table size), and DROP
    * removes the logical entry while the physical bytes stay (invisible
    * to readers, reclaimed by rewrite). Re-adding a dropped logical
    * name binds it to a FRESH physical name, so old values can never
    * resurrect — the exact hazard name-based evolution suffers.
    * An EMPTY mapping resets the table to physical-identity reads. */
  def columnMappingAction(mapping: Seq[(String, String)]): Action = {
    mapping.foreach { case (l, p) =>
      require(!(l + p).exists(c => ":,\t\n\r".contains(c)),
        s"column-mapping names carry a log delimiter: '$l' -> '$p'")
      require(l.nonEmpty && p.nonEmpty, "empty column-mapping name")
    }
    require(mapping.map(_._1).distinct.size == mapping.size,
      "duplicate logical name in column mapping")
    Action("meta",
      "colmap=" + mapping.map { case (l, p) => s"$l:$p" }.mkString(","))
  }

  /** Latest column mapping after folding `cs` (last colmap meta wins),
    * or None when the table reads physically (no colmap meta ever, or
    * an empty-mapping reset). */
  def columnMapping(cs: Seq[Commit]): Option[Seq[(String, String)]] = {
    val metas = cs.flatMap(_.actions.filter(a =>
      a.kind == "meta" && a.path.startsWith("colmap=")))
    metas.lastOption.flatMap { a =>
      val body = a.path.stripPrefix("colmap=")
      if (body.isEmpty) None
      else Some(body.split(",").toSeq.map { f =>
        val p = f.split(":"); (p(0), p(1))
      })
    }
  }

  // ---- CHECK constraints (write-side governance) -------------------------

  /** Build a `meta` action declaring a CHECK constraint: every row a
    * writer commits from then on must satisfy `sqlExpr` (a boolean SQL
    * expression over the table's LOGICAL column names). Standard SQL
    * CHECK semantics: a row violates only when the expression is
    * FALSE — NULL (unknown) passes. Constraints accumulate;
    * [[dropConstraintAction]] retires one by name. */
  def constraintAction(name: String, sqlExpr: String): Action = {
    require(name.nonEmpty && !name.exists(c => "=\t\n\r".contains(c)),
      s"constraint name carries a delimiter: '$name'")
    require(!sqlExpr.exists(c => "\t\n\r".contains(c)),
      "constraint expression carries a log delimiter")
    Action("meta", s"constraint=$name=$sqlExpr")
  }

  /** Retire the named CHECK constraint (future writes stop validating
    * it; rows already committed are untouched — dropping a constraint
    * never re-validates history). */
  def dropConstraintAction(name: String): Action =
    Action("meta", s"dropconstraint=$name")

  /** Active CHECK constraints after folding `cs`, in declaration
    * order: (name, sql expression). */
  def constraints(cs: Seq[Commit]): Seq[(String, String)] = {
    val m = new java.util.LinkedHashMap[String, String]()
    cs.foreach(_.actions.foreach { a =>
      if (a.kind == "meta") {
        if (a.path.startsWith("constraint=")) {
          val body = a.path.stripPrefix("constraint=")
          val i = body.indexOf('=')
          m.put(body.substring(0, i), body.substring(i + 1))
        } else if (a.path.startsWith("dropconstraint="))
          m.remove(a.path.stripPrefix("dropconstraint="))
      }
    })
    import scala.jdk.CollectionConverters._
    m.asScala.toSeq
  }

  /** A write that violates an active CHECK constraint — raised BEFORE
    * any commit publishes, with the violation count (the writer's
    * frame never reaches the log; governance is at the write boundary,
    * where one bad batch is cheap, not at read time, where a baked-in
    * violation taxes every scan forever). */
  class ConstraintViolationException(table: String, val name: String,
                                     expr: String, val violations: Long)
    extends RuntimeException(
      s"write to $table violates CHECK constraint '$name' ($expr): " +
        s"$violations row(s)")

  /** Validate `df` against the table's active constraints: ONE
    * distributed aggregation evaluates every constraint in a single
    * pass (per-constraint full scans would read the batch N times),
    * then throws the named error for the first violated one. Rows
    * where an expression is NULL pass (SQL CHECK semantics). */
  def checkConstraints(s: SparkSession, table: String,
                       df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{expr, lit, sum, when}
    val st = logState(s, table)
    val cons = constraints(stateAt(s, table, st, st.head)._2)
    if (cons.isEmpty) return
    val aggs = cons.zipWithIndex.map { case ((_, e), i) =>
      sum(when(expr(e) === lit(false), 1L).otherwise(0L)).as(s"__c$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cons.zipWithIndex.foreach { case ((n, e), i) =>
      val v = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (v > 0L) throw new ConstraintViolationException(table, n, e, v)
    }
  }

  // ---- identity columns (exactly-once id allocation through the log) ----

  /** Identity high-water mark for `idCol` after folding `cs`: the
    * largest id any committed allocation claimed (0 = none yet). The
    * mark is monotone BY CONSTRUCTION: every allocation commit carries
    * an `idhwm` meta action, and two allocations of the same column
    * conflict under OCC (the per-column sentinel in commitWithRetry's
    * touched set), so no two writers can ever read the same mark and
    * both land. */
  def identityHighWater(cs: Seq[Commit], idCol: String): Long =
    cs.flatMap(_.actions.collect {
      case a if a.kind == "meta" &&
          a.path.startsWith(s"idhwm=$idCol:") =>
        a.path.stripPrefix(s"idhwm=$idCol:").toLong
    }).maxOption.getOrElse(0L)

  /** Append `df` with a freshly-allocated IDENTITY column: ids are
    * `hwm+1 .. hwm+n`, contiguous and DETERMINISTIC (global row number
    * by `orderCol`, a unique numeric key, via the two-level form — no
    * single-partition window at any batch size), and the commit
    * carries both the segment and the new high-water mark. Exactly
    * once under contention: a racing allocation of the same column
    * hits the OCC sentinel, this writer re-reads the mark, REASSIGNS
    * from the new base, rewrites the segment, and retries — ids can
    * never collide, at the price of a segment rewrite per lost race
    * (allocation races are rare; id collisions are forever).
    * Returns (commit, firstId, lastId). */
  def appendWithIdentity(s: SparkSession, table: String, writer: String,
                         df: DataFrame, segPath: String, idCol: String,
                         orderCol: String, maxAttempts: Int = 10)
      : (CommitResult, Long, Long) = {
    import org.apache.spark.sql.functions.{col, lit}
    require(idCol.nonEmpty && !idCol.exists(c => ":=\t\n\r".contains(c)),
      s"identity column name carries a payload delimiter: '$idCol'")
    require(!df.columns.contains(idCol),
      s"batch already carries identity column '$idCol'")
    val n = df.count()
    require(n > 0, "cannot allocate identity for an empty batch")
    var attempt = 0
    while (true) {
      attempt += 1
      val st = logState(s, table)
      val hwm = identityHighWater(stateAt(s, table, st, st.head)._2, idCol)
      val withIds = graft.ops.Relational.twoLevelRowNumberBy(
          df.withColumn("__one", lit(1)), "__one", orderCol,
          coarseWidth = 1L << 20, outCol = "__rn")
        .withColumn(idCol, col("__rn") + hwm)
        .drop("__one", "__rn")
      withIds.coalesce(1).write.mode("overwrite").parquet(segPath)
      try {
        val res = commitWithRetry(s, table, writer, Seq(
            Action("add", segPath),
            Action("meta", s"idhwm=$idCol:${hwm + n}")),
          baseVersion = Some(st.head))
        return (res, hwm + 1L, hwm + n)
      } catch {
        case e: CommitConflictException if attempt < maxAttempts =>
          () // a rival allocation landed: re-read the mark, reassign
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- timestamp time travel -------------------------------------------

  /** Timestamp probe before the table's first (readable) commit: the
    * named failure mode of [[versionAt]] — "no version existed yet"
    * is a different answer from "version 0", and on a truncated log
    * it means the answer was retention-deleted, not never-existed. */
  class TimestampBeforeTableException(table: String, requested: Long,
                                      first: Long)
    extends RuntimeException(
      s"timestamp $requested precedes $table's first readable commit " +
        s"(effective timestamp $first) — no snapshot existed yet")

  /** Per-commit (version, rawTs, effectiveTs) over the readable log.
    * rawTs = the writer's in-commit timestamp, or the commit FILE's
    * modification time for unstamped commits (the public fallback).
    * effectiveTs applies the standard monotonicity adjustment:
    * eff(v) = max(raw(v), eff(v−1) + 1) — writers' clocks may skew
    * (a lagging writer can publish version N+1 with a timestamp
    * BEFORE version N's), but timestamp resolution must still be a
    * total order consistent with version order, or `AS OF ts` could
    * resolve to a snapshot that un-happens a later probe. O(suffix)
    * body reads on a truncated log (bodies below the floor are gone —
    * which also bounds how far back timestamp travel reaches, exactly
    * the public retention trade). */
  def commitTimestamps(s: SparkSession, table: String)
      : Seq[(Long, Long, Long)] = {
    val st = logState(s, table)
    val cs = commitsFrom(s, table, st, None, fromVersion = st.floor)
    require(cs.nonEmpty, s"no readable commits in $table")
    val pathByV = st.txns.toMap
    val fs = hfs(s, logDir(table))
    var eff = Long.MinValue
    cs.map { c =>
      val raw =
        if (c.ts >= 0L) c.ts
        else fs.getFileStatus(pathByV(c.version)).getModificationTime
      eff = if (eff == Long.MinValue) raw else math.max(raw, eff + 1L)
      (c.version, raw, eff)
    }
  }

  /** Greatest version whose effective timestamp is <= `ts` — the
    * `AS OF TIMESTAMP` resolution. Named errors: before-first-commit
    * ([[TimestampBeforeTableException]]) and, on a truncated log, the
    * floor error (the true answer MIGHT have been a retention-deleted
    * version — claiming the floor instead would silently time-travel
    * to the wrong snapshot). */
  def versionAt(s: SparkSession, table: String, ts: Long): Long = {
    val effs = commitTimestamps(s, table)
    if (ts < effs.head._3) {
      val floor = logFloor(s, table)
      if (floor > 0L) throw new LogTruncatedException(table, 0L, floor)
      throw new TimestampBeforeTableException(table, ts, effs.head._3)
    }
    effs.takeWhile(_._3 <= ts).last._1
  }

  /** Snapshot read `AS OF TIMESTAMP` — resolve then read; all the
    * version-read guarantees (vacuum horizon, truncation floor,
    * column mapping at that version) apply unchanged. */
  def snapshotAt(s: SparkSession, table: String, ts: Long)
      : (DataFrame, Long, Int) =
    snapshot(s, table, Some(versionAt(s, table, ts)))

  /** Highest committed contiguous version (0 = empty table).
    * Listing-only: the version is a property of the file NAMES, so no
    * commit body is ever opened — O(1) reads however long the log.
    * Truncation-aware: the contiguous run anchors at the history
    * floor's checkpoint when commits below it were retention-deleted. */
  def currentVersion(s: SparkSession, table: String): Long =
    logState(s, table).head

  /** Snapshot-isolation read at `asOf` (None = latest): one log
    * listing, a fold from the newest checkpoint at or below the version
    * ([[stateAt]] — O(commits since it) body reads), then a plain
    * distributed parquet scan of the resolved immutable segments.
    * Returns (frame, versionRead, nLiveSegments). */
  def snapshot(s: SparkSession, table: String,
               asOf: Option[Long] = None): (DataFrame, Long, Int) = {
    val (df, v, n, _) = snapshotViaCheckpoint(s, table, asOf)
    (df, v, n)
  }

  /** [[snapshot]], also returning the checkpoint version its fold
    * started from (0 = none: the fold opened the log from version 1).
    * Returns (frame, version, nSegments, checkpointVersion). */
  def snapshotViaCheckpoint(s: SparkSession, table: String,
                            asOf: Option[Long] = None)
      : (DataFrame, Long, Int, Long) = {
    // ONE listing decides floor, head, vacuum horizon AND the fold —
    // the resolution cannot mix two log states
    val st = logState(s, table)
    val (ckptV, cs) = stateAt(s, table, st, asOf.getOrElse(st.head))
    require(cs.nonEmpty, s"no commits at or before $asOf in $table")
    val v = cs.last.version
    if (v < st.vacHorizon)
      throw new VersionVacuumedException(table, v, st.vacHorizon)
    val state = liveState(cs)
    // versioned: the mapping AT v
    (readVisible(s, state, columnMapping(cs)), v, state.size, ckptV)
  }

  /** Write a log CHECKPOINT at `upTo`: the table state at `upTo` as one
    * `<v>.ckpt` file — a `ckpt \t v` header, the folded metadata and
    * each live segment's add action (zone maps included) followed by
    * its active dv, all as commit action lines, and an `end` trailer —
    * so readers resolve O(commits since checkpoint) instead of O(all
    * commits), how every public table format keeps a year-old table's
    * log readable. The fold that builds it starts at the previous
    * checkpoint ([[stateAt]]), so the every-N policy never re-opens
    * bodies an older checkpoint already summarizes. Checkpoints are
    * DERIVED data (recomputable from the commits they summarize), so
    * plain overwrite is safe: concurrent checkpointers at the same
    * version write identical bytes, and a torn checkpoint is detected
    * by its trailer line and ignored. */
  def writeCheckpoint(s: SparkSession, table: String, upTo: Long): Unit =
    writeCheckpointFrom(s, table, logState(s, table), upTo)

  private def writeCheckpointFrom(s: SparkSession, table: String, st: LogState,
                                  upTo: Long): Unit = {
    val folded = stateAt(s, table, st, upTo)._2
    require(folded.lastOption.exists(_.version == upTo),
      s"cannot checkpoint at $upTo: log only reaches ${folded.lastOption.map(_.version)}")
    // table METADATA is part of the state a checkpoint must carry:
    // log truncation deletes the commits that declared it, and a
    // mapping silently lost would resurface every dropped column, a
    // constraint silently lost would stop validating writes. The
    // checkpoint stores the FOLDED results (latest mapping, surviving
    // constraints) — drops need not persist
    val mapping = folded.flatMap(_.actions.filter(a =>
        a.kind == "meta" && a.path.startsWith("colmap="))).lastOption
    val cons = constraints(folded).map { case (n, e) => constraintAction(n, e) }
    // identity high-waters: one folded mark per column (losing one to
    // truncation would hand already-used id ranges out again)
    val hwms = folded.flatMap(_.actions.collect {
        case a if a.kind == "meta" && a.path.startsWith("idhwm=") =>
          a.path.stripPrefix("idhwm=").takeWhile(_ != ':')
      }).distinct.map { c =>
        Action("meta", s"idhwm=$c:${identityHighWater(folded, c)}")
      }
    // each live add, immediately followed by its active dv (fold order
    // matters: a dv requires its segment already live in the replay)
    val live = foldLive(folded).flatMap { case (add, dv) =>
      add +: dv.map(Action("dv", _, ref = add.path)).toSeq
    }
    val lines = (mapping.toSeq ++ cons ++ hwms ++ live).map(actionLine)
    val dir = logDir(table)
    val out = hfs(s, dir).create(new Path(dir, f"$upTo%020d.ckpt"), true)
    try out.write((s"ckpt\t$upTo" +: lines :+ "end").mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Greatest complete checkpoint at or below `asOf`, as a synthetic
    * base commit, or None — against candidate versions from an
    * already-taken listing (checkpoint BODIES still open fresh — they
    * are immutable once complete, so that read needs no coordination
    * with the listing). */
  private def latestCheckpointFrom(s: SparkSession, table: String,
                                   ckpts: Seq[Long],
                                   asOf: Long): Option[Commit] = {
    val fs = hfs(s, logDir(table))
    ckpts
      .filter(_ <= asOf)
      .sortBy(-_)
      .iterator
      .map { v =>
        val lines = readUtf8(fs, new Path(logDir(table), f"$v%020d.ckpt"))
          .split("\n").toSeq.filter(_.nonEmpty)
        if (lines.headOption.contains(s"ckpt\t$v") && lines.lastOption.contains("end"))
          Some(Commit(v, "ckpt", lines.tail.dropRight(1).map(parseActionLine)))
        else None // torn checkpoint: skip it, older ones still work
      }
      .collectFirst { case Some(c) => c }
  }

  /** Read at a version below the vacuum horizon: the clean, NAMED
    * failure mode — without it a time-travel read against vacuumed
    * segments dies deep in the scan as a parquet FileNotFound with no
    * hint that a retention policy, not corruption, removed the data. */
  class VersionVacuumedException(table: String, requested: Long, horizon: Long)
    extends RuntimeException(
      s"version $requested of $table was vacuumed: the retention horizon " +
        s"is $horizon — only versions >= $horizon remain readable")

  private def vacuumMark(table: String, horizon: Long) =
    new Path(logDir(table), f"_vacuum_$horizon%020d.mark")

  /** Current vacuum horizon (0 = never vacuumed): the max over the
    * name-encoded watermark files. The horizon lives in the file NAME,
    * never the body — creation is atomic, nothing can tear, and
    * monotonicity is a max over the listing. */
  def vacuumHorizon(s: SparkSession, table: String): Long =
    logState(s, table).vacHorizon

  /** Segments physically removable at retention `horizon`: a segment
    * is referenced by some retained version (>= horizon) iff its
    * LATEST action is an add, or a remove that landed AFTER the
    * horizon (versions horizon..removeVersion-1 still reference it).
    * So removable = latest action is a remove at version <= horizon.
    * One O(actions) pass — never the O(versions²) per-version live-set
    * fold. */
  def vacuumPlan(cs: Seq[Commit], horizon: Long): Seq[String] = {
    // (path -> (kind, version)) of each SEGMENT path's LATEST action;
    // dv sidecars tracked per base segment in landing order
    val latest = new java.util.LinkedHashMap[String, (String, Long)]()
    val dvsBySeg = new java.util.LinkedHashMap[
      String, scala.collection.mutable.ListBuffer[(String, Long)]]()
    cs.foreach(c => c.actions.foreach { a =>
      if (a.kind == "dv") {
        var buf = dvsBySeg.get(a.ref)
        if (buf == null) {
          buf = scala.collection.mutable.ListBuffer.empty[(String, Long)]
          dvsBySeg.put(a.ref, buf)
        }
        buf += ((a.path, c.version))
      } else if (a.kind != "meta") // metadata names no file — nothing
        latest.put(a.path, (a.kind, c.version)) // for vacuum to weigh
    })
    import scala.jdk.CollectionConverters._
    val segs = latest.asScala.collect {
      case (path, ("remove", v)) if v <= horizon => path
    }.toSeq
    // a dv sidecar is referenced by some retained version (>= horizon)
    // iff it is the ACTIVE dv of a version >= horizon: dv_i is active
    // for [v_i, v_{i+1}) — removable iff superseded at <= horizon, or
    // its base segment was removed at <= horizon (then every dv of
    // that segment goes with it)
    val dvs = dvsBySeg.asScala.flatMap { case (seg, buf) =>
      val list = buf.toList
      val segGone = latest.asScala.get(seg)
        .collect { case ("remove", v) if v <= horizon => true }
        .getOrElse(false)
      if (segGone) list.map(_._1)
      else list.zip(list.tail).collect {
        case ((dvPath, _), (_, vNext)) if vNext <= horizon => dvPath
      }
    }.toSeq
    segs ++ dvs
  }

  case class VacuumResult(horizon: Long, removed: Seq[String])

  /** Execute a vacuum at `horizon`: publish the watermark FIRST (so a
    * reader below the horizon fails with the named error, never a
    * mid-scan FileNotFound from a post-publish resolution), then
    * delete the unreferenced segment files. Reads at RETAINED versions
    * are never endangered: their segments are by definition outside
    * the removable set, and a reader that resolved BEFORE the publish
    * scans immutable files the vacuum does not touch. */
  def vacuum(s: SparkSession, table: String, horizon: Long): VacuumResult = {
    // floor-aware: on a truncated log the action fold rides the FLOOR
    // checkpoint (whose synthetic adds land at the floor version) —
    // NEVER a newer one: a checkpoint folds removes away, so anchoring
    // at the newest would blind the plan to every remove in
    // (floor, newestCkpt] and silently leak those segments forever
    // (and let a later truncate delete their only remove records).
    // All commit bodies above the floor exist by the truncation rule,
    // so the floor anchor loses nothing.
    val cs = headFold(s, table, logState(s, table))
    require(cs.nonEmpty && horizon >= 1 && horizon <= cs.last.version,
      s"vacuum horizon $horizon outside committed range 1..${cs.lastOption.map(_.version).getOrElse(0L)}")
    val dir = logDir(table)
    val fs = hfs(s, dir)
    // watermark before any delete — ordering is the safety argument
    val mark = vacuumMark(table, horizon)
    if (!fs.exists(mark)) fs.create(mark, false).close()
    val removable = vacuumPlan(cs, horizon)
    removable.foreach(p => fs.delete(new Path(p), true))
    VacuumResult(horizon, removable)
  }

  /** Small-file compaction plan over the CURRENT live set: segments
    * smaller than half the largest live segment are binned (sorted by
    * path for determinism, first-fit up to `maxPerBin`) — each bin is
    * one rewrite commit (remove members, add merged). The relative
    * threshold makes the plan scale-factor-stable: "small" means small
    * against THIS table's own big segments, not an absolute byte count
    * that flips with SF. Listing-only planning (file sizes come from
    * the same FileSystem metadata a real OPTIMIZE reads); the caller
    * executes each bin and commits via [[commitWithRetry]], so a
    * concurrent writer touching a binned segment aborts the compaction
    * instead of losing data (the OCC path-conflict rule). */
  def compactionPlan(s: SparkSession, table: String,
                     maxPerBin: Int = 8): Seq[Seq[String]] = {
    require(maxPerBin >= 2, s"a compaction bin needs >= 2 members, got $maxPerBin")
    val st = logState(s, table)
    val live = liveFiles(stateAt(s, table, st, st.head)._2)
    if (live.isEmpty) return Seq.empty
    val fs = hfs(s, new Path(table))
    val sizes = live.map { p =>
      p -> fs.getContentSummary(new Path(p)).getLength
    }
    val maxSize = sizes.map(_._2).max
    val small = sizes.filter(_._2 < maxSize / 2).map(_._1).sorted
    if (small.size < 2) Seq.empty // nothing worth merging
    else {
      // a trailing singleton folds into the previous bin (true
      // first-fit): dropping it would leave one segment that NO
      // repeated OPTIMIZE could ever compact — the plan must converge,
      // so the last bin may carry maxPerBin + 1 members instead
      val groups = small.grouped(maxPerBin).toSeq
      if (groups.length >= 2 && groups.last.size == 1)
        groups.dropRight(2) :+ (groups(groups.length - 2) ++ groups.last)
      else groups.filter(_.size >= 2)
    }
  }

  /** Execute ONE [[compactionPlan]] bin MERGE-ON-READ-aware: the
    * merged segment carries each member's VISIBLE rows — a raw member
    * read would RESURRECT every MoR-deleted row still sitting in the
    * member's dv sidecar (the compaction-after-delete hazard q588
    * pins; this is also how OPTIMIZE retires the MoR read tax: the
    * position filter is materialized once and the sidecar becomes
    * vacuum food via the segment-removed rule). Commits
    * remove(members) + add(merged) through OCC, so a concurrent
    * writer touching a member — including a NEW dv on it, refs join
    * the conflict set — aborts the compaction instead of losing its
    * delete. */
  def compactBin(s: SparkSession, table: String, writer: String,
                 bin: Seq[String], mergedPath: String): CommitResult = {
    require(bin.nonEmpty, "empty compaction bin")
    val (merged, head) = binRows(s, table, bin)
    merged.coalesce(1).write.parquet(mergedPath)
    commitWithRetry(s, table, writer,
      bin.map(Action("remove", _)) :+ Action("add", mergedPath),
      baseVersion = Some(head))
  }

  /** Visible rows of a rewrite bin at the head, resolved from ONE
    * listing, and that head — the rewrite's OCC base, so a dv that
    * lands on a member after this read conflicts at commit instead of
    * being dropped by the rewrite. Members written under different
    * schema versions carry different physical column sets, and a
    * positional union would bake a mis-aligned read into the rewritten
    * segment forever: so a table that was ever mapped ([[everMapped]])
    * aligns by name; a never-mapped table has one physical schema (see
    * [[VisibleRows]]). */
  private def binRows(s: SparkSession, table: String,
                      bin: Seq[String]): (DataFrame, Long) = {
    val st = logState(s, table)
    val cs = stateAt(s, table, st, st.head)._2
    val dvs = liveState(cs).toMap
    (new VisibleRows(s, bin.map(p => p -> dvs.get(p).flatten), everMapped(cs)).all,
      st.head)
  }

  /** Whether the log EVER carried a column mapping (even one since
    * reset to physical reads): then its segments may differ in
    * physical schema. */
  private def everMapped(cs: Seq[Commit]): Boolean =
    cs.exists(_.actions.exists(a =>
      a.kind == "meta" && a.path.startsWith("colmap=")))

  /** OPTIMIZE … CLUSTER BY: rewrite `bin`'s VISIBLE rows (dv-aware,
    * like [[compactBin]]) into up to `nOut` key-range segments with
    * refreshed zone maps in the commit. Ingest-order segments each
    * span the whole key domain, so their manifest stats overlap and
    * prune nothing; after clustering each segment owns one disjoint
    * key range and a range predicate reads 1-2 segments from the LOG
    * ALONE (q569's manifest pruning finally has something to bite).
    * Range boundaries are fixed-width integer arithmetic over the
    * bin's [min, max] — deterministic, no sampled quantiles — and
    * empty ranges write no segment. One bounded job per output range
    * (driver loop over nOut, the documented [[compactionPlan]] class);
    * at scale the boundaries would come from the manifest's own zone
    * maps, not a data scan. The rewrite commits through OCC and is
    * CDF-invisible like any compaction. */
  def clusterBin(s: SparkSession, table: String, writer: String,
                 bin: Seq[String], outPrefix: String,
                 keyCol: String, nOut: Int): CommitResult = Checkpoints.scoped { pin =>
    require(bin.nonEmpty, "empty cluster bin")
    require(nOut >= 1, s"nOut must be >= 1, got $nOut")
    import org.apache.spark.sql.functions.{col, max, min}
    val (rows, head) = binRows(s, table, bin)
    val all = pin(rows) // scanned once per output range below
    val mm = all.agg(min(col(keyCol)).cast("long"),
      max(col(keyCol)).cast("long")).head()
    require(!mm.isNullAt(0), s"cluster bin has no rows with $keyCol")
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = hi - lo + 1L
    val adds = (0 until nOut).flatMap { i =>
      val bLo = lo + span * i / nOut
      val bHi = if (i == nOut - 1) hi + 1L else lo + span * (i + 1) / nOut
      if (bHi <= bLo) None
      else {
        val rows = all.where(col(keyCol) >= bLo && col(keyCol) < bHi)
        val st = rows.agg(min(col(keyCol)).cast("long"),
          max(col(keyCol)).cast("long")).head()
        if (st.isNullAt(0)) None // empty range: no segment, no action
        else {
          val path = s"${outPrefix}_$i"
          rows.coalesce(1).write.parquet(path)
          Some(Action("add", path,
            stats = Map(keyCol -> (st.getLong(0), st.getLong(1)))))
        }
      }
    }
    commitWithRetry(s, table, writer,
      bin.map(Action("remove", _)) ++ adds, baseVersion = Some(head))
  }

  case class TruncateResult(floor: Long, deletedCommits: Int)

  /** Log RETENTION: physically delete the commit bodies a checkpoint
    * has already folded — the third lifecycle deleter beside segment
    * [[vacuum]] (old DATA) and checkpointing (derived summaries). The
    * O(N) residue the TxnProbe measured in checkpoint resolution is
    * the directory LISTING of old .txn files; this removes it, keeping
    * a decade-old table's log directory O(suffix since last
    * checkpoint) however many commits it ever saw.
    *
    * Anchors at the NEWEST COMPLETE checkpoint (validated by parsing
    * it — a torn checkpoint must never become the only history
    * anchor), deletes every .txn at or below it, and relies on the
    * floor rule of [[LogState]] so readers distinguish a truncated log
    * (first txn's predecessor is a checkpoint → anchor there) from a
    * listing gap (no checkpoint → see an empty log). Reads below the
    * floor fail with [[LogTruncatedException]]; reads at or above it
    * are unaffected (every state read already starts at the newest
    * checkpoint — [[stateAt]]).
    * Time travel below the floor is the price of retention — exactly
    * the trade public table formats document for log cleanup. */
  def truncateLog(s: SparkSession, table: String): TruncateResult = {
    val st = logState(s, table)
    val anchor = latestCheckpointFrom(s, table, st.ckpts, Long.MaxValue).getOrElse(
      throw new IllegalStateException(
        s"cannot truncate $table: no complete checkpoint to anchor the floor"))
    val dir = logDir(table)
    val fs = hfs(s, dir)
    // log retention >= data retention (the public formats' rule, and
    // why): the remove actions below the anchor are the ONLY record
    // that their segments are deletable — truncating before vacuuming
    // them would orphan those files forever (no API could ever find
    // them again), and a later "hard purge" would silently fail its
    // physical-deletion guarantee. Refuse unless every pre-anchor
    // removable segment is already off the disk.
    // the orphan-guard fold anchors at the FLOOR checkpoint, not the
    // (possibly newer) truncation anchor: removes in (floor, anchor]
    // are folded AWAY by the anchor checkpoint, and missing them here
    // would pass the guard with unvacuumed removed segments below the
    // new floor — then delete their only remove records, permanently
    // orphaning the files and silently breaking the hard-purge (q580)
    // guarantee
    val pending = vacuumPlan(headFold(s, table, st), anchor.version)
      .filter(p => fs.exists(new Path(p)))
    require(pending.isEmpty,
      s"cannot truncate $table: ${pending.size} removed segments below " +
        s"the anchor are not yet vacuumed (vacuum(horizon = " +
        s"${anchor.version}) first): ${pending.take(3).mkString(", ")}")
    val doomed = st.txns.filter(_._1 <= anchor.version)
    // delete NEWEST-first: a reader listing mid-truncation then sees a
    // contiguous prefix 1..k (a valid HISTORICAL snapshot — the same
    // graceful degradation an eventually-consistent listing gives),
    // never a headless fragment it would misread as an empty log
    doomed.sortBy(-_._1).foreach { case (_, p) => fs.delete(p, false) }
    TruncateResult(anchor.version, doomed.size)
  }

  /** Checkpoint-every-N policy: write a checkpoint when the head has
    * advanced `every` commits past the newest existing checkpoint.
    * Returns the version checkpointed, or None if not due. Since every
    * state read folds from the newest checkpoint ([[stateAt]]), this
    * keeps each one — snapshot, write-path fold, the next checkpoint —
    * at O(every) commit-body reads plus the listing, however old the
    * table. Call it after commits (it is idempotent and safe under
    * races: checkpoints are derived data, concurrent writers at the
    * same version write identical bytes). */
  def checkpointIfDue(s: SparkSession, table: String,
                      every: Int): Option[Long] = {
    require(every >= 1, s"checkpoint interval must be >= 1, got $every")
    // one listing decides head, the newest checkpoint and the fold
    val st = logState(s, table)
    val newest = st.ckpts.lastOption.getOrElse(0L)
    if (st.head > 0L && st.head - newest >= every) {
      writeCheckpointFrom(s, table, st, st.head); Some(st.head)
    } else None
  }

  /** Change-data-feed between versions (`fromV`, `toV`]: row-level
    * changes derived from the commit ACTIONS alone — the suffix
    * commits name exactly which segments changed, so the feed opens
    * ONLY those files and never resolves a full snapshot (what a CDC
    * consumer tails at 100 TB: cost is O(changed data), not O(table)).
    * Per-commit classification:
    *   - add-only commit: every row of the added segments is an insert
    *   - remove-only commit: every row of the removed segments is a
    *     delete
    *   - add+remove (rewrite: compaction, copy-on-write
    *     delete/update/merge): the NET row diff — exceptAll in both
    *     directions strips every byte-identical row (a pure compaction
    *     nets to zero changes, the reader-visible proof compaction is
    *     invisible — the q570 contract), then each surviving row is
    *     classified by whether its IDENTITY persists on the other
    *     side: same `idCols` present → an update (`update_pre` the old
    *     row, `update_post` the new one, the Delta CDF convention);
    *     absent → a plain insert/delete
    * Requires every column exceptAll-comparable (exact types — the
    * segment schemas here are BIGINT/VARCHAR; float payloads would
    * need an epsilon diff instead).
    * Returns (changes with _change_type ∈
    * insert|delete|update_pre|update_post and _commit_version columns,
    * segments opened). */
  def changeFeed(s: SparkSession, table: String, fromV: Long, toV: Long,
                 idCols: Seq[String]): (DataFrame, Int) = {
    require(fromV < toV, s"empty CDF range ($fromV, $toV]")
    // fromVersion = fromV: bodies at or below the range start are never
    // opened, and a range reaching below a truncated log's floor gets
    // the named error instead of a silently-partial feed
    val st = logState(s, table)
    val suffix = commitsFrom(s, table, st, Some(toV), fromVersion = fromV)
    require(suffix.nonEmpty && suffix.last.version == toV,
      s"log does not reach $toV past $fromV in $table")
    // merge-on-read + schema-evolution awareness: removes and dv
    // deltas need the ACTIVE dv per segment at fromV, and EVERY
    // emitted row needs the column mapping active at its commit (a
    // feed that leaked physical names after a rename would not join
    // against the snapshot surface). One checkpoint-bounded metadata
    // fold at fromV resolves both — O(commits since checkpoint)
    // driver-side manifest reads, never data.
    var state = readStateAt(s, table, st, fromV)
    var opened = 0
    val perCommit = suffix.map { c =>
      val (dfs, next, op) = feedStep(s, table, fromV, idCols, state, c)
      state = next
      opened += op
      dfs
    }
    val nonEmpty = perCommit.flatten
    require(nonEmpty.nonEmpty, s"no data actions in ($fromV, $toV] of $table")
    (nonEmpty.reduce(_ unionAll _), opened)
  }

  /** What the change feed threads from commit to commit: the active dv
    * sidecar per live segment and the column mapping. */
  private[graft] case class FeedState(dvs: Map[String, String],
                                      mapping: Option[Seq[(String, String)]])

  /** [[FeedState]] at version `v`: the start of a feed from `v`. */
  private[graft] def feedStateAt(s: SparkSession, table: String, v: Long): FeedState =
    readStateAt(s, table, logState(s, table), v)

  /** The change feed's per-commit step, the one the batch [[changeFeed]]
    * and the streaming feed (streaming/Sessions.streamChangeFeedToBatch)
    * both run, so stream ≡ batch is structural: commit `c`'s rows
    * ([[commitChanges]]) under the mapping it leaves, and the state
    * after it. The commit is atomic: rows it adds/removes classify
    * under the mapping it DECLARES (if any), not its predecessor's. A
    * mapping CHANGE mid-range means the feed has no single schema —
    * rows before the change carry different logical columns than rows
    * after, and a positional union would silently misalign them. The
    * first commit of a feed from `fromV` may declare one (its rows and
    * everything after share it); any later change is the named
    * split-your-range error, the same contract public CDF readers
    * enforce across incompatible schema changes. Returns (change
    * frames, state after `c`, files opened). */
  private[graft] def feedStep(s: SparkSession, table: String, fromV: Long,
                              idCols: Seq[String], prev: FeedState, c: Commit)
      : (Seq[DataFrame], FeedState, Int) = {
    val mapping = mappingAfter(c, prev.mapping)
    if (mapping != prev.mapping && c.version != fromV + 1L)
      throw new CdfSchemaChangeException(table, c.version)
    val (dfs, dvs, opened) = commitChanges(s, c, prev.dvs, idCols, mapping)
    (dfs, FeedState(dvs, mapping), opened)
  }

  /** A change-feed range crossing a column-mapping change: the rows
    * before and after the change have DIFFERENT logical schemas, so
    * one feed frame cannot carry both — split the range at this
    * version (read (from, v-1] and [v-1, to] separately). */
  class CdfSchemaChangeException(table: String, val version: Long)
    extends RuntimeException(
      s"change feed of $table crosses a column-mapping change at " +
        s"version $version — split the range there")

  /** Active dv sidecar per live segment at version `asOf` — O(log)
    * driver-side metadata reads (checkpoint + suffix), never data. */
  def dvStateAt(s: SparkSession, table: String,
                asOf: Long): Map[String, String] =
    feedStateAt(s, table, asOf).dvs

  /** Column mapping active at version `asOf` (None = physical reads) —
    * same O(log) metadata resolution class as [[dvStateAt]]. */
  def mappingAt(s: SparkSession, table: String,
                asOf: Long): Option[Seq[(String, String)]] =
    feedStateAt(s, table, asOf).mapping

  /** The column mapping after folding commit `c` onto `prev` — the
    * incremental step a change-feed consumer applies per commit (a
    * commit with no meta action keeps `prev`; an empty-payload meta
    * resets to physical reads). */
  def mappingAfter(c: Commit, prev: Option[Seq[(String, String)]])
      : Option[Seq[(String, String)]] =
    if (c.actions.exists(a => a.kind == "meta" &&
        a.path.startsWith("colmap="))) columnMapping(Seq(c))
    else prev // constraint metas and plain commits keep the mapping

  /** (active dv per segment, column mapping) at version `asOf` — ONE
    * checkpoint-bounded metadata fold for both (the change feed needs
    * them together and must not read the log twice). Version 0 is the
    * empty table on any log. */
  private def readStateAt(s: SparkSession, table: String, st: LogState,
                          asOf: Long): FeedState = {
    if (asOf == 0L) return FeedState(Map.empty, None)
    val cs = stateAt(s, table, st, asOf)._2
    FeedState(liveState(cs).collect { case (p, Some(dv)) => p -> dv }.toMap,
      columnMapping(cs))
  }

  /** Row-level changes of ONE commit, given the active dv state at
    * its predecessor — the shared classification under batch
    * [[changeFeed]] and the streaming CDF tail
    * (streaming/Sessions.streamChangeFeedToBatch), so stream ≡ batch
    * is structural, not coincidental. A dv commit's deletes are its
    * base segment's rows at the positions in `new andNot old`: one scan
    * of that segment with a position filter. Returns (change frames,
    * dv state after the commit, files opened: segments and sidecars). */
  def commitChanges(s: SparkSession, c: Commit,
                    dvState0: Map[String, String], idCols: Seq[String],
                    mapping: Option[Seq[(String, String)]] = None)
      : (Seq[DataFrame], Map[String, String], Int) = {
    import org.apache.spark.sql.functions.lit
    var dvState = dvState0
    val adds = c.actions.filter(_.kind == "add").map(_.path)
    val removes = c.actions.filter(_.kind == "remove").map(_.path)
    val dvActs = c.actions.filter(_.kind == "dv")
    var opened = adds.size + removes.size + removes.count(dvState.contains)
    def tag(df: DataFrame, t: String) = df
      .withColumn("_change_type", lit(t))
      .withColumn("_commit_version", lit(c.version))
    // an added segment reads whole, a removed one MINUS its active dv
    // (rows the dv had already deleted must not surface as deletes twice)
    def readAdded(): DataFrame = readVisible(s, adds.map(_ -> None), mapping)
    def readRemoved(): DataFrame =
      readVisible(s, removes.map(p => p -> dvState.get(p)), mapping)
    // a logical column may read as untyped nulls on one side of a
    // rewrite (no file on that side carries its physical column yet) —
    // borrow the other side's concrete type so the diff can align
    def alignTo(x: DataFrame, y: DataFrame): DataFrame =
      if (mapping.isEmpty) x
      else x.select(x.schema.fields.map { f =>
        val other = y.schema.fields.find(_.name == f.name)
        if (f.dataType == org.apache.spark.sql.types.NullType &&
            other.exists(_.dataType != org.apache.spark.sql.types.NullType))
          org.apache.spark.sql.functions.col(f.name)
            .cast(other.get.dataType).as(f.name)
        else org.apache.spark.sql.functions.col(f.name)
      }.toSeq: _*)
    val addRemove = (adds.nonEmpty, removes.nonEmpty) match {
      case (true, false) => Seq(tag(readAdded(), "insert"))
      case (false, true) => Seq(tag(readRemoved(), "delete"))
      case (true, true) =>
        import org.apache.spark.sql.functions.{col, when}
        val a0 = readAdded()
        val r0 = readRemoved()
        val a = alignTo(a0, r0)
        val r = alignTo(r0, a0)
        // classify each surviving diff row by identity persistence:
        // ONE left join against the other side's distinct ids (never
        // two passes over the diff)
        def classify(diff: DataFrame, other: DataFrame,
                     persists: String, alone: String): DataFrame = {
          val ids = other.select(idCols.map(col): _*).distinct()
            .withColumn("__m", lit(1))
          diff.join(ids, idCols, "left")
            .withColumn("_change_type",
              when(col("__m").isNull, lit(alone)).otherwise(lit(persists)))
            .withColumn("_commit_version", lit(c.version))
            .select(diff.columns.map(col) :+ col("_change_type") :+
              col("_commit_version"): _*)
        }
        Seq(classify(a.exceptAll(r), r, "update_post", "insert")
          .unionAll(classify(r.exceptAll(a), a, "update_pre", "delete")))
      case (false, false) => Seq.empty
    }
    // dv actions: the commit's row-level deletes are the DELTA — each
    // dv is cumulative, so the deleted rows are the base segment's rows
    // at the new sidecar's positions minus the superseded sidecar's
    val dvDeletes = dvActs.map { a =>
      val prev = dvState.get(a.ref)
      opened += 2 + prev.size // the segment, its new and old sidecar
      dvState += (a.ref -> a.path)
      val old = prev.map(DeletionVector.read(s, _)).getOrElse(Map.empty)
      val delta = byFile(s, a.ref, DeletionVector.read(s, a.path).map {
        case (f, rows) => old.get(f).foreach(rows.andNot); f -> rows
      })
      val base = new VisibleRows(s, Seq(a.ref -> None), mapping.isDefined)
      tag(applyMapping(base.relation.where(atPositions(delta, in = true)),
        mapping), "delete")
    }
    dvState --= removes // retired segments drop their association
    (addRemove ++ dvDeletes, dvState, opened)
  }

  /** Optimistic-concurrency commit loop: try the current head + 1; on
    * losing the race, re-read the intervening commits and rebase iff
    * this writer's touched-path set is disjoint from every winner's
    * (append vs append and append vs compact commute; two operations
    * touching the same segment do not — the standard file-level OCC
    * conflict rule). Aborts with IllegalStateException on a true
    * conflict or after `maxAttempts`. */
  def commitWithRetry(s: SparkSession, table: String, writer: String,
                      actions: Seq[Action],
                      maxAttempts: Int = 10,
                      baseVersion: Option[Long] = None,
                      ts: Long = -1L): CommitResult = {
    // a dv action touches its BASE segment too: a merge-on-read delete
    // must conflict with a compaction or CoW rewrite of that segment
    // (file-level OCC — they do not commute), so refs join the set.
    // An identity high-water action normalizes to a per-COLUMN
    // sentinel: two allocations of the same column must conflict
    // whatever values they claim (their payload strings differ, so the
    // raw path would never collide — and both would silently hand out
    // the same id range)
    def touched(as: Seq[Action]): Set[String] =
      as.flatMap { a =>
        val p =
          if (a.kind == "meta" && a.path.startsWith("idhwm="))
            "idhwm:" + a.path.stripPrefix("idhwm=").takeWhile(_ != ':')
          else a.path
        p +: (if (a.ref.nonEmpty) Seq(a.ref) else Seq.empty)
      }.toSet
    val mine = touched(actions)
    var attempt = 0
    // `baseVersion` pins the snapshot the writer PREPARED against
    // (possibly stale — the contention path); default reads the head
    var base = baseVersion.getOrElse(currentVersion(s, table))
    while (attempt < maxAttempts) {
      attempt += 1
      val v = base + 1
      if (tryCommit(s, table, v, writer, actions, ts))
        return CommitResult(v, attempt)
      // lost: somebody owns v (and possibly more). Conflict-check
      // every commit that landed since our base before rebasing —
      // fromVersion = base: older bodies are irrelevant AND never open
      val landed = commits(s, table, fromVersion = base)
      val clash = landed.flatMap(c => touched(c.actions)).toSet.intersect(mine)
      if (clash.nonEmpty)
        throw new CommitConflictException(
          s"writer $writer conflicts on segments $clash at version ${base + 1}",
          attempt)
      base = landed.lastOption.map(_.version).getOrElse(base)
      // full-jitter exponential backoff before the re-publish (the
      // public AWS backoff design): N racing writers otherwise stay
      // SYNCHRONIZED — every loser re-reads and re-publishes against
      // the same next version at the same instant, burning one wasted
      // log read + publish per competitor per round (measured 4.4
      // attempts/commit at 8 disjoint writers; SCALING.md carries the
      // before/after). Uncontended commits never sleep (attempt 1
      // returns above); the jitter draw is over [0, ceiling] so a
      // lucky retrier still goes immediately.
      val ceiling = math.min(100L, 1L << math.min(attempt + 1, 7))
      Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
        .nextLong(ceiling + 1))
    }
    throw new CommitConflictException(
      s"writer $writer gave up after $maxAttempts attempts", maxAttempts)
  }

  /** MERGE-ON-READ delete: remove every row matching `cond` WITHOUT
    * rewriting a single segment — for each live segment whose
    * still-visible rows match, write a NEW cumulative dv sidecar
    * (previous positions OR the new matches) and commit one `dv`
    * action per touched segment. Untouched segments get no action at
    * all (per-segment targeting — at 100 TB a point delete touches
    * one segment's sidecar, not the table). The write cost is
    * O(deleted positions) — a contiguous range compresses to a few
    * bytes — not O(segment): the trade against copy-on-write
    * ([[changeFeed]]'s rewrite path) is one position filter per scan
    * until OPTIMIZE rewrites — the public deletion-vector design.
    *
    * ONE probe job over the [[VisibleRows]] relation: each partition
    * builds bitmaps of its matching rows' positions per file on the
    * executors, the driver ORs them into the previous sidecar's and
    * writes each new sidecar itself (no write job). With schema
    * inference, a delete runs two jobs however many segments it reads.
    *
    * Returns the commit result, or None when nothing matched (a no-op
    * delete publishes no commit).
    *
    * Column-mapping bound: `cond` evaluates against the segment files'
    * PHYSICAL column names (the probe reads the raw segments, before
    * the logical projection). On an evolved table, translate logical →
    * physical via [[mappingAt]] before building the predicate; a
    * logical-surface DELETE API on top of that translation is the
    * extension point. */
  def deleteWhereMoR(s: SparkSession, table: String, writer: String,
                     cond: Column): Option[CommitResult] = {
    val st = logState(s, table)
    val cs = stateAt(s, table, st, st.head)._2
    require(cs.nonEmpty, s"cannot delete from empty table $table")
    val live = liveState(cs)
    val rows = new VisibleRows(s, live, everMapped(cs))
    val hits: Map[String, Roaring64NavigableMap] =
      rows.all.where(cond)
        .select(col("_metadata.file_path"), col("_metadata.row_index"))
        .rdd.mapPartitions { it =>
          val m = scala.collection.mutable.HashMap.empty[String, Roaring64NavigableMap]
          it.foreach(r => m.getOrElseUpdate(r.getString(0), new Roaring64NavigableMap())
            .addLong(r.getLong(1)))
          m.iterator
        }
        .collect()
        .groupMapReduce(h => fileKey(h._1))(_._2) { (a, b) => a.or(b); a }
    // cumulative: every file's new matches OR its previous positions
    val deleted = rows.deleted ++ hits.map { case (f, rs) =>
      rows.deleted.get(f).foreach(rs.or)
      f -> rs
    }
    val actions = live.flatMap { case (seg, _) =>
      val dir = absolute(s, seg) + "/"
      if (!hits.keys.exists(_.startsWith(dir))) None
      else Some(Action("dv", DeletionVector.write(s, table, seg, deleted.collect {
        case (f, rs) if f.startsWith(dir) => f.stripPrefix(dir) -> rs
      }), ref = seg))
    }
    if (actions.isEmpty) None
    else Some(commitWithRetry(s, table, writer, actions,
      baseVersion = Some(st.head)))
  }

  // ---- RESTORE (rollback as a forward commit) ---------------------------

  /** A restore needs a segment or dv sidecar whose FILE vacuum already
    * reaped — the named failure mode: the rollback is impossible, not
    * "succeeds then dies in the scan as parquet FileNotFound". */
  class RestoreVacuumedException(table: String, missing: Seq[String])
    extends RuntimeException(
      s"cannot restore $table: ${missing.size} required file(s) were " +
        s"vacuumed — ${missing.mkString(", ")}")

  /** RESTORE the table to the state it had at `toVersion` — as ONE
    * new commit, never by erasing history (the public design: a
    * rollback is a forward write, so the bad versions stay readable
    * for forensics and concurrent readers never see the log shrink).
    * The commit is pure metadata — O(live segments) actions, zero
    * data rewritten at any table size:
    *  - segments live at head but not at `toVersion` → `remove`;
    *  - segments live at `toVersion` but not at head → re-`add`,
    *    carrying the ORIGINAL zone-map stats (still exact — segment
    *    files are immutable), plus the dv association of `toVersion`;
    *  - segments live in both but whose ACTIVE dv differs → `remove`
    *    + re-`add` + the target dv if any (a remove retires the head
    *    dv association; there is no "drop dv" action, and inventing
    *    one for this path alone would fork the fold);
    *  - a column mapping differing from head's → the target's `meta`.
    * Identity high-waters are deliberately NOT restored: the mark
    * only ever rises, so ids of rows the restore removed are never
    * handed out again (re-allocating them would collide with any
    * copy of those rows that escaped — the conservative choice).
    * Fails with [[RestoreVacuumedException]] if any required file is
    * gone, and with the truncation error below the log floor (the
    * action-level state of a retention-deleted version is
    * unreconstructible). Concurrency: commits through the OCC loop
    * touching every moved segment, so a racing writer conflicts
    * instead of silently interleaving. */
  def restore(s: SparkSession, table: String, writer: String,
              toVersion: Long, ts: Long = -1L): CommitResult = {
    val st = logState(s, table)
    // two state folds, each from the newest checkpoint at or below its
    // version: the floor version itself IS restorable (its state
    // survives as the floor checkpoint); anything below it is the
    // truncation error
    val csTo = stateAt(s, table, st, toVersion)._2
    val baseCs = stateAt(s, table, st, st.head)._2
    require(baseCs.nonEmpty, s"cannot restore empty table $table")
    val headV = st.head
    require(toVersion >= 1L && toVersion <= headV,
      s"restore target $toVersion outside [1, $headV] of $table")
    val target = foldLive(csTo)
    val targetPaths = target.map(_._1.path).toSet
    val headState = liveState(baseCs)
    val headMap = headState.toMap
    val removes = headState.collect {
      case (p, _) if !targetPaths(p) => Action("remove", p)
    }
    val readds = target.flatMap { case (add, dvo) =>
      val p = add.path
      headMap.get(p) match {
        case None => // not live at head: bring it back as it was
          add +: dvo.map(dv => Action("dv", dv, ref = p)).toSeq
        case Some(headDv) if headDv != dvo => // dv association differs
          Seq(Action("remove", p), add) ++
            dvo.map(dv => Action("dv", dv, ref = p))
        case _ => Seq.empty
      }
    }
    val metaA =
      if (columnMapping(csTo) != columnMapping(baseCs))
        Seq(columnMappingAction(
          columnMapping(csTo).getOrElse(Seq.empty)))
      else Seq.empty
    // constraints are table metadata too: drop the ones declared
    // since the target, re-declare the ones dropped or changed since
    val consTo = constraints(csTo)
    val consHead = constraints(baseCs)
    val consA =
      if (consTo == consHead) Seq.empty
      else consHead.collect {
        case (n, _) if !consTo.exists(_._1 == n) => dropConstraintAction(n)
      } ++ consTo.collect {
        case (n, e) if !consHead.contains((n, e)) => constraintAction(n, e)
      }
    val actions = removes ++ readds ++ metaA ++ consA
    if (actions.isEmpty) return CommitResult(headV, 0) // already there
    val fs = hfs(s, new Path(table))
    val missing = readds.collect {
      case a if a.kind == "add" || a.kind == "dv" => a.path
    }.filterNot(p => fs.exists(new Path(p)))
    if (missing.nonEmpty)
      throw new RestoreVacuumedException(table, missing)
    commitWithRetry(s, table, writer, actions,
      baseVersion = Some(headV), ts = ts)
  }
}
