package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A word/segment event flowing into utterance assembly. */
case class WordEvent(source: String, ts: java.sql.Timestamp, word: String)

/** Accumulated per-source state: the in-progress utterance's words
  * with their timestamps (kept so late-but-in-watermark words can
  * slot into time order before splits are decided). */
case class UtteranceState(words: Seq[(Long, String)])

/** One assembled utterance. */
case class Utterance(source: String, start_us: Long, end_us: Long,
                     n_words: Long, text: String)

/** A document's presence in one LSH band (streaming near-dedup). */
case class BandedDoc(band: String, doc_id: Long)

/** Per-band state: document ids seen so far in this band. */
case class BandState(ids: Seq[Long])

/** A streaming near-duplicate candidate pair (id_a < id_b). */
case class NearDupCandidate(id_a: Long, id_b: Long)

/** One value observation for streaming EWMA (seq breaks ts ties). */
case class ValEvent(key: Long, ts_us: Long, seq: Long, value: Double)

/** Per-key EWMA state: observation count + current smoothed value. */
case class EwmaState(n: Long, ewma: Double)

/** The running EWMA after a micro-batch touched the key. */
case class EwmaPoint(key: Long, n: Long, ewma: Double)

/** streamingRunningMax state/output (one double per key). */
case class MaxState(mx: Double)
case class MaxPoint(key: Long, ts_us: Long, seq: Long, running_max: Double)
case class ThinState(lastKept: Long)
case class ThinKept(user_id: Long, tus: Long, event_id: Long)

/** streamingAdaptiveThin input: a [[ValEvent]] with a per-row gap. */
case class GapEvent(key: Long, ts_us: Long, seq: Long, gap_us: Long)

/** streamingTopK state/output: the k largest values seen per key
  * (emission carries the first three, padded with nulls). */
case class TopKState(n: Long, vs: Seq[Double])
case class TopKPoint(key: Long, n: Long,
                     v1: Option[Double], v2: Option[Double], v3: Option[Double])

/** streamingHolt event/state/output: per-key day-bucket sufficient
  * statistics (bounded: 30 counts) and the recomputed Holt readout. */
case class DayEvent(key: Long, day: Int)
case class HoltState(counts: Seq[Long])
case class HoltPoint(user_id: Long, n_events: Long, level: Double,
                     trend: Double, forecast_7d: Double)

/** streamingTokenBucket event/state/output: per-key admission
  * control with O(1) state (level + last event time). */
case class BucketEvent(key: Long, id: Long, ts_us: Long)
case class BucketState(levelMicro: Long, lastTs: Long)
case class BucketDecision(user_id: Long, event_id: Long,
                          admitted: Long, level_after: Long)

/** Structured Streaming operators (SURVEY §2A-9, §3.3).
  *
  * The reference's streaming shapes map 1:1:
  *  - Vosk micro-batch chunk loop -> `readStream` micro-batches
  *  - utterance assembly from word timings -> `session_window` with a
  *    gap (a new utterance starts after `gap` of silence)
  *  - append-only JSONL sink -> `writeStream.outputMode("append")`
  *  - `last_run.json` commit state -> the checkpoint/commit log
  *  - id-skip idempotence (O1) -> `dropDuplicatesWithinWatermark`
  *
  * All functions are plain DataFrame transforms: they apply to both
  * batch and streaming frames (the streaming tests drive them through
  * MemoryStream; the same code serves batch backfill).
  */
object Sessions {

  /** Utterance assembly: group word/segment events of one source into
    * session windows separated by >= `gapSec` of silence, emitting one
    * row per utterance with its text joined in time order.
    *
    * Watermark bounds state: windows older than `watermark` close and
    * emit (append mode), so state size is O(active sources), not
    * O(history) — the property that keeps this running on an unbounded
    * 100 TB/day stream. */
  def assembleUtterances(words: DataFrame, keyCol: String, tsCol: String,
                         textCol: String, gapSec: Double,
                         watermark: String = "10 seconds"): DataFrame =
    words
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), s"$gapSec seconds"))
      .agg(
        min(col(tsCol)).as("utterance_start"),
        max(col(tsCol)).as("utterance_end"),
        count(lit(1)).as("n_words"),
        // time-ordered join: collect (ts, text) structs, sort, project
        array_join(transform(sort_array(collect_list(struct(col(tsCol), col(textCol)))),
          s => s(textCol)), " ").as("text"))
      .select(col(keyCol), col("session_window.start").as("window_start"),
        col("session_window.end").as("window_end"),
        col("utterance_start"), col("utterance_end"), col("n_words"), col("text"))

  /** Stateful-operator cost is dominated by per-STATE-STORE overhead
    * (one store per shuffle partition per stateful operator side, each
    * with snapshot/commit bookkeeping per micro-batch), not by rows —
    * measured 8.3 s -> 2.9 s on the stream-stream join by going
    * 32 -> 4 stores. On a real cluster size it to rate x interval
    * state volume instead. */
  private val StateStores = 4

  /** Shared lifecycle for every run-to-batch variant below: memory
    * sink under a fresh name, AvailableNow trigger, await, return the
    * sink table as a batch frame. The partition count is fixed into
    * the query at start, so [[StateStores]] is set around start() and
    * the session's count restored after. The sink's temp view is
    * dropped once the returned frame is analyzed — the frame holds the
    * sink itself, so it still reads back. */
  private def runToBatch(spark: org.apache.spark.sql.SparkSession,
                         reader: org.apache.spark.sql.SparkSession => DataFrame,
                         transform: DataFrame => DataFrame,
                         outputMode: String): DataFrame = {
    val name = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val q = try {
      spark.conf.set("spark.sql.shuffle.partitions", StateStores.toString)
      transform(reader(spark)).writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    try q.awaitTermination()
    finally q.stop()
    try spark.table(name)
    finally spark.catalog.dropTempView(name)
  }

  /** Run a streaming aggregation over a bounded file source to
    * completion and return the final result as a batch DataFrame:
    * `readStream` → transform → complete-mode memory sink →
    * `Trigger.AvailableNow` → await. The caller's transform sees a
    * genuine streaming DataFrame (incremental state, streaming-only
    * plan rules apply), yet the final table equals the batch result —
    * which lets a STREAMING pipeline be verified against a SQL oracle.
    * At scale the same code runs continuously; AvailableNow is the
    * batch-catch-up trigger (one bounded run over the backlog). */
  def runStreamToBatch(spark: org.apache.spark.sql.SparkSession,
                       sourceDir: String,
                       schema: org.apache.spark.sql.types.StructType,
                       transform: DataFrame => DataFrame,
                       globFilter: Option[String] = None,
                       outputMode: String = "complete"): DataFrame =
    runToBatch(spark, { sp =>
      val reader = sp.readStream.schema(schema)
      globFilter.foreach(g => reader.option("pathGlobFilter", g))
      reader.parquet(sourceDir)
    }, transform, outputMode)

  /** [[runStreamToBatch]] over a TEXT file stream (the commit-log
    * tailing runner behind q578: a lakehouse manifest is a directory
    * of tiny text files, and CDC consumers tail exactly that). Same
    * contract: AvailableNow bounds the run, the memory-sink table
    * returns as a batch frame. */
  def runTextStreamToBatch(spark: org.apache.spark.sql.SparkSession,
                           sourceDir: String,
                           transform: DataFrame => DataFrame,
                           globFilter: Option[String] = None,
                           outputMode: String = "append"): DataFrame =
    runToBatch(spark, { sp =>
      val reader = sp.readStream
      globFilter.foreach(g => reader.option("pathGlobFilter", g))
      reader.text(sourceDir)
    }, transform, outputMode)

  /** STREAMING change-data-feed (lane #36) — the consumer-facing twin
    * of the q578 manifest tail: instead of the live-set FOLD, emit the
    * table's ROW-LEVEL changes incrementally as commits land. The
    * text stream over `_txnlog` is the notification plane (tiny
    * manifest lines, one micro-batch per commit file via
    * maxFilesPerTrigger=1); foreachBatch parses the streamed lines
    * into commits with [[graft.ops.TxnLog.parseCommit]] — the same
    * parser the batch reader uses — holds them in a CONTIGUITY buffer
    * (a commit's changes apply only once every predecessor's have:
    * file-stream arrival order is mod-time, not version, and dv/remove
    * classification is order-dependent), threads the active dv state
    * and column mapping across micro-batches, and appends each
    * commit's change rows (the batch feed's own per-commit step,
    * [[graft.ops.TxnLog.feedStep]], so stream ≡ batch is structural)
    * to the sink directory. The
    * driver-held (nextVersion, feed state) pair is this runner's demo
    * bound: a production restart rebuilds both from the sink's
    * high-water `_commit_version` plus the log — the standard
    * streaming-checkpoint recovery argument. Returns the accumulated
    * feed as a batch frame. */
  def streamChangeFeedToBatch(spark: org.apache.spark.sql.SparkSession,
                              table: String, fromV: Long,
                              idCols: Seq[String],
                              outDir: String): DataFrame = {
    import graft.ops.TxnLog
    // the dv state and the column mapping thread across micro-batches
    // exactly as the batch feed threads them across commits (a rename
    // mid-stream must switch the emitted logical names from that commit
    // on): one fold at fromV, then the batch feed's per-commit step
    var state = TxnLog.feedStateAt(spark, table, fromV)
    var nextV = fromV + 1
    val pending = scala.collection.mutable.Map.empty[Long, TxnLog.Commit]
    val q = spark.readStream
      .option("pathGlobFilter", "*.txn")
      .option("maxFilesPerTrigger", "1")
      .text(s"$table/_txnlog")
      .withColumn("version", regexp_extract(input_file_name(),
        "(\\d{20})\\.txn", 1).cast("long"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // manifest lines are tiny — the collect is O(actions in this
        // micro-batch), never data; a file's lines arrive in file order
        val lines = batch.collect()
          .map(r => (r.getAs[Long]("version"), r.getAs[String]("value")))
        lines.groupBy(_._1).foreach { case (v, ls) =>
          if (v > fromV)
            pending(v) = TxnLog.parseCommit(v, ls.map(_._2).filter(_.nonEmpty).toSeq)
        }
        while (pending.contains(nextV)) {
          // the sink dir is one parquet schema, so a mid-stream mapping
          // change fails NAMED (restart a new feed from that version),
          // never appends mixed logical schemas
          val (dfs, next, _) = TxnLog.feedStep(spark, table, fromV, idCols,
            state, pending.remove(nextV).get)
          state = next
          dfs.foreach(_.write.mode("append").parquet(outDir))
          nextV += 1
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()
    spark.read.parquet(outDir)
  }

  /** [[runStreamToBatch]] for a CUSTOM DataSourceV2 streaming source
    * (by format name + options) instead of a file source — the runner
    * behind the q425 device-capture lane. Same contract: the
    * transform sees a genuine streaming DataFrame, AvailableNow
    * bounds the run (the source's admission control still splits it
    * into rate-limited micro-batches), and the final memory-sink
    * table is returned as a batch frame. */
  def runSourceStreamToBatch(spark: org.apache.spark.sql.SparkSession,
                             format: String,
                             options: Map[String, String],
                             transform: DataFrame => DataFrame,
                             outputMode: String = "complete"): DataFrame =
    runToBatch(spark,
      _.readStream.format(format).options(options).load(),
      transform, outputMode)

  def windowedCounts(events: DataFrame, tsCol: String, valueCol: String,
                     window: String = "10 minutes",
                     watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("n"), col("sum_value"))

  /** Exactly-once-ish ingest dedup: drop records whose id was already
    * seen within the watermark horizon (streaming form of the
    * reference's `overwrites: False` id-skip, O1). State is bounded by
    * the watermark. */
  def dedupWithinWatermark(records: DataFrame, idCol: String, tsCol: String,
                           watermark: String = "1 hour"): DataFrame =
    records
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Utterance assembly with EXPLICIT state — the
    * `flatMapGroupsWithState` formulation for when session logic
    * outgrows `session_window` (SURVEY §2B streaming row): here the
    * state is the in-progress utterance per source; a gap closes and
    * emits it, and an event-time timeout flushes it when the watermark
    * passes its horizon (so state stays bounded and silent sources
    * still emit). */
  def assembleUtterancesStateful(words: Dataset[WordEvent], gapSec: Double,
                                 watermark: String = "2 seconds"): Dataset[Utterance] = {
    import words.sparkSession.implicits._
    val gapUs = (gapSec * 1e6).toLong
    val isStreaming = words.isStreaming

    // full microsecond precision: getTime truncates to ms, the
    // sub-ms part lives in getNanos
    def micros(ts: java.sql.Timestamp): Long =
      (ts.getTime / 1000L) * 1000000L + ts.getNanos / 1000L

    def finish(source: String, ws: Seq[(Long, String)]): Utterance =
      Utterance(source, ws.head._1, ws.last._1, ws.length,
        ws.map(_._2).mkString(" "))

    /** Split a time-sorted word list on gaps: (closed groups, pending). */
    def split(ws: Seq[(Long, String)]): (Seq[Seq[(Long, String)]], Seq[(Long, String)]) = {
      val groups = ws.foldLeft(Vector.empty[Vector[(Long, String)]]) { (acc, w) =>
        acc.lastOption match {
          // strict <: a word at exactly gapSec starts a NEW utterance,
          // matching session_window's exclusive end and batchUtteranceIds
          case Some(g) if w._1 - g.last._1 < gapUs => acc.init :+ (g :+ w)
          case _ => acc :+ Vector(w)
        }
      }
      (groups.init, groups.lastOption.getOrElse(Vector.empty))
    }

    def update(source: String, events: Iterator[WordEvent],
               state: GroupState[UtteranceState]): Iterator[Utterance] = {
      if (state.hasTimedOut) {
        val out = state.getOption.filter(_.words.nonEmpty)
          .map(st => finish(source, st.words)).toSeq
        state.remove()
        out.iterator
      } else {
        // merge pending + incoming and sort — late words inside the
        // watermark slot into time order before splits are decided
        val all = (state.getOption.map(_.words).getOrElse(Seq.empty) ++
          events.map(w => micros(w.ts) -> w.word))
          .sortBy(identity)
        val (closed, pending) = split(all)
        val emitted = closed.map(finish(source, _))
        if (pending.nonEmpty) {
          if (isStreaming) {
            state.update(UtteranceState(pending))
            // flush when the watermark passes the utterance gap horizon
            state.setTimeoutTimestamp(pending.last._1 / 1000L + (gapUs / 1000L).max(1L))
          } else {
            // batch backfill: timeouts never fire, emit the tail now
            state.remove()
            return (emitted :+ finish(source, pending)).iterator
          }
        }
        emitted.iterator
      }
    }

    words
      .withWatermark("ts", watermark)
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Stream-stream interval join: match each left event to right
    * events of the same key whose timestamp lies in
    * [leftTs - lowerSec, leftTs + upperSec]. Both sides carry
    * watermarks, and the time-range conjuncts bound the join state:
    * Spark can discard buffered rows once the watermark passes the
    * interval, so state is O(rate × interval), not O(stream). Without
    * the range bounds a stream-stream join would buffer forever. */
  /** `applyWatermarks = false` is for sides that ALREADY carry a
    * watermark assigned upstream — specifically on the shared source
    * BEFORE a selective filter. The global watermark is the MIN over
    * the plan's watermark nodes, each fed only by the rows that reach
    * it; a watermark assigned after `where(type = 'click')` stops at
    * the last click, and in an OUTER join that permanently strands the
    * final interval's unmatched state (their null rows never emit).
    * Watermark-on-source, filter-after keeps every node seeing the
    * full event stream (q148 pins the end-to-end consequence). */
  def joinWithinInterval(left: DataFrame, right: DataFrame, keyCol: String,
                         leftTs: String, rightTs: String,
                         lowerSec: Long, upperSec: Long,
                         watermark: String = "30 seconds",
                         joinType: String = "inner",
                         applyWatermarks: Boolean = true): DataFrame = {
    val l = if (applyWatermarks) left.withWatermark(leftTs, watermark) else left
    // rename-then-join: when both sides derive from the SAME stream
    // (self-join), Column-reference disambiguation (r(keyCol)) can
    // resolve to the left attribute and silently keep the RIGHT key —
    // null on outer-unmatched rows. A by-name rename is unambiguous.
    val r = (if (applyWatermarks) right.withWatermark(rightTs, watermark) else right)
      .withColumnRenamed(keyCol, "__rkey")
    // outer variants emit the null-padded row only once the watermark
    // proves no match can still arrive (state eviction time); the
    // trailing no-data micro-batch after the last data batch is what
    // flushes them on a bounded AvailableNow run (q148 pins this)
    l.join(r,
      l(keyCol) === r("__rkey") &&
        r(rightTs) >= l(leftTs) - expr(s"interval $lowerSec seconds") &&
        r(rightTs) <= l(leftTs) + expr(s"interval $upperSec seconds"),
      joinType)
      // full-outer: a right-unmatched row carries a NULL left key —
      // coalesce keeps the key observable (no-op for inner/left, where
      // the left key is always populated on emitted rows)
      .withColumn(keyCol, coalesce(l(keyCol), col("__rkey")))
      .drop("__rkey")
  }

  /** foreachBatch idempotent key-append sink: each micro-batch is
    * anti-joined against the keys already in the target before
    * appending, so a replayed batch (failure/restart re-delivery)
    * inserts nothing twice — the sink-side form of the reference's
    * `overwrites: False` id-skip (O1). The target stays append-only
    * parquet; no transactional store is required for at-least-once
    * upstream to become effectively-once downstream. */
  def foreachBatchDedupSink(stream: DataFrame, idCol: String,
                            targetDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      // existence check through the Hadoop FS API so hdfs://s3a
      // targets keep the idempotence guarantee (java.io.File would
      // silently report false there and skip the anti-join)
      val path = new org.apache.hadoop.fs.Path(targetDir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a replayed batch can also duplicate ids WITHIN itself
      val unique = batch.dropDuplicates(idCol)
      val fresh =
        if (fs.exists(path)) {
          // the key scan is O(target); for high-rate sinks swap the
          // target for a transactional table or partition the key scan
          val existing = spark.read.parquet(targetDir).select(idCol)
          unique.join(existing, Seq(idCol), "left_anti")
        } else unique
      fresh.write.mode("append").parquet(targetDir)
      ()
    }

  /** Streaming changelog apply — the CDC fold (`Relational
    * .applyChangelog`, q92) run AT INGEST instead of in a nightly
    * batch: each micro-batch folds into a keyed snapshot where the row
    * with the maximum (orderCols) wins and a winning delete erases the
    * key. The merge is an argmax, hence ASSOCIATIVE and COMMUTATIVE —
    * the final snapshot is independent of how the stream was
    * micro-batched or ordered, which is what makes it hash-comparable
    * to the batch window oracle (q251) and restart-safe.
    *
    * Mechanics: foreachBatch reduces the batch to latest-per-key, reads
    * the previous snapshot version, re-argmaxes the union, and writes a
    * NEW versioned parquet snapshot (never overwriting the version it
    * is reading — the swap-not-rewrite discipline; a lakehouse table
    * format would replace the version chain with a transactional
    * MERGE). State is O(live keys). `orderCols` must be unique per key
    * (e.g. ts + event id) so the argmax is total. Returns the final
    * snapshot with winning deletes REMOVED. */
  def streamingChangelogApply(changes: DataFrame, keyCol: String,
                              orderCols: Seq[String], deleteCol: String,
                              workDir: String): DataFrame = {
    val spark = changes.sparkSession
    def latest(df: DataFrame): DataFrame = {
      df.groupBy(col(keyCol))
        .agg(max(struct(orderCols.map(col) ++
          df.columns.filterNot(c => c == keyCol || orderCols.contains(c))
            .map(col): _*)).as("__s"))
        .select(col(keyCol) +: orderCols.map(c => col(s"__s.$c").as(c)) ++:
          df.columns.filterNot(c => c == keyCol || orderCols.contains(c))
            .map(c => col(s"__s.$c").as(c)): _*)
    }
    @volatile var current: Option[String] = None
    val q = changes.writeStream
      .option("checkpointLocation", s"$workDir/_ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val fresh = latest(batch)
        val merged = current match {
          case Some(prev) =>
            latest(spark.read.parquet(prev).unionByName(fresh))
          case None => fresh
        }
        val out = s"$workDir/v$id"
        merged.write.mode("overwrite").parquet(out)
        current = Some(out)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()
    current match {
      case Some(dir) => spark.read.parquet(dir).where(!col(deleteCol))
      case None => sys.error("streamingChangelogApply: the stream produced no micro-batch")
    }
  }

  /** Streaming near-duplicate candidate detection: each arriving
    * document is banded row-locally (`Dedup.rowBandKeys` — the same
    * minhash family as the batch operator), exploded to one row per
    * band, and matched against that band's seen-id state. A pair is
    * emitted the moment the SECOND member of a band arrives — the
    * streaming analogue of `Dedup.lshCandidatePairs`, equivalent on
    * the same corpus (StreamingSpec pins it).
    *
    * State is O(ids per band); `maxPerBand` is the degenerate-bucket
    * guard — same default as the batch maxBucket so the two operators
    * agree on any corpus where no band exceeds the cap. (AT the cap
    * the semantics necessarily differ: batch drops the whole bucket
    * retroactively, a stream can only stop accumulating.) Pairs may
    * repeat across bands; downstream dedup (e.g. dropDuplicates on
    * the pair) is the caller's choice of exactly-once discipline.
    * Requires an integral id column (state holds packed longs). */
  def streamingNearDupCandidates(docs: DataFrame, idCol: String, textCol: String,
                                 shingleN: Int = 3, k: Int = 8, bands: Int = 4,
                                 maxPerBand: Int = 100000): Dataset[NearDupCandidate] = {
    import docs.sparkSession.implicits._
    val t = docs.schema(idCol).dataType
    require(t == org.apache.spark.sql.types.LongType ||
      t == org.apache.spark.sql.types.IntegerType ||
      t == org.apache.spark.sql.types.ShortType,
      s"streamingNearDupCandidates requires an integral id; $idCol is ${t.sql} " +
        "(map string/uuid ids to a surrogate long first)")
    val banded = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(graft.ops.Dedup.rowBandKeys(col(textCol), shingleN, k, bands))
          .as("band"))
      .as[BandedDoc]

    def update(band: String, rows: Iterator[BandedDoc],
               state: GroupState[BandState]): Iterator[NearDupCandidate] = {
      val seen = state.getOption.map(_.ids).getOrElse(Seq.empty)
      val seenSet = scala.collection.mutable.LinkedHashSet(seen: _*)
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupCandidate]
      // deterministic within-batch order
      rows.toSeq.map(_.doc_id).distinct.sorted.foreach { id =>
        if (seenSet.size < maxPerBand && !seenSet.contains(id)) {
          seenSet.foreach { other =>
            out += NearDupCandidate(math.min(id, other), math.max(id, other))
          }
          seenSet += id
        }
      }
      state.update(BandState(seenSet.toSeq))
      out.iterator
    }

    banded
      .groupByKey(_.band)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming EWMA per key: the stateful twin of the batch ordered
    * fold (q129). State is two numbers per key — O(keys), unbounded
    * history never buffered. Events sort by (ts_us, seq) within each
    * micro-batch; cross-batch order is arrival order, so bounded
    * out-of-orderness must be handled upstream (same discipline as
    * streamingNearDupCandidates). `beta` is passed explicitly rather
    * than computed as 1-alpha: the batch fold uses the literal 0.7,
    * and 1.0-0.3 is a DIFFERENT double — bit-parity with the batch
    * operator requires the same constants, not just the same formula.
    * Emits the running (n, ewma) once per key per touching batch
    * (Update mode); the latest row per key is the current value. */
  def streamingEwma(events: Dataset[ValEvent], alpha: Double,
                    beta: Double): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    def update(key: Long, rows: Iterator[ValEvent],
               state: GroupState[EwmaState]): Iterator[EwmaPoint] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.seq))
      if (sorted.isEmpty) Iterator.empty
      else {
        var (n, acc) = state.getOption.map(s => (s.n, s.ewma)).getOrElse((0L, 0.0))
        sorted.foreach { e =>
          acc = if (n == 0L) e.value else alpha * e.value + beta * acc
          n += 1
        }
        state.update(EwmaState(n, acc))
        Iterator.single(EwmaPoint(key, n, acc))
      }
    }
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming greedy temporal thinning per key: the stateful twin of
    * the batch custom physical operator (plans/GreedyThin, q420).
    * Keep an event only if its timestamp is >= gap after the last
    * KEPT event of its key — at ingest time, so over-frequent
    * re-crawls are dropped before they ever land. State is ONE long
    * per key (the last kept timestamp); kept rows are final on emit
    * (Append mode). Events sort by (ts_us, seq) within each
    * micro-batch; cross-batch order is arrival order (the
    * streamingEwma discipline), so bounded out-of-orderness is
    * upstream's job. Hash-matched to the SAME recursive-CTE oracle as
    * the batch operator (q421 vs q420) — two execution models, one
    * verified semantics. */
  def streamingGreedyThin(events: Dataset[ValEvent],
                          gapMicros: Long): Dataset[ThinKept] = {
    import events.sparkSession.implicits._
    def update(key: Long, rows: Iterator[ValEvent],
               state: GroupState[ThinState]): Iterator[ThinKept] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.seq))
      if (sorted.isEmpty) Iterator.empty
      else {
        var last = state.getOption.map(_.lastKept).getOrElse(Long.MinValue)
        val kept = sorted.flatMap { e =>
          if (last == Long.MinValue || e.ts_us >= last + gapMicros) {
            last = e.ts_us
            Some(ThinKept(key, e.ts_us, e.seq))
          } else None
        }
        state.update(ThinState(last))
        kept.iterator
      }
    }
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** [[streamingGreedyThin]] with a PER-ROW gap (the q426 adaptive
    * recrawl budget at ingest time): keep an event iff its timestamp
    * is >= the CANDIDATE row's own gap after the last kept event of
    * its key. State stays one long per key; rows are final on emit
    * (Append). The batch twin is GreedyThinOp.thinAdaptive — same
    * recurrence, two execution models, one oracle (q431). */
  def streamingAdaptiveThin(events: Dataset[GapEvent]): Dataset[ThinKept] = {
    import events.sparkSession.implicits._
    def update(key: Long, rows: Iterator[GapEvent],
               state: GroupState[ThinState]): Iterator[ThinKept] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.seq))
      if (sorted.isEmpty) Iterator.empty
      else {
        var last = state.getOption.map(_.lastKept).getOrElse(Long.MinValue)
        val kept = sorted.flatMap { e =>
          if (last == Long.MinValue || e.ts_us >= last + e.gap_us) {
            last = e.ts_us
            Some(ThinKept(key, e.ts_us, e.seq))
          } else None
        }
        state.update(ThinState(last))
        kept.iterator
      }
    }
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming running MAX per key, emitting the full per-event trace:
    * every input event produces one output row carrying the max seen
    * so far for its key (Append mode — rows are final on emit). The
    * batch twin is the cumulative-max window
    * `max(value) OVER (PARTITION BY key ORDER BY ts, seq)`, so the
    * ENTIRE stream output — not just final state — hash-verifies
    * against a SQL oracle (q178); max-of-doubles is pure comparison,
    * no accumulation error to manage.
    *
    * State is ONE double per key — the minimal stateful-fold shape
    * (high-water marks, best-score-so-far, monotone progress
    * tracking). Events sort by (ts_us, seq) within each micro-batch;
    * cross-batch order is arrival order (the streamingEwma
    * discipline), so bounded out-of-orderness is upstream's job. */
  def streamingRunningMax(events: Dataset[ValEvent]): Dataset[MaxPoint] = {
    import events.sparkSession.implicits._
    def update(key: Long, rows: Iterator[ValEvent],
               state: GroupState[MaxState]): Iterator[MaxPoint] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.seq))
      if (sorted.isEmpty) Iterator.empty
      else {
        var cur = state.getOption.map(_.mx)
        val out = sorted.map { e =>
          cur = Some(cur.fold(e.value)(m => math.max(m, e.value)))
          MaxPoint(key, e.ts_us, e.seq, cur.get)
        }
        state.update(MaxState(cur.get))
        out.iterator
      }
    }
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming per-key TOP-K values via flatMapGroupsWithState: state
    * is the k largest values seen for the key (plus the observation
    * count), emitted in Update mode after every micro-batch that
    * touches the key. The final state per key — selected downstream as
    * the emission with the largest n, the streamingEwma discipline, so
    * the check is robust to any micro-batch split — equals the batch
    * `k` largest values per key, which is plain SQL (q215's oracle).
    * Selection (not accumulation) of doubles is exact: no
    * floating-point ordering hazard.
    *
    * State is k doubles + one long per key — bounded regardless of
    * stream length (the leaderboard/top-scores shape). */
  def streamingTopK(events: Dataset[ValEvent], k: Int): Dataset[TopKPoint] = {
    import events.sparkSession.implicits._
    require(k >= 1 && k <= 16, s"streamingTopK supports k in [1,16], got $k")
    def update(key: Long, rows: Iterator[ValEvent],
               state: GroupState[TopKState]): Iterator[TopKPoint] = {
      val incoming = rows.map(_.value).toSeq
      if (incoming.isEmpty) Iterator.empty
      else {
        val prior = state.getOption.getOrElse(TopKState(0L, Seq.empty))
        val top = (prior.vs ++ incoming).sorted(Ordering[Double].reverse).take(k)
        val n = prior.n + incoming.size
        state.update(TopKState(n, top))
        def at(i: Int): Option[Double] = top.lift(i)
        Iterator.single(TopKPoint(key, n, at(0), at(1), at(2)))
      }
    }
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming Holt linear-trend maintenance per key: the live twin
    * of the q520 batch fold, via the third stateful pattern in this
    * file — BOUNDED SUFFICIENT STATISTICS + recompute. EWMA keeps
    * O(1) state because its recurrence telescopes; Holt's two-state
    * recurrence over a dense day grid does not, but its sufficient
    * statistic (30 day-counts) is bounded, so the state stores the
    * counts and re-runs the O(30) fold per emission. Split-safe under
    * ANY micro-batch partition of the events (counts are commutative),
    * unlike carrying (l, b) across batches would be. Emits the
    * running readout per touching batch (Update mode); downstream
    * selects the emission with the largest n_events (the
    * streamingEwma discipline). The fold body is the EXACT expression
    * sequence of the batch lane, so doubles match bit-for-bit. */
  def streamingHolt(events: Dataset[DayEvent]): Dataset[HoltPoint] = {
    import events.sparkSession.implicits._
    def update(key: Long, rows: Iterator[DayEvent],
               state: GroupState[HoltState]): Iterator[HoltPoint] = {
      val incoming = rows.toSeq
      if (incoming.isEmpty) Iterator.empty
      else {
        val counts = state.getOption.map(_.counts.toArray)
          .getOrElse(Array.fill(30)(0L))
        incoming.foreach { e =>
          if (e.day >= 1 && e.day <= 30) counts(e.day - 1) += 1
        }
        state.update(HoltState(counts.toSeq))
        var l = counts(0).toDouble; var b = 0.0
        for (day <- 2 to 30) {
          val y = counts(day - 1).toDouble
          val ln = 0.5 * y + 0.5 * (l + b)
          b = 0.25 * (0.5 * y + 0.5 * (l + b) - l) + 0.75 * b
          l = ln
        }
        Iterator.single(HoltPoint(key, counts.sum, l, b, l + 7.0 * b))
      }
    }
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming token-bucket admission per key: the live twin of
    * `RateLimit.replaySummary`'s batch fold, one decision row per
    * event (append-safe — each event decides exactly once, so
    * micro-batch splits never duplicate output). State is O(1) per
    * key: the bucket level and the last event time. Events sort by
    * (ts_us, id) within each micro-batch; cross-batch order is
    * arrival order, so bounded out-of-orderness must be handled
    * upstream (the streamingEwma discipline). The arithmetic is the
    * SAME pure `RateLimit.step` the batch fold mirrors, so stream ≡
    * batch ≡ recursive-CTE oracle under one hash gate. */
  def streamingTokenBucket(events: Dataset[BucketEvent]): Dataset[BucketDecision] = {
    import events.sparkSession.implicits._
    def update(key: Long, rows: Iterator[BucketEvent],
               state: GroupState[BucketState]): Iterator[BucketDecision] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.id))
      if (sorted.isEmpty) Iterator.empty
      else {
        var (lvl, last) = state.getOption
          .map(s => (s.levelMicro, s.lastTs))
          .getOrElse((graft.ops.RateLimit.CapMicro, -1L))
        val out = sorted.map { e =>
          val delta = if (last < 0) 0L else e.ts_us - last
          val (nl, adm) = graft.ops.RateLimit.step(lvl, delta)
          lvl = nl; last = e.ts_us
          BucketDecision(key, e.id, if (adm) 1L else 0L, nl)
        }
        state.update(BucketState(lvl, last))
        out.iterator
      }
    }
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Silence split column for batch backfill of utterance assembly:
    * same gap semantics as session_window but expressed with lag over
    * a window — used to cross-check streaming vs batch results. */
  def batchUtteranceIds(keyCol: Column, tsCol: Column, gapSec: Double): Column = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(tsCol)
    val gapUs = (gapSec * 1e6).toLong
    val prev = lag(unix_micros(tsCol), 1).over(w)
    val isNew = when(prev.isNull || (unix_micros(tsCol) - prev) >= gapUs, 1).otherwise(0)
    sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  }
}
