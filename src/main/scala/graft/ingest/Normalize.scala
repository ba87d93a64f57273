package graft.ingest

import graft.functions.{SentenceSplit, YoutubeVideoId}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftPlanApi

/** Pure, column-expression normalization transforms — the reference's
  * record-shaping steps (SURVEY §2A T5-T14) re-expressed as
  * codegen-friendly Spark SQL expressions. Every function is either a
  * `Column => Column` or a `DataFrame => DataFrame` usable with
  * `.transform(...)`; nothing here touches external services.
  */
object Normalize {

  // -------------------------------------------------------------------
  // T9 — URL → YouTube video id (reference: inputs/utils.py:11-24).
  // Bare 11-char id fullmatch first, then the four URL alternates, each
  // taking its leftmost match, first non-null wins. The regexes below
  // are the spec (the DuckDB oracle replays them verbatim); Spark runs
  // them as one byte scan per URL (functions.YoutubeVideoId), a native
  // expression that stays inside whole-stage codegen and compiles no
  // per-row Pattern.
  // -------------------------------------------------------------------
  val youtubeIdClass = "[0-9A-Za-z_-]{11}"
  val youtubeUrlPatterns: Seq[String] = Seq(
    s"(?:v=|vi=)($youtubeIdClass)",
    s"youtu\\.be/($youtubeIdClass)",
    s"/embed/($youtubeIdClass)",
    s"/shorts/($youtubeIdClass)")

  /** Null when no id can be extracted (the reference raises; callers
    * route null rows to the error branch — T11 tagged-union dataflow).
    * The trimmed input is returned when it is a bare id, with Java's
    * `$` semantics: one final line terminator may follow the id and
    * stays in the value. */
  def videoId(url: Column): Column =
    GraftPlanApi.column(YoutubeVideoId(GraftPlanApi.expression(url)))

  // -------------------------------------------------------------------
  // T5 — segment array construction (reference:
  // inputs/transcript_collector.py:33). Raw rows -> ordered
  // List[Segment]. Ordering by `start` is made explicit (the API
  // returns rows in order; a distributed engine must sort).
  // -------------------------------------------------------------------
  def segmentsFromRaw(raw: DataFrame, keyCol: String = "video_id"): DataFrame =
    raw.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("start"), col("duration"), col("text"))))
        .as("segments"))

  // -------------------------------------------------------------------
  // T6 — text flatten: segments -> one document string (reference:
  // inputs/transcript_collector.py:32 — "\n".join then strip).
  // -------------------------------------------------------------------
  def flattenSegments(segments: Column): Column =
    trim(concat_ws("\n", transform(segments, s => s("text"))))

  // -------------------------------------------------------------------
  // T7 — id generation (reference: inputs/utils.py:8-9,
  // f"{prefix}_{uuid4().hex[:12]}"). Non-deterministic, matching the
  // reference; `contentId` is the deterministic variant verify-able
  // against an oracle (SURVEY §7.3 non-determinism note).
  // -------------------------------------------------------------------
  def genId(prefix: String): Column =
    concat_ws("_", lit(prefix),
      substring(lower(regexp_replace(uuid(), "-", "")), 1, 12))

  /** Deterministic id: 12 hex chars of md5(content). */
  def contentId(prefix: String, content: Column): Column =
    concat_ws("_", lit(prefix), substring(md5(content), 1, 12))

  // -------------------------------------------------------------------
  // T8 — ISO-8601 UTC timestamp (reference: inputs/utils.py:5-6,
  // "%Y-%m-%dT%H:%M:%SZ"). Session TZ is pinned to UTC by the harness.
  // -------------------------------------------------------------------
  val IsoFormat = "yyyy-MM-dd'T'HH:mm:ss'Z'"
  def nowIso(): Column = date_format(current_timestamp(), IsoFormat)
  def toIso(ts: Column): Column = date_format(ts, IsoFormat)

  // -------------------------------------------------------------------
  // T13 — sentence splitting (reference:
  // inputs/json_to_toxic_label.py:10-12, split on `(?<=[.!?])\s+`,
  // drop blanks). One byte scan per text (functions.SentenceSplit)
  // with Java's split semantics: trailing empty pieces kept, then
  // every piece of only ASCII spaces dropped. No per-row Pattern and
  // no higher-order function, so the Generate above it stays in
  // whole-stage codegen.
  // -------------------------------------------------------------------
  def sentences(text: Column): Column =
    GraftPlanApi.column(SentenceSplit(GraftPlanApi.expression(text)))

  /** T13 + T14 as a DataFrame transform: one row per sentence with the
    * label column initialized false (inputs/json_to_toxic_label.py:14). */
  def sentenceLabelInit(df: DataFrame, textCol: String): DataFrame =
    df.select(col("*"), posexplode(sentences(col(textCol))).as(Seq("sentence_no", "sentence")))
      .withColumn("toxic", lit(false))

  // -------------------------------------------------------------------
  // T10 — record normalization: per-source projection to the canonical
  // IngestRecord schema (reference: inputs/transcript_collector.py:29-35,
  // inputs/speech_to_text.py:86-100, inputs/system_audio_collector.py:86-100).
  // -------------------------------------------------------------------

  /** youtube_transcript records from T5-shaped rows (video_id, segments). */
  def toTranscriptRecords(withSegments: DataFrame, languages: Seq[String]): DataFrame =
    withSegments.select(
      contentId("yt", col("video_id")).as("id"),
      lit("youtube_transcript").as("source_type"),
      flattenSegments(col("segments")).as("text"),
      col("segments"),
      lit(null: String).as("binary_path"),
      map(
        lit("video_id"), col("video_id"),
        lit("created_at"), nowIso(),
        lit("languages"), lit(languages.mkString(","))).as("meta"))

  /** youtube STT-fallback records (segments always null on this path —
    * inputs/speech_to_text.py:94). */
  def toSttRecords(df: DataFrame, provider: String, language: String): DataFrame =
    df.select(
      contentId("yt", col("video_id")).as("id"),
      lit("youtube").as("source_type"),
      col("text"),
      lit(null).cast(org.apache.spark.sql.types.ArrayType(graft.model.Schema.segment)).as("segments"),
      col("audio_path").as("binary_path"),
      map(lit("provider"), lit(provider), lit("language"), lit(language)).as("meta"))

  // -------------------------------------------------------------------
  // T12 — new-file detection: set anti-join then argmax-by-mtime
  // (reference: main.py:81-110).
  // -------------------------------------------------------------------
  def newFiles(after: DataFrame, before: DataFrame, nameCol: String = "name"): DataFrame =
    after.join(before.select(nameCol), Seq(nameCol), "left_anti")

  /** Latest row by `orderCol` per whole frame (main.py:110 argmax). */
  def latestBy(df: DataFrame, orderCol: String): DataFrame =
    df.orderBy(col(orderCol).desc).limit(1)

  /** Latest row by `orderCol` within each `keyCol` group — the
    * distributed generalization (one shuffle, no driver collect). */
  def latestPerKey(df: DataFrame, keyCol: String, orderCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol).desc, col(tieBreak).asc)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  // -------------------------------------------------------------------
  // T11 — fallback routing as tagged-union dataflow (reference:
  // main.py:44-75 try/except). Stage functions return a status column;
  // downstream filters split ok/err branches — no exceptions cross the
  // plan.
  // -------------------------------------------------------------------
  val StatusOk = "ok"
  val StatusErr = "err"

  /** Tag rows: ok when `okCond`, else err. */
  def tagged(df: DataFrame, okCond: Column): DataFrame =
    df.withColumn("status", when(okCond, StatusOk).otherwise(StatusErr))

  def okBranch(df: DataFrame): DataFrame = df.where(col("status") === StatusOk)
  def errBranch(df: DataFrame): DataFrame = df.where(col("status") === StatusErr)

  /** ok/fail tally (reference: inputs/transcript_collector.py:54-68). */
  def statusTally(df: DataFrame): DataFrame =
    df.groupBy("status").agg(count(lit(1)).as("n"))

  // -------------------------------------------------------------------
  // K2 — run-state sink: a single summary row overwritten per run
  // (reference main.py:19-22 writes last_run.json). Batch form of the
  // streaming checkpoint; `coalesce(1)` because state is one row by
  // contract, not a data partition.
  // -------------------------------------------------------------------
  def writeRunState(state: DataFrame, path: String): Unit =
    state.coalesce(1).write.mode("overwrite").json(path)

  def readRunState(spark: org.apache.spark.sql.SparkSession,
                   schema: org.apache.spark.sql.types.StructType,
                   path: String): DataFrame =
    spark.read.schema(schema).json(path)

  // -------------------------------------------------------------------
  // T10 validation — the Pydantic-style "reject malformed records"
  // semantics (inputs/schema.py:12-18): schema is enforced on read
  // (declared StructType), and content constraints fail the job with a
  // clear message via raise_error — executed inside the plan, no
  // driver-side collect.
  // -------------------------------------------------------------------
  def requireValid(df: DataFrame, constraint: Column, message: String): DataFrame = {
    // expressed as a filter so the optimizer cannot dead-code-eliminate
    // the check; the branch is always true unless it raises
    val guard = when(constraint, lit(true))
      .otherwise(raise_error(concat(lit(s"$message; offending row: "),
        to_json(struct(df.columns.map(col): _*)))).cast("boolean"))
    df.where(guard)
  }
}
