package graft.queries

import graft.ingest.Connectors
import graft.ops.Multimodal
import graft.streaming.Sessions
import org.apache.spark.sql.functions._

/** Pipeline/connector/multimodal/streaming-surface queries. The
  * connector stubs and committed WAV fixtures are deterministic by
  * design, so even the byte-level paths carry a DuckDB oracle: the
  * oracle SQL recomputes the stub/parser semantics over the same
  * inline inputs (the GoldenSpec pattern lifted into the driver gate).
  */
object QueriesPipeline {

  val defs: Seq[QueryDef] = Seq(

    // ---- q64: the reference's full fallback DAG, batch form ---------
    // (main.py stages 2-4 over stub connectors: transcript attempt,
    // ASR for the ids that fail, in one pass — SURVEY §3.1.)
    QueryDef("q64_ingest_fallback",
      (s, _) => {
        import s.implicits._
        val ids = Seq(
          "vid000000001", "vid000000002", "bad00000001",
          "vid000000003", "bad00000002").toDS()
        val wav = Multimodal.makeWav(16000, 1, Array.fill[Short](1600)(9))
        Connectors.ingestWithFallback(s, ids,
            () => new Connectors.StubTranscriptFetcher,
            () => new Connectors.StubAsrEngine,
            audioFor = _ => wav)
          .toDF()
          .select(col("id"), col("source_type"), col("text"),
            size(coalesce(col("segments"), array())).cast("bigint").as("n_segments"),
            col("binary_path"))
          // a global orderBy would run a range-sampling job over the lazy
          // connector pass and so call every connector twice per id
          .repartition(1).sortWithinPartitions("id")
      },
      // oracle = the stub semantics recomputed in SQL over the same
      // inline id list: ok ids get the two stub segments flattened
      // with "\n" (T6), bad ids reroute through the stub ASR whose
      // text reports the audio length — 3244 = 44-byte canonical WAV
      // header + 1600 samples * 2 bytes (Multimodal.makeWav)
      Some("""WITH ids AS (SELECT * FROM (VALUES ('vid000000001'),
        |    ('vid000000002'), ('bad00000001'), ('vid000000003'),
        |    ('bad00000002')) AS t(vid))
        |SELECT 'yt_' || vid AS id,
        |  CASE WHEN vid LIKE 'bad%' THEN 'youtube'
        |       ELSE 'youtube_transcript' END AS source_type,
        |  CASE WHEN vid LIKE 'bad%' THEN 'stub transcript of 3244 bytes'
        |       ELSE 'hello from ' || vid || '.' || chr(10) ||
        |            'second segment of ' || vid || '!' END AS text,
        |  CAST(CASE WHEN vid LIKE 'bad%' THEN 0 ELSE 2 END AS BIGINT)
        |    AS n_segments,
        |  CASE WHEN vid LIKE 'bad%' THEN 'audio/' || vid || '.wav' END
        |    AS binary_path
        |FROM ids ORDER BY id""".stripMargin)),

    // ---- q65: multimodal binary scan + WAV header metadata ----------
    QueryDef("q65_wav_metadata",
      (s, _) => {
        val meta = Multimodal.wavMetadata(col("content"))
        Multimodal.readBinaryDir(s, s"${QueriesIngest.FixtureDir}/wav")
          .select(
            regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
            col("length"),
            meta.getField("sample_rate").cast("bigint").as("sample_rate"),
            meta.getField("channels").cast("bigint").as("channels"),
            meta.getField("n_samples").as("n_samples"),
            round(meta.getField("duration_sec"), 4).as("duration_sec"))
          .orderBy("file")
      },
      // oracle: the committed fixtures' (sample_rate, channels) are
      // known constants; n_samples and duration re-derive from the
      // byte length exactly as the chunk-walking parser does — the
      // fixtures carry the canonical 44-byte header (MultimodalSpec),
      // so n_samples = (length-44)/2/channels and duration = n/sr
      Some("""WITH f AS (SELECT * FROM (VALUES
        |    ('mono16k.wav',   CAST(16044 AS BIGINT), 16000, 1),
        |    ('short8k.wav',   CAST(4044  AS BIGINT), 8000,  1),
        |    ('stereo44k.wav', CAST(17684 AS BIGINT), 44100, 2))
        |  AS t(file, length, sr, ch))
        |SELECT file, length,
        |  CAST(sr AS BIGINT) AS sample_rate,
        |  CAST(ch AS BIGINT) AS channels,
        |  CAST((length - 44) / 2 / ch AS BIGINT) AS n_samples,
        |  round(CAST((length - 44) / 2 / ch AS DOUBLE) / sr, 4) AS duration_sec
        |FROM f ORDER BY file""".stripMargin)),

    // ---- q66: session-window utterance assembly (batch form) --------
    // session_window over the events table: the §3.3 Vosk utterance
    // assembly shape; the streaming variant is StreamingSpec-pinned.
    QueryDef("q66_session_windows",
      (s, d) => Sessions.assembleUtterances(
          graft.Tables.events(s, d).select(col("user_id"), col("ts"),
            col("event_type").as("word")),
          "user_id", "ts", "word", gapSec = 1800)
        .select(col("user_id"), col("n_words"),
          unix_micros(col("utterance_start")).as("start_us"))
        .orderBy("user_id", "start_us"),
      // session_window boundary is exclusive: an event at exactly
      // prev_ts + gap starts a NEW session, hence >= in the oracle
      Some("""WITH x AS (SELECT user_id, epoch_us(ts) AS tus,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, tus, CAST(sum(new_s) OVER (PARTITION BY user_id
        |  ORDER BY tus ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM x)
        |SELECT user_id, count(*) AS n_words, min(tus) AS start_us
        |FROM y GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin)))
}
