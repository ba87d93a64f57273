package graft.queries

import graft.ingest.Normalize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-dataflow queries (SURVEY §2A): URL -> video-id
  * extraction (T9), transcript normalization (T5/T6), sentence
  * labeling (T13/T14), and the ok/err tally (T11/S3) — run over
  * committed JSONL fixtures so the semantics are oracle-checkable
  * offline. Schemas are declared, never inferred (SURVEY §1.3).
  */
object QueriesIngest {

  val FixtureDir = "/root/repo/src/test/resources/fixtures"

  private def readJson(s: SparkSession, schema: StructType, file: String): DataFrame =
    s.read.schema(schema).json(s"$FixtureDir/$file")

  private val urlSchema = StructType(Seq(StructField("url", StringType)))
  private val rawSchema = graft.model.Schema.rawTranscript
  private val transcriptSchema = StructType(Seq(
    StructField("tid", LongType), StructField("transcript", StringType)))

  /** DuckDB mirror of Normalize.videoId (reference: inputs/utils.py:11-24),
    * built from Normalize's id class and URL patterns, the one spec. */
  private def duckVideoId(url: String): String = {
    val alternates = Normalize.youtubeUrlPatterns.map { p =>
      s"nullif(regexp_extract(trim($url), '$p', 1), '')"
    }.mkString(", ")
    s"(CASE WHEN regexp_full_match(trim($url), '${Normalize.youtubeIdClass}') THEN trim($url) " +
      s"ELSE coalesce($alternates) END)"
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q60: T9 URL -> video id ------------------------------------
    QueryDef("q60_video_id",
      (s, _) => readJson(s, urlSchema, "urls.jsonl")
        .select(col("url"), Normalize.videoId(col("url")).as("video_id"))
        .orderBy("url"),
      Some(s"""SELECT url, ${duckVideoId("url")} AS video_id
        |FROM read_json_auto('$FixtureDir/urls.jsonl')
        |ORDER BY url""".stripMargin)),

    // ---- q61: T5/T6 transcript normalization ------------------------
    QueryDef("q61_transcript_normalize",
      (s, _) => {
        val raw = readJson(s, rawSchema, "raw_transcripts.jsonl")
        Normalize.segmentsFromRaw(raw)
          .select(col("video_id"),
            size(col("segments")).cast("bigint").as("n_segments"),
            round(aggregate(col("segments"), lit(0d).cast("decimal(18,3)"),
              (acc, x) => (acc + x("duration").cast("decimal(18,3)")).cast("decimal(18,3)"))
              .cast("double"), 3).as("total_duration"),
            Normalize.flattenSegments(col("segments")).as("full_text"))
          .orderBy("video_id")
      },
      Some(s"""SELECT video_id, count(*) AS n_segments,
        |  round(CAST(sum(CAST(duration AS DECIMAL(18,3))) AS DOUBLE), 3) AS total_duration,
        |  trim(string_agg(text, chr(10) ORDER BY start, duration, text)) AS full_text
        |FROM read_json_auto('$FixtureDir/raw_transcripts.jsonl')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q62: T13/T14 sentence split + label init -------------------
    QueryDef("q62_sentence_labels",
      (s, _) => Normalize.sentenceLabelInit(
          readJson(s, transcriptSchema, "transcripts.jsonl"), "transcript")
        .select(col("tid"), col("sentence_no").cast("bigint").as("sentence_no"),
          col("sentence"), col("toxic"))
        .orderBy("tid", "sentence_no"),
      Some(s"""WITH s AS (SELECT tid,
        |  list_filter(string_split(regexp_replace(transcript, '([.!?])\\s+', '\\1' || chr(1), 'g'), chr(1)),
        |    x -> length(trim(x)) > 0) AS arr
        |  FROM read_json_auto('$FixtureDir/transcripts.jsonl'))
        |SELECT tid, unnest(generate_series(1, len(arr))) - 1 AS sentence_no,
        |  unnest(arr) AS sentence, false AS toxic
        |FROM s ORDER BY tid, sentence_no""".stripMargin)),

    // ---- q67: typed SegmentMerge aggregator (utterance assembly) ----
    // The Aggregator's gap-merge semantics expressed as running-max
    // window SQL for the oracle; empty-text segments are filtered on
    // both sides so the text join is a plain ordered string_agg.
    QueryDef("q67_segment_merge", {
      val gap = 0.5
      (s, _) => {
        import s.implicits._
        // texts trimmed on BOTH sides: the aggregator trims its running
        // concatenation, string_agg does not — pre-trimmed inputs make
        // the two joins byte-identical
        val raw = readJson(s, rawSchema, "raw_transcripts.jsonl")
          .where(length(trim(col("text"))) > 0)
          .withColumn("text", trim(col("text")))
          .as[(String, Double, Double, String)]
          .map { case (vid, st, dur, tx) => (vid, graft.model.Segment(st, dur, tx)) }
        raw.groupByKey(_._1).mapValues(_._2)
          .agg(graft.ops.SegmentMerge.merged(gap))
          .toDF("video_id", "utterances")
          .select(col("video_id"),
            posexplode(col("utterances")).as(Seq("utt_no", "u")))
          .select(col("video_id"), col("utt_no").cast("bigint").as("utt_no"),
            round(col("u.start"), 3).as("utt_start"),
            round(col("u.duration"), 3).as("utt_duration"),
            col("u.text").as("text"))
          .orderBy("video_id", "utt_no")
      }
    },
      Some(s"""WITH seg AS (
        |  SELECT video_id, start, duration, trim(text) AS text
        |  FROM read_json_auto('$FixtureDir/raw_transcripts.jsonl')
        |  WHERE length(trim(text)) > 0),
        |flags AS (
        |  SELECT *, CASE WHEN max(start + duration) OVER (
        |      PARTITION BY video_id ORDER BY start, duration, text
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR start - max(start + duration) OVER (
        |      PARTITION BY video_id ORDER BY start, duration, text
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > 0.5
        |    THEN 1 ELSE 0 END AS new_u
        |  FROM seg),
        |u AS (
        |  SELECT *, CAST(sum(new_u) OVER (PARTITION BY video_id
        |    ORDER BY start, duration, text ROWS UNBOUNDED PRECEDING) AS BIGINT) AS utt
        |  FROM flags)
        |SELECT video_id, utt - 1 AS utt_no,
        |  round(min(start), 3) AS utt_start,
        |  round(max(start + duration) - min(start), 3) AS utt_duration,
        |  string_agg(text, ' ' ORDER BY start, duration, text) AS text
        |FROM u GROUP BY video_id, utt
        |ORDER BY video_id, utt_no""".stripMargin)),

    // ---- q63: T11/S3 ok-err routing tally ---------------------------
    QueryDef("q63_status_tally",
      (s, _) => {
        val urls = readJson(s, urlSchema, "urls.jsonl")
          .withColumn("video_id", Normalize.videoId(col("url")))
        Normalize.statusTally(Normalize.tagged(urls, col("video_id").isNotNull))
          .orderBy("status")
      },
      Some(s"""SELECT CASE WHEN ${duckVideoId("url")} IS NOT NULL
        |    THEN 'ok' ELSE 'err' END AS status, count(*) AS n
        |FROM read_json_auto('$FixtureDir/urls.jsonl')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q134: binary image-header roundtrip (multimodal, oracled) --
    // Synthesizes a real PNG header per row (big-endian IHDR bytes)
    // and recovers the dimensions with the byte-level parser UDF — the
    // whole construct-bytes -> BinaryType column -> parse-metadata path
    // runs distributed, and the oracle checks the recovered values
    // against pure arithmetic on the inputs. Upgrades image parsing
    // from spec-only (MultimodalSpec) to hash-verified.
    QueryDef("q134_image_roundtrip",
      (s, d) => {
        val mk = udf((w: Int, h: Int) => graft.ops.Multimodal.makePngHeader(w, h))
        graft.Tables.part(s, d)
          .where(col("p_partkey") <= 100)
          .select(col("p_partkey"),
            mk((col("p_size") * 7 + 16).cast("int"),
               (col("p_size") * 3 + 9).cast("int")).as("img"))
          .select(col("p_partkey"),
            graft.ops.Multimodal.imageMetadata(col("img")).as("m"))
          .select(col("p_partkey"),
            col("m.format").as("format"),
            col("m.width").cast("bigint").as("width"),
            col("m.height").cast("bigint").as("height"),
            col("m.bit_depth").cast("bigint").as("bit_depth"),
            col("m.valid").as("valid"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, 'png' AS format,
        |  CAST(p_size*7 + 16 AS BIGINT) AS width,
        |  CAST(p_size*3 + 9 AS BIGINT) AS height,
        |  CAST(8 AS BIGINT) AS bit_depth, TRUE AS valid
        |FROM part WHERE p_partkey <= 100 ORDER BY 1""".stripMargin)),

    // ---- q135: WAV header roundtrip (multimodal, oracled) -----------
    // Same upgrade as q134 for audio: synthesize a PCM WAV per row
    // (sample count a multiple of the channel count, so the frame
    // division is exact), parse it back with the chunk-walking header
    // parser, and oracle-check every recovered field. duration_sec is
    // one double division on both engines — bit-identical.
    QueryDef("q135_wav_roundtrip",
      (s, d) => {
        val mk = udf((sr: Int, ch: Int, n: Int) =>
          graft.ops.Multimodal.makeWav(sr, ch, new Array[Short](n)))
        graft.Tables.part(s, d)
          .where(col("p_partkey") <= 100)
          .select(col("p_partkey"),
            (lit(8000) + (col("p_partkey") % 3) * 4000).cast("int").as("sr"),
            (lit(1) + col("p_partkey") % 2).cast("int").as("ch"),
            (lit(50) + col("p_partkey") % 100).cast("int").as("frames"))
          .select(col("p_partkey"),
            graft.ops.Multimodal.wavMetadata(
              mk(col("sr"), col("ch"), col("ch") * col("frames"))).as("m"))
          .select(col("p_partkey"),
            col("m.sample_rate").cast("bigint").as("sample_rate"),
            col("m.channels").cast("bigint").as("channels"),
            col("m.bits_per_sample").cast("bigint").as("bits_per_sample"),
            col("m.n_samples").cast("bigint").as("n_samples"),
            col("m.duration_sec").as("duration_sec"),
            col("m.valid").as("valid"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey,
        |  CAST(8000 + (p_partkey % 3)*4000 AS BIGINT) AS sample_rate,
        |  CAST(1 + p_partkey % 2 AS BIGINT) AS channels,
        |  CAST(16 AS BIGINT) AS bits_per_sample,
        |  CAST(50 + p_partkey % 100 AS BIGINT) AS n_samples,
        |  CAST(50 + p_partkey % 100 AS DOUBLE) / (8000 + (p_partkey % 3)*4000)
        |    AS duration_sec,
        |  TRUE AS valid
        |FROM part WHERE p_partkey <= 100 ORDER BY 1""".stripMargin)),

    // ---- q159: frame-sampling plan over parsed media durations ------
    // The q135 chain extended one stage: synthesize WAV bytes in-plan,
    // parse the header back, and expand each blob into its planned
    // frame-sample offsets (every 2 ms up to 5 frames — scaled to the
    // tiny synthetic clips). Pins `Multimodal.planFrameSamples` — the
    // real Spark-side scheduling around the stubbed frame EXTRACTION —
    // end-to-end under the oracle hash: the duration comes from actual
    // byte parsing, and the offset arithmetic (floor-div frame count,
    // i*everySec offsets) is replayed exactly in SQL.
    QueryDef("q159_frame_plan",
      (s, d) => {
        val mk = udf((sr: Int, ch: Int, n: Int) =>
          graft.ops.Multimodal.makeWav(sr, ch, new Array[Short](n)))
        val meta = graft.Tables.part(s, d)
          .where(col("p_partkey") <= 100)
          .select(col("p_partkey"),
            (lit(8000) + (col("p_partkey") % 3) * 4000).cast("int").as("sr"),
            (lit(1) + col("p_partkey") % 2).cast("int").as("ch"),
            (lit(50) + col("p_partkey") % 100).cast("int").as("frames"))
          .select(col("p_partkey"),
            graft.ops.Multimodal.wavMetadata(
              mk(col("sr"), col("ch"), col("ch") * col("frames"))).as("m"))
          .select(col("p_partkey"), col("m.duration_sec").as("duration_sec"))
        graft.ops.Multimodal.planFrameSamples(meta, "duration_sec",
            everySec = 0.002, maxFrames = 5)
          .select(col("p_partkey"), col("duration_sec"), col("frame_offset_sec"))
          .orderBy("p_partkey", "frame_offset_sec")
      },
      Some("""WITH m AS (SELECT p_partkey,
        |    CAST(50 + p_partkey % 100 AS DOUBLE)
        |      / (8000 + (p_partkey % 3)*4000) AS duration_sec
        |  FROM part WHERE p_partkey <= 100)
        |SELECT p_partkey, duration_sec,
        |  unnest(list_transform(
        |    generate_series(0, CAST(least(floor(duration_sec / 0.002), 4) AS BIGINT)),
        |    i -> i * 0.002)) AS frame_offset_sec
        |FROM m ORDER BY p_partkey, frame_offset_sec""".stripMargin)))
}
