package graft.ingest

import graft.model.{IngestRecord, Segment}
import org.apache.spark.sql.{Dataset, SparkSession}

/** External-source connectors (SURVEY §2A S2-S5, T1-T4) as
  * `mapPartitions` operators behind small traits.
  *
  * Shape mirrors the reference's per-source clients but distributed:
  * one client per non-empty PARTITION (heavy init amortized — the
  * Vosk-model pattern at reference inputs/system_audio_collector.py:32),
  * bounded retries per CALL (reference
  * inputs/youtube_audio_extractor.py:35-36), and errors as data, never
  * exceptions across the plan (reference main.py:70-75 try/except
  * becomes a per-row branch inside the same pass).
  *
  * The offline build ships deterministic stubs; production swaps the
  * trait implementation — the Spark plumbing (partitioning, client
  * lifecycle, retry, routing) is identical and is what the tests pin.
  */
object Connectors {

  /** Raw transcript row as returned by a transcript API (reference
    * inputs/transcript_collector.py:27). */
  case class RawSegment(start: Double, duration: Double, text: String)

  /** One fetch outcome: ok(segments) or err(reason) — the tagged-union
    * row (T11). */
  case class FetchResult(
      video_id: String,
      status: String,
      error: Option[String],
      segments: Option[Seq[RawSegment]])

  /** S2 — transcript source. One instance per partition. */
  trait TranscriptFetcher extends Serializable {
    def fetch(videoId: String): Either[String, Seq[RawSegment]]
  }

  /** Deterministic stub: derives two segments from the id; ids
    * starting with "bad" fail — exercises the error edge. */
  class StubTranscriptFetcher extends TranscriptFetcher {
    override def fetch(videoId: String): Either[String, Seq[RawSegment]] =
      if (videoId == null) Left("null video id")
      else if (videoId.startsWith("bad")) Left(s"no transcript for $videoId")
      else Right(Seq(
        RawSegment(0.0, 1.5, s"hello from $videoId."),
        RawSegment(1.5, 2.0, s"second segment of $videoId!")))
  }

  /** T3/T4 — ASR engine over audio bytes. One instance per partition
    * (model load is the heavy init). */
  trait AsrEngine extends Serializable {
    def transcribe(audio: Array[Byte]): Either[String, (String, Seq[Segment])]
  }

  /** Deterministic stub: "transcribes" byte statistics; empty audio →
    * silence (None text — reference inputs/system_audio_collector.py:90). */
  class StubAsrEngine extends AsrEngine {
    override def transcribe(audio: Array[Byte]): Either[String, (String, Seq[Segment])] =
      if (audio == null || audio.isEmpty) Left("empty audio")
      else {
        val sec = audio.length / 32000.0 // 16 kHz mono s16le
        Right((s"stub transcript of ${audio.length} bytes",
          Seq(Segment(0.0, sec, s"stub transcript of ${audio.length} bytes"))))
      }
  }

  /** Retry a call up to `attempts` times (reference O2: retries=10). */
  @annotation.tailrec
  def withRetry[A](attempts: Int)(call: => Either[String, A]): Either[String, A] =
    call match {
      case r @ Right(_) => r
      case l @ Left(_) => if (attempts <= 1) l else withRetry(attempts - 1)(call)
    }

  /** S3 — batch transcript collection: embarrassingly-parallel fetch
    * with per-partition client init and per-row error routing.
    * Scale: repartition bounds the number of concurrent clients; no
    * shuffle besides the optional repartition. */
  def fetchTranscripts(
      videoIds: Dataset[String],
      newFetcher: () => TranscriptFetcher,
      retries: Int = 3,
      parallelism: Option[Int] = None): Dataset[FetchResult] = {
    import videoIds.sparkSession.implicits._
    val parted = parallelism.map(videoIds.repartition(_)).getOrElse(videoIds)
    parted.mapPartitions(routeFetches(_, newFetcher, retries) {
      case (vid, Right(segs)) => FetchResult(vid, "ok", None, Some(segs))
      case (vid, Left(err)) => FetchResult(vid, "err", Some(err), None)
    })
  }

  /** The one per-row fetch site: each id fetched with bounded retry and
    * handed to `route` with its outcome. The fetcher is built on the
    * partition's first row, so an empty partition builds none. */
  private def routeFetches[A](
      ids: Iterator[String],
      newFetcher: () => TranscriptFetcher,
      retries: Int)(route: (String, Either[String, Seq[RawSegment]]) => A): Iterator[A] = {
    lazy val fetcher = newFetcher()
    ids.map(vid => route(vid, withRetry(retries)(fetcher.fetch(vid))))
  }

  /** The reference's full fallback DAG (main.py stages 2-4) as one
    * `mapPartitions` pass, per id as main.py does it: try the
    * transcript; only on failure fetch the audio and run ASR. A
    * partition builds one fetcher and, on its first failed id, one ASR
    * engine. An ASR failure is data: `text = None`,
    * `meta.status = "err"`.
    *
    * The result is a plain lazy Dataset: nothing runs until an action,
    * and one action fetches each id once. A caller that runs more than
    * one action over it (a global sort's range sampler included)
    * repeats the fetch and should persist it. */
  def ingestWithFallback(
      spark: SparkSession,
      videoIds: Dataset[String],
      fetcher: () => TranscriptFetcher,
      asr: () => AsrEngine,
      audioFor: String => Array[Byte],
      languages: Seq[String] = Seq("en")): Dataset[IngestRecord] = {
    import spark.implicits._
    val langs = languages.mkString(",")
    videoIds.mapPartitions { ids =>
      lazy val engine = asr()
      routeFetches(ids, fetcher, retries = 3) {
        case (vid, Right(raw)) =>
          val segs = raw.map(s => Segment(s.start, s.duration, s.text))
          IngestRecord(
            id = "yt_" + vid,
            source_type = graft.model.Schema.SourceYoutubeTranscript,
            text = Some(segs.map(_.text).mkString("\n").trim),
            segments = Some(segs),
            binary_path = None,
            meta = Map("video_id" -> vid, "languages" -> langs))
        case (vid, Left(_)) =>
          val audio = audioFor(vid) // once, not once per ASR attempt
          val stt = withRetry(3)(engine.transcribe(audio))
          IngestRecord(
            id = "yt_" + vid,
            source_type = graft.model.Schema.SourceYoutubeStt,
            text = stt.toOption.map(_._1),
            segments = None, // STT path carries no timing (speech_to_text.py:94)
            binary_path = Some(s"audio/$vid.wav"),
            meta = Map("provider" -> "stub", "status" -> (if (stt.isRight) "ok" else "err")))
      }
    }
  }
}
