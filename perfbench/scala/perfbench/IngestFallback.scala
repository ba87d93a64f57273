package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ingest.{Connectors, Normalize}
import graft.ops.Multimodal
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.col

/** Call counters of the bench-owned stub wrappers (local mode: the
  * tasks run in this JVM). */
object StubCalls {
  val fetches = new AtomicLong
  val asrCalls = new AtomicLong
  val clients = new AtomicLong
  def reset(): Unit = Seq(fetches, asrCalls, clients).foreach(_.set(0L))

  final class Fetcher extends Connectors.TranscriptFetcher {
    private val inner = new Connectors.StubTranscriptFetcher
    override def fetch(videoId: String) = { fetches.incrementAndGet(); inner.fetch(videoId) }
  }
  final class Asr extends Connectors.AsrEngine {
    private val inner = new Connectors.StubAsrEngine
    override def transcribe(audio: Array[Byte]) = { asrCalls.incrementAndGet(); inner.transcribe(audio) }
  }
  val newFetcher: () => Connectors.TranscriptFetcher =
    () => { clients.incrementAndGet(); new Fetcher }
  val newAsr: () => Connectors.AsrEngine =
    () => { clients.incrementAndGet(); new Asr }

  /** The WAV every failed id falls back to (as in q64). */
  val wav: Array[Byte] = Multimodal.makeWav(16000, 1, Array.fill[Short](1600)(9))
  val audioFor: String => Array[Byte] = _ => wav
}

/** The reference's main.py DAG: URL -> video id -> transcript with
  * speech-to-text fallback -> sentence rows -> JSONL sink. Each op
  * ingests a fresh seeded batch of identical size and shape mix. */
final class IngestFallback(spark: SparkSession, a: Args) extends Workload {
  import IngestFallback._

  val warmups = 8
  private var batch: Array[(String, String)] = Array.empty // (url, expected id)
  private def sink(k: Int): Path = Paths.get(a.work, s"sink-$k")

  def setup(): Unit = ()

  override def prepare(k: Int): Unit = {
    batch = makeBatch(new scala.util.Random(a.seed * 1000003L + k))
    StubCalls.reset()
  }

  def run(k: Int, t: Tracer): Long = {
    val urls = spark.createDataset(
      spark.sparkContext.parallelize(batch.map(_._1).toSeq, a.slots))(Encoders.STRING)
    val ids = urls.select(Normalize.videoId(col("value")).as("video_id")).as(Encoders.STRING)
    val recs = t.call("Connectors.ingestWithFallback") {
      Connectors.ingestWithFallback(spark, ids, StubCalls.newFetcher, StubCalls.newAsr,
        StubCalls.audioFor)
    }
    val rows = t.call("Normalize.sentenceLabelInit") {
      Normalize.sentenceLabelInit(recs.toDF(), "text")
    }
    t.call("sink.jsonl") { rows.write.json(sink(k).toString) }
    batch.length
  }

  def check(k: Int): Boolean = {
    val parts = Files.list(sink(k)).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
    // every sink row must be one the stub semantics predict, and each
    // predicted (id, sentence) row must appear once per input id
    val want = mutable.HashMap.empty[String, Int]
    batch.foreach { case (_, id) => want(id) = want.getOrElse(id, 0) + 1 }
    import scala.concurrent.ExecutionContext.Implicits.global
    // parsing ~80k rows takes as long as the op itself; one thread per
    // part file keeps the untimed check short
    val perPart = parts.map { p =>
      scala.concurrent.Future {
        val seen = mutable.HashMap.empty[(String, Int), Int]
        var valid = true
        val r = Files.newBufferedReader(p)
        try r.lines.iterator.asScala.foreach { line =>
          val n = mapper.readTree(line)
          val id = n.path("id").asText.stripPrefix("yt_")
          val no = n.path("sentence_no").asInt(-1)
          valid &&= want.contains(id) && isExpected(n, id, no)
          seen((id, no)) = seen.getOrElse((id, no), 0) + 1
        } finally r.close()
        (valid, seen)
      }
    }.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    val seen = perPart.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
    val complete = seen.size == want.keys.toSeq.map(id => if (isBad(id)) 1 else 2).sum &&
      seen.forall { case ((id, _), c) => want.get(id).contains(c) }
    val nBad = batch.count(b => isBad(b._2))
    count(k, "ingest.sink_bytes_per_record", parts.map(Files.size).sum.toDouble / batch.length)
    count(k, "ingest.sink_files", parts.size.toDouble)
    count(k, "ingest.fetch_calls_per_id", StubCalls.fetches.get.toDouble / batch.length)
    count(k, "ingest.asr_calls_per_failed_id", StubCalls.asrCalls.get.toDouble / nBad)
    count(k, "ingest.client_inits", StubCalls.clients.get.toDouble)
    perPart.forall(_._1) && complete
  }

  override def cleanup(k: Int): Unit = Workloads.deleteTree(sink(k))

  def callMetrics = Seq(
    "ingest.fetch_ms" -> "Connectors.ingestWithFallback",
    "ingest.sink_ms" -> "sink.jsonl")
}

object IngestFallback {
  /** Ids per op: every URL shape and the failing share in exact counts. */
  val BatchIds = 48000
  val Shapes: Seq[String => String] = Seq(
    id => s"https://www.youtube.com/watch?v=$id",
    id => s"https://youtu.be/$id",
    id => s"https://www.youtube.com/embed/$id?rel=0",
    id => s"https://www.youtube.com/shorts/$id",
    id => s"https://m.youtube.com/watch?feature=share&vi=$id",
    id => s"  $id ")
  /** One id in eight has no transcript and takes the ASR fallback. */
  val BadEvery = 8
  private val IdChars = ('0' to '9') ++ ('A' to 'Z') ++ ('a' to 'z') :+ '_' :+ '-'

  def makeBatch(rnd: scala.util.Random): Array[(String, String)] =
    Array.tabulate(BatchIds) { i =>
      def chars(n: Int) = Seq.fill(n)(IdChars(rnd.nextInt(IdChars.size))).mkString
      val id = if (i % BadEvery == 0) "bad" + chars(8) else "v" + chars(10)
      (Shapes(i % Shapes.size)(id), id)
    }

  val mapper = new ObjectMapper

  def isBad(id: String): Boolean = id.startsWith("bad")

  /** The stub semantics recomputed: is `n` sentence `no` of id's record? */
  def isExpected(n: JsonNode, id: String, no: Int): Boolean = {
    def is(f: String, v: String) = n.path(f).isTextual && n.path(f).asText == v
    def absent(f: String) = n.path(f).isMissingNode || n.path(f).isNull
    val meta = n.path("meta")
    val common = is("id", s"yt_$id") && n.path("toxic").isBoolean && !n.path("toxic").asBoolean
    if (isBad(id)) {
      val text = s"stub transcript of ${StubCalls.wav.length} bytes"
      common && no == 0 && is("source_type", "youtube") && is("text", text) &&
        absent("segments") && is("binary_path", s"audio/$id.wav") && is("sentence", text) &&
        meta.size == 2 && meta.path("provider").asText == "stub" && meta.path("status").asText == "ok"
    } else {
      val segs = Seq((0.0, 1.5, s"hello from $id."), (1.5, 2.0, s"second segment of $id!"))
      val arr = n.path("segments")
      common && (no == 0 || no == 1) && is("source_type", "youtube_transcript") &&
        is("text", segs.map(_._3).mkString("\n")) && absent("binary_path") &&
        is("sentence", segs(no)._3) && arr.size == 2 &&
        segs.indices.forall { i =>
          val x = arr.get(i)
          x.path("start").asDouble == segs(i)._1 && x.path("duration").asDouble == segs(i)._2 &&
            x.path("text").asText == segs(i)._3
        } &&
        meta.size == 2 && meta.path("video_id").asText == id && meta.path("languages").asText == "en"
    }
  }
}
