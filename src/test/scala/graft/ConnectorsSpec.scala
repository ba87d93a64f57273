package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.ingest.Connectors
import graft.ingest.Connectors._
import graft.model.{IngestRecord, Schema, Segment}
import graft.ops.Multimodal
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Counting stub factories for the fused fallback pass. Held HERE, not
  * on the suite: a suite-method closure would drag the non-serializable
  * ScalaTest engine into the task closure (as in `Chaos`). */
object ConnectorCalls {
  val fetches = new AtomicInteger
  val transcribes = new AtomicInteger
  val fetchers = new AtomicInteger
  val engines = new AtomicInteger
  def reset(): Unit = Seq(fetches, transcribes, fetchers, engines).foreach(_.set(0))

  val newFetcher: () => TranscriptFetcher = () => {
    fetchers.incrementAndGet()
    new TranscriptFetcher {
      private val stub = new StubTranscriptFetcher
      override def fetch(videoId: String) = { fetches.incrementAndGet(); stub.fetch(videoId) }
    }
  }
  val newEngine: () => AsrEngine = () => {
    engines.incrementAndGet()
    new AsrEngine {
      private val stub = new StubAsrEngine
      override def transcribe(audio: Array[Byte]) = { transcribes.incrementAndGet(); stub.transcribe(audio) }
    }
  }
  /** Ids ending in "silent" have empty audio, which the stub ASR rejects. */
  def audioFor(id: String): Array[Byte] =
    if (id.endsWith("silent")) Array.emptyByteArray else Array.fill(3200)(id.length.toByte)
}

class ConnectorsSpec extends SparkSpec {
  import spark.implicits._

  private def idsIn(ids: Seq[String], partitions: Int): Dataset[String] =
    spark.createDataset(spark.sparkContext.parallelize(ids, partitions))

  test("fetchTranscripts routes ok/err per row with per-partition clients") {
    val ids = Seq("vid000000001", "bad00000001", "vid000000002").toDS()
    val out = Connectors.fetchTranscripts(ids, () => new StubTranscriptFetcher, retries = 2)
      .collect()
    assert(out.count(_.status == "ok") == 2)
    val bad = out.find(_.status == "err").get
    assert(bad.video_id == "bad00000001" && bad.error.exists(_.contains("no transcript")))
    assert(out.filter(_.status == "ok").forall(_.segments.exists(_.nonEmpty)))
  }

  test("withRetry retries until success") {
    var calls = 0
    val result = Connectors.withRetry(5) {
      calls += 1
      if (calls < 3) Left("transient") else Right(42)
    }
    assert(result == Right(42) && calls == 3)
    assert(Connectors.withRetry(2)(Left("always")) == Left("always"))
  }

  test("ingestWithFallback reproduces the main.py DAG: ok -> transcript, err -> STT") {
    val ids = Seq("vid000000001", "bad00000001").toDS()
    val wav = Multimodal.makeWav(16000, 1, Array.fill[Short](16000)(100))
    val recs = Connectors.ingestWithFallback(spark, ids,
      () => new StubTranscriptFetcher, () => new StubAsrEngine,
      audioFor = _ => wav).collect()
    assert(recs.length == 2)
    val tr = recs.find(_.source_type == Schema.SourceYoutubeTranscript).get
    assert(tr.segments.exists(_.length == 2) && tr.binary_path.isEmpty)
    assert(tr.text.exists(_.contains("hello from vid000000001")))
    val stt = recs.find(_.source_type == Schema.SourceYoutubeStt).get
    assert(stt.segments.isEmpty && stt.binary_path.contains("audio/bad00000001.wav"))
    assert(stt.text.exists(_.startsWith("stub transcript")))
  }

  test("ingestWithFallback: one fetch per good id, retries per bad id, lazy clients, nothing pinned") {
    // 6 ids over 8 partitions: some partitions are empty
    val ids = Seq("vid_a", "vid_b", "bad_c", "vid_d", "bad_e", "vid_f")
    val parts = idsIn(ids, 8)
    val nonEmpty = parts.rdd.mapPartitions(it => Iterator(it.nonEmpty)).collect().count(identity)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    ConnectorCalls.reset()
    val recs = Connectors.ingestWithFallback(spark, parts,
      ConnectorCalls.newFetcher, ConnectorCalls.newEngine, ConnectorCalls.audioFor).collect()
    assert(recs.length == ids.length)
    assert(ConnectorCalls.fetches.get == 4 + 2 * 3) // withRetry(3) per failing id
    assert(ConnectorCalls.transcribes.get == 2)
    assert(ConnectorCalls.fetchers.get == nonEmpty)
    assert(ConnectorCalls.engines.get == 2) // "bad_c" and "bad_e" sit in different slices
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinned)

    ConnectorCalls.reset()
    Connectors.ingestWithFallback(spark, idsIn(ids.filterNot(_.startsWith("bad")), 3),
      ConnectorCalls.newFetcher, ConnectorCalls.newEngine, ConnectorCalls.audioFor).collect()
    assert(ConnectorCalls.fetchers.get == 3 && ConnectorCalls.engines.get == 0)
    assert(ConnectorCalls.transcribes.get == 0)
  }

  test("q64/q115 sort shape: one action fetches each good id once") {
    val ids = Seq("vid_a", "vid_b", "bad_c", "vid_d", "bad_e", "vid_f")
    ConnectorCalls.reset()
    val out = Connectors.ingestWithFallback(spark, idsIn(ids, 3),
        ConnectorCalls.newFetcher, ConnectorCalls.newEngine, ConnectorCalls.audioFor)
      .toDF().select("id").repartition(1).sortWithinPartitions("id")
      .collect().map(_.getString(0)).toSeq
    assert(out == ids.map("yt_" + _).sorted)
    assert(ConnectorCalls.fetches.get == 4 + 2 * 3) // withRetry(3) per failing id
    assert(ConnectorCalls.transcribes.get == 2)
    // both queries sort that way: no range-partitioned global sort,
    // whose sampling job would run the connector pass a second time
    Seq("q64_ingest_fallback", "q115_fallback_oracle").foreach { q =>
      val p = graft.queries.Registry.byName(q).fn(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.toLowerCase.contains("rangepartitioning"), s"$q: $p")
    }
  }

  test("ingestWithFallback equals its two-pass slow path, STT failure included") {
    val ids = (0 until 40).map(i =>
      if (i % 9 == 0) s"bad_${i}_silent" else if (i % 4 == 0) s"bad_$i" else s"vid_$i")
    val fused = Connectors.ingestWithFallback(spark, idsIn(ids, 5),
      () => new StubTranscriptFetcher, () => new StubAsrEngine, ConnectorCalls.audioFor)
      .collect().toSet
    // slow path: pass 1 fetches every id, pass 2 runs STT on the error rows
    val fetched = Connectors.fetchTranscripts(idsIn(ids, 5), () => new StubTranscriptFetcher)
      .collect()
    val asr = new StubAsrEngine
    val slow = fetched.map { r =>
      if (r.status == "ok") {
        val segs = r.segments.get.map(s => Segment(s.start, s.duration, s.text))
        IngestRecord("yt_" + r.video_id, Schema.SourceYoutubeTranscript,
          Some(segs.map(_.text).mkString("\n")), Some(segs), None,
          Map("video_id" -> r.video_id, "languages" -> "en"))
      } else {
        val stt = Connectors.withRetry(3)(asr.transcribe(ConnectorCalls.audioFor(r.video_id)))
        IngestRecord("yt_" + r.video_id, Schema.SourceYoutubeStt, stt.toOption.map(_._1),
          None, Some(s"audio/${r.video_id}.wav"),
          Map("provider" -> "stub", "status" -> (if (stt.isRight) "ok" else "err")))
      }
    }.toSet
    assert(fused == slow && fused.size == ids.size)
    val silent = fused.filter(_.id.endsWith("silent"))
    assert(silent.size == 5 && silent.forall(r => r.text.isEmpty && r.meta("status") == "err"))
  }

  test("IngestRecord round-trips through JSONL with the declared schema") {
    val rec = graft.model.IngestRecord(
      id = "aud_0412a1de4616",
      source_type = Schema.SourceSystemAudio,
      text = Some("trung bình cứ giả xinh đẹp"),
      segments = Some(Seq(graft.model.Segment(1.35, 6.63, "trung bình cứ giả xinh đẹp"))),
      binary_path = Some("out/audio/aud_0412a1de4616.wav"),
      meta = Map("device" -> "CABLE Output", "sr" -> "16000", "engine" -> "vosk"))
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    Seq(rec).toDS().write.mode("overwrite").json(dir)
    val back = spark.read.schema(Schema.ingest).json(dir)
      .as[graft.model.IngestRecord].head()
    assert(back == rec)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("WAV header parse round-trips synthesized PCM") {
    val wav = Multimodal.makeWav(16000, 1, Array.fill[Short](8000)(42))
    val meta = Multimodal.parseWavHeader(wav)
    assert(meta.valid && meta.sample_rate == 16000 && meta.channels == 1 &&
      meta.bits_per_sample == 16 && meta.n_samples == 8000 && meta.duration_sec == 0.5)
    assert(!Multimodal.parseWavHeader("not a wav".getBytes).valid)
  }

  test("binaryFile source + wavMetadata column plumbing") {
    val dir = java.nio.file.Files.createTempDirectory("wavs")
    java.nio.file.Files.write(dir.resolve("a.wav"),
      Multimodal.makeWav(16000, 1, Array.fill[Short](16000)(1)))
    java.nio.file.Files.write(dir.resolve("b.wav"),
      Multimodal.makeWav(44100, 2, Array.fill[Short](4410 * 2)(2)))
    java.nio.file.Files.write(dir.resolve("skip.txt"), "zz".getBytes)
    val df = Multimodal.readBinaryDir(spark, dir.toString)
      .withColumn("meta", Multimodal.wavMetadata(col("content")))
    val out = df.select(col("meta.sample_rate"), col("meta.duration_sec"))
      .as[(Int, Double)].collect().toSet
    // 4410*2 interleaved shorts = 4410 stereo frames = 0.1 s
    assert(out == Set((16000, 1.0), (44100, 0.1))) // glob filtered the .txt
  }

  test("image header parse: PNG IHDR, BMP, corrupt, hostile dims") {
    val png = Multimodal.parseImageHeader(Multimodal.makePngHeader(640, 480))
    assert(png.valid && png.format == "png" && png.width == 640 &&
      png.height == 480 && png.bit_depth == 8)
    // hand-built 30-byte BMP header: 'BM' + 16 bytes, w=32 @18, h=-16 @22
    // (negative = top-down), depth=24 @28
    val bmp = java.nio.ByteBuffer.allocate(30)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bmp.put('B'.toByte).put('M'.toByte).position(18)
    bmp.putInt(32).putInt(-16).position(28)
    bmp.putShort(24.toShort)
    val b = Multimodal.parseImageHeader(bmp.array())
    assert(b.valid && b.format == "bmp" && b.width == 32 && b.height == 16 &&
      b.bit_depth == 24)
    assert(!Multimodal.parseImageHeader("not an image".getBytes).valid)
    assert(!Multimodal.parseImageHeader(null).valid)
    // zero-width PNG is data, not an exception
    assert(!Multimodal.parseImageHeader(Multimodal.makePngHeader(0, 9)).valid)
  }

  test("imageMetadata column plumbing over a binary column") {
    val rows = Seq(
      ("a", Multimodal.makePngHeader(10, 20)),
      ("b", "junk".getBytes))
    val out = rows.toDF("id", "content")
      .select(col("id"), Multimodal.imageMetadata(col("content")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.valid"))
      .as[(String, String, Int, Boolean)].collect().toSet
    assert(out == Set(("a", "png", 10, true), ("b", "", 0, false)))
  }

  test("pipeBinary streams bytes through a real subprocess (T1 shape)") {
    val wav = Multimodal.makeWav(16000, 1, Array.fill[Short](100)(7))
    val df = Seq(("a", wav)).toDF("id", "content")
    val out = Multimodal.pipeBinary(df, "content", Seq("cat"))
      .select("piped").as[Array[Byte]].head()
    assert(out.sameElements(wav))
  }

  test("decodeFeaturesStub yields deterministic bounded features") {
    val df = Seq(("a", Array[Byte](1, 2, 3)), ("b", Array[Byte](1, 2, 3)))
      .toDF("id", "content")
    val feats = df.select(Multimodal.decodeFeaturesStub(col("content")))
      .as[Seq[Double]].collect()
    assert(feats(0) == feats(1) && feats(0).length == 8 &&
      feats(0).forall(f => f >= 0.0 && f < 1.0))
  }

  test("planFrameSamples schedules frame offsets from duration") {
    val df = Seq(("v", 7.0)).toDF("id", "dur")
    val offs = Multimodal.planFrameSamples(df, "dur", 2.0, 10)
      .select("frame_offset_sec").as[Double].collect().toSeq
    assert(offs == Seq(0.0, 2.0, 4.0, 6.0))
  }

  test("resizeStub: typed metadata, deterministic payload, size accounting") {
    val big = Array.tabulate[Byte](4096)(_.toByte)
    val df = Seq(("a", big), ("b", Array[Byte](1, 2, 3))).toDF("id", "content")
    val out = df.select(col("id"),
        Multimodal.resizeStub(col("content"), 32, 32).as("r"))
      .select(col("id"), col("r.meta.width"), col("r.meta.orig_bytes"),
        col("r.meta.out_bytes"), length(col("r.resized")).cast("bigint"))
      .as[(String, Int, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    // 32*32/8 + 16 = 144-byte cap; small inputs pass through whole
    assert(out("a") == ((32, 4096L, 144L, 144L)))
    assert(out("b") == ((32, 3L, 3L, 3L)))
  }
}
