package graft

import graft.model.{IngestRecord, Schema, Segment}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Golden-record tests: the engine reads/writes the reference's exact
  * record shape (reference out/audio.jsonl:1, committed here as
  * fixtures/golden_audio.jsonl with the documented int-in-meta ->
  * string normalization, SURVEY §1.2). */
class GoldenSpec extends SparkSpec {
  import spark.implicits._

  private val goldenPath =
    "/root/repo/src/test/resources/fixtures/golden_audio.jsonl"

  test("golden record loads through the declared schema with full fidelity") {
    val rec = spark.read.schema(Schema.ingest).json(goldenPath)
      .as[IngestRecord].head()
    assert(rec.id == "aud_0412a1de4616")
    assert(rec.source_type == Schema.SourceSystemAudio)
    assert(rec.text.exists(_.startsWith("trung bình cứ giả xinh đẹp")))
    assert(rec.segments.exists(s => s.length == 1 && s.head.start == 1.35 &&
      s.head.duration == 6.630000000000001))
    assert(rec.binary_path.contains("out/audio/aud_0412a1de4616.wav"))
    assert(rec.meta("engine") == "vosk" && rec.meta("sr") == "16000" &&
      rec.meta("created_at") == "2025-10-03T10:07:03Z")
  }

  test("JSONL sink round-trips the golden record (unicode, nested, nulls)") {
    val rec = spark.read.schema(Schema.ingest).json(goldenPath)
      .as[IngestRecord].head()
    val dir = java.nio.file.Files.createTempDirectory("golden").toString
    // K1 sink shape: append-mode JSON lines (reference inputs/schema.py:31-35)
    Seq(rec).toDS().coalesce(1).write.mode("append").json(dir)
    val back = spark.read.schema(Schema.ingest).json(dir).as[IngestRecord].head()
    assert(back == rec)
    // written line must carry the unicode verbatim (ensure_ascii=False parity)
    val line = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(_.toString.endsWith(".json")).findFirst.get
    val text = new String(java.nio.file.Files.readAllBytes(line), "UTF-8")
    assert(text.contains("trung bình cứ giả xinh đẹp"))
    assert(!text.contains("\\u")) // not ascii-escaped
  }

  test("to_json with ignoreNullFields=false emits explicit nulls like the reference") {
    val rec = IngestRecord("x1", "youtube", None, None, Some("a.wav"), Map("k" -> "v"))
    val json = Seq(rec).toDS()
      .select(to_json(struct(col("*")), Map("ignoreNullFields" -> "false")))
      .as[String].head()
    assert(json.contains(""""text":null""") && json.contains(""""segments":null"""))
  }

  test("malformed JSONL lines route to _corrupt_record, never fail the read") {
    val dir = java.nio.file.Files.createTempDirectory("corrupt")
    java.nio.file.Files.write(dir.resolve("mixed.jsonl"),
      Seq(
        """{"id": "ok1", "source_type": "youtube", "text": "fine"}""",
        """{"id": "broken", "source_type": }""",
        """not json at all""",
        """{"id": "ok2", "source_type": "system_audio"}""")
        .mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(
      Schema.ingest.fields :+ org.apache.spark.sql.types.StructField(
        "_corrupt_record", org.apache.spark.sql.types.StringType, nullable = true))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString)
      .cache() // corrupt-record column requires full-row materialization
    assert(df.where(col("_corrupt_record").isNull).count() == 2)
    assert(df.where(col("_corrupt_record").isNotNull).count() == 2)
    assert(df.where(col("id") === "ok1").select("text").as[String].head() == "fine")
  }

  test("normalization pipeline reproduces the golden record's derived fields") {
    // segments -> text flatten (T6) applied to the golden segments
    // yields exactly the stored text
    val df = spark.read.schema(Schema.ingest).json(goldenPath)
    val flat = df.select(
      graft.ingest.Normalize.flattenSegments(col("segments")).as("flat"),
      col("text"))
    val row = flat.head()
    assert(row.getString(0) == row.getString(1))
  }
}

class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("KMV sketch: exact below k, within 15% above k, merges across partitions") {
    Tables.lineitem(spark, sf).repartition(8).createOrReplaceTempView("li_kmv")
    val r = spark.sql(
      """SELECT l_returnflag,
        |  graft_kmv_distinct(l_partkey, 64) AS est,
        |  count(DISTINCT l_partkey) AS exact
        |FROM li_kmv GROUP BY 1""".stripMargin)
      .as[(String, Long, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (flag, est, exact) =>
      if (exact < 64) assert(est == exact, s"$flag exact-mode")
      else assert(math.abs(est - exact).toDouble / exact <= 0.15,
        s"$flag est=$est exact=$exact")
    }
    // tiny input: fully exact
    val small = spark.sql(
      "SELECT graft_kmv_distinct(x, 64) FROM (SELECT explode(sequence(1, 40)) AS x)")
      .as[Long].head()
    assert(small == 40L)
  }

  test("approx_count_distinct within 5% of exact (q74 accuracy bound)") {
    val rows = queries.Registry.byName("q74_approx_distinct").fn(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"approx=$approx exact=$exact")
    }
  }

  test("q90 sampled percentiles within 2% of exact; sketch bound holds") {
    // exact full-data medians per flag (ground truth for the sample)
    val exact = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rows = queries.Registry.byName("q90_approx_percentile").fn(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flag = r.getString(0)
      val nSample = r.getLong(1)
      val ap25 = r.getDouble(2)
      val ap50 = r.getDouble(3)
      val ap75 = r.getDouble(4)
      // sample-median error scales ~1/sqrt(n): 4/sqrt(n) is ~29% at
      // the sf0.001 group size (~190) and ~2% by n=40k
      val tol = math.max(0.02, 4.0 / math.sqrt(nSample.toDouble))
      assert(math.abs(ap50 - exact(flag)) / exact(flag) <= tol,
        s"$flag ap50=$ap50 exact=${exact(flag)} n=$nSample")
      assert(ap25 <= ap50 && ap50 <= ap75, "quantiles must be monotone")
    }
    // engine-native quantile sketch (approx_percentile): its GK summary
    // can never hash-match another engine, so its accuracy bound lives
    // here instead of the oracle gate
    Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap"),
        expr("percentile(l_extendedprice, 0.5)").as("ex"))
      .collect().foreach { r =>
        assert(math.abs(r.getDouble(1) - r.getDouble(2)) / r.getDouble(2) <= 0.02,
          s"${r.getString(0)} sketch=${r.getDouble(1)} exact=${r.getDouble(2)}")
      }
  }
}
