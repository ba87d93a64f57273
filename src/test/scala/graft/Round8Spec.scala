package graft

import graft.ops.{FixedPoint, Graph, Multimodal}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-8 pins: the native multimodal expressions (no ScalaUDF in
  * the hot lanes), the size-guarded seeded BFS, and the fixed-point
  * log that replaced q266's float ranking.
  */
class Round8Spec extends SparkSpec {

  private def wavRow(sr: Int, ch: Int, frames: Int): Array[Byte] =
    Multimodal.makeWav(sr, ch, new Array[Short](ch * frames))

  test("wavMetadata is a native expression: no ScalaUDF, codegen, same values") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("content", BinaryType)))
    val rows = Seq(
      Row(1L, wavRow(8000, 1, 50)), Row(2L, wavRow(16000, 2, 99)),
      Row(3L, "garbage".getBytes("US-ASCII")), Row(4L, wavRow(44100, 1, 7)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val out = df.select(col("id"), Multimodal.wavMetadata(col("content")).as("m"))
      .select(col("id"), col("m.sample_rate"), col("m.channels"),
        col("m.n_samples"), col("m.valid"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    val got = out.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    // interpreted reference: the same parser, driver-side
    val want = rows.map { r =>
      val m = Multimodal.parseWavHeader(r.getAs[Array[Byte]](1))
      (r.getLong(0), m.sample_rate, m.channels, m.n_samples, m.valid)
    }.toSet
    assert(got == want && want.exists(_._5) && want.exists(!_._5))
  }

  test("imagePatchStats is a native expression: no ScalaUDF, same values") {
    val px = Array.tabulate(32 * 32)(i => (i * 7919) % 0x1000000)
    val bmp = Multimodal.makeBmp(32, 32, px)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("content", BinaryType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, bmp), Row(2L, Array[Byte](1, 2, 3))), 2), schema)
    val out = df.select(col("id"),
        explode(Multimodal.imagePatchStats(col("content"))).as("p"))
      .select(col("id"), col("p.patch_id"), col("p.psum"), col("p.psumsq"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    val got = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = Multimodal.patchStats32(bmp)
      .map(p => (1L, p.patch_id, p.psum, p.psumsq)).toSet
    assert(got == want && want.size == 16)
  }

  test("seededBfs: shuffle-join fallback (guard=0) equals broadcast rounds") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val e = li.withColumnRenamed("l_partkey", "src")
      .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
      .where(col("src") =!= col("dst"))
    val seeds = e.select(col("src").as("id")).distinct()
      .where(col("id") % 97 === 0)
    def run(bound: Long) =
      Graph.seededBfs(e, "src", "dst", seeds, hops = 2,
          broadcastFrontierRows = bound)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaBroadcast = run(5000000L)
    val viaShuffle = run(0L)
    assert(viaBroadcast.nonEmpty && viaBroadcast == viaShuffle)
    // and per-seed dist-0 rows are exactly the seeds
    val seedSet = seeds.collect().map(_.getLong(0)).toSet
    assert(viaBroadcast.filter(_._3 == 0L).map(_._1) == seedSet)
  }

  test("FixedPoint log2: exact table semantics, monotone, close to libm") {
    def log2MicroRef(r: Long): Long = {
      // independent re-derivation of the contract
      val b = 63 - java.lang.Long.numberOfLeadingZeros(r)
      val idx = ((r >> (b - 8)) - 256).toInt
      (b - 20).toLong * 1000000L + FixedPoint.log2Tab(idx)
    }
    // the Spark SQL fragment computes the same value
    val rs = Seq(1048576L, 1048577L, 2097151L, 2097152L, 3500000L,
      123456789L, 987654321012L)
    val schema = StructType(Seq(StructField("r", LongType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map(Row(_)), 2), schema)
    val got = df.selectExpr("r", FixedPoint.sparkLog2MicroFp20("r") + " AS v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rs.foreach { r => assert(got(r) == log2MicroRef(r), s"r=$r") }
    // r = 2^20 (ratio 1) → exactly 0; doubling adds exactly 10^6
    assert(log2MicroRef(1048576L) == 0L)
    assert(log2MicroRef(2097152L) == 1000000L)
    // monotone non-decreasing over a dense sweep
    var prev = Long.MinValue
    (1048576L to 1048576L * 4 by 4099L).foreach { r =>
      val v = log2MicroRef(r)
      assert(v >= prev); prev = v
    }
    // within one table step of libm log2
    rs.foreach { r =>
      val exact = math.log(r.toDouble / 1048576.0) / math.log(2.0) * 1e6
      assert(math.abs(log2MicroRef(r) - exact) < 6000.0, s"r=$r")
    }
  }

  test("empty-string pattern disables contains-OR fusion (semantics preserved)") {
    // the r8 ADVICE fix: contains(text, '') is true for any non-null
    // text including '', but the Aho–Corasick scan reports only after
    // consuming a byte — so an empty literal must poison fusion, and
    // the naive OR plan must keep the empty-text row.
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("t", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, ""), Row(2L, "xyz"), Row(3L, "has alpha here"),
        Row(4L, null)), 2), schema)
    val withEmpty = df.where(col("t").contains("") ||
      col("t").contains("alpha") || col("t").contains("beta") ||
      col("t").contains("gamma"))
    // '' matches every non-null text — row 1 (empty) must survive
    assert(withEmpty.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(!withEmpty.queryExecution.optimizedPlan.toString
      .contains("graft_multi_contains"))
    // without the empty literal the same shape still fuses
    val fused = df.where(col("t").contains("alpha") ||
      col("t").contains("beta") || col("t").contains("gamma"))
    assert(fused.queryExecution.optimizedPlan.toString
      .contains("graft_multi_contains"))
    assert(fused.collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("computed-key GreedyThin: key-reference predicate is NOT pushed") {
    // the r8 ADVICE fix: with keys = [k % 10], the predicate k = 15
    // references only the key's references but is NOT constant per
    // thin group — pushing it would change which rows are kept. The
    // public API only builds attribute keys; construct the logical
    // node directly to pin the rule's guard.
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod}
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("t", LongType), StructField("id", LongType)))
    // k=5 and k=15 share thin group (k%10=5); gap 100 drops the later
    // row of the group. Filter k=15 AFTER thinning: the kept set for
    // group 5 is decided by BOTH rows, so filter-then-thin differs.
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(5L, 10L, 1L), Row(15L, 20L, 2L), Row(15L, 500L, 3L)), 2),
      schema)
    val child = df.queryExecution.analyzed
    val kAttr = child.output.find(_.name == "k").get
    val node = graft.plans.GreedyThin(
      Seq(Pmod(kAttr, Literal(10L))),
      child.output.find(_.name == "t").get,
      Seq(child.output.find(_.name == "id").get),
      Literal(100L), child)
    val thinned = org.apache.spark.sql.graftglue.GraftPlanApi
      .ofRows(spark, node)
    val filtered = thinned.where(col("k") === 15L)
    val optimized = filtered.queryExecution.optimizedPlan.toString
    // Filter stays ABOVE GreedyThin
    assert(optimized.indexOf("Filter") < optimized.indexOf("GreedyThin"),
      optimized)
    // thin-then-filter: group 5 keeps t=10 (id 1, filtered out) and
    // t=500 (id 3); t=20 is within gap of the KEPT t=10 row. A pushed
    // filter would instead keep id 2 and id 3.
    assert(filtered.collect().map(_.getLong(2)).toSet == Set(3L))
  }

  test("naiveBayesConfusion: docs at idx == maxLabels no longer vanish") {
    // the r8 ADVICE fix pinned at its exact boundary: 8 distinct
    // labels with maxLabels = 8 — the label ranked 8th used to decode
    // as residue 0 and silently drop its docs from the matrix
    val labels = ('a' to 'h').map(_.toString)
    val rows = (1 to 160).map { i =>
      val lab = labels(i % 8)
      Row(i.toLong, lab, s"tok_$lab tok_$lab tok_$lab word$i")
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("label", StringType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val cm = graft.ops.Classify
      .naiveBayesConfusion(df, "id", "label", "text", maxLabels = 8)
      .collect()
    // every scored doc lands in the matrix: totals equal the test split
    val total = cm.map(_.getLong(2)).sum
    val testDocs = graft.ops.Sampling.hashSplit(
        df.select(col("id"), col("label"), col("text")), "id", 75, 0)
      .where(col("split") === "test").count()
    assert(total == testDocs && total > 0)
    // and the class-specific vocabulary makes it diagonal — including
    // the 8th label, which the old key dropped
    val predLabels = cm.map(_.getString(1)).toSet
    assert(predLabels.size == 8, predLabels.toString)
    assert(cm.forall(r => r.getString(0) == r.getString(1)))
    // 9 labels exceed the bound and must fail fast, not corrupt
    val extra = (9990L to 9997L).map(i => Row(i, "i", "tok_i tok_i"))
    val df9 = spark.createDataFrame(
      spark.sparkContext.parallelize(rows ++ extra, 4), schema)
    intercept[IllegalArgumentException] {
      graft.ops.Classify.naiveBayesConfusion(df9, "id", "label", "text",
        maxLabels = 8).collect()
    }
  }

  test("FixedPoint ratio: split form is exact floor((1 + n/d) * 2^20)") {
    val cases = Seq((1L, 1L), (7L, 3L), (1000000L, 17L),
      (8999999999L, 123457L), (5L, 1000000000L))
    val schema = StructType(Seq(StructField("n", LongType),
      StructField("d", LongType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(cases.map(c => Row(c._1, c._2)), 2),
      schema)
    val got = df.selectExpr("n", "d",
        FixedPoint.sparkRatioFp20("n", "d") + " AS r")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (n, d) =>
      val want = java.math.BigInteger.valueOf(n)
        .multiply(java.math.BigInteger.valueOf(1048576L))
        .divide(java.math.BigInteger.valueOf(d))
        .longValueExact() + 1048576L
      assert(got((n, d)) == want, s"n=$n d=$d")
    }
  }
}
