package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Laws for the bounded top-k TypedImperativeAggregate
  * (functions/TopKPairs): window equivalence on random data,
  * partition-count invariance (the merge path), null handling, and
  * the O(k)-state contract's determinism under duplicates of the key.
  */
/** Executor-shared flag for the task-kill test (local mode: one JVM,
  * so an object field is visible to the retried attempt). */
object TopKChaos {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("graft_topk equals row_number()<=k on random data, any partitioning") {
    val rnd = new scala.util.Random(502)
    val rows = (1L to 3000L).map(id =>
      (s"g${rnd.nextInt(7)}", rnd.nextInt(40).toLong, id))
    for (parts <- Seq(1, 3, 13)) {
      val df = rows.toDF("g", "key", "id").repartition(parts)
      val viaAgg = df.groupBy("g")
        .agg(GraftFunctions.topK(col("key"), col("id"), 4).as("top"))
        .select(col("g"), posexplode(col("top")).as(Seq("r0", "t")))
        .select(col("g"), (col("r0") + 1).as("rank"),
          col("t.key").as("key"), col("t.id").as("id"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getLong(3))).toSet
      val viaWin = df.withColumn("rank", row_number().over(
          Window.partitionBy("g").orderBy(col("key").desc, col("id"))))
        .where(col("rank") <= 4)
        .select("g", "rank", "key", "id")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(viaAgg === viaWin && viaAgg.nonEmpty, s"parts=$parts")
    }
  }

  test("graft_topk: nulls skipped, k larger than group, duplicate keys") {
    val df = Seq[(String, java.lang.Long, java.lang.Long)](
      ("a", 5L, 1L), ("a", 5L, 2L), ("a", null, 3L), ("a", 7L, 4L),
      ("b", 1L, 9L)).toDF("g", "key", "id")
    val got = df.groupBy("g")
      .agg(GraftFunctions.topK(col("key"), col("id"), 10).as("top"))
      .select(col("g"), col("top"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(t => (t.getLong(0), t.getLong(1)))).toMap
    // null key row skipped; duplicate key 5 ordered by id; k > group ok
    assert(got("a") === Seq((7L, 4L), (5L, 1L), (5L, 2L)))
    assert(got("b") === Seq((1L, 9L)))
  }

  test("graft_topk map-side combine: partial + final aggregate stages") {
    val df = spark.range(1000)
      .selectExpr("id % 7 AS g", "id * 13 % 101 AS key", "id")
      .repartition(5)
      .groupBy("g")
      .agg(GraftFunctions.topK(col("key"), col("id"), 4).as("top"))
    val plan = df.queryExecution.executedPlan.toString
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial stage BELOW the exchange — the map-side combine that
    // caps the shuffle at k pairs per (group x partition). Two
    // aggregate operators (partial + final) must be present.
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("graft_topk"), plan)
  }

  test("graft_topk survives a task kill mid-partition (retry = clean run)") {
    TopKChaos.fired.set(false)
    val chaosKey = udf { (k: Long) =>
      if (!TopKChaos.fired.getAndSet(true))
        throw new RuntimeException("topk chaos: killing first attempt")
      k
    }
    val base = spark.range(600)
      .selectExpr("id % 5 AS g", "id * 11 % 83 AS key", "id")
    val clean = base.groupBy("g")
      .agg(GraftFunctions.topK(col("key"), col("id"), 3).as("top"))
      .select(col("g"), col("top").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val chaotic = base
      .withColumn("key", chaosKey(col("key")))
      .groupBy("g")
      .agg(GraftFunctions.topK(col("key"), col("id"), 3).as("top"))
      .select(col("g"), col("top").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(TopKChaos.fired.get, "the chaos kill never fired")
    assert(chaotic === clean && clean.size == 5)
  }

  test("graft_topk in SQL and the q503 drift ledger sanity") {
    spark.range(100).selectExpr("id % 5 AS g", "id * 7 % 31 AS key", "id")
      .createOrReplaceTempView("tk")
    val viaSql = spark.sql(
      "SELECT g, graft_topk(key, id, 3) AS top FROM tk GROUP BY g")
      .select(col("g"), size(col("top"))).collect()
    assert(viaSql.forall(_.getInt(1) == 3))
    // q503: the warm-start drift ledger's node total equals the full
    // graph's node count (every node lands in exactly one octave)
    val out = graft.queries.Registry.byName("q503_warmstart_pagerank")
      .fn(spark, sf).collect()
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct
      if (ps.size >= 2) ps else Nil
    }.toSet
    assert(out.map(_.getLong(1)).sum === nodes.size.toLong)
  }
}
