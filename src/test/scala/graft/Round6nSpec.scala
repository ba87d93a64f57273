package graft

import graft.functions.GraftFunctions
import graft.ops.{Relational, Text}
import org.apache.spark.sql.functions._

/** Round-6n operators: accent folding (native expression), hybrid
  * heavy-key-isolated skew join, URL canonicalization pieces, CMS
  * error bound. */
class Round6nSpec extends SparkSpec {
  import spark.implicits._

  test("foldAccents strips Latin accents, passes through non-decomposables") {
    val got = Seq("Café Àpropos", "über ñand",
      "plain ascii", "ßøæ stay", "")
      .toDF("s").select(GraftFunctions.foldAccents(col("s")))
      .as[String].collect().toSeq
    assert(got == Seq("Cafe Apropos", "uber nand",
      "plain ascii", "ßøæ stay", ""))
  }

  test("foldAccents is idempotent and null-propagating") {
    val src = Seq(Some("résumé ćwik"), None).toDF("s")
    val once = src.select(GraftFunctions.foldAccents(col("s")).as("f"))
    val twice = once.select(GraftFunctions.foldAccents(col("f")))
      .as[Option[String]].collect().toSeq
    assert(twice == Seq(Some("resume cwik"), None))
  }

  test("foldAccents stays inside whole-stage codegen") {
    val df = Tables.documents(spark, sf)
      .select(GraftFunctions.foldAccents(col("text")).as("f"))
      .where(length(col("f")) > 0)
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark operators fused into a whole-stage-codegen
    // span; the projection carrying the fold must be inside one
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("graft_fold_accents")), plan.take(2000))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("hybridSkewJoin equals the direct join on a skewed key set") {
    // key 1 is hot (40 rows), keys 2..9 are light; threshold 10 splits
    val big = (1 to 40).map(i => (1L, i.toLong)) ++
      (2 to 9).flatMap(k => (1 to 3).map(i => (k.toLong, i.toLong * 100)))
    val bigDf = big.toDF("k", "v")
    val smallDf = (1 to 12).map(k => (k.toLong, s"dim$k")).toDF("k", "name")
    val got = Relational.hybridSkewJoin(bigDf, smallDf, "k", threshold = 10L)
      .as[(Long, Long, String)].collect().toSeq.sorted
    val want = bigDf.join(smallDf, Seq("k"))
      .as[(Long, Long, String)].collect().toSeq.sorted
    assert(got == want && got.size == 64)
  }

  test("hybridSkewJoin's heavy lane broadcasts, light lane shuffles") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    // at sf0.001 the planner would broadcast BOTH lanes on size alone;
    // disable auto-broadcast so only the op's explicit broadcast()
    // hints remain — the shape the op guarantees at any scale
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Relational.hybridSkewJoin(li, ord, "l_orderkey", 5L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
      // the light remainder still runs a real distributed join
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("CMS estimate never underestimates (upper-bound theorem)") {
    val hh = Text.cmsHeavyHitters(Tables.documents(spark, sf), "text",
      d = 2, w = 64, minCount = 1L)
    val under = hh.where(col("est") < col("cnt")).count()
    assert(under == 0L)
    // tight sketch on a real corpus must actually collide somewhere —
    // otherwise the "measured error" readout of q268 measures nothing
    assert(hh.where(col("est") > col("cnt")).count() > 0L)
  }

  test("q263 canonical URLs are idempotent under re-canonicalization") {
    val q = graft.queries.Registry.byName("q263_url_canonicalize")
    val out = q.fn(spark, sf).select(col("canon_url").as("url"))
    // re-running the same normalization steps on the canonical form
    // must be the identity: no tracking params, sorted params, no
    // default port, lowercase host, no fragment
    val again = out
      .withColumn("host", lower(regexp_replace(
        regexp_extract(col("url"), "^[a-zA-Z]+://([^/?#]+)", 1), ":443$", "")))
      .withColumn("path", regexp_extract(col("url"), "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1))
      .withColumn("qs", regexp_extract(col("url"), "\\?([^#]*)", 1))
      .withColumn("path", expr(
        "CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/' " +
          "ELSE regexp_replace(path, '/+$', '') END"))
      .withColumn("qs2", expr(
        "array_join(array_sort(filter(split(qs, '&'), x -> NOT (" +
          "startswith(x, 'utm_') OR startswith(x, 'fbclid') OR " +
          "startswith(x, 'gclid')))), '&')"))
      .select(col("url"),
        concat(lit("https://"), col("host"), col("path"),
          when(col("qs2") === "", lit(""))
            .otherwise(concat(lit("?"), col("qs2")))).as("url2"))
    assert(again.where(col("url") =!= col("url2")).count() == 0L)
    assert(again.count() > 0L)
  }
}
