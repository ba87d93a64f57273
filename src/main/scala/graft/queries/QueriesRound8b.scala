package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, FixedPoint, Text}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 second batch: corpus-statistics readouts built on the new
  * integer fixed-point log (Zipf slope, KL domain shift) and sketch
  * set algebra — the "know your corpus before you train on it" lanes,
  * every value exact-integer and oracle-replayed.
  */
object QueriesRound8b {

  private val LnFrag = FixedPoint

  val defs: Seq[QueryDef] = Seq(

    // ---- q427: Zipf rank-frequency slope --------------------------------
    // The corpus-health readout (natural text follows freq ∝ 1/rank,
    // slope ≈ -1; generated/spam corpora deviate): integer least
    // squares of log2(freq) on log2(rank) over the top-256 tokens.
    // Both logs are FixedPoint micro-bit values (rank·2²⁰ and
    // freq·2²⁰ are exact fixed-point inputs) scaled to millibits so
    // every sum stays far inside BIGINT. The top-256 frame is
    // constant-size, so its rank window is a bounded single-partition
    // window (the q258 discipline); the only data-sized work is the
    // token count. Output negated (Zipf slopes are negative;
    // covariance of a desc-sorted series is ≤ 0 by construction, so
    // the numerator is non-negative and floor-vs-truncate division
    // divergence can never appear).
    QueryDef("q427_zipf_slope",
      (s, d) => {
        val tf = documents(s, d)
          .select(explode(Text.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val top = tf.orderBy(col("c").desc, col("tok")).limit(256)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("c").desc, col("tok")))
              .cast("long"))
        val xy = top.selectExpr(
          s"${LnFrag.sparkLog2MicroFp20("(rank * 1048576)")} div 1000 AS xm",
          s"${LnFrag.sparkLog2MicroFp20("(c * 1048576)")} div 1000 AS ym")
        xy.agg(count(lit(1)).as("n_top"),
            sum("xm").as("sx"), sum("ym").as("sy"),
            sum(col("xm") * col("ym")).as("sxy"),
            sum(col("xm") * col("xm")).as("sxx"))
          .select(col("n_top"),
            expr("((sx * sy - n_top * sxy) * 1000)" +
              " div (n_top * sxx - sx * sx)").as("neg_slope_milli"))
      },
      Some {
        val x = LnFrag.duckLog2MicroFp20("(rank * 1048576)")
        val y = LnFrag.duckLog2MicroFp20("(c * 1048576)")
        s"""WITH tf AS (SELECT tok, count(*) AS c FROM (
        |    SELECT unnest(${DuckSql.toks("text")}) AS tok FROM documents)
        |  GROUP BY 1),
        |top AS (SELECT c, CAST(row_number() OVER
        |      (ORDER BY c DESC, tok) AS BIGINT) AS rank
        |  FROM tf ORDER BY c DESC, tok LIMIT 256),
        |xy AS (SELECT ($x) // 1000 AS xm, ($y) // 1000 AS ym FROM top),
        |ag AS (SELECT count(*) AS n_top, sum(xm) AS sx, sum(ym) AS sy,
        |    sum(xm * ym) AS sxy, sum(xm * xm) AS sxx FROM xy)
        |SELECT CAST(n_top AS BIGINT) AS n_top,
        |  CAST(((sx * sy - n_top * sxy) * 1000)
        |    // (n_top * sxx - sx * sx) AS BIGINT) AS neg_slope_milli
        |FROM ag""".stripMargin
      }),

    // ---- q428: per-source KL divergence from the corpus mixture ---------
    // The domain-shift readout behind every mixture decision (DoReMi,
    // DSIR pick sources by how far they sit from the reference):
    // KL(P_source ‖ P_corpus) over unigrams in EXACT micro-nats — the
    // probability ratio p_s/p_c = (c_st·N)/(N_s·C_t) is an integer
    // rational, its ln is the FixedPoint table log (sign-split so the
    // fixed-point input is always ≥ 1), and the per-token
    // contributions c_st·ln(±) fold in one aggregation. Zero-count
    // tokens contribute zero (p_s = 0 terms vanish), so the join is
    // source-tokens × corpus-counts, never the full vocab cross.
    // Gibbs guarantees the true KL ≥ 0; the table approximation could
    // in principle dip a hair below, so the numerator clamps at 0 in
    // BOTH engines before the floor division. BIGINT-safe while
    // N_s·C_t·2²⁰ < 2⁶³ (≈ 10¹² token-pair mass per readout — shard
    // sources beyond).
    QueryDef("q428_kl_divergence",
      (s, d) => Checkpoints.scoped { pin =>
        // three consumers below
        val tf = pin(documents(s, d)
          .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("cst")))
        val ns = tf.groupBy("source").agg(sum("cst").as("ns"))
        val ct = tf.groupBy("tok").agg(sum("cst").as("ct"))
        val tot = broadcast(tf.agg(sum("cst").as("nn")))
        val rUp = LnFrag.sparkRatioFp20("(cst * nn - ns * ct)", "(ns * ct)")
        val rDn = LnFrag.sparkRatioFp20("(ns * ct - cst * nn)", "(cst * nn)")
        val contrib = tf.join(broadcast(ns), "source").join(ct, "tok")
          .crossJoin(tot)
          .selectExpr("source", "ns",
            s"""CASE WHEN cst * nn >= ns * ct
               | THEN cst * ${LnFrag.sparkLnMicroFp20(rUp)}
               | ELSE -(cst * ${LnFrag.sparkLnMicroFp20(rDn)}) END
               | AS contrib""".stripMargin.replace("\n", " "))
        contrib.groupBy("source")
          .agg(count(lit(1)).as("n_types"), max("ns").as("__ns"),
            sum("contrib").as("__sum"))
          .select(col("source"), col("n_types"), col("__ns").as("n_tokens"),
            expr("greatest(__sum, 0L) div __ns").as("kl_micro"))
          .orderBy("source")
      },
      Some {
        def up = LnFrag.duckLnMicroFp20(
          LnFrag.duckRatioFp20("(cst * nn - ns * ct)", "(ns * ct)"))
        def dn = LnFrag.duckLnMicroFp20(
          LnFrag.duckRatioFp20("(ns * ct - cst * nn)", "(cst * nn)"))
        s"""WITH tf AS (SELECT source, tok, count(*) AS cst FROM (
        |    SELECT source, unnest(${DuckSql.toks("text")}) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(cst) AS BIGINT) AS ns FROM tf
        |  GROUP BY 1),
        |ct AS (SELECT tok, CAST(sum(cst) AS BIGINT) AS ct FROM tf
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(cst) AS BIGINT) AS nn FROM tf),
        |co AS (SELECT source, ns,
        |    CASE WHEN cst * nn >= ns * ct
        |      THEN cst * ($up) ELSE -(cst * ($dn)) END AS contrib
        |  FROM tf JOIN ns USING (source) JOIN ct USING (tok), tot)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(max(ns) AS BIGINT) AS n_tokens,
        |  CAST(greatest(CAST(sum(contrib) AS BIGINT), 0) // max(ns)
        |    AS BIGINT) AS kl_micro
        |FROM co GROUP BY source ORDER BY source""".stripMargin
      }),

    // ---- q429: vocabulary coverage curve ---------------------------------
    // The BPE-sizing readout ("how many vocab entries cover 99% of
    // tokens"): computed from the COUNT HISTOGRAM, never a per-token
    // global rank — tokens with equal count are interchangeable for
    // coverage, so the curve is a pure function of (count, n_tokens-
    // at-count) pairs, an O(distinct counts) frame whose desc-order
    // window is bounded (same discipline as q258's constant frame).
    // For each coverage target: walk the histogram to the first count
    // level where cumulative mass reaches ceil(N·t), take the partial
    // number of tokens needed at that level (ceil division), report
    // vocab size and the exact covered-token count. All integers.
    QueryDef("q429_vocab_coverage",
      (s, d) => {
        val tf = documents(s, d)
          .select(explode(Text.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val hist = tf.groupBy("c").agg(count(lit(1)).as("nv"))
        val w = Window.orderBy(col("c").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = hist
          .withColumn("cmass", sum(col("c") * col("nv")).over(w))
          .withColumn("cntok", sum("nv").over(w))
        val tot = broadcast(tf.agg(sum("c").as("nn")))
        val targets = s.createDataFrame(
          s.sparkContext.parallelize(Seq(
            org.apache.spark.sql.Row(500000L),
            org.apache.spark.sql.Row(900000L),
            org.apache.spark.sql.Row(990000L)), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("target_ppm",
              org.apache.spark.sql.types.LongType))))
        val need = targets.crossJoin(tot)
          .withColumn("tc", expr("(nn * target_ppm + 999999) div 1000000"))
        cum.crossJoin(broadcast(need))
          .where(col("cmass") >= col("tc"))
          .groupBy("target_ppm", "tc", "nn")
          .agg(min(struct(col("cmass"), col("c"), col("nv"), col("cntok")))
            .as("b"))
          .selectExpr("target_ppm", "nn AS n_total",
            "b.cntok - b.nv + (tc - (b.cmass - b.c * b.nv) + b.c - 1)" +
              " div b.c AS vocab_size",
            "b.cmass - b.c * b.nv + ((tc - (b.cmass - b.c * b.nv) + b.c - 1)" +
              " div b.c) * b.c AS covered_tokens")
          .orderBy("target_ppm")
      },
      Some(s"""WITH tf AS (SELECT tok, count(*) AS c FROM (
        |    SELECT unnest(${DuckSql.toks("text")}) AS tok FROM documents)
        |  GROUP BY 1),
        |hist AS (SELECT c, count(*) AS nv FROM tf GROUP BY 1),
        |cum AS (SELECT c, nv,
        |    sum(c * nv) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING)
        |      AS cmass,
        |    sum(nv) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING)
        |      AS cntok FROM hist),
        |tot AS (SELECT sum(c) AS nn FROM tf),
        |tg AS (SELECT unnest([500000, 900000, 990000]) AS target_ppm),
        |need AS (SELECT target_ppm, (nn * target_ppm + 999999) // 1000000
        |    AS tc, nn FROM tg, tot),
        |hit AS (SELECT target_ppm, tc, nn, c, nv, cmass, cntok,
        |    row_number() OVER (PARTITION BY target_ppm
        |      ORDER BY cmass) AS rn
        |  FROM cum, need WHERE cmass >= tc)
        |SELECT CAST(target_ppm AS BIGINT) AS target_ppm,
        |  CAST(nn AS BIGINT) AS n_total,
        |  CAST(cntok - nv + (tc - (cmass - c * nv) + c - 1) // c AS BIGINT)
        |    AS vocab_size,
        |  CAST(cmass - c * nv + ((tc - (cmass - c * nv) + c - 1) // c) * c
        |    AS BIGINT) AS covered_tokens
        |FROM hit WHERE rn = 1 ORDER BY target_ppm""".stripMargin)),

    // ---- q430: KMV sketch set algebra ------------------------------------
    // Distinct-SHINGLE set operations BETWEEN sources from k-minimum-
    // value sketches (the mergeable-summaries property the KmvDistinct
    // aggregate is built on, here as a relational pipeline so the
    // oracle replays every step): per source the 128 smallest md5
    // hashes of its distinct 3-gram shingles (the shingle universe is
    // ~10³ per source on this corpus, so the k-th-minimum ESTIMATOR
    // path genuinely runs — the raw token vocabulary is only 31
    // strings, which would degenerate to the <k exact path); union
    // estimate from the k-th minimum of the MERGED sketch (k smallest
    // of the union of the two sketches — exact by the k-min merge
    // property); intersection via the Jaccard-style membership
    // fraction ρ·est_union/k. Exact counts ride along so the error is
    // MEASURED (the q262/q268 discipline), and every estimate is a
    // deterministic integer — sketches, estimates, and errors all
    // hash-verify.
    QueryDef("q430_kmv_set_algebra",
      (s, d) => Checkpoints.scoped { pin =>
        val k = 128
        // tokenize ONCE behind an exchange barrier (the shingleRows
        // discipline): without it CollapseProject inlines the regexp
        // tokenization into every shingle-slice lambda position —
        // measured 12 s vs 0.6 s for this explode at sf0.1.
        // sketches + exact counts + exact inters
        val dt = pin(documents(s, d)
          .select(col("source"), col("doc_id"),
            Text.tokens(col("text")).as("__toks"))
          .repartition(col("doc_id"))
          .select(col("source"),
            explode(graft.ops.Dedup.wordShingles(col("__toks"), 3)).as("tok"))
          .distinct()
          .select(col("source"), col("tok"),
            graft.ops.Sampling.hashLong(col("tok")).as("h")))
        // both sides of the pair merge
        val sk = pin(dt.select(col("source"), col("h")).distinct()
          .withColumn("rn", row_number().over(
            Window.partitionBy("source").orderBy("h")))
          .where(col("rn") <= k))
        val cnt = dt.groupBy("source")
          .agg(countDistinct("tok").as("exact_n"))
        val pairs = cnt.select(col("source").as("src_a"),
            col("exact_n").as("na"))
          .join(cnt.select(col("source").as("src_b"),
            col("exact_n").as("nb")), col("src_a") < col("src_b"))
        // merged sketch: k smallest of the two sketches' union
        val merged = pairs.select("src_a", "src_b")
          .join(sk.select(col("source").as("src_a"), col("h")), Seq("src_a"))
          .unionByName(pairs.select("src_a", "src_b")
            .join(sk.select(col("source").as("src_b"), col("h")),
              Seq("src_b"))
            .select("src_a", "src_b", "h"))
          .select("src_a", "src_b", "h").distinct()
          .withColumn("rn", row_number().over(
            Window.partitionBy("src_a", "src_b").orderBy("h")))
          .where(col("rn") <= k)
        val unionEst = merged.groupBy("src_a", "src_b")
          .agg(max("h").as("rk"), count(lit(1)).as("m"))
          // fewer than k values => the sketch IS the set (exact)
          .select(col("src_a"), col("src_b"),
            expr(s"CASE WHEN m < $k THEN m" +
              s" ELSE (($k - 1) * 4294967296) div rk END").as("est_union"))
        // rho: merged-sketch members present in BOTH sources' sketches
        val inA = merged.join(sk.select(col("source").as("src_a"), col("h")),
          Seq("src_a", "h"), "left_semi")
        val rho = inA.join(sk.select(col("source").as("src_b"), col("h")),
            Seq("src_b", "h"), "left_semi")
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("rho"))
        val exactI = dt.select(col("source").as("src_a"), col("tok"))
          .join(dt.select(col("source").as("src_b"), col("tok")), Seq("tok"))
          .where(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("exact_inter"))
        pairs.join(unionEst, Seq("src_a", "src_b"))
          .join(rho, Seq("src_a", "src_b"), "left")
          .join(exactI, Seq("src_a", "src_b"), "left")
          .select(col("src_a"), col("src_b"),
            (col("na") + col("nb")).as("sum_exact"),
            col("est_union"),
            expr("(coalesce(rho, 0L) * est_union) div 128").as("est_inter"),
            (col("na") + col("nb") - col("est_union")).as("incl_excl_inter"),
            coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
          .orderBy("src_a", "src_b")
      },
      Some {
        val h = DuckSql.hashLong("tok")
        s"""WITH dt AS (SELECT DISTINCT source, tok FROM (
        |    SELECT source,
        |      unnest(${DuckSql.shingles(DuckSql.toks("text"), 3)}) AS tok
        |    FROM documents)),
        |dh AS (SELECT source, tok, ($h) AS h FROM dt),
        |sk AS (SELECT source, h FROM (
        |    SELECT source, h, row_number() OVER (PARTITION BY source
        |      ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT source, h FROM dh))
        |  WHERE rn <= 128),
        |cnt AS (SELECT source, count(DISTINCT tok) AS exact_n FROM dh
        |  GROUP BY 1),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
        |    a.exact_n AS na, b.exact_n AS nb
        |  FROM cnt a JOIN cnt b ON a.source < b.source),
        |mg AS (SELECT src_a, src_b, h FROM (
        |    SELECT src_a, src_b, h, row_number() OVER (PARTITION BY
        |      src_a, src_b ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT p.src_a, p.src_b, s.h
        |      FROM pairs p JOIN sk s
        |        ON s.source = p.src_a OR s.source = p.src_b))
        |  WHERE rn <= 128),
        |ue AS (SELECT src_a, src_b,
        |    CASE WHEN count(*) < 128 THEN count(*)
        |      ELSE (127 * 4294967296) // max(h) END AS est_union
        |  FROM mg GROUP BY 1, 2),
        |rho AS (SELECT m.src_a, m.src_b, count(*) AS rho
        |  FROM mg m
        |  JOIN sk sa ON sa.source = m.src_a AND sa.h = m.h
        |  JOIN sk sb ON sb.source = m.src_b AND sb.h = m.h
        |  GROUP BY 1, 2),
        |ei AS (SELECT a.source AS src_a, b.source AS src_b,
        |    count(*) AS exact_inter
        |  FROM dt a JOIN dt b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b,
        |  CAST(na + nb AS BIGINT) AS sum_exact,
        |  CAST(est_union AS BIGINT) AS est_union,
        |  CAST((coalesce(rho, 0) * est_union) // 128 AS BIGINT)
        |    AS est_inter,
        |  CAST(na + nb - est_union AS BIGINT) AS incl_excl_inter,
        |  CAST(coalesce(exact_inter, 0) AS BIGINT) AS exact_inter
        |FROM pairs p JOIN ue USING (src_a, src_b)
        |LEFT JOIN rho USING (src_a, src_b)
        |LEFT JOIN ei USING (src_a, src_b)
        |ORDER BY src_a, src_b""".stripMargin
      }))
}
