package graft.queries

import graft.Tables._
import graft.ops.{Sampling, Sketches, Text}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-8 twelfth batch: the A/A embedding noise floor (q466),
  * streaming HyperLogLog register maintenance — lane #25 (q467),
  * Benjamini–Hochberg FDR control over planted hypotheses (q468),
  * F1-optimal threshold selection from the score histogram (q469),
  * and Yule's K vocabulary-richness scoring (q470).
  */
object QueriesRound8l {

  val defs: Seq[QueryDef] = Seq(

    // ---- q466: A/A embedding noise floor --------------------------------
    // Before trusting any centroid-drift alarm (q361's class
    // similarity, schema/behavior drift), measure the NOISE FLOOR: an
    // A/A split (md5-hash halves of the SAME distribution) should
    // show near-zero centroid distance — whatever it does show is the
    // alarm threshold's denominator. Per label: both half-centroids
    // as exact integer sum-vectors, squared distance of the
    // mean-difference cross-multiplied (n_b·S_a − n_a·S_b, no
    // division per dimension), reported as dist²·10⁶ scaled by the
    // counts. One corpus scan, O(labels) frame.
    QueryDef("q466_aa_noise_floor",
      (s, d) => {
        val qv = transform(col("embedding"),
          x => round(x.cast("double") * 1000, 0).cast("long"))
        val half = (Sampling.hashLong(concat(lit("aa:"),
          col("vec_id").cast("string"))) % 2).as("half")
        val sums = embeddings(s, d)
          .select(col("label"), half, qv.as("v"))
          .groupBy("label", "half")
          .agg(count(lit(1)).as("n"),
            array((0 until 64).map(i =>
              sum(element_at(col("v"), i + 1))): _*).as("sv"))
        val a = sums.where(col("half") === 0)
          .select(col("label"), col("n").as("n_a"), col("sv").as("sa"))
        val b = sums.where(col("half") === 1)
          .select(col("label"), col("n").as("n_b"), col("sv").as("sb"))
        // dist^2 of mean difference, exact: sum_i (nb*sa_i - na*sb_i)^2
        // reported in micro units of (na*nb)^2 to stay integral.
        // OVERFLOW BOUND (the FixedPoint posture): each |component sum|
        // is <= n * 1000 (milli-unit embeddings in [-1, 1]), so a term
        // is <= (2000 * n_a * n_b)^2 and the 64-dim BIGINT sum holds
        // while n_a * n_b < ~6e5^2 — i.e. up to ~1.2M vectors per label.
        // Beyond that, lift the zip_with arithmetic to DECIMAL(38,0)
        // (the q455 ks_ppm treatment); at that corpus size the A/A
        // readout would be sharded per label group anyway.
        a.join(b, "label")
          .withColumn("__d2", aggregate(
            zip_with(col("sa"), col("sb"),
              (x, y) => (col("n_b") * x - col("n_a") * y) *
                (col("n_b") * x - col("n_a") * y)),
            lit(0L), (acc, x) => acc + x))
          .select(col("label"), col("n_a"), col("n_b"),
            col("__d2").as("d2_scaled"),
            expr("__d2 div (n_a * n_a * n_b * n_b)").as("d2_mean_units"))
          .orderBy("label")
      },
      Some {
        val h = DuckSql.hashLong("'aa:' || CAST(vec_id AS VARCHAR)")
        s"""WITH e AS (SELECT label, $h % 2 AS half,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))
        |      AS v
        |  FROM embeddings),
        |cnt AS (SELECT label, half, CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |ed AS (SELECT label, half, i AS dim, v[i] AS vd
        |  FROM e, generate_series(1, 64) AS t(i)),
        |sums AS (SELECT label, half, dim, CAST(sum(vd) AS BIGINT) AS sd
        |  FROM ed GROUP BY 1, 2, 3),
        |a AS (SELECT s.label, s.dim, s.sd AS sa, c.n AS n_a
        |  FROM sums s JOIN cnt c ON s.label = c.label
        |    AND s.half = 0 AND c.half = 0),
        |b AS (SELECT s.label, s.dim, s.sd AS sb, c.n AS n_b
        |  FROM sums s JOIN cnt c ON s.label = c.label
        |    AND s.half = 1 AND c.half = 1),
        |j AS (SELECT a.label, max(a.n_a) AS n_a, max(b.n_b) AS n_b,
        |    CAST(sum((b.n_b * a.sa - a.n_a * b.sb) *
        |      (b.n_b * a.sa - a.n_a * b.sb)) AS BIGINT) AS d2
        |  FROM a JOIN b ON a.label = b.label AND a.dim = b.dim
        |  GROUP BY a.label)
        |SELECT label, n_a, n_b, d2 AS d2_scaled,
        |  CAST(d2 // (n_a * n_a * n_b * n_b) AS BIGINT) AS d2_mean_units
        |FROM j ORDER BY label""".stripMargin
      }),

    // ---- q467: STREAMING HLL register maintenance (lane #25) ------------
    // The incremental half of q447's merge law, exercised at ingest:
    // HLL registers are a MAX fold, so a streaming aggregation
    // maintains them exactly — tokens arrive on a readStream, the
    // (source, bucket) max-agg holds 6 bits per register of state,
    // and the estimate is finished batch-side from the streamed
    // register table (one O(sources × 64) frame). Hash-matched to the
    // same register/estimate law as the batch sketch — the
    // "maintain the sketch, never re-scan the corpus" posture proven
    // in the execution model that actually does it.
    QueryDef("q467_streaming_hll",
      (s, d) => {
        val regs = graft.streaming.Sessions.runStreamToBatch(s, d,
          documents(s, d).schema,
          globFilter = Some("documents.parquet"),
          transform = st => st
            .select(col("source"), explode(Text.tokens(col("text")))
              .as("__t"))
            .select(col("source"), Sampling.hashLong(col("__t")).as("__h"))
            .select(col("source"), expr("__h div 67108864").as("bucket"),
              expr("__h % 67108864").as("__rest"))
            .withColumn("rank", when(col("__rest") === 0, lit(27L))
              .otherwise(lit(27L) - length(bin(col("__rest"))).cast("long")))
            .groupBy("source", "bucket").agg(max("rank").as("m")))
        regs.groupBy("source")
          .agg(count(lit(1)).as("n_present"),
            sum(expr("shiftleft(1L, CAST(40 - m AS INT))")).as("__dp"))
          .withColumn("v_zero", lit(64L) - col("n_present"))
          .withColumn("est_raw", expr(
            s"(${Sketches.AlphaM2Milli} * ${Sketches.DenomScale}) div " +
              s"(1000 * (__dp + v_zero * ${Sketches.DenomScale}))"))
          .select(col("source"), col("n_present"), col("v_zero"),
            col("est_raw"))
          .orderBy("source")
      },
      Some {
        val h = DuckSql.hashLong("tok")
        s"""WITH t AS (SELECT source, unnest(${DuckSql.toks("text")}) AS tok
        |  FROM documents),
        |rg AS (SELECT source, h // 67108864 AS bucket,
        |    CASE WHEN h % 67108864 = 0 THEN 27
        |      ELSE 27 - length(format('{:b}', h % 67108864)) END AS rank
        |  FROM (SELECT source, $h AS h FROM t)),
        |regs AS (SELECT source, bucket, max(rank) AS m FROM rg
        |  GROUP BY 1, 2),
        |sk AS (SELECT source, CAST(count(*) AS BIGINT) AS n_present,
        |    sum(1::BIGINT << CAST(40 - m AS INTEGER)) AS dp
        |  FROM regs GROUP BY 1)
        |SELECT source, n_present,
        |  CAST(64 - n_present AS BIGINT) AS v_zero,
        |  CAST((${Sketches.AlphaM2Milli} * ${Sketches.DenomScale}) //
        |    (1000 * (dp + (64 - n_present) * ${Sketches.DenomScale}))
        |    AS BIGINT) AS est_raw
        |FROM sk ORDER BY source""".stripMargin
      }),

    // ---- q468: Benjamini–Hochberg FDR control ----------------------------
    // The multiple-testing gate next to q411's single McNemar: m
    // hypotheses (one per source), p-values in exact per-mille units —
    // planted so four sources carry real signals (tiny p) and the
    // rest draw uniform from md5. BH: sort ascending, reject all
    // hypotheses up to the LARGEST k with p_(k) ≤ k·α/m — the
    // step-up rule as one rank window + one suffix-max flag over the
    // O(m) frame, the decision in cross-multiplied integers
    // (p_k·m·1000 ≤ k·α_millis·1000 with α = 0.05). The readout every
    // drift dashboard needs before paging on 1-of-200 "significant"
    // cells.
    QueryDef("q468_bh_fdr",
      (s, d) => {
        val p = when(
          col("source").isin("src0", "src5", "src10", "src15"),
          Sampling.hashLong(concat(lit("bh:"), col("source"))) % 10 + 1)
          .otherwise(
            Sampling.hashLong(concat(lit("bh:"), col("source"))) % 1000 + 1)
        val hyp = documents(s, d).select(col("source")).distinct()
          .select(col("source"), p.as("p_millis"))
        val m = hyp.count() // O(sources); bounds the window below
        val wr = Window.orderBy(col("p_millis"), col("source"))
        val flagged = hyp
          .withColumn("k", row_number().over(wr).cast("long"))
          .withColumn("__le",
            (col("p_millis") * m * 20 <= col("k") * 1000).cast("long"))
          .withColumn("__anyAbove", max(when(col("__le") === 1, col("k")))
            .over(Window.partitionBy()))
        flagged
          .select(col("source"), col("p_millis"), col("k"),
            (col("k") <= coalesce(col("__anyAbove"), lit(0L)))
              .as("rejected"))
          .orderBy("k")
      },
      Some {
        val h = DuckSql.hashLong("'bh:' || source")
        s"""WITH hyp AS (SELECT source,
        |    CASE WHEN source IN ('src0', 'src5', 'src10', 'src15')
        |      THEN $h % 10 + 1 ELSE $h % 1000 + 1 END AS p_millis
        |  FROM (SELECT DISTINCT source FROM documents)),
        |m AS (SELECT count(*) AS m FROM hyp),
        |rk AS (SELECT source, p_millis,
        |    CAST(row_number() OVER (ORDER BY p_millis, source) AS BIGINT)
        |      AS k
        |  FROM hyp),
        |fl AS (SELECT rk.*, CASE WHEN p_millis * m.m * 20 <= k * 1000
        |    THEN 1 ELSE 0 END AS le FROM rk, m),
        |mx AS (SELECT max(CASE WHEN le = 1 THEN k END) AS kmax FROM fl)
        |SELECT source, CAST(p_millis AS BIGINT) AS p_millis, k,
        |  k <= coalesce(mx.kmax, 0) AS rejected
        |FROM fl, mx ORDER BY k""".stripMargin
      }),

    // ---- q469: F1-optimal threshold selection ----------------------------
    // Closing the trained-filter loop (q449 trains, q451 serves):
    // WHERE to cut the score is itself a data decision. Over the
    // md5-scored calibrated classifier (q308's construction), every
    // candidate threshold's TP/FP/FN comes from ONE cumulative pass
    // over the score histogram (the q332/q384 value-histogram
    // discipline — the corpus is never rescanned per candidate), F1
    // compared across thresholds by cross-multiplied integers
    // (2TP·D' vs 2TP'·D), winner by the numeric-argmax key. Output:
    // the chosen threshold and its exact confusion counts.
    QueryDef("q469_f1_threshold",
      (s, d) => {
        val score = Sampling.hashLong(
          concat(col("doc_id").cast("string"), lit("#score"))) % 1000
        val hist = documents(s, d)
          .select(col("doc_id"), score.as("score"))
          .withColumn("__y", (Sampling.hashLong(
            concat(col("doc_id").cast("string"), lit("#label"))) % 1000
            < col("score")).cast("long"))
          .groupBy("score")
          .agg(count(lit(1)).as("n"), sum("__y").as("pos"))
        val wc = Window.orderBy(col("score").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val scored = hist
          .withColumn("tp", sum("pos").over(wc))
          .withColumn("pred_pos", sum("n").over(wc))
          .withColumn("all_pos", expr("sum(pos) OVER ()"))
          // predict positive when score >= threshold; F1 =
          // 2TP / (pred_pos + all_pos)
          .select(col("score").as("threshold"), col("tp"),
            (col("pred_pos") - col("tp")).as("fp"),
            (col("all_pos") - col("tp")).as("fn"),
            col("pred_pos"), col("all_pos"))
        // numeric argmax: maximize 2tp/(pred_pos+all_pos) -> compare
        // cross-multiplied; key = f1_ppm then threshold for ties
        scored
          .withColumn("f1_ppm",
            expr("(2 * tp * 1000000) div (pred_pos + all_pos)"))
          .orderBy(col("f1_ppm").desc, col("threshold").asc)
          .limit(1)
      },
      Some {
        val sc = DuckSql.hashLong("CAST(doc_id AS VARCHAR) || '#score'")
        val lb = DuckSql.hashLong("CAST(doc_id AS VARCHAR) || '#label'")
        s"""WITH sl AS (SELECT doc_id, $sc % 1000 AS score,
        |    CASE WHEN $lb % 1000 < $sc % 1000 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |h AS (SELECT score, count(*) AS n, sum(y) AS pos FROM sl
        |  GROUP BY 1),
        |c AS (SELECT score AS threshold,
        |    sum(pos) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |    sum(n) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS pred_pos,
        |    sum(pos) OVER () AS all_pos
        |  FROM h)
        |SELECT CAST(threshold AS BIGINT) AS threshold,
        |  CAST(tp AS BIGINT) AS tp,
        |  CAST(pred_pos - tp AS BIGINT) AS fp,
        |  CAST(all_pos - tp AS BIGINT) AS fn,
        |  CAST(pred_pos AS BIGINT) AS pred_pos,
        |  CAST(all_pos AS BIGINT) AS all_pos,
        |  CAST((2 * tp * 1000000) // (pred_pos + all_pos) AS BIGINT)
        |    AS f1_ppm
        |FROM c ORDER BY f1_ppm DESC, threshold ASC LIMIT 1""".stripMargin
      }),

    // ---- q470: Yule's K vocabulary richness -------------------------------
    // The classic lexical-diversity statistic that, unlike type-token
    // ratio, is length-invariant: K = 10⁴·(Σc² − N)/N² per document —
    // repetitive spam scores high, rich text low. Entirely integer
    // (counts and squares), scaled to micro for the hash gate; one
    // token shuffle to per-(doc, token) counts, one per-doc fold.
    // Complements q132's entropy and q301's readability in the
    // quality-signal family.
    QueryDef("q470_yules_k",
      (s, d) => {
        val counts = documents(s, d)
          .select(col("doc_id"), col("source"),
            explode(Text.tokens(col("text"))).as("__t"))
          .groupBy("doc_id", "source", "__t")
          .agg(count(lit(1)).as("c"))
        counts.groupBy("doc_id", "source")
          .agg(sum("c").as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(col("c") * col("c")).as("__m2"))
          .where(col("n_tokens") > 0)
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("n_types"),
            expr("((__m2 - n_tokens) * 10000000000) div " +
              "(n_tokens * n_tokens)").as("yules_k_micro"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
        |    unnest(${DuckSql.toks("text")}) AS tok FROM documents),
        |c AS (SELECT doc_id, source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2, 3),
        |a AS (SELECT doc_id, source,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(c * c) AS BIGINT) AS m2
        |  FROM c GROUP BY 1, 2)
        |SELECT doc_id, source, n_tokens, n_types,
        |  CAST(((m2 - n_tokens) * 10000000000) //
        |    (n_tokens * n_tokens) AS BIGINT) AS yules_k_micro
        |FROM a WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin))
  )
}
