package graft.queries

import graft.Tables._
import graft.functions.GraftFunctions
import graft.ops.Sampling
import org.apache.spark.sql.functions._

/** Round-9 final batch: the three custom TypedImperativeAggregates
  * co-resident in ONE Aggregate operator.
  */
object QueriesRound9k {

  val defs: Seq[QueryDef] = Seq(

    // ---- q512: custom-aggregate co-residence -------------------------------
    // KMV, HLL, and top-k in the SAME groupBy — the integration
    // surface the per-lane tests cannot see: multiple
    // TypedImperativeAggregates share one aggregation buffer via
    // mutableAggBufferOffset/inputAggBufferOffset, and an offset bug
    // corrupts a NEIGHBORING aggregate, not the one with the bug.
    // Each readout is individually oracle-replayed (KMV k-th minimum,
    // the HLL register law, the row_number window), so the hash gate
    // pins all three sketches computed side by side, plus a built-in
    // (count) interleaved between them.
    QueryDef("q512_aggregate_coresidence",
      (s, d) => {
        // deterministic pre-dedup: one row per (source, hash), carrying
        // the MIN-doc_id owner (arbitrary-survivor dropDuplicates would
        // make the top-k input nondeterministic); a doc appears once
        // per distinct hash, which the top-k's set state collapses
        // (identical (n_chars, doc_id) pairs dedup by construction)
        val tf = documents(s, d)
          .select(col("source"), col("doc_id"), col("n_chars"),
            explode(graft.ops.Text.tokens(col("text"))).as("tok"))
          .select(col("source"), col("doc_id"), col("n_chars"),
            Sampling.hashLong(col("tok")).as("h"))
          .groupBy("source", "h")
          .agg(min(struct(col("doc_id"), col("n_chars"))).as("m"))
          .select(col("source"), col("h"), col("m.doc_id").as("doc_id"),
            col("m.n_chars").as("n_chars"))
        tf.groupBy("source")
          .agg(expr("graft_kmv_distinct(h, 64, 32)").as("kmv_est"),
            count(lit(1)).as("exact_hashes"),
            GraftFunctions.hllDistinct(col("h")).as("hll_est"),
            GraftFunctions.topK(col("n_chars"), col("doc_id"), 3)
              .as("top"))
          .select(col("source"), col("kmv_est"), col("exact_hashes"),
            col("hll_est"),
            expr("transform(top, t -> t.id)").as("top_doc_ids"),
            expr("transform(top, t -> t.key)").as("top_n_chars"))
          .select(col("source"), col("kmv_est"), col("exact_hashes"),
            col("hll_est"),
            concat_ws(",", col("top_doc_ids")).as("top_doc_ids"),
            concat_ws(",", col("top_n_chars")).as("top_n_chars"))
          .orderBy("source")
      },
      Some {
        val h = DuckSql.hashLong("tok")
        s"""WITH t AS (SELECT source, doc_id, n_chars,
        |    unnest(${DuckSql.toks("text")}) AS tok FROM documents),
        |dh AS (SELECT source, $h AS h, min(doc_id) AS doc_id,
        |    min_by(n_chars, doc_id) AS n_chars
        |  FROM t GROUP BY 1, 2),
        |kmv AS (SELECT source,
        |    CASE WHEN nd < 64 THEN CAST(nd AS BIGINT)
        |      ELSE CAST(floor(63.0 / (CAST(h AS DOUBLE) / 4294967296.0))
        |        AS BIGINT) END AS kmv_est,
        |    CAST(nd AS BIGINT) AS exact_hashes
        |  FROM (SELECT source, h,
        |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
        |      count(*) OVER (PARTITION BY source) AS nd FROM dh)
        |  WHERE rn = CASE WHEN nd < 64 THEN nd ELSE 64 END),
        |rg AS (SELECT source, h // 67108864 AS bucket,
        |    CASE WHEN h % 67108864 = 0 THEN 27
        |      ELSE 27 - length(format('{:b}', h % 67108864)) END AS rank
        |  FROM dh),
        |regs AS (SELECT source, bucket, max(rank) AS m FROM rg
        |  GROUP BY 1, 2),
        |sk AS (SELECT source, count(*) AS n_present,
        |    sum(1::BIGINT << CAST(40 - m AS INTEGER)) AS dp
        |  FROM regs GROUP BY 1),
        |s2 AS (SELECT source, 64 - n_present AS v_zero,
        |    dp + (64 - n_present) * ${graft.ops.Sketches.DenomScale} AS denom
        |  FROM sk),
        |s3 AS (SELECT source, v_zero,
        |    (${graft.ops.Sketches.AlphaM2Milli} * ${graft.ops.Sketches.DenomScale}) //
        |      (1000 * denom) AS est_raw FROM s2),
        |hll AS (SELECT source,
        |    CASE WHEN v_zero > 0 AND est_raw <= 160
        |      THEN (64 * ${graft.ops.FixedPoint.duckLnMicroFp20(
          graft.ops.FixedPoint.duckRatioFp20("(64 - v_zero)", "v_zero"))})
        |        // 1000000
        |      ELSE est_raw END AS hll_est
        |  FROM s3),
        |tk AS (SELECT source,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn)
        |      AS top_doc_ids,
        |    string_agg(CAST(n_chars AS VARCHAR), ',' ORDER BY rn)
        |      AS top_n_chars
        |  FROM (SELECT source, doc_id, n_chars,
        |      row_number() OVER (PARTITION BY source
        |        ORDER BY n_chars DESC, doc_id) AS rn
        |    FROM (SELECT DISTINCT source, doc_id, n_chars FROM dh))
        |  WHERE rn <= 3 GROUP BY source)
        |SELECT kmv.source, kmv.kmv_est, kmv.exact_hashes,
        |  CAST(hll.hll_est AS BIGINT) AS hll_est,
        |  tk.top_doc_ids, tk.top_n_chars
        |FROM kmv JOIN hll USING (source) JOIN tk USING (source)
        |ORDER BY kmv.source""".stripMargin
      })
  )
}
