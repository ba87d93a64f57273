package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup, Sampling, Text}
import org.apache.spark.sql.functions._

/** Round-7 thirty-second batch: the packed-sequence attention-mask
  * plan and the SimHash radius precision/recall curve.
  */
object QueriesRound7af {

  val defs: Seq[QueryDef] = Seq(

    // ---- q404: packed-sequence attention-mask plan ----------------------
    // The third leg of the packing stack (q84 lays docs into
    // budget-sized sequences, q294 masks SFT losses, q374 plans MLM
    // draws): block-diagonal attention for packed training. Each doc
    // spans sequences seq_first..seq_first+n_seqs−1 of its shard; the
    // per-sequence segment length is one interval intersection, and
    // the collator's bill is Σ len² — the allowed attention pairs
    // under block-diagonal masking — against the dense budget². Per
    // shard: sequences, fill ppm, and attention density ppm. All from
    // the q84 running-offset pass; nothing rescans the corpus per
    // sequence.
    QueryDef("q404_attention_mask_plan",
      (s, d) => {
        val budget = 512L
        val packed = Sampling.packSequences(
          documents(s, d).select(col("doc_id"),
            size(Text.tokens(col("text"))).cast("long").as("cost"))
            .where(col("cost") > 0),
          "doc_id", "cost", budget, nShards = 4)
        val segs = packed
          .select(col("shard"), col("offset"), col("cost"),
            explode(sequence(col("seq_first"),
              col("seq_first") + col("n_seqs") - 1)).as("seq"))
          .select(col("shard"), col("seq"),
            (least((col("seq") + 1) * budget, col("offset") + col("cost"))
              - greatest(col("seq") * budget, col("offset"))).as("len"))
        segs.groupBy("shard", "seq")
          .agg(count(lit(1)).as("n_segs"), sum("len").as("fill"),
            sum(col("len") * col("len")).as("pairs"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_seqs"), sum("n_segs").as("n_segments"),
            sum("fill").as("tokens"),
            expr(s"(sum(fill) * 1000000) div (count(1) * $budget)")
              .as("fill_ppm"),
            expr(s"(sum(pairs) * 1000000) div (count(1) * $budget * $budget)")
              .as("attn_density_ppm"))
          .orderBy("shard")
      },
      Some {
        val h = DuckSql.hashLong("doc_id")
        s"""WITH c AS (SELECT doc_id,
        |    len(${DuckSql.toks("text")}) AS cost,
        |    ($h) % 4 AS shard
        |  FROM documents WHERE len(${DuckSql.toks("text")}) > 0),
        |o AS (SELECT shard, cost,
        |    coalesce(sum(cost) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS "offset" FROM c),
        |p AS (SELECT shard, cost, "offset",
        |    CAST("offset" // 512 AS BIGINT) AS s0,
        |    CAST(("offset" + greatest(cost, 1) - 1) // 512 AS BIGINT)
        |      AS s1 FROM o),
        |sg AS (SELECT shard, u.seq,
        |    least((u.seq + 1) * 512, "offset" + cost)
        |      - greatest(u.seq * 512, "offset") AS len
        |  FROM p, unnest(generate_series(s0, s1)) u(seq)),
        |sq AS (SELECT shard, seq, count(*) AS n_segs, sum(len) AS fill,
        |    sum(len * len) AS pairs FROM sg GROUP BY 1, 2)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_seqs,
        |  CAST(sum(n_segs) AS BIGINT) AS n_segments,
        |  CAST(sum(fill) AS BIGINT) AS tokens,
        |  CAST((sum(fill) * 1000000) // (count(*) * 512) AS BIGINT)
        |    AS fill_ppm,
        |  CAST((sum(pairs) * 1000000) // (count(*) * 512 * 512)
        |    AS BIGINT) AS attn_density_ppm
        |FROM sq GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ---- q405: SimHash radius precision/recall curve --------------------
    // The knob q44/q101 leave implicit, measured: ground truth =
    // exact token-set Jaccard ≥ 50% over blocked pairs (same lang +
    // length decile — blocking bounds the pair space, the q262
    // discipline), prediction = 16-bit SimHash Hamming distance ≤ r.
    // ONE pair pass computes both the exact Jaccard and the Hamming
    // distance; the five radius rows are conditional sums over it.
    // The whole evaluation runs on a deterministic md5 QUARTER-sample
    // of docs — within-block pair counts grow quadratically with the
    // corpus, so at scale the curve is measured on a sample, never on
    // everything (the q272 measured-error discipline; the sample is a
    // pure function of doc_id, so the artifact is reproducible). The
    // curve says which radius buys which recall at which precision —
    // the number you set before a web-scale near-dup run.
    QueryDef("q405_simhash_radius_curve",
      (s, d) => Checkpoints.scoped { pin =>
        // both sides of the pair join
        val docs = pin(documents(s, d)
          .where(Sampling.hashLong(concat(col("doc_id").cast("string"),
            lit("#sv"))) % 4 === 0)
          .select(col("doc_id"), col("lang"),
            expr("n_chars div 100").as("lb"),
            array_distinct(Text.tokens(col("text"))).as("ts"),
            Dedup.simhash16(Text.tokens(col("text"))).as("sh")))
        // five radius readouts
        val pairs = pin(docs.as("a")
          .join(docs.as("b"),
            col("a.lang") === col("b.lang") && col("a.lb") === col("b.lb")
              && col("a.doc_id") < col("b.doc_id"))
          .select(
            (size(array_intersect(col("a.ts"), col("b.ts"))) * 2 >=
              size(array_union(col("a.ts"), col("b.ts")))).as("dup"),
            expr("bit_count(CAST(a.sh AS BIGINT) ^ CAST(b.sh AS BIGINT))")
              .cast("long").as("hd")))
        val tot = broadcast(pairs.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup")))
        pairs
          .crossJoin(broadcast(pairs.sparkSession.range(5)
            .select(col("id").as("radius"))))
          .groupBy("radius")
          .agg(sum(when(col("hd") <= col("radius"), 1L).otherwise(0L))
            .as("n_pred"),
            sum(when(col("hd") <= col("radius") && col("dup"), 1L)
              .otherwise(0L)).as("tp"))
          .crossJoin(tot)
          .select(col("radius"), col("n_pairs"), col("n_dup"),
            col("n_pred"), col("tp"),
            expr("CASE WHEN n_pred > 0 THEN (tp * 1000000) div n_pred END")
              .as("precision_ppm"),
            expr("CASE WHEN n_dup > 0 THEN (tp * 1000000) div n_dup END")
              .as("recall_ppm"))
          .orderBy("radius")
      },
      Some {
        val sh = DuckSql.simhash16(DuckSql.toks("text"))
        val hs = DuckSql.hashLong("CAST(doc_id AS VARCHAR) || '#sv'")
        s"""WITH dd AS (SELECT doc_id, lang, n_chars // 100 AS lb,
        |    list_distinct(${DuckSql.toks("text")}) AS ts,
        |    ($sh) AS sh FROM documents WHERE ($hs) % 4 = 0),
        |pr AS (SELECT
        |    2 * len(list_intersect(a.ts, b.ts))
        |      >= len(list_distinct(list_concat(a.ts, b.ts))) AS dup,
        |    bit_count(xor(CAST(a.sh AS BIGINT), CAST(b.sh AS BIGINT)))
        |      AS hd
        |  FROM dd a JOIN dd b ON a.lang = b.lang AND a.lb = b.lb
        |    AND a.doc_id < b.doc_id),
        |tot AS (SELECT count(*) AS n_pairs,
        |    sum(CASE WHEN dup THEN 1 ELSE 0 END) AS n_dup FROM pr),
        |g AS (SELECT CAST(unnest(generate_series(0, 4)) AS BIGINT)
        |  AS radius)
        |SELECT radius, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(n_dup AS BIGINT) AS n_dup,
        |  CAST(sum(CASE WHEN hd <= radius THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pred,
        |  CAST(sum(CASE WHEN hd <= radius AND dup THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tp,
        |  CAST(CASE WHEN sum(CASE WHEN hd <= radius THEN 1 ELSE 0 END)
        |    > 0 THEN (sum(CASE WHEN hd <= radius AND dup THEN 1 ELSE 0
        |    END) * 1000000) // sum(CASE WHEN hd <= radius THEN 1
        |    ELSE 0 END) END AS BIGINT) AS precision_ppm,
        |  CAST(CASE WHEN n_dup > 0 THEN (sum(CASE WHEN hd <= radius
        |    AND dup THEN 1 ELSE 0 END) * 1000000) // n_dup END
        |    AS BIGINT) AS recall_ppm
        |FROM pr, tot, g GROUP BY radius, n_pairs, n_dup
        |ORDER BY radius""".stripMargin
      }))
}
