package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, FixedPoint, Text}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 third batch: the adaptive-thin streaming twin (lane #21),
  * RAG chunking, and integer-exact BM25 — the lexical-retrieval side
  * of the engine's RAG data path.
  */
object QueriesRound8c {

  val defs: Seq[QueryDef] = Seq(

    // ---- q431: STREAMING adaptive thinning (lane #21) --------------------
    // q426's per-key recrawl budget at INGEST time: the q421 pattern
    // applied to the adaptive operator — flatMapGroupsWithState, one
    // long of state per key, the gap carried ON each event (in
    // production it is joined from the policy dim before the stateful
    // stage, so state never stores policy). Hash-matched against the
    // IDENTICAL per-user-gap recursive-CTE oracle as the batch custom
    // operator (q426): two execution models, one verified semantics.
    QueryDef("q431_streaming_adaptive_thin",
      (s, d) => {
        import s.implicits._
        val sch = eventsStreamSchema(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("events.parquet"),
            outputMode = "append",
            transform = st => graft.streaming.Sessions.streamingAdaptiveThin(
              normalizeEventTs(st)
                .where(col("user_id").isNotNull && col("ts").isNotNull)
                .select(col("user_id").as("key"),
                  unix_micros(col("ts")).as("ts_us"),
                  col("event_id").as("seq"),
                  element_at(array(lit(6L * 3600L * 1000000L),
                    lit(12L * 3600L * 1000000L),
                    lit(48L * 3600L * 1000000L)),
                    (col("user_id") % 3 + 1).cast("int")).as("gap_us"))
                .as[graft.streaming.GapEvent]).toDF())
          .select(col("user_id"), col("tus"), col("event_id"))
          .orderBy("user_id", "tus")
      },
      Some("""WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |         CASE user_id % 3 WHEN 0 THEN 21600000000
        |           WHEN 1 THEN 43200000000
        |           ELSE 172800000000 END AS g,
        |         epoch_us(ts)::HUGEINT * 1000000000000 + event_id AS k
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |kept AS (
        |  SELECT e.user_id, e.tus, e.event_id, e.g FROM ev e
        |  JOIN (SELECT user_id, min(k) AS k FROM ev GROUP BY 1) m
        |    ON m.user_id = e.user_id AND m.k = e.k
        |  UNION ALL
        |  SELECT n.user_id, n.tus, n.event_id, n.g FROM (
        |    SELECT e2.user_id, min(e2.k) AS k
        |    FROM kept k0 JOIN ev e2 ON e2.user_id = k0.user_id
        |      AND e2.tus >= k0.tus + k0.g
        |    GROUP BY 1) m
        |  JOIN ev n ON n.user_id = m.user_id AND n.k = m.k)
        |SELECT user_id, tus, event_id FROM kept
        |ORDER BY user_id, tus""".stripMargin)),

    // ---- q432: RAG chunking (overlapping token windows) ------------------
    // The retrieval-prep step every RAG corpus runs: split each
    // document into W=32-token windows at stride S=24 (8-token
    // overlap), one row per chunk with its exact token count and an
    // md5 fingerprint of the joined text — the chunk table a
    // downstream embedder consumes. Chunk count is the closed form
    // max(1, ceil((n-W)/S)+1) (never an iterative scan); the window
    // slice runs map-side per doc, so the whole operator is one
    // explode — no shuffle until the caller aggregates. Short docs
    // (n <= W) yield exactly one whole-doc chunk.
    QueryDef("q432_rag_chunking",
      (s, d) => {
        val W = 32
        val S = 24
        documents(s, d)
          .select(col("doc_id"), Text.tokens(col("text")).as("t"))
          .withColumn("n", size(col("t")).cast("long"))
          .where(col("n") > 0)
          .withColumn("n_chunks",
            expr(s"CASE WHEN n <= $W THEN 1L" +
              s" ELSE (n - $W + $S - 1) div $S + 1 END"))
          .select(col("doc_id"), col("t"), col("n"),
            explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_id"))
          .withColumn("chunk", expr(s"slice(t, CAST(chunk_id * $S + 1 AS INT), $W)"))
          .select(col("doc_id"), col("chunk_id"),
            size(col("chunk")).cast("long").as("n_chunk_toks"),
            substring(md5(concat_ws(" ", col("chunk"))), 1, 8)
              .as("chunk_fp8"))
          .orderBy("doc_id", "chunk_id")
      },
      Some {
        val t = DuckSql.toks("text")
        s"""WITH b AS (SELECT doc_id, $t AS t, len($t) AS n
        |  FROM documents WHERE len($t) > 0),
        |c AS (SELECT doc_id, t, n,
        |    CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 23) // 24 + 1 END
        |      AS n_chunks FROM b),
        |x AS (SELECT doc_id, t, n,
        |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(t[CAST(chunk_id * 24 + 1 AS BIGINT):
        |    CAST(chunk_id * 24 + 32 AS BIGINT)]) AS BIGINT)
        |    AS n_chunk_toks,
        |  substr(md5(array_to_string(t[CAST(chunk_id * 24 + 1 AS BIGINT):
        |    CAST(chunk_id * 24 + 32 AS BIGINT)], ' ')), 1, 8) AS chunk_fp8
        |FROM x ORDER BY doc_id, chunk_id""".stripMargin
      }),

    // ---- q433: integer-exact BM25 retrieval -------------------------------
    // The lexical side of the engine's retrieval story (ANN covers the
    // dense side): Okapi BM25 with k1=1.2, b=0.75 over the corpus,
    // queried with the 20 most frequent tokens (deterministic,
    // data-derived, oracle-mirrored), top-5 docs per term. EVERYTHING
    // is integer: idf = ln((N+1)/(df+0.5)) — always >= ln(1), so the
    // FixedPoint ratio input never dips below 1 — via the table log in
    // micro-nats; the tf saturation term multiplies through by
    // 20·avgdl·Ndoc to clear every fraction, so the score is one
    // integer division: score_micro = idf_micro·44·c·Ntok div
    // (20·c·Ntok + 6·Ntok + 18·dl·Ndoc). No float touches a rank.
    // BIGINT-safe while idf·44·c·Ntok < 2^63 (≈ 10^10 corpus tokens
    // per shard at c ≈ 10³ — shard beyond). Two aggregations + one
    // broadcast join; top-5 windows partition by term (20 partitions).
    QueryDef("q433_bm25_topk",
      (s, d) => Checkpoints.scoped { pin =>
        // tf, dl, df, and the query-term pick
        val tk = pin(documents(s, d)
          .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok")))
        val tf = tk.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        val dl = tk.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val df_ = tf.groupBy("tok").agg(count(lit(1)).as("df"),
          sum("c").as("ctot"))
        val tot = broadcast(dl.agg(count(lit(1)).as("ndoc"),
          sum("dl").as("ntok")))
        val terms = broadcast(df_
          .orderBy(col("ctot").desc, col("tok")).limit(20)
          .select(col("tok"), col("df")))
        val idf = FixedPoint.sparkLnMicroFp20(
          FixedPoint.sparkRatioFp20("(2 * ndoc + 2 - (2 * df + 1))",
            "(2 * df + 1)"))
        tf.join(terms, Seq("tok"))
          .join(dl, Seq("doc_id"))
          .crossJoin(tot)
          .selectExpr("tok", "doc_id",
            s"(($idf) * 44 * c * ntok) div" +
              " (20 * c * ntok + 6 * ntok + 18 * dl * ndoc) AS score_micro")
          .withColumn("rank", row_number().over(Window.partitionBy("tok")
            .orderBy(col("score_micro").desc, col("doc_id"))))
          .where(col("rank") <= 5)
          .select(col("tok").as("term"), col("rank"), col("doc_id"),
            col("score_micro"))
          .orderBy("term", "rank")
      },
      Some {
        val idf = FixedPoint.duckLnMicroFp20(
          FixedPoint.duckRatioFp20("(2 * ndoc + 2 - (2 * df + 1))",
            "(2 * df + 1)"))
        s"""WITH tk AS (SELECT doc_id, unnest(${DuckSql.toks("text")}) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk
        |  GROUP BY 1),
        |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df,
        |    sum(c) AS ctot FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS ndoc,
        |    CAST(sum(dl) AS BIGINT) AS ntok FROM dl),
        |terms AS (SELECT tok, df FROM dfq
        |  ORDER BY ctot DESC, tok LIMIT 20),
        |sc AS (SELECT tok, doc_id,
        |    (($idf) * 44 * c * ntok) //
        |      (20 * c * ntok + 6 * ntok + 18 * dl * ndoc) AS score_micro
        |  FROM tf JOIN terms USING (tok) JOIN dl USING (doc_id), tot),
        |r AS (SELECT *, row_number() OVER (PARTITION BY tok
        |    ORDER BY score_micro DESC, doc_id) AS rank FROM sc)
        |SELECT tok AS term, CAST(rank AS BIGINT) AS rank, doc_id,
        |  CAST(score_micro AS BIGINT) AS score_micro
        |FROM r WHERE rank <= 5 ORDER BY term, rank""".stripMargin
      }))
}
