package graft.queries

import graft.Tables._
import graft.ops.{Sampling, Text}
import org.apache.spark.sql.functions._

/** Round-7 twelfth batch: weighted priority sampling (the integer
  * weighted-reservoir), a consistent-hash ring with the measured
  * resharding cost, Boolean inverted-index retrieval (AND/NOT over
  * postings), and integer-exact unigram surprisal scoring (the
  * log-free LM-quality gate).
  */
object QueriesRound7l {

  val defs: Seq[QueryDef] = Seq(

    // ---- q333: weighted priority sampling ------------------------------
    // Duffield–Lund–Thorup priority sampling in PURE INTEGERS: each
    // doc draws u = hash+1 ∈ [1, 2³²] and gets priority
    // w·2³² div u (the integer twin of w/u — same top-k as the
    // classical u^(1/w)-free formulation for weighted sampling
    // without replacement); the sample is the top-k by (priority,
    // id). Deterministic: any engine, any partitioning, any rerun
    // draws the same sample. One narrow map + TakeOrderedAndProject —
    // no global sort, no RNG state. The estimator's threshold τ =
    // (k+1)-th priority is what a Horvitz–Thompson reweighting would
    // use; here the artifact is the sample itself.
    QueryDef("q333_priority_sampling",
      (s, d) => documents(s, d)
        .select(col("doc_id"), col("n_chars").as("w"),
          (Sampling.hashLong(concat(col("doc_id"), lit("#pri"))) + 1)
            .as("__u"))
        .select(col("doc_id"), col("w"),
          expr("(w * 4294967296L) div __u").as("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(100),
      Some(s"""SELECT doc_id, n_chars AS w,
        |  CAST((n_chars * 4294967296)
        |    // (${DuckSql.hashLong("doc_id || '#pri'")} + 1) AS BIGINT)
        |    AS priority
        |FROM documents
        |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin)),

    // ---- q334: consistent-hash ring + resharding cost ------------------
    // The elastic-sharding answer: 32 virtual nodes per shard on a
    // 2³² md5 ring, each key owned by the first vnode clockwise
    // (min of (vpos − kpos) mod 2³² — one argmin over a BROADCAST
    // ≤192-row vnode frame, a bounded probe, never key×key). Computed
    // TWICE — 5 shards, then 6 — the per-shard before/after counts
    // and the keys that MOVED IN measure the resharding cost
    // directly: consistent hashing moves ≈ 1/(n+1) of the keys, a
    // rendezvous-free remap every modulo scheme fails (mod moves
    // ~all). Spec pins conservation + the ≈1/6 moved mass band.
    QueryDef("q334_consistent_hash_ring",
      (s, d) => {
        def vnodes(n: Int) = {
          val shards = s.range(0, n).select(
            concat(lit("n"), col("id")).as("shard"))
          broadcast(shards.crossJoin(s.range(0, 32)
              .select(col("id").as("__v")))
            .select(col("shard"), Sampling.hashLong(
              concat(col("shard"), lit("#"), col("__v"))).as("__vpos")))
        }
        def assign(keys: org.apache.spark.sql.DataFrame, n: Int,
                   out: String) =
          keys.crossJoin(vnodes(n))
            .select(col("doc_id"), col("__kpos"),
              struct(expr("pmod(__vpos - __kpos, 4294967296L)")
                .as("__d"), col("__vpos"), col("shard")).as("__c"))
            .groupBy("doc_id", "__kpos")
            .agg(min("__c").as("__m"))
            .select(col("doc_id"), col("__kpos"),
              col("__m.shard").as(out))
        val keys = documents(s, d)
          .select(col("doc_id"), Sampling.hashLong(col("doc_id"))
            .as("__kpos"))
        val a5 = assign(keys, 5, "shard_before")
        val a6 = assign(keys, 6, "shard_after")
        a5.join(a6, Seq("doc_id", "__kpos"))
          .groupBy(col("shard_after").as("shard"))
          .agg(sum(when(col("shard_before") === col("shard_after"), 1L)
              .otherwise(0L)).as("__stay"),
            count(lit(1)).as("n_after"),
            sum(when(col("shard_before") =!= col("shard_after"), 1L)
              .otherwise(0L)).as("moved_in"))
          .join(a5.groupBy(col("shard_before").as("shard"))
            .agg(count(lit(1)).as("n_before")), Seq("shard"), "full")
          .select(col("shard"), coalesce(col("n_before"), lit(0L))
              .as("n_before"), coalesce(col("n_after"), lit(0L))
              .as("n_after"),
            coalesce(col("moved_in"), lit(0L)).as("moved_in"))
          .orderBy("shard")
      },
      Some {
        def vn(n: Int) =
          s"""SELECT 'n' || s AS shard, ${DuckSql.hexLong(
            "md5('n' || s || '#' || v)")} AS vpos
          |  FROM (SELECT unnest(generate_series(0, ${n - 1})) AS s),
          |       (SELECT unnest(generate_series(0, 31)) AS v)"""
        def asg(vt: String, out: String) =
          s"""SELECT doc_id, kpos, shard AS $out FROM (
          |  SELECT k.doc_id, k.kpos, $vt.shard,
          |    row_number() OVER (PARTITION BY k.doc_id
          |      ORDER BY (($vt.vpos - k.kpos) % 4294967296
          |        + 4294967296) % 4294967296, $vt.vpos, $vt.shard) AS rn
          |  FROM k, $vt) WHERE rn = 1"""
        s"""WITH k AS (SELECT doc_id,
        |    ${DuckSql.hashLong("doc_id")} AS kpos FROM documents),
        |v5 AS (${vn(5)}),
        |v6 AS (${vn(6)}),
        |a5 AS (${asg("v5", "shard_before")}),
        |a6 AS (${asg("v6", "shard_after")}),
        |j AS (SELECT a5.doc_id, a5.shard_before, a6.shard_after
        |  FROM a5 JOIN a6 ON a5.doc_id = a6.doc_id),
        |aft AS (SELECT shard_after AS shard, count(*) AS n_after,
        |    sum(CASE WHEN shard_before <> shard_after THEN 1 ELSE 0 END)
        |      AS moved_in
        |  FROM j GROUP BY 1),
        |bef AS (SELECT shard_before AS shard, count(*) AS n_before
        |  FROM j GROUP BY 1)
        |SELECT coalesce(aft.shard, bef.shard) AS shard,
        |  CAST(coalesce(bef.n_before, 0) AS BIGINT) AS n_before,
        |  CAST(coalesce(aft.n_after, 0) AS BIGINT) AS n_after,
        |  CAST(coalesce(aft.moved_in, 0) AS BIGINT) AS moved_in
        |FROM aft FULL JOIN bef ON aft.shard = bef.shard
        |ORDER BY shard""".stripMargin
      }),

    // ---- q335: Boolean inverted-index retrieval ------------------------
    // The retrieval primitive under q206's BM25 and q257's phrases:
    // docs matching ("join" AND "hash" AND NOT "slow") over DISTINCT
    // (doc, term) postings, with the postings stream TERM-FILTERED
    // BEFORE the shuffle (an inverted index reads three posting
    // lists, not the corpus). AND = equi-join on doc, NOT = anti-join
    // — never a scan-side OR filter that defeats the index shape.
    // Match tf of both positive terms rides along as the ranking
    // hook.
    QueryDef("q335_boolean_retrieval",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), explode(Text.tokens(col("text")))
            .as("tok"))
          .where(col("tok").isin("join", "hash", "slow"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        def posting(t: String) = toks.where(col("tok") === t)
          .select(col("doc_id"), col("tf").as(s"tf_$t"))
        posting("join")
          .join(posting("hash"), Seq("doc_id"))
          .join(posting("slow").select("doc_id"), Seq("doc_id"),
            "left_anti")
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest(${DuckSql.toks("text")})
        |      AS tok FROM documents),
        |p AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM t WHERE tok IN ('join', 'hash', 'slow') GROUP BY 1, 2)
        |SELECT a.doc_id, a.tf AS tf_join, b.tf AS tf_hash
        |FROM p a JOIN p b ON a.doc_id = b.doc_id
        |  AND a.tok = 'join' AND b.tok = 'hash'
        |WHERE NOT EXISTS (SELECT 1 FROM p n
        |  WHERE n.doc_id = a.doc_id AND n.tok = 'slow')
        |ORDER BY a.doc_id""".stripMargin)),

    // ---- q336: integer unigram surprisal score -------------------------
    // The LM-quality gate WITHOUT floats: per-token surprisal
    // ⌊log₂(N/c)⌋ bits computed exactly as bitlength(N div c) − 1
    // (binary-string length — both engines agree on every integer),
    // summed per doc and normalized to milli-bits/token. Rare-token
    // soup scores high, boilerplate low — the cheap proxy for
    // KenLM-style perplexity filters. One token shuffle to the vocab
    // frame, one doc-keyed agg; the corpus total rides a broadcast.
    QueryDef("q336_surprisal_score",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), explode(Text.tokens(col("text")))
            .as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("__c"))
        val tot = broadcast(vocab.agg(sum("__c").as("__N")))
        toks.join(vocab, Seq("tok"))
          .crossJoin(tot)
          .select(col("doc_id"),
            (length(bin(expr("__N div __c"))) - 1).cast("long")
              .as("__bits"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum("__bits").as("surprisal_bits"))
          .select(col("doc_id"), col("n_tokens"), col("surprisal_bits"),
            expr("(surprisal_bits * 1000) div n_tokens")
              .as("milli_bits_per_token"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest(${DuckSql.toks("text")})
        |      AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
        |n AS (SELECT sum(c) AS N FROM v),
        |b AS (SELECT t.doc_id,
        |    length(format('{:b}', CAST(n.N // v.c AS BIGINT))) - 1
        |      AS bits
        |  FROM t JOIN v USING (tok), n)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(bits) AS BIGINT) AS surprisal_bits,
        |  CAST((sum(bits) * 1000) // count(*) AS BIGINT)
        |    AS milli_bits_per_token
        |FROM b GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ---- q337: STREAMING surprisal scoring -----------------------------
    // q336's quality gate AT INGEST: documents arrive on a genuine
    // readStream, tokenize statelessly, enrich against the STATIC
    // vocabulary (the stream-static broadcast form — the vocab is last
    // epoch's artifact; no state store holds it), and fold per-doc
    // bits in a streaming aggregation. The final table hash-matches
    // the batch oracle — pinning batch/stream semantic identity for
    // the scoring lane (q284's discipline applied to the LM-quality
    // stage). 4 shuffle partitions: state-store count, not row count,
    // dominates bounded-run cost.
    QueryDef("q337_streaming_surprisal",
      (s, d) => {
        val batch = documents(s, d)
        val vocab = batch
          .select(explode(Text.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("__c"))
        val tot = vocab.agg(sum("__c").as("__N"))
          .withColumn("__one", lit(1))
        graft.streaming.Sessions.runStreamToBatch(s, d, batch.schema,
            globFilter = Some("documents.parquet"),
            transform = st => st
              .select(col("doc_id"), explode(Text.tokens(col("text")))
                .as("tok"))
              .join(broadcast(vocab), Seq("tok"))
              .withColumn("__one", lit(1))
              .join(broadcast(tot), Seq("__one"))
              .select(col("doc_id"),
                (length(bin(expr("__N div __c"))) - 1).cast("long")
                  .as("__bits"))
              .groupBy("doc_id")
              .agg(count(lit(1)).as("n_tokens"),
                sum("__bits").as("surprisal_bits")))
          .select(col("doc_id"), col("n_tokens"), col("surprisal_bits"),
            expr("(surprisal_bits * 1000) div n_tokens")
              .as("milli_bits_per_token"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest(${DuckSql.toks("text")})
        |      AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
        |n AS (SELECT sum(c) AS N FROM v),
        |b AS (SELECT t.doc_id,
        |    length(format('{:b}', CAST(n.N // v.c AS BIGINT))) - 1
        |      AS bits
        |  FROM t JOIN v USING (tok), n)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(bits) AS BIGINT) AS surprisal_bits,
        |  CAST((sum(bits) * 1000) // count(*) AS BIGINT)
        |    AS milli_bits_per_token
        |FROM b GROUP BY 1 ORDER BY doc_id""".stripMargin)))
}
