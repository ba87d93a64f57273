package graft.queries

import graft.ops.{Dedup, Relational, Sampling, Text}
import graft.Tables._
import org.apache.spark.sql.functions._

/** Round-6 third batch: the remaining pipeline surfaces a 100 TB
  * curation stack runs that the engine did not yet oracle —
  * stream-static enrichment (the dim-lookup form of streaming),
  * linear-classifier inference (model-based quality filtering),
  * mergeable MinHash corpus sketches (incremental dedup partials),
  * Pareto-frontier curation (skyline), and tokenizer OOV coverage.
  * All integer-exact or md5-deterministic, each replayed in DuckDB.
  */
object QueriesRound6c {

  private val Dim = 64     // embeddings.parquet vector width
  private val Classes = 4  // linear-probe class count (q201)

  val defs: Seq[QueryDef] = Seq(

    // ---- q200: stream-static enrichment join -------------------------
    // The third streaming join form (after stream-stream inner q143 and
    // left-outer q148): an unbounded event stream enriched against a
    // BATCH dimension table. Structured Streaming plans the static side
    // as an ordinary broadcast — no state store holds dim rows, so the
    // lookup costs the same as in batch and the dim can be swapped
    // between micro-batches (slowly-changing enrichment). Count + exact
    // decimal sum per nation; the final table hash-matches the batch
    // join the oracle runs.
    QueryDef("q200_stream_static_join",
      (s, d) => {
        // schema probed from the footer: `ts` physical layout differs
        // across testdata generations (nanos-int64 vs micros timestamp)
        val sch = eventsStreamSchema(s, d)
        val dim = nation(s, d).select(col("n_nationkey"), col("n_name"))
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("events.parquet"),
            transform = st => st
              .withColumn("n_nationkey", col("user_id") % 25)
              .join(broadcast(dim), "n_nationkey")
              .groupBy("n_name")
              .agg(count(lit(1)).as("n"),
                Relational.sumExact(col("value")).as("sum_value")))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN nation ON user_id % 25 = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q201: linear-classifier inference + confusion matrix --------
    // Model-based quality filtering, the CCNet/GPT-3 pipeline stage: a
    // trained linear probe scores every document and the pipeline keeps
    // what the model likes. Inference at 100 TB is a broadcast of the
    // weight matrix and one map-side pass — here a 4-class probe over
    // the embedding column with md5-derived integer weights (the
    // deterministic stand-in for trained parameters), millis-quantized
    // inputs (round(x*1000) — the q147 round-parity discipline), exact
    // BIGINT dot products, argmax with smallest-class tie-break, and
    // the (gold label × predicted) confusion counts as output.
    QueryDef("q201_classifier_confusion",
      (s, d) => {
        val wCols = (0 until Classes).map(c =>
          (Sampling.hashLong(concat(lit(s"w$c:"), col("id").cast("string")))
            % 17 - 8).cast("long").as(s"w$c"))
        val wts = s.range(Dim).select(
          col("id").cast("int").as("pos") +: wCols: _*)
        val comp = embeddings(s, d)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            posexplode(col("embedding")))
          .select(col("vec_id"), col("label"), col("pos"),
            round(col("col").cast("double") * 1000, 0).cast("long").as("q"))
        val aggs = (0 until Classes).map(c =>
          sum(col("q") * col(s"w$c")).as(s"s$c"))
        val scored = comp.join(broadcast(wts), "pos")
          .groupBy("vec_id", "label")
          .agg(aggs.head, aggs.tail: _*)
        scored
          .withColumn("predicted",
            when(col("s0") >= col("s1") && col("s0") >= col("s2") &&
              col("s0") >= col("s3"), 0L)
            .when(col("s1") >= col("s2") && col("s1") >= col("s3"), 1L)
            .when(col("s2") >= col("s3"), 2L)
            .otherwise(3L))
          .groupBy("label", "predicted")
          .agg(count(lit(1)).as("n"))
          .orderBy("label", "predicted")
      },
      Some {
        def w(c: Int) =
          s"((${DuckSql.hexLong(s"md5('w$c:' || CAST(i - 1 AS VARCHAR))")}) % 17 - 8)"
        def sc(c: Int) =
          s"CAST(list_sum(list_transform(generate_series(1, $Dim), " +
            s"i -> q[i] * ${w(c)})) AS BIGINT) AS s$c"
        s"""WITH qz AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(generate_series(1, $Dim),
        |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000, 0)
        |        AS BIGINT)) AS q
        |  FROM embeddings),
        |sc AS (SELECT vec_id, label, ${sc(0)}, ${sc(1)}, ${sc(2)}, ${sc(3)}
        |  FROM qz),
        |p AS (SELECT label,
        |    CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
        |      WHEN s1 >= s2 AND s1 >= s3 THEN 1
        |      WHEN s2 >= s3 THEN 2 ELSE 3 END AS predicted
        |  FROM sc)
        |SELECT label, CAST(predicted AS BIGINT) AS predicted,
        |  count(*) AS n
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // ---- q202: mergeable per-language MinHash corpus sketches --------
    // The incremental-dedup algebra: a MinHash signature of a doc SET
    // is the elementwise min of member signatures, so per-shard partial
    // sketches merge into the corpus sketch without re-shingling — how
    // 100 TB corpus similarity (per-source Jaccard, day-over-day drift)
    // is maintained from per-increment partials. Spark computes each
    // language's signature the SHARDED way (per-doc signatures → shard
    // partials → merged min); the oracle computes it directly from the
    // language's full shingle set. The hash match IS the mergeability
    // proof (the q151 partial-aggregate discipline, applied to min).
    QueryDef("q202_minhash_merge",
      (s, d) => {
        val docs = documents(s, d)
        val sigCols = (0 until QueriesDedup.K).map(j => s"sig_$j")
        val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
            QueriesDedup.ShingleN, QueriesDedup.K)
          .join(docs.select("doc_id", "lang"), "doc_id")
        val partials = sigs
          .groupBy(col("lang"), (col("doc_id") % 3).as("__shard"))
          .agg(min(sigCols.head).as(sigCols.head),
            sigCols.tail.map(c => min(c).as(c)): _*)
        partials.groupBy("lang")
          .agg(min(sigCols.head).as(sigCols.head),
            sigCols.tail.map(c => min(c).as(c)): _*)
          .orderBy("lang")
      },
      Some {
        val comps = (0 until QueriesDedup.K)
          .map(j => s"min(md5(shingle || '#$j')) AS sig_$j").mkString(", ")
        s"""WITH t AS (SELECT lang, ${DuckSql.toks("text")} AS toks
        |    FROM documents),
        |sh AS (SELECT lang, unnest(list_distinct(
        |    ${DuckSql.shingles("toks", QueriesDedup.ShingleN)})) AS shingle
        |  FROM t),
        |m AS (SELECT lang, $comps FROM sh GROUP BY lang)
        |SELECT l.lang, ${(0 until QueriesDedup.K).map(j => s"sig_$j").mkString(", ")}
        |FROM (SELECT DISTINCT lang FROM documents) l
        |LEFT JOIN m ON l.lang = m.lang ORDER BY l.lang""".stripMargin
      }),

    // ---- q203: Pareto-frontier curation (skyline) --------------------
    // "Keep a document only if nothing strictly better exists": the
    // frontier of (n_chars, token count) — no other doc is >= on both
    // and > on one. Relational.paretoFrontier grid-prunes first (per-
    // bucket max-y + suffix max over the O(domain/256) bucket frame,
    // broadcast back — dominated rows drop without shuffling the
    // corpus) and runs the exact windows only on the surviving band;
    // the oracle is the quadratic NOT EXISTS the operator refuses to
    // run.
    QueryDef("q203_pareto_frontier",
      (s, d) => Relational.paretoFrontier(
          documents(s, d).select(col("doc_id"), col("n_chars"),
            size(Text.tokens(col("text"))).cast("long").as("n_toks")),
          "n_chars", "n_toks", Seq("doc_id"), bucket = 256L)
        .orderBy("doc_id"),
      Some(s"""WITH b AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(len(${DuckSql.toks("text")}) AS BIGINT) AS n_toks
        |  FROM documents)
        |SELECT doc_id, n_chars, n_toks FROM b p
        |WHERE NOT EXISTS (SELECT 1 FROM b q
        |  WHERE (q.n_chars > p.n_chars AND q.n_toks >= p.n_toks)
        |     OR (q.n_chars >= p.n_chars AND q.n_toks > p.n_toks))
        |ORDER BY doc_id""".stripMargin)),

    // ---- q204: tokenizer vocabulary OOV coverage ---------------------
    // The vocab-coverage audit: build a top-500 token vocabulary from
    // the TRAIN hash-split (count desc, token tie-break — fully
    // deterministic), then measure per-language out-of-vocabulary
    // token rate on the EVAL split. The vocab is O(500) rows riding a
    // broadcast left join over the eval token stream (the corpus
    // shuffles once for the train counts and never again); rates in
    // integer micro-units. High OOV flags languages the vocabulary
    // under-serves — the q196 fertility signal's other half.
    QueryDef("q204_vocab_oov",
      (s, d) => {
        val docs = documents(s, d)
          .withColumn("hm", Sampling.hashLong(col("doc_id")) % 100)
        def toksOf(df: org.apache.spark.sql.DataFrame) = df.select(
          col("lang"), explode(Text.tokens(col("text"))).as("tok"))
        val vocab = Relational.topK(
            toksOf(docs.where(col("hm") < 80))
              .groupBy("tok").agg(count(lit(1)).as("c")),
            Seq(col("c").desc, col("tok").asc), 500)
          .select(col("tok"), lit(1L).as("__v"))
        toksOf(docs.where(col("hm") >= 80))
          .join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("lang"), col("n_tokens"), col("n_oov"),
            expr("n_oov * 1000000L div n_tokens").as("oov_micro"))
          .orderBy("lang")
      },
      Some(s"""WITH d0 AS (SELECT lang, text,
        |    ${DuckSql.hashLong("doc_id")} % 100 AS hm FROM documents),
        |tr AS (SELECT unnest(${DuckSql.toks("text")}) AS tok
        |  FROM d0 WHERE hm < 80),
        |vc AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tr GROUP BY 1)
        |  QUALIFY row_number() OVER (ORDER BY c DESC, tok) <= 500),
        |ev AS (SELECT lang, unnest(${DuckSql.toks("text")}) AS tok
        |  FROM d0 WHERE hm >= 80)
        |SELECT lang, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS oov_micro
        |FROM ev LEFT JOIN vc v ON ev.tok = v.tok
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- q205: DSIR-style importance resampling ----------------------
    // Data Selection via Importance Resampling (Xie et al. 2023),
    // unigram-LM form: score every document by how much more likely a
    // TARGET-domain language model (here: trained on the 'en' slice)
    // finds it than the RAW-corpus model, and keep the top by weight —
    // log w(d) = (1/|d|) Σ_tok c_tok · (log2 p_t(tok) − log2 p_r(tok)),
    // both models Laplace-smoothed over the shared global vocabulary
    // (an eval-target token unseen in 'en' must cost, not -inf). Model
    // "training" is two hash-aggs; the three normalizers (target mass,
    // raw mass, vocab size) are one-row broadcast scalars; scoring is
    // the q153 order-pinned fold (tok-sorted terms) so the
    // transcendental sum is engine-replayable. Top-100 by rounded
    // weight (doc_id tie-break) via TakeOrderedAndProject.
    QueryDef("q205_dsir_selection",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(Text.tokens(col("text"))).as("tok"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val raw = toks.groupBy("tok").agg(count(lit(1)).as("cr"))
        val tgt = toks.where(col("lang") === "en")
          .groupBy("tok").agg(count(lit(1)).as("ct"))
        val dict = raw.join(tgt, Seq("tok"), "left")
          .select(col("tok"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
        val scalars = dict.agg(sum("cr").as("__nr"), sum("ct").as("__nt"),
          count(lit(1)).as("__v"))
        val perDoc = toks.groupBy("doc_id", "tok")
          .agg(count(lit(1)).as("c"))
          .join(dict, "tok")
        perDoc.groupBy("doc_id")
          .agg(sum("c").as("n_toks"),
            sort_array(collect_list(struct(col("tok"),
              col("c").cast("double").as("c"), col("ct").cast("double").as("ct"),
              col("cr").cast("double").as("cr")))).as("terms"))
          .crossJoin(broadcast(scalars))
          .select(col("doc_id"), col("n_toks").cast("bigint").as("n_toks"),
            round(aggregate(col("terms"), lit(0.0), (acc, t) =>
                acc + t.getField("c") *
                  (log2((t.getField("ct") + 1.0) / (col("__nt") + col("__v"))) -
                   log2((t.getField("cr") + 1.0) / (col("__nr") + col("__v")))))
              / col("n_toks"), 6).as("log_w"))
          .transform(df => Relational.topK(df,
            Seq(col("log_w").desc, col("doc_id").asc), 100))
          .orderBy(col("log_w").desc, col("doc_id"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, lang,
        |    unnest(${DuckSql.toks("text")}) AS tok FROM documents),
        |raw AS (SELECT tok, count(*) AS cr FROM tk GROUP BY 1),
        |tgt AS (SELECT tok, count(*) AS ct FROM tk WHERE lang = 'en'
        |  GROUP BY 1),
        |dict AS (SELECT raw.tok, cr, coalesce(ct, 0) AS ct
        |  FROM raw LEFT JOIN tgt ON raw.tok = tgt.tok),
        |sc AS (SELECT CAST(sum(cr) AS DOUBLE) AS nr,
        |    CAST(sum(ct) AS DOUBLE) AS nt,
        |    CAST(count(*) AS DOUBLE) AS v FROM dict),
        |dc AS (SELECT doc_id, tk.tok, CAST(count(*) AS DOUBLE) AS c,
        |    CAST(any_value(ct) AS DOUBLE) AS ct,
        |    CAST(any_value(cr) AS DOUBLE) AS cr
        |  FROM tk JOIN dict ON tk.tok = dict.tok GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
        |    list(c * (log2((ct + 1.0) / (nt + v)) - log2((cr + 1.0) / (nr + v)))
        |      ORDER BY tok) AS terms
        |  FROM dc, sc GROUP BY doc_id, nt, nr, v)
        |SELECT doc_id, n_toks,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), terms),
        |    (acc, x) -> acc + x) / n_toks, 6) + 0 AS log_w
        |FROM a ORDER BY log_w DESC, doc_id LIMIT 100""".stripMargin)))
}
