package graft.queries

import graft.Tables._
import graft.ops.{Dedup, Graph, Relational, Similarity, Text}
import org.apache.spark.sql.functions._

/** Round-6 fifteenth batch: cohesive-subgraph filtering (k-truss),
  * seasonal-baseline anomaly readout, the corpus source-overlap
  * matrix, a hash-verified MinHash-estimate accuracy eval (completing
  * the measured-error trilogy: ANN recall / dedup PR / CMS error),
  * a two-stage lexical→vector retrieval cascade, and the one-row
  * dataset card.
  */
object QueriesRound6o {

  private val Dim = 64 // embeddings table vector length (TESTDATA.md)

  val defs: Seq[QueryDef] = Seq(

    // ---- q269: k-truss cohesive-subgraph edges -----------------------
    // Duplicate/citation graphs built from pairwise matchers contain
    // chains of incidental matches; the k-truss keeps only edges with
    // k-2 triangle witnesses — the standard cohesion filter one level
    // stronger than k-core (every KEPT edge is corroborated, not just
    // every kept node). Same fuzzy-blocked part graph as q113;
    // bounded 2-round peel (Graph.kTrussEdges), k=4 → support >= 2.
    // The oracle replays both peels as chained CTEs.
    QueryDef("q269_ktruss",
      (s, d) => Graph.kTrussEdges(
          Dedup.fuzzyPairsBlocked(part(s, d), "p_partkey", "p_name",
            Seq("p_brand", "p_size"), 6),
          k = 4, rounds = 2)
        .orderBy("id_a", "id_b"),
      Some {
        def tri(e: String, t: String, sName: String, out: String) =
          s"""$t AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
          |  FROM $e e1 JOIN $e e2 ON e1.id_b = e2.id_a
          |  JOIN $e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
          |$sName AS (SELECT id_a, id_b, count(*) AS sup FROM (
          |  SELECT x AS id_a, y AS id_b FROM $t
          |  UNION ALL SELECT x, z FROM $t
          |  UNION ALL SELECT y, z FROM $t) GROUP BY 1, 2),
          |$out AS (SELECT e.id_a, e.id_b FROM $e e
          |  JOIN $sName s USING (id_a, id_b) WHERE s.sup >= 2)""".stripMargin
        s"""WITH e0 AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        |  FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |    AND a.p_partkey < b.p_partkey
        |  WHERE levenshtein(a.p_name, b.p_name) <= 6),
        |${tri("e0", "t1", "s1", "e1")},
        |${tri("e1", "t2", "s2", "e2")},
        |tf AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
        |  FROM e2 e1 JOIN e2 e2 ON e1.id_b = e2.id_a
        |  JOIN e2 e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
        |sf AS (SELECT id_a, id_b, count(*) AS support FROM (
        |  SELECT x AS id_a, y AS id_b FROM tf
        |  UNION ALL SELECT x, z FROM tf
        |  UNION ALL SELECT y, z FROM tf) GROUP BY 1, 2)
        |SELECT e.id_a, e.id_b, sf.support FROM e2 e
        |JOIN sf USING (id_a, id_b) ORDER BY 1, 2""".stripMargin
      }),

    // ---- q270: seasonal-baseline residuals (anomaly readout) ---------
    // The hour-of-day baseline is the first seasonal model every
    // metrics pipeline fits: expected(value) = mean over the same
    // (event_type, hour) slot, residual = value - expected, biggest
    // |residual| rows surface as anomalies. INTEGER-EXACT throughout
    // (1e-4 units): cent sums are exact, the slot mean is a floor
    // division (values are non-negative, so truncation == floor in
    // both engines), residuals are integer subtraction — no float
    // rounding anywhere, so ordering and values replay bit-identically
    // (a round(double,4) formulation here landed exactly on a .00005
    // boundary at sf0.001 and split between the engines' rounding
    // paths). Per-slot stats broadcast back; top-50 rides
    // TakeOrderedAndProject on the integer magnitude.
    QueryDef("q270_seasonal_residuals",
      (s, d) => {
        val ev = events(s, d).select(col("event_id"), col("event_type"),
          hour(col("ts")).cast("bigint").as("hod"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("value_cents"))
        val stats = ev.groupBy("event_type", "hod")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value_cents")).as("s1c"))
        Relational.topK(
          ev.join(broadcast(stats), Seq("event_type", "hod"))
            .select(col("event_id"), col("event_type"), col("hod"),
              col("value_cents"),
              expr("(s1c * 100) div cnt").as("expected_e4"),
              (col("value_cents") * 100 - expr("(s1c * 100) div cnt"))
                .as("residual_e4"))
            .withColumn("abs_residual_e4", abs(col("residual_e4"))),
          Seq(col("abs_residual_e4").desc, col("event_id").asc), 50)
      },
      Some("""WITH ev AS (SELECT event_id, event_type,
        |    CAST(hour(ts) AS BIGINT) AS hod,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
        |  FROM events),
        |s AS (SELECT event_type, hod, count(*) AS cnt,
        |    sum(value_cents) AS s1c FROM ev GROUP BY 1, 2)
        |SELECT event_id, event_type, hod, value_cents,
        |  CAST((s1c * 100) // cnt AS BIGINT) AS expected_e4,
        |  CAST(value_cents * 100 - (s1c * 100) // cnt AS BIGINT) AS residual_e4,
        |  CAST(abs(value_cents * 100 - (s1c * 100) // cnt) AS BIGINT)
        |    AS abs_residual_e4
        |FROM ev JOIN s USING (event_type, hod)
        |ORDER BY abs_residual_e4 DESC, event_id LIMIT 50""".stripMargin)),

    // ---- q271: corpus source-overlap matrix --------------------------
    // "How much of source B is already in source A" — the governance
    // readout behind dedup-across-sources decisions (q198 finds the
    // DOC pairs; this measures aggregate vocabulary overlap). Distinct
    // (source, token) rows self-join on token — join cardinality is
    // bounded by vocab × source-pairs, never doc × doc — then exact
    // integer Jaccard and containment in ppm per source pair.
    QueryDef("q271_source_overlap",
      (s, d) => {
        val tk = documents(s, d)
          .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
          .distinct()
        val sz = tk.groupBy("source").agg(count(lit(1)).as("sz"))
        val inter = tk.select(col("source").as("src_a"), col("tok"))
          .join(tk.select(col("source").as("src_b"), col("tok")), "tok")
          .where(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
        inter
          .join(broadcast(sz.select(col("source").as("src_a"),
            col("sz").as("sz_a"))), "src_a")
          .join(broadcast(sz.select(col("source").as("src_b"),
            col("sz").as("sz_b"))), "src_b")
          .select(col("src_a"), col("src_b"), col("n_inter"),
            col("sz_a"), col("sz_b"),
            expr("(n_inter * 1000000) div (sz_a + sz_b - n_inter)")
              .as("jaccard_ppm"),
            expr("(n_inter * 1000000) div least(sz_a, sz_b)")
              .as("containment_ppm"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH tk AS (SELECT DISTINCT source,
        |    unnest(${DuckSql.toks("text")}) AS tok FROM documents),
        |sz AS (SELECT source, count(*) AS sz FROM tk GROUP BY 1),
        |i AS (SELECT a.source AS src_a, b.source AS src_b,
        |    count(*) AS n_inter
        |  FROM tk a JOIN tk b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, i.n_inter, za.sz AS sz_a, zb.sz AS sz_b,
        |  (i.n_inter * 1000000) // (za.sz + zb.sz - i.n_inter) AS jaccard_ppm,
        |  (i.n_inter * 1000000) // least(za.sz, zb.sz) AS containment_ppm
        |FROM i JOIN sz za ON za.source = i.src_a
        |JOIN sz zb ON zb.source = i.src_b
        |ORDER BY 1, 2""".stripMargin)),

    // ---- q272: MinHash estimate accuracy eval ------------------------
    // Completes the measured-error set (ANN recall RECALL.md, dedup
    // candidate PR q262, CMS error q268): over the LSH candidate
    // pairs, compare the signature-based Jaccard ESTIMATE (fraction of
    // the K=8 minhash components that agree — the quantity LSH
    // banding thresholds on) against the EXACT shingle Jaccard, both
    // in integer ppm. One row: pair count, mean/max absolute error —
    // the empirical check on the E[agree/K] = J theorem at this K.
    QueryDef("q272_minhash_est_error",
      (s, d) => {
        val docs = documents(s, d)
        val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text",
          QueriesDedup.ShingleN, QueriesDedup.K, QueriesDedup.Bands)
          .select("id_a", "id_b")
        val exact = Dedup.jaccard(pairs, docs, "doc_id", "text",
            QueriesDedup.ShingleN)
          .select(col("id_a"), col("id_b"),
            expr("(n_inter * 1000000) div (sz_a + sz_b - n_inter)")
              .as("exact_ppm"))
        val sig = Dedup.minhashSignatures(docs, "doc_id", "text",
          QueriesDedup.ShingleN, QueriesDedup.K)
        val ks = 0 until QueriesDedup.K
        val sa = sig.select(col("doc_id").as("id_a") +:
          ks.map(j => col(s"sig_$j").as(s"a_$j")): _*)
        val sb = sig.select(col("doc_id").as("id_b") +:
          ks.map(j => col(s"sig_$j").as(s"b_$j")): _*)
        val est = pairs.join(sa, "id_a").join(sb, "id_b")
          .select(col("id_a"), col("id_b"),
            ks.map(j => when(col(s"a_$j") === col(s"b_$j"), 1L)
              .otherwise(0L)).reduce(_ + _).as("agree"))
          .withColumn("est_ppm",
            expr(s"(agree * 1000000) div ${QueriesDedup.K}"))
        est.join(exact, Seq("id_a", "id_b"))
          .select(abs(col("est_ppm") - col("exact_ppm")).as("err"))
          .agg(count(lit(1)).as("n_pairs"),
            expr("sum(err) div count(*)").as("mean_abs_err_ppm"),
            max(col("err")).as("max_abs_err_ppm"))
      },
      Some {
        val k = QueriesDedup.K
        val agree = s"len(list_filter(generate_series(1, $k), " +
          "i -> a.sig[i] = b.sig[i]))"
        s"""${QueriesDedup.lshCtes()},
        |shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sz AS (SELECT doc_id, count(*) AS sz FROM shx GROUP BY 1),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
        |  FROM cand c JOIN shx a ON a.doc_id = c.id_a
        |  JOIN shx b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2),
        |ex AS (SELECT i.id_a, i.id_b,
        |    (i.n_inter * 1000000) // (za.sz + zb.sz - i.n_inter) AS exact_ppm
        |  FROM inter i JOIN sz za ON za.doc_id = i.id_a
        |  JOIN sz zb ON zb.doc_id = i.id_b),
        |es AS (SELECT c.id_a, c.id_b,
        |    ($agree * 1000000) // $k AS est_ppm
        |  FROM cand c JOIN sig a ON a.doc_id = c.id_a
        |  JOIN sig b ON b.doc_id = c.id_b),
        |err AS (SELECT abs(es.est_ppm - ex.exact_ppm) AS err
        |  FROM es JOIN ex USING (id_a, id_b))
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(err) // count(*) AS BIGINT) AS mean_abs_err_ppm,
        |  CAST(max(err) AS BIGINT) AS max_abs_err_ppm FROM err""".stripMargin
      }),

    // ---- q273: two-stage retrieval cascade ---------------------------
    // The production retrieval shape: a cheap LEXICAL recall stage
    // prunes the corpus (distinct-matched-terms, then total tf — all
    // integers, fully deterministic ranking) to 100 candidates, and
    // only those pay the VECTOR similarity rerank (codegen graft_dot
    // cosine against a broadcast probe) for the final 10. At 100 TB
    // stage 1 is an inverted-index-shaped aggregation over matched
    // tokens only; stage 2 touches 100 rows — the cascade is what
    // makes vector scoring affordable.
    QueryDef("q273_retrieval_cascade",
      (s, d) => {
        val qTerms = Seq("spark", "join", "window", "data")
        val lex = documents(s, d)
          .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
          .where(col("tok").isin(qTerms: _*))
          .groupBy("doc_id")
          .agg(countDistinct(col("tok")).as("matched"),
            count(lit(1)).as("tf_sum"))
        val stage1 = Relational.topK(lex,
          Seq(col("matched").desc, col("tf_sum").desc, col("doc_id").asc), 100)
        val probe = embeddings(s, d).where(col("vec_id") === 0)
          .select(col("embedding").as("probe"))
        val reranked = stage1
          .join(embeddings(s, d).select(col("vec_id").as("doc_id"),
            col("embedding")), "doc_id")
          .crossJoin(broadcast(probe))
          .select(col("doc_id"), col("matched"), col("tf_sum"),
            round(Similarity.cosineNative(col("embedding"), col("probe")), 6)
              .as("cos"))
        Relational.topK(reranked,
          Seq(col("cos").desc, col("doc_id").asc), 10)
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest(${DuckSql.toks("text")}) AS tok
        |  FROM documents),
        |lex AS (SELECT doc_id, count(DISTINCT tok) AS matched,
        |    count(*) AS tf_sum
        |  FROM t WHERE tok IN ('spark', 'join', 'window', 'data')
        |  GROUP BY 1),
        |s1 AS (SELECT * FROM lex
        |  ORDER BY matched DESC, tf_sum DESC, doc_id LIMIT 100),
        |p AS (SELECT embedding AS probe FROM embeddings WHERE vec_id = 0)
        |SELECT s1.doc_id, s1.matched, s1.tf_sum,
        |  round(${DuckSql.cosine("e.embedding", "p.probe", Dim)}, 6) + 0 AS cos
        |FROM s1 JOIN embeddings e ON e.vec_id = s1.doc_id, p
        |ORDER BY cos DESC, s1.doc_id LIMIT 10""".stripMargin)),

    // ---- q274: dataset card (one-row corpus summary) ------------------
    // The release artifact every curated corpus ships with (Gebru et
    // al., "Datasheets for Datasets"): volume, vocabulary-bearing
    // token count, language/source spread, exact-duplicate mass, and
    // length stats — every number an exact integer from two scans
    // (one tokenizing pass, one metadata pass), so the card is
    // hash-verifiable like any other query.
    QueryDef("q274_dataset_card",
      (s, d) => {
        val docs = documents(s, d)
        val tok = docs.select(size(Text.tokens(col("text")))
          .cast("long").as("ntok"))
          .agg(sum("ntok").as("n_tokens"))
        val card = docs.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          (count(lit(1)) - countDistinct(md5(graft.ops.Text.normText(col("text")))))
            .as("n_exact_dups"),
          expr("sum(n_chars) div count(*)").as("mean_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        card.crossJoin(broadcast(tok))
      },
      Some(s"""SELECT
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(*) - count(DISTINCT md5(${DuckSql.norm("text")}))
        |    AS BIGINT) AS n_exact_dups,
        |  CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  (SELECT CAST(sum(len(${DuckSql.toks("text")})) AS BIGINT)
        |    FROM documents) AS n_tokens
        |FROM documents""".stripMargin))
  )
}
