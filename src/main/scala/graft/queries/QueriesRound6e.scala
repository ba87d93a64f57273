package graft.queries

import graft.Tables._
import graft.ops.{Dedup, Graph, Relational}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 fifth batch: exact set-similarity join with prefix
  * filtering (the AllPairs/PPJoin discipline — the EXACT counterpart
  * of the probabilistic MinHash-LSH lane), HITS link analysis,
  * Markov event-transition matrices, a Benford first-digit audit,
  * inverted-index construction, and streaming per-key top-k. All
  * arithmetic that reaches the hash check is integer or
  * selection-of-doubles — nothing accumulates floats.
  */
object QueriesRound6e {

  val defs: Seq[QueryDef] = Seq(

    // ---- q210: exact Jaccard pairs via prefix filtering --------------
    // The AllPairs/PPJoin family (Bayardo et al. WWW'07): every doc
    // pair with word-set Jaccard >= 1/2, found by equi-joining only on
    // each document's RAREST tokens (prefix length sz - ceil(sz/2) + 1
    // in global document-frequency order) — complete by the prefix
    // theorem, so the brute-force oracle must agree exactly. This is
    // the exact-answer counterpart of q42's probabilistic LSH: same
    // question, zero false negatives, candidate volume governed by
    // element rarity instead of band collisions. Threshold membership
    // is integer cross-multiplication (5*inter >= 4*union) — bit-exact.
    // Elements are 5-token shingle sets (q42/q43's universe), not word
    // sets: the template-generated corpus shares so much vocabulary
    // that word-Jaccard barely discriminates (1.9k pairs at 1.0),
    // while shingle-Jaccard 0.8 isolates the ~25 true rewrites.
    QueryDef("q210_prefix_jaccard_pairs",
      (s, d) => Dedup.prefixFilterJaccardPairs(
          documents(s, d), "doc_id", "text", num = 4, den = 5, shingleN = 5)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH tt AS (SELECT doc_id, ${DuckSql.toks("text")} AS tks FROM documents),
        |tk AS (SELECT DISTINCT doc_id,
        |    unnest(list_distinct(${DuckSql.shingles("tks", 5)})) AS t
        |  FROM tt),
        |sz AS (SELECT doc_id, count(*) AS sz FROM tk GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM tk a JOIN tk b ON a.t = b.t AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b, i.n_inter, za.sz AS sz_a, zb.sz AS sz_b,
        |  round(CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter), 6) AS jaccard
        |FROM inter i JOIN sz za ON za.doc_id = i.id_a
        |  JOIN sz zb ON zb.doc_id = i.id_b
        |WHERE 5 * i.n_inter >= 4 * (za.sz + zb.sz - i.n_inter)
        |ORDER BY 1, 2""".stripMargin)),

    // ---- q211: HITS hubs & authorities over the purchase graph -------
    // Kleinberg's HITS on the bipartite customer->part graph (orders ⋈
    // lineitem, distinct edges; part ids shifted by 1e7 to disjointify
    // the node domains). 2 rounds of integer-exact power iteration,
    // max-normalized to micro-units each half-step, so the oracle
    // replays every round as chained CTEs — the q145 discipline. Top
    // 100 authorities (the most-endorsed parts) with their hub scores.
    QueryDef("q211_hits",
      (s, d) => {
        // decimated sample (o_orderkey % 10 = 0) keeps the per-query
        // bench budget; the filter pushes to both scans and the oracle
        // replays it — operator semantics are unchanged
        val e = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .where(col("o_orderkey") % 10 === 0)
          .join(lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
            col("l_partkey"))
            .where(col("l_orderkey") % 10 === 0), "o_orderkey")
          .select(col("o_custkey").as("src"),
            (col("l_partkey") + 10000000L).as("dst"))
        Relational.topK(Graph.hits(e, "src", "dst", iters = 2),
          Seq(col("auth_micro").desc, col("hub_micro").desc, col("id").asc), 100)
          .select("id", "hub_micro", "auth_micro")
      },
      Some {
        // one HITS half-step as a CTE pair: sums over one edge side,
        // max-normalized to micro-units, left-joined back onto nodes
        def half(scores: String, scoreCol: String, joinSide: String,
                 aggSide: String, out: String, outCol: String) =
          s"""${out}p AS (SELECT e.$aggSide AS id, CAST(sum($scores.$scoreCol) AS BIGINT) AS s
          |  FROM e JOIN $scores ON $scores.id = e.$joinSide
          |  WHERE $scores.$scoreCol > 0 GROUP BY 1),
          |$out AS (SELECT n.id,
          |    CAST(coalesce((p.s * 1000000) // (SELECT max(s) FROM ${out}p), 0) AS BIGINT)
          |      AS $outCol
          |  FROM nodes n LEFT JOIN ${out}p p ON p.id = n.id)"""
        s"""WITH e AS (SELECT DISTINCT o.o_custkey AS src, 10000000 + l.l_partkey AS dst
        |    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |    WHERE o.o_orderkey % 10 = 0),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT id,
        |    CAST(CASE WHEN id IN (SELECT src FROM e) THEN 1000000 ELSE 0 END AS BIGINT) AS h
        |  FROM nodes),
        |${half("h0", "h", "src", "dst", "a1", "a")},
        |${half("a1", "a", "dst", "src", "h1", "h")},
        |${half("h1", "h", "src", "dst", "a2", "a")},
        |${half("a2", "a", "dst", "src", "h2", "h")}
        |SELECT n.id, h2.h AS hub_micro, a2.a AS auth_micro
        |FROM nodes n JOIN h2 ON h2.id = n.id JOIN a2 ON a2.id = n.id
        |ORDER BY auth_micro DESC, hub_micro DESC, n.id LIMIT 100""".stripMargin
      }),

    // ---- q212: Markov transition matrix over event streams -----------
    // Per-user next-event transitions (lead over a user-partitioned
    // window — never a self-join), aggregated into the event-type
    // transition matrix with integer-ppm probabilities. The row-total
    // window runs over the |types|² count frame, not the events. The
    // user-behavior-model shape (session flow analysis, synthetic-data
    // validation).
    QueryDef("q212_markov_transitions",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val pairs = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .where(col("next_type").isNotNull)
        val counts = pairs.groupBy("event_type", "next_type")
          .agg(count(lit(1)).as("n"))
        counts
          .withColumn("p_ppm",
            expr("(n * 1000000L) div sum(n) OVER (PARTITION BY event_type)"))
          .orderBy("event_type", "next_type")
      },
      Some("""WITH p AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events),
        |c AS (SELECT event_type, next_type, count(*) AS n FROM p
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, next_type, n,
        |  CAST((n * 1000000) // (sum(n) OVER (PARTITION BY event_type)) AS BIGINT)
        |    AS p_ppm
        |FROM c ORDER BY 1, 2""".stripMargin)),

    // ---- q213: Benford first-digit audit ------------------------------
    // Data-quality forensics: the first significant digit of order
    // totals against Benford's law. Digits come from exact DECIMAL
    // cents (never double→string), observed shares are integer ppm,
    // and the expected shares are the hardcoded Benford ppm constants
    // (floor(log10(1+1/d)*1e6)) — identical literals on both engines,
    // so the whole audit is integer-exact. One map-side-combined
    // 9-group aggregate; the total rides a tiny window.
    QueryDef("q213_benford_audit",
      (s, d) => {
        val benford = array(Seq(301030L, 176091L, 124939L, 96910L,
          79181L, 66947L, 57992L, 51153L, 45757L).map(lit): _*)
        val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")
        orders(s, d)
          .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
          .withColumn("observed_ppm",
            expr("(n * 1000000L) div sum(n) OVER ()"))
          .withColumn("expected_ppm", element_at(benford, col("digit")))
          .withColumn("gap_ppm", abs(col("observed_ppm") - col("expected_ppm")))
          .orderBy("digit")
      },
      Some("""WITH g AS (SELECT CAST(substr(CAST(
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INT) AS digit, count(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT digit, n,
        |  CAST((n * 1000000) // (sum(n) OVER ()) AS BIGINT) AS observed_ppm,
        |  CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
        |    WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
        |    WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757 END
        |    AS expected_ppm,
        |  abs(CAST((n * 1000000) // (sum(n) OVER ()) AS BIGINT) -
        |    CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
        |      WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
        |      WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757 END)
        |    AS gap_ppm
        |FROM g ORDER BY digit""".stripMargin)),

    // ---- q214: inverted-index build (posting lists) -------------------
    // The search-engine core structure: term -> document frequency +
    // the first 20 postings in doc-id order. The posting list is
    // CAPPED BEFORE collection (per-term row_number keeps rn <= 20, so
    // the collect_list buffers at most 20 ids — never a full posting
    // list in one aggregation buffer; the full df count rides the same
    // window). Top 100 terms by document frequency via
    // TakeOrderedAndProject.
    QueryDef("q214_inverted_index",
      (s, d) => {
        val tr = documents(s, d)
          .select(col("doc_id"),
            explode(array_distinct(graft.ops.Text.tokens(col("text"))))
              .as("term"))
        val w = Window.partitionBy("term")
        val ranked = tr
          .withColumn("df_docs", count(lit(1)).over(w))
          .withColumn("__rn",
            row_number().over(Window.partitionBy("term").orderBy("doc_id")))
        // postings ship as a comma-joined string: the driver's
        // comparator sorts scalar columns only
        val g = ranked.where(col("__rn") <= 20)
          .groupBy("term")
          .agg(max("df_docs").as("df_docs"),
            array_join(sort_array(collect_list(col("doc_id"))), ",")
              .as("postings"))
        Relational.topK(g, Seq(col("df_docs").desc, col("term").asc), 100)
      },
      Some(s"""WITH tr AS (SELECT DISTINCT doc_id, unnest(${DuckSql.toks("text")}) AS term
        |    FROM documents),
        |g AS (SELECT term, count(*) AS df_docs,
        |    array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',') AS postings
        |  FROM tr GROUP BY 1)
        |SELECT term, df_docs, postings FROM g
        |ORDER BY df_docs DESC, term LIMIT 100""".stripMargin)),

    // ---- q215: streaming per-key top-k --------------------------------
    // flatMapGroupsWithState keeping the k=3 largest values per user —
    // the leaderboard/best-score state shape, bounded at k doubles per
    // key regardless of stream length. Update-mode emissions carry a
    // strictly-increasing n, so the final state per key is the row
    // with max n (robust to any micro-batch split, the q190
    // discipline); selection of doubles is exact, so the full state
    // hash-verifies against the batch top-3 oracle.
    QueryDef("q215_streaming_topk",
      (s, d) => {
        import s.implicits._
        val sch = eventsStreamSchema(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("events.parquet"),
            outputMode = "update",
            transform = st => graft.streaming.Sessions.streamingTopK(
              normalizeEventTs(st).select(col("user_id").as("key"),
                unix_micros(col("ts")).as("ts_us"),
                col("event_id").as("seq"),
                col("value"))
                .as[graft.streaming.ValEvent], k = 3).toDF())
          .groupBy("key")
          .agg(max(struct(col("n"), col("v1"), col("v2"), col("v3")))
            .as("__last"))
          .select(col("key"), col("__last.n").as("n"),
            col("__last.v1").as("v1"), col("__last.v2").as("v2"),
            col("__last.v3").as("v3"))
          .orderBy("key")
      },
      Some("""WITH s AS (SELECT user_id AS key, count(*) AS n,
        |    (list(value ORDER BY value DESC))[1:3] AS l
        |  FROM events GROUP BY 1)
        |SELECT key, n, l[1] AS v1, l[2] AS v2, l[3] AS v3
        |FROM s ORDER BY key""".stripMargin)),

    // ---- q216: audio energy VAD segmentation --------------------------
    // The reference's speech-vs-silence gate as a relational operator:
    // synthesize a deterministic 16-bit mono WAV per part (windows of
    // 80 frames; window w carries amplitude 500 iff w % 4 < 2, so
    // active windows come in runs of two), run the REAL byte-level
    // parser + integer |sample| windowing (Multimodal.energyVad), and
    // hash-verify the window/segment counts against the closed-form
    // oracle: for W windows, actives = 2*(W//4) + least(W%4, 2),
    // segments = (W+3)//4. The UDF genuinely walks RIFF chunks and PCM
    // bytes — only the payload is synthetic (no codecs in this build).
    QueryDef("q216_audio_vad",
      (s, d) => {
        val mk = udf { (key: Long) =>
          val nW = 8 + (key % 9).toInt
          val samples = Array.tabulate[Short](nW * 80) { i =>
            if ((i / 80) % 4 < 2) 500.toShort else 0.toShort
          }
          graft.ops.Multimodal.makeWav(16000, 1, samples)
        }
        part(s, d).where(col("p_partkey") <= 150)
          .select(col("p_partkey"), mk(col("p_partkey")).as("wav"))
          .select(col("p_partkey"),
            graft.ops.Multimodal.vadSegments(col("wav"),
              windowFrames = 80, threshold = 1000L).as("v"))
          .select(col("p_partkey"),
            col("v.n_windows").as("n_windows"),
            col("v.n_active").as("n_active"),
            col("v.n_segments").as("n_segments"),
            col("v.active_ppm").as("active_ppm"),
            col("v.valid").as("valid"))
          .orderBy("p_partkey")
      },
      Some("""WITH w AS (SELECT p_partkey, 8 + (p_partkey % 9) AS nw
        |  FROM part WHERE p_partkey <= 150)
        |SELECT p_partkey,
        |  CAST(nw AS BIGINT) AS n_windows,
        |  CAST(2 * (nw // 4) + least(nw % 4, 2) AS BIGINT) AS n_active,
        |  CAST((nw + 3) // 4 AS BIGINT) AS n_segments,
        |  CAST((2 * (nw // 4) + least(nw % 4, 2)) * 1000000 // nw AS BIGINT)
        |    AS active_ppm,
        |  true AS valid
        |FROM w ORDER BY p_partkey""".stripMargin)))
}
