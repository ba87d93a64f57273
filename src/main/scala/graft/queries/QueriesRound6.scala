package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup, Graph, Layout, Sampling, Text}
import org.apache.spark.sql.functions._

/** Round-6 widening: oracle coverage for the four operators that
  * landed in round 5's snapshot commit without CORRECTNESS entries —
  * exact shared-n-gram pairs (the Lee et al. exact-substring dedup
  * gate), bounded k-core peeling, bin-pack compaction planning, and
  * the streaming running-max trace — plus the exact-substring dedup
  * pipeline end-to-end (q172).
  */
object QueriesRound6 {

  val defs: Seq[QueryDef] = Seq(

    // ---- q170: exact shared-n-gram pairs (verbatim-span dedup) ------
    // Dedup.sharedShinglePairs: any two documents sharing at least one
    // verbatim 5-token window become a pair with the count of distinct
    // shared windows — the exact-substring counterpart to MinHash
    // (q42) and the strict form of the q167 contamination gate. The
    // shuffle rides 32-byte md5 window fingerprints, never the window
    // text; the degenerate-window cap (here far above any sf's
    // frequencies, so semantically inert) is replayed by the oracle.
    QueryDef("q170_shared_shingles",
      (s, d) => Dedup.sharedShinglePairs(documents(s, d), "doc_id", "text",
          n = 5, maxDocsPerShingle = 10000)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS toks
        |    FROM documents),
        |fp AS (SELECT DISTINCT doc_id, md5(sh) AS fp FROM
        |  (SELECT doc_id, unnest(${DuckSql.shingles("toks", 5)}) AS sh FROM t)),
        |big AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > 10000),
        |capped AS (SELECT * FROM fp ANTI JOIN big USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM capped a JOIN capped b USING (fp) WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- q172: exact-substring dedup END-TO-END ----------------------
    // The verbatim-span counterpart of q91's fuzzy pipeline: documents
    // sharing any 5-token window pair up (q170's operator), pairs
    // contract to duplicate groups via large-star/small-star CC, and
    // only each group's min-id representative survives. Together with
    // q46/q91 the engine now runs BOTH dedup families end-to-end —
    // MinHash-probabilistic and exact-substring (Lee et al. 2022).
    QueryDef("q172_exact_substring_dedup",
      (s, d) => Checkpoints.scoped { _ =>
        val docs = documents(s, d)
        val pairs = Dedup.sharedShinglePairs(docs, "doc_id", "text", n = 5)
          .select("id_a", "id_b")
        val groups = Dedup.duplicateGroupsStar(pairs, maxIter = 20)
        Dedup.dedupSurvivors(docs, "doc_id", groups)
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE t AS (SELECT doc_id, ${DuckSql.toks("text")} AS toks
        |    FROM documents),
        |fp AS (SELECT DISTINCT doc_id, md5(sh) AS fp FROM
        |  (SELECT doc_id, unnest(${DuckSql.shingles("toks", 5)}) AS sh FROM t)),
        |big AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > 10000),
        |capped AS (SELECT * FROM fp ANTI JOIN big USING (fp)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM capped a JOIN capped b USING (fp) WHERE a.doc_id < b.doc_id),
        |${DuckSql.ccGroupCtes}
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM grp WHERE id != group_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- q171: bounded k-core peeling --------------------------------
    // Graph.kCore on the co-purchase graph: two peel rounds removing
    // parts with induced degree < k, then every survivor with its
    // final induced degree (zero included — the left-join fix). All
    // integer counts and set membership, so the oracle replays the
    // rounds as chained CTEs.
    QueryDef("q171_kcore",
      (s, d) => {
        val li = lineitem(s, d).where(col("l_orderkey") % 7 === 0)
          .select("l_orderkey", "l_partkey")
        val e = li.withColumnRenamed("l_partkey", "src")
          .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
          .where(col("src") < col("dst"))
          .select("src", "dst")
        Graph.kCore(e, "src", "dst", k = 4, rounds = 2)
          .orderBy("id")
      },
      Some("""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey != b.l_partkey
        |    WHERE a.l_orderkey % 7 = 0),
        |a0 AS (SELECT DISTINCT src AS id FROM e),
        |d1 AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
        |a1 AS (SELECT src AS id FROM d1 WHERE dg >= 4),
        |d2 AS (SELECT src, count(*) AS dg FROM e
        |  WHERE src IN (SELECT id FROM a1) AND dst IN (SELECT id FROM a1)
        |  GROUP BY 1),
        |a2 AS (SELECT src AS id FROM d2 WHERE dg >= 4),
        |df AS (SELECT src, count(*) AS dg FROM e
        |  WHERE src IN (SELECT id FROM a2) AND dst IN (SELECT id FROM a2)
        |  GROUP BY 1)
        |SELECT a2.id, CAST(coalesce(df.dg, 0) AS BIGINT) AS degree
        |FROM a2 LEFT JOIN df ON df.src = a2.id
        |ORDER BY a2.id""".stripMargin)),

    // ---- q174: bin-pack compaction plan ------------------------------
    // Layout.binPack over a per-part "file inventory" (size = retail
    // price in cents), packed per brand: bin = floor(exclusive-cumsum
    // / target) within each brand's partkey order. One partitioned
    // window over the domain-bounded item list — the compaction
    // planner's shape, integer-exact.
    QueryDef("q174_binpack",
      (s, d) => {
        val items = part(s, d).select(col("p_brand"), col("p_partkey"),
          expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("size_c"))
        Layout.binPack(items, Seq("p_partkey"), "size_c",
            target = 1000000L, partitionBy = Seq("p_brand"))
          .orderBy("p_brand", "p_partkey")
      },
      Some("""WITH items AS (SELECT p_brand, p_partkey,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS size_c FROM part)
        |SELECT p_brand, p_partkey, size_c,
        |  CAST(CAST(coalesce(sum(size_c) OVER (PARTITION BY p_brand
        |      ORDER BY p_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    // 1000000 AS BIGINT) AS bin
        |FROM items ORDER BY p_brand, p_partkey""".stripMargin)),

    // ---- q179: exact-substring cap audit ------------------------------
    // What did q170's degenerate-window cap discard? Total distinct
    // windows, over-cap windows, occurrences lost, and documents
    // touching a dropped window — the population whose pairs a capped
    // run can miss. A tight cap (3 here, so the audit is non-trivial
    // at test scale) grounds the leak-gate trade-off in numbers: zero
    // dropped means the capped result IS the exact result.
    QueryDef("q179_shingle_cap_audit",
      (s, d) => Dedup.sharedShingleCapAudit(documents(s, d), "doc_id", "text",
        n = 5, maxDocsPerShingle = 3),
      Some(s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS toks
        |    FROM documents),
        |fp AS (SELECT DISTINCT doc_id, md5(sh) AS fp FROM
        |  (SELECT doc_id, unnest(${DuckSql.shingles("toks", 5)}) AS sh FROM t)),
        |c AS (SELECT fp, count(*) AS m FROM fp GROUP BY 1),
        |hit AS (SELECT count(DISTINCT doc_id) AS n_docs_affected
        |  FROM fp SEMI JOIN (SELECT fp FROM c WHERE m > 3) b USING (fp))
        |SELECT count(*) AS n_windows,
        |  CAST(coalesce(sum(CASE WHEN m > 3 THEN 1 END), 0) AS BIGINT)
        |    AS n_windows_dropped,
        |  CAST(coalesce(sum(CASE WHEN m > 3 THEN m END), 0) AS BIGINT)
        |    AS n_occurrences_dropped,
        |  (SELECT n_docs_affected FROM hit) AS n_docs_affected
        |FROM c""".stripMargin)),

    // ---- q175: repetition / boilerplate quality signals --------------
    // The Gopher-family rules (fraction of mass in the most common
    // bigram, duplicate-bigram fraction): exact integer counts from
    // two map-side-combinable hash-aggs, one rounded division at the
    // end. High values flag the machine-generated boilerplate that
    // length/punctuation gates (q94) miss.
    QueryDef("q175_repetition_signals",
      (s, d) => Text.repetitionSignals(documents(s, d), "doc_id", "text", n = 2)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS toks
        |    FROM documents),
        |g AS (SELECT doc_id, unnest(${DuckSql.shingles("toks", 2)}) AS gm FROM t),
        |c AS (SELECT doc_id, gm, count(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |  count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_cnt,
        |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_frac,
        |  round(CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
        |    AS dup_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- q176: context-window chunking with overlap -------------------
    // The training/RAG splitter: 32-token windows every 24 tokens
    // (8-token overlap), last window ragged. Pure map stage — starts
    // from sequence(), chunks from slice(), chunk text hash-carried as
    // md5 so the full split is verified without shipping wide strings.
    QueryDef("q176_context_chunks",
      (s, d) => Text.chunkTokens(documents(s, d), "doc_id", "text",
          chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS toks
        |    FROM documents),
        |st AS (SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks), 24)) AS s FROM t
        |  WHERE len(toks) > 0)
        |SELECT doc_id, CAST((s - 1) // 24 AS BIGINT) AS chunk_idx,
        |  CAST(s AS BIGINT) AS start_tok,
        |  CAST(len(toks[s:s+31]) AS BIGINT) AS n_toks,
        |  md5(array_to_string(toks[s:s+31], ' ')) AS chunk_md5
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- q177: quality-aware dedup survivorship -----------------------
    // Near-dup groups (the banded-LSH relation — q42's operator — via
    // star CC) with the survivorship policy real curation uses: keep
    // each group's LONGEST member (n_chars, ties -> smallest id)
    // instead of the smallest id. The representative is an argmax
    // hash-agg over (pref, -id) structs — no window, no sort — and
    // the oracle replays it as a window-ranked pick. (q172 keeps the
    // exact-substring pipeline's min-id form; this query's subject is
    // the POLICY, so it rides the cheaper scale-path relation.)
    QueryDef("q177_quality_survivors",
      (s, d) => Checkpoints.scoped { _ =>
        val docs = documents(s, d)
        val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text",
            QueriesDedup.ShingleN, QueriesDedup.K, QueriesDedup.Bands)
          .select("id_a", "id_b")
        val groups = Dedup.duplicateGroupsStar(pairs, maxIter = 20)
        Dedup.dedupSurvivorsBy(docs, "doc_id", groups, "n_chars")
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      Some(s"""${QueriesDedup.lshCtes().replaceFirst("WITH ", "WITH RECURSIVE ")},
        |${DuckSql.ccGroupCtes},
        |m AS (SELECT g.id, g.group_id, d.n_chars FROM grp g
        |  JOIN documents d ON d.doc_id = g.id),
        |r AS (SELECT id, group_id, row_number() OVER (PARTITION BY group_id
        |    ORDER BY n_chars DESC, id) AS rk FROM m)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM r WHERE rk > 1)
        |ORDER BY doc_id""".stripMargin)),

    // ---- q173: STREAMING curation gate (PII scrub + quality) ---------
    // q169's redaction and q94's quality rules run as ONE stateless
    // streaming stage (readStream -> projection -> append sink, the
    // q118 pattern): every arriving document is scrubbed and labeled
    // with its first failing quality rule, per-row, on the live ingest
    // stream — "curation happens at ingest, not in a nightly batch".
    // PII is synthesized deterministically per doc (the q169
    // convention) and the rules are pure column expressions, so the
    // full per-document output hash-matches the batch oracle.
    QueryDef("q173_streaming_curation_gate",
      (s, d) => {
        import org.apache.spark.sql.types._
        val sch = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        val pEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val pPhone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
        val pId = "\\b[0-9]{9,}\\b"
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("documents.parquet"),
            outputMode = "append",
            transform = st => {
              val t = col("text")
              val nToks = size(Text.tokens(t))
              val punct = length(regexp_replace(t, "[^.!?,;:]", ""))
                .cast("double") / greatest(length(t), lit(1))
              val dirty = Text.qualityGate(st, Seq(
                  "too_short" -> (nToks >= 25),
                  "too_much_punct" -> (punct <= 0.1),
                  "non_target_lang" -> col("lang").isin("en", "de", "fr")))
                .select(col("doc_id"), col("drop_reason"),
                  concat(col("text"),
                    lit(" contact user"), col("doc_id").cast("string"),
                    lit("@example.com or 555-"),
                    lpad((col("doc_id") % 10000).cast("string"), 3, "0"),
                    lit("-1234 ref "),
                    lpad(col("doc_id").cast("string"), 11, "0")).as("t"))
              dirty.select(col("doc_id"), col("drop_reason"),
                size(regexp_extract_all(col("t"), lit(pEmail), lit(0)))
                  .cast("bigint").as("n_emails"),
                size(regexp_extract_all(col("t"), lit(pId), lit(0)))
                  .cast("bigint").as("n_ids"),
                md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
                  pEmail, "<EMAIL>"), pPhone, "<PHONE>"), pId, "<ID>"))
                  .as("redacted_md5"))
            })
          .orderBy("doc_id")
      },
      Some(s"""WITH dirty AS (SELECT doc_id,
        |    CASE
        |      WHEN NOT coalesce(len(${DuckSql.toks("text")}) >= 25, false)
        |        THEN 'too_short'
        |      WHEN NOT coalesce(CAST(length(regexp_replace(text,
        |          '[^.!?,;:]', '', 'g')) AS DOUBLE)
        |        / greatest(length(text), 1) <= 0.1, false)
        |        THEN 'too_much_punct'
        |      WHEN NOT coalesce(lang IN ('en', 'de', 'fr'), false)
        |        THEN 'non_target_lang'
        |    END AS drop_reason,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or 555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 3, '0')
        |      || '-1234 ref ' || lpad(CAST(doc_id AS VARCHAR), 11, '0') AS t
        |  FROM documents)
        |SELECT doc_id, drop_reason,
        |  CAST(len(regexp_extract_all(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '\\b[0-9]{9,}\\b')) AS BIGINT) AS n_ids,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g'),
        |    '\\b[0-9]{9,}\\b', '<ID>', 'g')) AS redacted_md5
        |FROM dirty ORDER BY doc_id""".stripMargin)),

    // ---- q178: STREAMING running-max trace ---------------------------
    // Sessions.streamingRunningMax driven through a genuine streaming
    // plan (the q118 pattern): every event emits the max value seen so
    // far for its user, and the ENTIRE per-event trace — not just the
    // final state — hash-matches the batch cumulative-max window. The
    // bounded source fits one AvailableNow micro-batch, within which
    // events sort by (ts_us, seq), so stream order equals the oracle's
    // window order; max-of-doubles is pure comparison, no accumulation
    // error.
    QueryDef("q178_streaming_running_max",
      (s, d) => {
        import s.implicits._
        // schema probed from the footer: `ts` physical layout differs
        // across testdata generations (nanos-int64 vs micros timestamp)
        val sch = eventsStreamSchema(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("events.parquet"),
            outputMode = "append",
            transform = st => graft.streaming.Sessions.streamingRunningMax(
              normalizeEventTs(st).select(col("user_id").as("key"),
                unix_micros(col("ts")).as("ts_us"),
                col("event_id").as("seq"),
                col("value"))
                .as[graft.streaming.ValEvent]).toDF())
          .orderBy("key", "ts_us", "seq")
      },
      Some("""SELECT user_id AS key, epoch_us(ts) AS ts_us, event_id AS seq,
        |  max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS running_max
        |FROM events ORDER BY 1, 2, 3""".stripMargin)),

    // ---- q180: segment-level corpus dedup (C4/RefinedWeb line dedup) --
    // The boilerplate-removal stage document-level dedup can't do:
    // 8-token segments occurring in >2 distinct docs corpus-wide are
    // struck from every document, the remainder reassembled in order.
    // Frequency rides md5 fingerprints; the over-cap set anti-joins
    // back (shuffle join — at web scale the boilerplate set is itself
    // big); reassembly is one per-doc fold whose buffer is bounded by
    // the doc's own length. Rebuilt text is hash-carried as md5.
    QueryDef("q180_segment_dedup",
      (s, d) => Dedup.segmentDedup(documents(s, d), "doc_id", "text",
          segTokens = 8, maxDocs = 2)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS toks
        |    FROM documents),
        |st AS (SELECT doc_id, unnest(generate_series(1, len(toks), 8)) AS s,
        |    toks FROM t WHERE len(toks) > 0),
        |seg AS (SELECT doc_id, s, array_to_string(toks[s:s+7], ' ') AS seg
        |    FROM st),
        |fp AS (SELECT doc_id, s, seg, md5(seg) AS fp FROM seg),
        |freq AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS m
        |    FROM fp GROUP BY 1) WHERE m > 2),
        |kept AS (SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM freq)),
        |reb AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY s) AS clean FROM kept GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_segs FROM fp GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(tot.n_segs, 0) AS BIGINT) AS n_segs,
        |  CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(tot.n_segs, 0) - coalesce(reb.n_kept, 0) AS BIGINT)
        |    AS n_dropped,
        |  md5(coalesce(reb.clean, '')) AS clean_md5
        |FROM documents d LEFT JOIN tot USING (doc_id)
        |LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ---- q181: training-mixture budget allocation --------------------
    // Largest-remainder apportionment of a 1M-token budget across
    // (lang, source) domains weighted by their exact token counts —
    // the manifest a mixture-sampling job executes. All-BIGINT: floor
    // quotas, remainder ranking (ties -> key order), Σ quota == budget
    // by construction. The window runs over DOMAIN rows only.
    QueryDef("q181_mixture_budget",
      (s, d) => {
        val w = documents(s, d)
          .select(col("lang"), col("source"),
            size(Text.tokens(col("text"))).cast("long").as("__n"))
          .groupBy("lang", "source").agg(sum("__n").as("weight"))
        Sampling.allocateBudget(w, Seq("lang", "source"), "weight", 1000000L)
          .orderBy("lang", "source")
      },
      Some(s"""WITH w AS (SELECT lang, source,
        |    CAST(sum(len(${DuckSql.toks("text")})) AS BIGINT) AS weight
        |  FROM documents GROUP BY 1, 2),
        |q AS (SELECT lang, source, weight,
        |    (1000000 * weight) // (SELECT sum(weight) FROM w) AS fq,
        |    (1000000 * weight) % (SELECT sum(weight) FROM w) AS rem FROM w),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang, source)
        |    AS rk FROM q)
        |SELECT lang, source, weight,
        |  CAST(fq + CASE WHEN rk <= (SELECT 1000000 - sum(fq) FROM q)
        |    THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM r ORDER BY lang, source""".stripMargin)),

    // ---- q182: per-domain percentile quality gate --------------------
    // Drop each language's bottom quartile by n_chars instead of one
    // global cut (which would gut low-resource languages). Threshold =
    // percentile_disc in integer math: smallest score whose running
    // count reaches ceil(total * 25 / 100); the cumulative window runs
    // over (lang, score) COUNT rows, never data rows, and the one-row-
    // per-domain threshold table broadcasts back.
    QueryDef("q182_domain_percentile_gate",
      (s, d) => Text.domainPercentileGate(documents(s, d), "lang",
          "n_chars", pct = 25)
        .select("doc_id", "lang", "n_chars", "threshold")
        .orderBy("doc_id"),
      Some("""WITH c AS (SELECT lang, n_chars AS score, count(*) AS cnt
        |    FROM documents GROUP BY 1, 2),
        |t AS (SELECT lang, sum(cnt) AS total FROM c GROUP BY 1),
        |r AS (SELECT c.lang, score, cnt, total,
        |    sum(cnt) OVER (PARTITION BY c.lang ORDER BY score) AS run
        |  FROM c JOIN t USING (lang)),
        |thr AS (SELECT lang, min(score) AS threshold FROM r
        |  WHERE run >= (total * 25 + 99) // 100 GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  CAST(thr.threshold AS BIGINT) AS threshold
        |FROM documents d JOIN thr USING (lang)
        |WHERE d.n_chars >= thr.threshold ORDER BY d.doc_id""".stripMargin)),

    // ---- q183: hard-negative mining ----------------------------------
    // Contrastive-training negatives: for each probe, the 4 most-
    // similar corpus vectors with a DIFFERENT label — "close but
    // wrong". Probes broadcast with labels; corpus streamed once; the
    // label-mismatch filter rides the broadcast join condition, so the
    // plan is identical to brute-force top-k (q50) with zero extra
    // shuffle.
    QueryDef("q183_hard_negatives",
      (s, d) => {
        val emb = embeddings(s, d)
        graft.ops.Similarity.hardNegatives(
            emb, emb.where(col("vec_id") % 25 === 1), k = 4)
          .withColumn("neighbor_label", col("neighbor_label").cast("bigint"))
          .orderBy("query_id", "neighbor_id")
      },
      Some {
        val cos = DuckSql.cosine("q.embedding", "c.embedding", 64)
        s"""SELECT query_id, neighbor_id, neighbor_label, cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(c.label AS BIGINT) AS neighbor_label,
        |    round($cos, 4) + 0 AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round($cos, 4) DESC, c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c ON c.label != q.label
        |  WHERE q.vec_id % 25 = 1)
        |WHERE rn <= 4 ORDER BY query_id, neighbor_id""".stripMargin
      }),

    // ---- q185: mixture EXECUTION — fill q181's quotas ----------------
    // The planner's manifest turned into the concrete training slice:
    // within each (lang, source) domain, docs are laid out in
    // md5(doc_id) order (a deterministic shuffle any engine replays)
    // and admitted while the exclusive running token count is under
    // the domain's largest-remainder quota — ≤ one doc of overshoot,
    // at least one doc per funded domain. Plan (q181) + execute (q185)
    // close the mixture loop end-to-end.
    QueryDef("q185_mixture_fill",
      (s, d) => {
        val toks = documents(s, d).select(col("doc_id"), col("lang"),
          col("source"), size(Text.tokens(col("text"))).cast("long").as("n_toks"))
        val w = toks.groupBy("lang", "source").agg(sum("n_toks").as("weight"))
        val quotas = Sampling.allocateBudget(
            w, Seq("lang", "source"), "weight", 12000L)
          .select("lang", "source", "quota")
        Sampling.fillQuota(toks, Seq("lang", "source"), "doc_id", "n_toks",
            quotas)
          .select("doc_id", "lang", "source", "n_toks")
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, source,
        |    CAST(len(${DuckSql.toks("text")}) AS BIGINT) AS n_toks
        |  FROM documents),
        |w AS (SELECT lang, source, CAST(sum(n_toks) AS BIGINT) AS weight
        |  FROM toks GROUP BY 1, 2),
        |q AS (SELECT lang, source, weight,
        |    (12000 * weight) // (SELECT sum(weight) FROM w) AS fq,
        |    (12000 * weight) % (SELECT sum(weight) FROM w) AS rem FROM w),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang, source)
        |    AS rk FROM q),
        |qq AS (SELECT lang, source,
        |    fq + CASE WHEN rk <= (SELECT 12000 - sum(fq) FROM q)
        |      THEN 1 ELSE 0 END AS quota FROM r),
        |c AS (SELECT t.doc_id, t.lang, t.source, t.n_toks, qq.quota,
        |    coalesce(sum(t.n_toks) OVER (PARTITION BY t.lang, t.source
        |      ORDER BY md5(CAST(t.doc_id AS VARCHAR)), t.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM toks t JOIN qq USING (lang, source))
        |SELECT doc_id, lang, source, n_toks FROM c
        |WHERE cum < quota ORDER BY doc_id""".stripMargin)),

    // ---- q187: temperature-weighted mixture plan ---------------------
    // τ=0.5 temperature sampling (the multilingual-pretraining default
    // for upweighting low-resource domains): allocation weights are
    // floor(sqrt(token_count)) instead of raw counts, then the same
    // largest-remainder apportionment as q181. IEEE sqrt is correctly
    // rounded in both engines and the floor lands on an integer, so
    // the plan stays bit-replayable.
    QueryDef("q187_temperature_mixture",
      (s, d) => {
        val w = documents(s, d)
          .select(col("lang"), col("source"),
            size(Text.tokens(col("text"))).cast("long").as("__n"))
          .groupBy("lang", "source").agg(sum("__n").as("raw_tokens"))
          .withColumn("weight",
            floor(sqrt(col("raw_tokens").cast("double"))).cast("long"))
        Sampling.allocateBudget(w.select("lang", "source", "raw_tokens",
            "weight"), Seq("lang", "source", "raw_tokens"), "weight", 12000L)
          .orderBy("lang", "source")
      },
      Some(s"""WITH w AS (SELECT lang, source,
        |    CAST(sum(len(${DuckSql.toks("text")})) AS BIGINT) AS raw_tokens,
        |    CAST(floor(sqrt(CAST(sum(len(${DuckSql.toks("text")}))
        |      AS DOUBLE))) AS BIGINT) AS weight
        |  FROM documents GROUP BY 1, 2),
        |q AS (SELECT lang, source, raw_tokens, weight,
        |    (12000 * weight) // (SELECT sum(weight) FROM w) AS fq,
        |    (12000 * weight) % (SELECT sum(weight) FROM w) AS rem FROM w),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang, source,
        |    raw_tokens) AS rk FROM q)
        |SELECT lang, source, raw_tokens, weight,
        |  CAST(fq + CASE WHEN rk <= (SELECT 12000 - sum(fq) FROM q)
        |    THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM r ORDER BY lang, source""".stripMargin)),

    // ---- q188: text-format sink/source roundtrip ---------------------
    // Completes the format matrix (parquet/JSON/CSV/ORC/binaryFile +
    // text): document bodies written as one-column text files and read
    // back byte-identically — the interchange format raw-corpus drops
    // actually arrive in. Hash-compared via md5 against the original
    // table (single-line docs, so one line == one doc).
    QueryDef("q188_text_roundtrip",
      (s, d) => {
        val base = documents(s, d).select(col("text"))
        val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_text_rt_${math.abs(d.hashCode)}").getPath
        base.write.mode("overwrite").text(dir)
        s.read.text(dir)
          .select(md5(col("value")).as("doc_md5"))
          .groupBy("doc_md5").agg(count(lit(1)).as("n"))
          .orderBy("doc_md5")
      },
      Some("""SELECT md5(text) AS doc_md5, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q189: per-domain robust outliers (median + MAD) -------------
    // q124's two-pass MAD made per-group: docs more than 3 MADs from
    // their language's median length. Both order statistics are exact
    // integer percentile_disc(50) (the q182 machinery), so the
    // comparison |score - median|*100 > mad*300 is all-BIGINT and
    // replays bit-identically — a robust per-domain gate no float
    // stddev could oracle this tightly.
    QueryDef("q189_robust_outliers",
      (s, d) => Text.domainRobustOutliers(
          documents(s, d).select("doc_id", "lang", "n_chars"),
          "lang", "n_chars", k100 = 150L)
        .select("doc_id", "lang", "n_chars", "median", "mad")
        .orderBy("doc_id"),
      Some("""WITH c AS (SELECT lang, n_chars AS s, count(*) AS cnt
        |    FROM documents GROUP BY 1, 2),
        |t AS (SELECT lang, sum(cnt) AS total FROM c GROUP BY 1),
        |r AS (SELECT c.lang, s, total,
        |    sum(cnt) OVER (PARTITION BY c.lang ORDER BY s) AS run
        |  FROM c JOIN t USING (lang)),
        |med AS (SELECT lang, min(s) AS median FROM r
        |  WHERE run >= (total * 50 + 99) // 100 GROUP BY 1),
        |dev AS (SELECT d.doc_id, d.lang, d.n_chars, med.median,
        |    abs(d.n_chars - med.median) AS adev
        |  FROM documents d JOIN med USING (lang)),
        |c2 AS (SELECT lang, adev, count(*) AS cnt FROM dev GROUP BY 1, 2),
        |t2 AS (SELECT lang, sum(cnt) AS total FROM c2 GROUP BY 1),
        |r2 AS (SELECT c2.lang, adev, total,
        |    sum(cnt) OVER (PARTITION BY c2.lang ORDER BY adev) AS run
        |  FROM c2 JOIN t2 USING (lang)),
        |mad AS (SELECT lang, min(adev) AS mad FROM r2
        |  WHERE run >= (total * 50 + 99) // 100 GROUP BY 1)
        |SELECT dev.doc_id, dev.lang, dev.n_chars, dev.median, mad.mad
        |FROM dev JOIN mad USING (lang)
        |WHERE dev.adev * 100 > mad.mad * 150
        |ORDER BY doc_id""".stripMargin)),

    // ---- q190: STREAMING EWMA parity ---------------------------------
    // Sessions.streamingEwma (O(1) state per key — the scale path
    // q129's chunked batch fold documents) driven through a genuine
    // streaming plan and hash-matched against the SEQUENTIAL ordered
    // fold: DuckDB's list_reduce seeds its accumulator with the first
    // element, exactly the stream's n==0 convention, and both sides
    // use the literal constants 0.3/0.7 (1.0-0.3 is a DIFFERENT
    // double). Final state per key = the emitted row with the largest
    // n — robust to any micro-batch split.
    QueryDef("q190_streaming_ewma",
      (s, d) => {
        import s.implicits._
        // schema probed from the footer: `ts` physical layout differs
        // across testdata generations (nanos-int64 vs micros timestamp)
        val sch = eventsStreamSchema(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("events.parquet"),
            outputMode = "update",
            transform = st => graft.streaming.Sessions.streamingEwma(
              normalizeEventTs(st).select(col("user_id").as("key"),
                unix_micros(col("ts")).as("ts_us"),
                col("event_id").as("seq"),
                col("value"))
                .as[graft.streaming.ValEvent], alpha = 0.3, beta = 0.7).toDF())
          .groupBy("key")
          .agg(max(struct(col("n"), col("ewma"))).as("__last"))
          .select(col("key"), col("__last.n").as("n"),
            round(col("__last.ewma"), 6).as("ewma"))
          .orderBy("key")
      },
      Some("""SELECT user_id AS key, CAST(len(vs) AS BIGINT) AS n,
        |  round(list_reduce(vs, (acc, x) -> 0.3 * x + 0.7 * acc), 6) + 0
        |    AS ewma
        |FROM (SELECT user_id,
        |    list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vs
        |  FROM events GROUP BY 1)
        |ORDER BY key""".stripMargin)),

    // ---- q191: distribution drift (total-variation, integer-exact) ---
    // The corpus-monitoring gate "did the event mix shift between
    // periods?": per event_type, the micro-unit share delta
    // |c1·N2 − c2·N1|·1e6 div (N1·N2) between the month's first and
    // second half. Cross-multiplied BIGINTs — no per-row float
    // division, no ln (what rules out PSI for bit-replay) — and the
    // total-variation distance is Σ delta div 2. Two conditional
    // aggregates + two broadcast scalars; a 100 TB drift check is one
    // shuffle on the type key.
    QueryDef("q191_distribution_drift",
      (s, d) => {
        val ev = events(s, d).select(col("event_type"),
          when(expr("day(ts)") <= 15, lit(1)).otherwise(lit(2)).as("__p"))
        val c = ev.groupBy("event_type")
          .agg(sum(when(col("__p") === 1, 1L).otherwise(0L)).as("c1"),
            sum(when(col("__p") === 2, 1L).otherwise(0L)).as("c2"))
        val tot = c.agg(sum("c1").as("__n1"), sum("c2").as("__n2"))
        c.crossJoin(broadcast(tot))
          .select(col("event_type"), col("c1"), col("c2"),
            expr("abs(c1 * __n2 - c2 * __n1) * 1000000L div (__n1 * __n2)")
              .as("delta_micro"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (SELECT event_type,
        |    CAST(count(*) FILTER (day(ts) <= 15) AS BIGINT) AS c1,
        |    CAST(count(*) FILTER (day(ts) > 15) AS BIGINT) AS c2
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM c)
        |SELECT event_type, c1, c2,
        |  CAST(abs(c1 * t.n2 - c2 * t.n1) * 1000000 // (t.n1 * t.n2)
        |    AS BIGINT) AS delta_micro
        |FROM c, t ORDER BY event_type""".stripMargin)),

    // ---- q192: packing efficiency report -----------------------------
    // Before a packing run: how much padding would fixed windows of
    // 128 tokens waste, by document-length decile-of-128 bucket? Per
    // bucket: docs, tokens, chunks = ceil(toks/128), padding =
    // chunks·128 − toks, and the waste in micro-units — the report
    // that decides between padded windows and concat-and-chunk (q84).
    // All integer; one hash-agg over per-doc token counts.
    QueryDef("q192_packing_efficiency",
      (s, d) => {
        val toks = documents(s, d)
          .select(size(Text.tokens(col("text"))).cast("long").as("__n"))
          .where(col("__n") > 0)
        toks.select(expr("__n div 32").as("len_bucket"), col("__n"),
            expr("(__n + 127) div 128").as("__chunks"))
          .groupBy("len_bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum("__n").as("n_tokens"),
            sum("__chunks").as("n_chunks"),
            (sum("__chunks") * 128 - sum("__n")).as("padding"))
          .withColumn("waste_micro",
            expr("padding * 1000000L div (n_chunks * 128)"))
          .orderBy("len_bucket")
      },
      Some(s"""WITH t AS (SELECT len(${DuckSql.toks("text")}) AS n
        |    FROM documents),
        |b AS (SELECT n // 32 AS len_bucket, n, (n + 127) // 128 AS chunks
        |  FROM t WHERE n > 0)
        |SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
        |  count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(chunks) AS BIGINT) AS n_chunks,
        |  CAST(sum(chunks) * 128 - sum(n) AS BIGINT) AS padding,
        |  CAST((sum(chunks) * 128 - sum(n)) * 1000000
        |    // (sum(chunks) * 128) AS BIGINT) AS waste_micro
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)))
}
