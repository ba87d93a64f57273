package graft.queries

import graft.Tables._
import graft.ops.{Dedup, Events, Graph, Relational, Sampling, Similarity, Text}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 widening batch: CDC history (SCD2), SimHash near-dup
  * pairing, gaps-and-islands, data profiling, histograms, embedding
  * centroids, feature normalization, deterministic weighted sampling,
  * BPE pair counting, and blocked fuzzy matching. Every query has a
  * full DuckDB oracle.
  */
object QueriesQuality {

  val defs: Seq[QueryDef] = Seq(

    // ---- q100: SCD Type-2 history from a changelog -------------------
    // Synthesized deterministic changelog over customer (the q92
    // pattern): upserts at seq 1, deletes at seq 2 for key%10=0, and a
    // re-insert at seq 3 for key%20=0 — exercising closed intervals,
    // delete-terminated intervals, and re-opened keys.
    QueryDef("q100_scd2",
      (s, d) => {
        val base = customer(s, d).select("c_custkey", "c_name", "c_acctbal")
        val k = col("c_custkey")
        val changes = base.where(k % 10 <= 1)
          .select(k, lit("upsert").as("op"), lit(1L).as("seq"),
            col("c_name"), col("c_acctbal"))
          .unionAll(base.where(k % 10 === 0)
            .select(k, lit("delete").as("op"), lit(2L).as("seq"),
              col("c_name"), col("c_acctbal")))
          .unionAll(base.where(k % 20 === 0)
            .select(k, lit("upsert").as("op"), lit(3L).as("seq"),
              concat(col("c_name"), lit("_v2")).as("c_name"),
              (col("c_acctbal") + 50).as("c_acctbal")))
        Relational.scd2History(changes, "c_custkey", "op", "seq")
          .orderBy("c_custkey", "valid_from")
      },
      Some("""WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |ch AS (
        |  SELECT c_custkey, 'upsert' AS op, CAST(1 AS BIGINT) AS seq, c_name, c_acctbal
        |    FROM base WHERE c_custkey % 10 <= 1
        |  UNION ALL SELECT c_custkey, 'delete', 2, c_name, c_acctbal
        |    FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL SELECT c_custkey, 'upsert', 3, c_name || '_v2', c_acctbal + 50
        |    FROM base WHERE c_custkey % 20 = 0),
        |h AS (SELECT *, lead(seq) OVER (PARTITION BY c_custkey ORDER BY seq, op) AS valid_to
        |  FROM ch)
        |SELECT c_custkey, c_name, c_acctbal, seq AS valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM h WHERE op = 'upsert' ORDER BY c_custkey, valid_from""".stripMargin)),

    // ---- q101: SimHash near-dup pairs (band-blocked, exact ≤3 bits) -
    // 64-bit fingerprint with 16-bit bands: a 16-bit simhash has only
    // 64 coarse band buckets, so blocks grow O(corpus) and the banded
    // self-join goes quadratic — 64 bits keep blocks near-singleton at
    // scale AND make distance <= 3 a meaningful near-dup bound. The
    // oracle recomputes the full 64-bit fingerprint (token list
    // let-bound in a CTE) and checks ALL pairs — banding is exact for
    // <= 3 by pigeonhole, so the results must agree.
    QueryDef("q101_simhash_neardup",
      (s, d) => Dedup.simhashNearDupPairs(documents(s, d), "doc_id", "text", 3)
        .orderBy("id_a", "id_b"),
      Some {
        val ham = "CAST(list_sum(list_transform(generate_series(0, 63), " +
          "i -> (xor(fa, fb) >> i) & 1)) AS INT)"
        s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS tk FROM documents),
        |sh AS (SELECT doc_id, ${DuckSql.simhashBits("tk", 64)} AS sh FROM t),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS fa, b.sh AS fb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM
        |  (SELECT id_a, id_b, $ham AS hamming FROM c)
        |WHERE hamming <= 3 ORDER BY 1, 2""".stripMargin
      }),

    // ---- q102: gaps-and-islands — consecutive active days per user --
    QueryDef("q102_islands",
      (s, d) => Events.activeDayIslands(events(s, d), "user_id", "ts")
        .orderBy("user_id", "run_start"),
      Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (SELECT user_id, day,
        |  day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS grp
        |  FROM days)
        |SELECT user_id, min(day) AS run_start, max(day) AS run_end,
        |  count(*) AS run_days
        |FROM g GROUP BY user_id, grp ORDER BY user_id, run_start""".stripMargin)),

    // ---- q103: one-pass column profile (data-quality staple) --------
    // money profiled as DECIMAL so min/max render identically as
    // strings in both engines
    QueryDef("q103_profile",
      (s, d) => Relational.profileColumns(
          orders(s, d).withColumn("o_totalprice",
            col("o_totalprice").cast("decimal(18,2)")),
          Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"))
        .orderBy("col_name"),
      Some {
        def row(c: String, src: String = "orders") =
          s"""SELECT '$c' AS col_name, count($c) AS n_nonnull,
          |  count(DISTINCT $c) AS n_distinct,
          |  CAST(min($c) AS VARCHAR) AS min_value,
          |  CAST(max($c) AS VARCHAR) AS max_value FROM $src""".stripMargin
        s"""${row("o_orderstatus")}
        |UNION ALL ${row("o_orderpriority")}
        |UNION ALL ${row("o_custkey")}
        |UNION ALL ${row("o_totalprice",
            "(SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice FROM orders)")}
        |ORDER BY 1""".stripMargin
      }),

    // ---- q104: fixed-width histogram (one hash-agg, no sort) --------
    QueryDef("q104_histogram",
      (s, d) => Relational.histogram(lineitem(s, d), "l_extendedprice",
          0.0, 120000.0, 12)
        .orderBy("bucket"),
      Some("""WITH b AS (SELECT
        |  CAST(least(greatest(floor(l_extendedprice / 10000.0), 0), 11) AS BIGINT) AS bucket,
        |  l_extendedprice FROM lineitem)
        |SELECT bucket, count(*) AS n,
        |  round(min(l_extendedprice), 2) AS lo_seen,
        |  round(max(l_extendedprice), 2) AS hi_seen
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q105: per-label embedding centroids (exact decimal means) --
    QueryDef("q105_centroids",
      (s, d) => Similarity.labelCentroids(embeddings(s, d), "label",
          "embedding", 8)
        .orderBy("label", "dim"),
      Some("""SELECT label, i AS dim, count(*) AS n,
        |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,8))) AS DOUBLE)
        |    / count(*), 6) + 0 AS mean
        |FROM embeddings, (SELECT unnest(generate_series(1, 8)) AS i) g
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- q106: per-type z-score + quartile binning (feature norm) ---
    // moments from exact decimal sums (order-free, see q70/q96);
    // ntile ordered by (value, event_id) so ties bin deterministically
    QueryDef("q106_zscore",
      (s, d) => {
        val d2 = col("value").cast("decimal(18,2)")
        val stats = events(s, d).groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            sum(d2).cast("double").as("s1"),
            sum(d2 * d2).cast("double").as("s2"))
        val mu = col("s1") / col("cnt")
        val sd = sqrt((col("s2") - col("s1") * col("s1") / col("cnt")) /
          (col("cnt") - 1))
        val w = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        events(s, d).join(broadcast(stats), Seq("event_type"))
          .select(col("event_id"), col("event_type"),
            round(col("value"), 2).as("value"),
            round((col("value") - mu) / sd, 4).as("z"),
            ntile(4).over(w).as("quartile"))
          .orderBy("event_id")
      },
      Some("""WITH s AS (SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1)
        |SELECT event_id, event_type, round(value, 2) AS value,
        |  round((value - s1 / cnt) / sqrt((s2 - s1 * s1 / cnt) / (cnt - 1)), 4) + 0 AS z,
        |  ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile
        |FROM events JOIN s USING (event_type)
        |ORDER BY event_id""".stripMargin)),

    // ---- q107: deterministic weighted sample (A-ES priorities) ------
    QueryDef("q107_weighted_sample",
      (s, d) => Sampling.weightedTopK(documents(s, d), "doc_id", "n_chars", 50)
        .select("doc_id", "lang", "n_chars", "priority")
        .orderBy("priority", "doc_id"),
      Some(s"""SELECT doc_id, lang, n_chars,
        |  round(-ln((${DuckSql.hashLong("doc_id")} + 1.0) / 4294967296.0)
        |    / n_chars, 8) + 0 AS priority
        |FROM documents WHERE n_chars > 0
        |ORDER BY priority, doc_id LIMIT 50""".stripMargin)),

    // ---- q108: BPE merge-round pair counting ------------------------
    QueryDef("q108_bpe_pairs",
      (s, d) => Relational.topK(
        Text.adjacentPairFrequencies(documents(s, d), "text"),
        Seq(col("freq").desc, col("pair").asc), 100),
      Some("""WITH t AS (SELECT
        |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS tk
        |  FROM documents),
        |p AS (SELECT unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
        |  i -> tk[i] || ' ' || tk[i + 1])) AS pair FROM t)
        |SELECT pair, count(*) AS freq FROM p GROUP BY 1
        |ORDER BY freq DESC, pair LIMIT 100""".stripMargin)),

    // ---- q109: blocked fuzzy match (entity resolution) --------------
    // (brand, size) blocking keeps the candidate set linear-ish; at
    // brand-only blocking the distance-8 result was 50k pairs on 2k
    // parts — a threshold that loose is a cross join in disguise
    QueryDef("q109_fuzzy_join",
      (s, d) => Dedup.fuzzyPairsBlocked(part(s, d), "p_partkey", "p_name",
          Seq("p_brand", "p_size"), 6)
        .orderBy("id_a", "id_b"),
      Some("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  levenshtein(a.p_name, b.p_name) AS distance
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |  AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 6
        |ORDER BY 1, 2""".stripMargin)),

    // ---- q110: 7-day trailing revenue (RANGE frame over daily rollup)
    // The window input is the DAILY rollup — O(days) rows no matter
    // how large the fact table is — so the unpartitioned range frame
    // is safe at any corpus scale (the heavy lifting happened in the
    // partial-aggregating groupBy).
    QueryDef("q110_trailing_window",
      (s, d) => {
        val daily = orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        val w = Window
          .orderBy(datediff(col("day"), lit("1990-01-01").cast("date")))
          .rangeBetween(-6, 0)
        daily
          .select(col("day"), col("rev").cast("double").as("rev"),
            sum(col("rev")).over(w).cast("double").as("trailing7"))
          .orderBy("day")
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT day, CAST(rev AS DOUBLE) AS rev,
        |  CAST(sum(rev) OVER (ORDER BY day
        |    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing7
        |FROM daily ORDER BY day""".stripMargin)),

    // ---- q111: heterogeneous-source union (schema alignment) --------
    // Two sources with different column sets align by NAME with
    // missing columns null-filled — the multi-source ingest staple
    // (positional union would silently mis-assign columns).
    QueryDef("q111_union_by_name",
      (s, d) => {
        val docs = documents(s, d)
        val a = docs.where(length(col("source")) === 4)
          .select(col("doc_id"), col("source"), col("lang"))
        val b = docs.where(length(col("source")) === 5)
          .select(col("doc_id"), col("n_chars"), col("source"))
        a.unionByName(b, allowMissingColumns = true)
          .groupBy(coalesce(col("lang"), lit("?")).as("lang"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""WITH u AS (
        |  SELECT doc_id, source, lang, NULL AS n_chars FROM documents
        |    WHERE length(source) = 4
        |  UNION ALL SELECT doc_id, source, NULL, n_chars FROM documents
        |    WHERE length(source) = 5)
        |SELECT coalesce(lang, '?') AS lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q112: winsorized statistics (outlier-robust means) ---------
    QueryDef("q112_winsorize",
      (s, d) => Relational.winsorizeStats(documents(s, d), "lang", "n_chars",
          0.05, 0.95)
        .orderBy("lang"),
      Some("""WITH b AS (SELECT lang,
        |  quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi
        |  FROM documents GROUP BY 1)
        |SELECT lang, count(*) AS n,
        |  round(CAST(sum(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_raw,
        |  round(CAST(sum(CAST(least(greatest(CAST(n_chars AS DOUBLE), lo), hi)
        |    AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_winsorized,
        |  round(min(lo), 4) AS p_lo, round(max(hi), 4) AS p_hi
        |FROM documents JOIN b USING (lang)
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- q113: triangle count over the fuzzy-match graph ------------
    QueryDef("q113_triangles",
      (s, d) => Dedup.triangleCount(
        Dedup.fuzzyPairsBlocked(part(s, d), "p_partkey", "p_name",
          Seq("p_brand", "p_size"), 6)),
      Some("""WITH e AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        |  FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |    AND a.p_partkey < b.p_partkey
        |  WHERE levenshtein(a.p_name, b.p_name) <= 6)
        |SELECT count(*) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.id_b = e2.id_a
        |JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b""".stripMargin)),

    // ---- q145: integer-exact PageRank over the co-purchase graph ----
    // Link-analysis scoring (corpus-curation weighting shape): parts
    // co-occurring in an order are bidirectional edges; 3 bounded
    // rounds of Graph.pageRank in BIGINT micro-units. Floor-division
    // integer arithmetic makes every score partition-order-independent
    // and engine-identical, so the oracle replays all three rounds as
    // chained CTEs and the hash check covers the whole iteration, not
    // a rounded summary.
    QueryDef("q145_pagerank",
      (s, d) => {
        val li = lineitem(s, d).select("l_orderkey", "l_partkey")
        val e = li.withColumnRenamed("l_partkey", "src")
          .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
          .where(col("src") =!= col("dst"))
          .select("src", "dst")
        Relational.topK(Graph.pageRank(e, "src", "dst", iters = 3),
          Seq(col("rank_micro").desc, col("id").asc), 100)
          .select(col("id").as("part_id"), col("rank_micro"))
      },
      Some {
        def iter(prev: String, curr: String) =
          s"""$curr AS (SELECT n.id, 150000 + (85 * coalesce(s.s, 0)) // 100 AS r
          |  FROM nodes n LEFT JOIN (
          |    SELECT e.dst AS id, CAST(sum($prev.r // deg.d) AS BIGINT) AS s
          |    FROM e JOIN $prev ON $prev.id = e.src
          |    JOIN deg ON deg.src = e.src GROUP BY 1) s ON s.id = n.id)"""
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey != b.l_partkey),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |${iter("r0", "r1")},
        |${iter("r1", "r2")},
        |${iter("r2", "r3")}
        |SELECT id AS part_id, r AS rank_micro FROM r3
        |ORDER BY rank_micro DESC, part_id LIMIT 100""".stripMargin
      }),

    // ---- q115: the reference's fallback DAG, fully oracle-verified --
    // The q64 pipeline (transcript attempt → ASR for the ids that
    // fail, in one pass; main.py stages 2-4) driven from the documents
    // table with ids that are a pure function of doc_id. The stub
    // connectors are deterministic, so every output field — routing
    // decision included — is SQL-computable and the whole DAG is
    // hash-verified, not just rows-checked.
    QueryDef("q115_fallback_oracle",
      (s, d) => {
        import s.implicits._
        val ids = documents(s, d)
          .select(when(col("doc_id") % 7 === 0,
              concat(lit("bad"), col("doc_id").cast("string")))
            .otherwise(concat(lit("vid"), col("doc_id").cast("string")))
            .as("vid"))
          .as[String]
        graft.ingest.Connectors.ingestWithFallback(s, ids,
            () => new graft.ingest.Connectors.StubTranscriptFetcher,
            () => new graft.ingest.Connectors.StubAsrEngine,
            audioFor = vid => Array.fill[Byte](vid.length * 100)(1))
          .toDF()
          .select(col("id"), col("source_type"), col("text"),
            size(coalesce(col("segments"), array())).cast("bigint").as("n_segments"),
            col("binary_path"))
          .orderBy("id")
      },
      Some("""WITH v AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'bad' || CAST(doc_id AS VARCHAR)
        |       ELSE 'vid' || CAST(doc_id AS VARCHAR) END AS vid
        |  FROM documents)
        |SELECT 'yt_' || vid AS id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'youtube' ELSE 'youtube_transcript' END
        |    AS source_type,
        |  CASE WHEN doc_id % 7 = 0
        |    THEN 'stub transcript of ' || CAST(length(vid) * 100 AS VARCHAR) || ' bytes'
        |    ELSE 'hello from ' || vid || '.' || chr(10) ||
        |      'second segment of ' || vid || '!' END AS text,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 2 END AS BIGINT) AS n_segments,
        |  CASE WHEN doc_id % 7 = 0 THEN 'audio/' || vid || '.wav' END AS binary_path
        |FROM v ORDER BY id""".stripMargin)),

    // ---- q118: STREAMING execution, hash-verified -------------------
    // A genuine Structured Streaming run (readStream file source →
    // incremental stateful aggregation → complete-mode memory sink,
    // Trigger.AvailableNow) whose final table is compared against the
    // DuckDB oracle — streaming and batch semantics agree on a bounded
    // input, so the STREAMING engine itself is under the hash check.
    QueryDef("q118_streaming_parity",
      (s, d) => {
        // schema probed from the footer: `ts` physical layout differs
        // across testdata generations (nanos-int64 vs micros timestamp)
        val sch = eventsStreamSchema(s, d)
        // the file source needs a DIRECTORY; glob-filter to the one table
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("events.parquet"),
            shufflePartitions = Some(4),
            transform = st => normalizeEventTs(st)
              .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
              .agg(count(lit(1)).as("n"),
                Relational.sumExact(col("value")).as("sum_value")))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("wstart", "event_type")
      },
      Some("""SELECT strftime(make_timestamp((epoch_us(ts) // 1800000000) * 1800000000),
        |    '%Y-%m-%d %H:%M:%S') AS wstart,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- q120: snapshot diff (CDC generation, inverse of q92) -------
    // deterministic "new" snapshot derived from customer: key%10=0
    // dropped (deletes), key%10=1 balance-bumped (updates), key%10=2
    // re-keyed +1e6 (inserts), the rest unchanged (no row emitted)
    QueryDef("q120_snapshot_diff",
      (s, d) => {
        val base = customer(s, d).select("c_custkey", "c_name", "c_acctbal")
        val k = col("c_custkey")
        val newSnap = base.where(k % 10 =!= 0)
          .select(
            when(k % 10 === 2, k + 1000000).otherwise(k).as("c_custkey"),
            col("c_name"),
            when(k % 10 === 1, col("c_acctbal") + 100)
              .otherwise(col("c_acctbal")).as("c_acctbal"))
        Relational.snapshotDiff(base, newSnap, "c_custkey")
          .orderBy("c_custkey", "op")
      },
      Some("""WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |nw AS (SELECT CASE WHEN c_custkey % 10 = 2 THEN c_custkey + 1000000
        |    ELSE c_custkey END AS c_custkey, c_name,
        |  CASE WHEN c_custkey % 10 = 1 THEN c_acctbal + 100
        |    ELSE c_acctbal END AS c_acctbal
        |  FROM base WHERE c_custkey % 10 != 0),
        |j AS (SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
        |  o.c_custkey IS NOT NULL AS in_old, n.c_custkey IS NOT NULL AS in_new,
        |  o.c_name AS on_, n.c_name AS nn, o.c_acctbal AS ob, n.c_acctbal AS nb
        |  FROM base o FULL OUTER JOIN nw n ON o.c_custkey = n.c_custkey)
        |SELECT c_custkey,
        |  CASE WHEN NOT in_old THEN 'insert' WHEN NOT in_new THEN 'delete'
        |    WHEN on_ IS DISTINCT FROM nn OR ob IS DISTINCT FROM nb THEN 'update' END AS op,
        |  CASE WHEN NOT in_new THEN on_ ELSE nn END AS c_name,
        |  CASE WHEN NOT in_new THEN ob ELSE nb END AS c_acctbal
        |FROM j
        |WHERE NOT in_old OR NOT in_new
        |  OR on_ IS DISTINCT FROM nn OR ob IS DISTINCT FROM nb
        |ORDER BY c_custkey, op""".stripMargin)),

    // ---- q119: streaming stateful dedup, hash-verified --------------
    // dropDuplicates on a stream keeps per-key state and emits each
    // key once (append mode); on a bounded AvailableNow run the
    // emitted set must equal batch DISTINCT — the state-store dedup
    // path is under the hash check.
    // ---- q140: STREAMING session-window utterance assembly ----------
    // q66's semantics driven through a genuine streaming plan (the
    // q118 pattern): readStream file source -> withWatermark ->
    // session_window stateful aggregation -> AvailableNow run to
    // completion; the final table hash-matches q66's batch oracle, so
    // the reference's §3.3 utterance-assembly shape is pinned
    // END-TO-END in its streaming form, not just via StreamingSpec.
    QueryDef("q140_streaming_sessions",
      (s, d) => {
        // schema probed from the footer: `ts` physical layout differs
        // across testdata generations (nanos-int64 vs micros timestamp)
        val sch = eventsStreamSchema(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("events.parquet"),
            shufflePartitions = Some(4),
            transform = st => graft.streaming.Sessions.assembleUtterances(
              normalizeEventTs(st)
                .select(col("user_id"), col("ts"), col("event_type").as("word")),
              "user_id", "ts", "word", gapSec = 1800))
          .select(col("user_id"), col("n_words"),
            unix_micros(col("utterance_start")).as("start_us"))
          .orderBy("user_id", "start_us")
      },
      Some("""WITH x AS (SELECT user_id, epoch_us(ts) AS tus,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, tus, CAST(sum(new_s) OVER (PARTITION BY user_id
        |  ORDER BY tus ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM x)
        |SELECT user_id, count(*) AS n_words, min(tus) AS start_us
        |FROM y GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin)),

    // ---- q143: STREAMING stream-stream interval join ----------------
    // click->purchase attribution as a genuine stream-stream inner
    // join: both sides carry watermarks and the time-range conjuncts
    // bound the join state (Sessions.joinWithinInterval), driven to
    // completion with AvailableNow; the final pair counts hash-match
    // the batch self-join oracle. Completes the hash-verified
    // streaming surface: stateful agg (q118), state-store dedup
    // (q119), session windows (q140), and now the join.
    QueryDef("q143_streaming_interval_join",
      (s, d) => {
        // schema probed from the footer: `ts` physical layout differs
        // across testdata generations (nanos-int64 vs micros timestamp)
        val sch = eventsStreamSchema(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("events.parquet"),
            outputMode = "append",
            shufflePartitions = Some(4),
            transform = st => {
              val ev = normalizeEventTs(st)
              val clicks = ev.where(col("event_type") === "click")
                .select(col("user_id"), col("ts").as("c_ts"),
                  col("event_id").as("c_id"))
              val purchases = ev.where(col("event_type") === "purchase")
                .select(col("user_id"), col("ts").as("p_ts"),
                  col("event_id").as("p_id"))
              graft.streaming.Sessions.joinWithinInterval(
                clicks, purchases, "user_id", "c_ts", "p_ts",
                lowerSec = 0, upperSec = 1800)
            })
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("p_id")).as("n_purchases"))
          .orderBy("user_id")
      },
      Some("""SELECT c.user_id, count(*) AS n_pairs,
        |  count(DISTINCT p.event_id) AS n_purchases
        |FROM events c JOIN events p ON p.user_id = c.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND epoch_us(p.ts) >= epoch_us(c.ts)
        |  AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q148: STREAMING left-outer interval join -------------------
    // q143's attribution join in its outer form: the unmatched click
    // emits a null-padded row only when the watermark PROVES no
    // purchase can still arrive — the state-eviction semantics that
    // distinguish a streaming outer join from a batch one. The left
    // side is bounded 10+ days before the stream's end, so the final
    // no-data micro-batch's watermark clears every pending click and
    // the emitted set equals the batch LEFT JOIN — putting the
    // eviction-driven null path itself under the hash check.
    QueryDef("q148_streaming_left_outer",
      (s, d) => {
        // schema probed from the footer: `ts` physical layout differs
        // across testdata generations (nanos-int64 vs micros timestamp)
        val sch = eventsStreamSchema(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("events.parquet"),
            outputMode = "append",
            shufflePartitions = Some(4),
            transform = st => {
              // watermark on the SOURCE, before the selective filters:
              // the global watermark is the min over watermark nodes,
              // and a node downstream of `event_type = 'click'` would
              // stall at the last click — stranding the final
              // interval's unmatched outer state (see joinWithinInterval)
              val ev = normalizeEventTs(st)
                .withWatermark("ts", "30 seconds")
              val clicks = ev.where(col("event_type") === "click" &&
                  col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
                .select(col("user_id"), col("ts").as("c_ts"),
                  col("event_id").as("c_id"))
              val purchases = ev.where(col("event_type") === "purchase")
                .select(col("user_id"), col("ts").as("p_ts"),
                  col("event_id").as("p_id"))
              graft.streaming.Sessions.joinWithinInterval(
                clicks, purchases, "user_id", "c_ts", "p_ts",
                lowerSec = 0, upperSec = 1800, joinType = "left_outer",
                applyWatermarks = false)
            })
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_rows"),
            count(col("p_id")).as("n_matched"),
            sum(when(col("p_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
          .orderBy("user_id")
      },
      Some("""SELECT c.user_id, count(*) AS n_rows,
        |  count(p.event_id) AS n_matched,
        |  CAST(sum(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unmatched
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'click'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00') c
        |LEFT JOIN (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id
        |  AND epoch_us(p.ts) >= epoch_us(c.ts)
        |  AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q119_streaming_dedup",
      (s, d) => {
        // schema probed from the footer: `ts` physical layout differs
        // across testdata generations (nanos-int64 vs micros timestamp)
        val sch = eventsStreamSchema(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("events.parquet"),
            outputMode = "append",
            shufflePartitions = Some(4),
            transform = st => st.select(col("user_id"), col("event_type"))
              .dropDuplicates("user_id", "event_type"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY 1, 2""".stripMargin)),

    // ---- q116: correlated min-per-group subquery (TPC-H Q2 shape) ---
    // SQL text IS the oracle text; Catalyst decorrelates the subquery
    // into an aggregate + join (no per-row re-execution)
    QueryDef("q116_correlated_min", {
      val sql = """SELECT p_type, p_partkey, p_retailprice
        |FROM part p
        |WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
        |  WHERE p2.p_type = p.p_type)
        |ORDER BY p_type, p_partkey""".stripMargin
      (s, d) => {
        graft.Tables.table(s, d, "part").createOrReplaceTempView("part")
        s.sql(sql)
      }
    },
      Some("""SELECT p_type, p_partkey, p_retailprice
        |FROM part p
        |WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
        |  WHERE p2.p_type = p.p_type)
        |ORDER BY p_type, p_partkey""".stripMargin)),

    // ---- q117: NOT EXISTS + scalar subquery (TPC-H Q22 shape) -------
    // the scalar average uses exact decimal sums so both engines
    // compute the identical threshold (order-free)
    QueryDef("q117_notexists_avg", {
      val sql = """SELECT c_custkey, round(c_acctbal, 2) AS bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin
      (s, d) => {
        graft.Tables.table(s, d, "customer").createOrReplaceTempView("customer")
        graft.Tables.table(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(sql)
      }
    },
      Some("""SELECT c_custkey, round(c_acctbal, 2) AS bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),

    // ---- q114: sliding (hopping) windows — size 10 min, slide 5 min -
    // each event lands in size/slide = 2 windows; Spark's window()
    // generator assigns them, the oracle regenerates the same two
    // window starts arithmetically
    QueryDef("q114_sliding_window",
      (s, d) => events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.ops.Relational.sumExact(col("value")).as("sum_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("wstart", "event_type"),
      Some("""WITH w AS (SELECT event_type, value,
        |  make_timestamp(((epoch_us(ts) // 300000000) - k.k) * 300000000) AS ws
        |  FROM events, (SELECT unnest([0, 1]) AS k) k)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)))
}
