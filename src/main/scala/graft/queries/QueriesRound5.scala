package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup, Graph, Relational, Sampling, Text}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 widening: renormalized (dangling-mass) PageRank over a
  * directed DAG that genuinely has dangling nodes, and the one-call
  * MERGE INTO upsert/delete every lakehouse engine exposes. Both are
  * exact/deterministic by construction so the DuckDB oracle
  * hash-verifies the whole computation.
  */
object QueriesRound5 {

  val defs: Seq[QueryDef] = Seq(

    // ---- q162: PageRank with dangling-mass redistribution -----------
    // The q145 integer-exact formulation, completed for DIRECTED
    // graphs: co-purchase pairs ordered low-part → high-part form a
    // DAG whose sink parts (never the smaller key of any pair) are
    // genuinely dangling, and their rank mass is collected into one
    // scalar per round and redistributed to every node —
    // next = base + damp*(Σ contrib + danglingSum div N) — instead of
    // decaying. All BIGINT floor division, so the oracle replays both
    // rounds (and both dangling sums) as chained CTEs and the hash
    // check covers the whole iteration including the redistribution.
    QueryDef("q162_pagerank_dangling",
      (s, d) => {
        val li = lineitem(s, d).where(col("l_orderkey") % 5 === 0)
          .select("l_orderkey", "l_partkey")
        val e = li.withColumnRenamed("l_partkey", "src")
          .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
          .where(col("src") < col("dst"))
          .select("src", "dst")
        Relational.topK(
            Graph.pageRankRedistributed(e, "src", "dst", iters = 2),
            Seq(col("rank_micro").desc, col("id").asc), 100)
          .select(col("id").as("part_id"), col("rank_micro"))
      },
      Some {
        def round_(prev: String, dmCur: String, rCur: String) =
          s"""$dmCur AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dm
          |  FROM $prev WHERE id NOT IN (SELECT src FROM deg)),
          |$rCur AS (SELECT n.id, CAST(150000 + (85 * (coalesce(s.s, 0)
          |      + (SELECT dm FROM $dmCur) // (SELECT cnt FROM nn))) // 100
          |    AS BIGINT) AS r
          |  FROM nodes n LEFT JOIN (
          |    SELECT e.dst AS id, CAST(sum($prev.r // deg.d) AS BIGINT) AS s
          |    FROM e JOIN $prev ON $prev.id = e.src
          |    JOIN deg ON deg.src = e.src GROUP BY 1) s ON s.id = n.id)"""
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey < b.l_partkey
        |    WHERE a.l_orderkey % 5 = 0),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS cnt FROM nodes),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |${round_("r0", "dm1", "r1")},
        |${round_("r1", "dm2", "r2")}
        |SELECT id AS part_id, r AS rank_micro FROM r2
        |ORDER BY rank_micro DESC, part_id LIMIT 100""".stripMargin
      }),

    // ---- q163: MERGE INTO (one-call upsert/insert/delete) -----------
    // Relational.mergeInto on a customer snapshot: keys %5 or %7 get
    // updated balances, %101 keys insert as brand-new customers, and
    // the deleteWhen predicate (%7) removes keys — one full-outer join,
    // the base never windowed or double-scanned. Balances live in
    // integer cents so every merged value is exact and hash-checkable.
    QueryDef("q163_merge_into",
      (s, d) => {
        val base = customer(s, d).select(col("c_custkey"), col("c_name"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
        val updates = base
          .where(col("c_custkey") % 5 === 0 || col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), col("c_name"),
            (col("bal_cents") + 10000L).as("bal_cents"))
        val inserts = base.where(col("c_custkey") % 101 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            concat(col("c_name"), lit("_new")).as("c_name"),
            col("bal_cents"))
        Relational.mergeInto(base, updates.unionByName(inserts), "c_custkey",
            deleteWhen = col("c_custkey") % 7 === 0)
          .orderBy("c_custkey")
      },
      Some("""WITH b AS (SELECT c_custkey, c_name,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer),
        |s0 AS (SELECT c_custkey, c_name, bal_cents + 10000 AS bal_cents
        |    FROM b WHERE c_custkey % 5 = 0 OR c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name || '_new', bal_cents
        |    FROM b WHERE c_custkey % 101 = 0),
        |s AS (SELECT c_custkey, CASE WHEN c_custkey % 7 = 0 THEN 'delete'
        |      ELSE 'upsert' END AS op, c_name, bal_cents FROM s0),
        |m AS (SELECT coalesce(b.c_custkey, s.c_custkey) AS c_custkey, s.op,
        |    CASE WHEN s.op = 'upsert' THEN s.c_name ELSE b.c_name END AS c_name,
        |    CASE WHEN s.op = 'upsert' THEN s.bal_cents ELSE b.bal_cents END
        |      AS bal_cents
        |  FROM b FULL OUTER JOIN s ON b.c_custkey = s.c_custkey)
        |SELECT c_custkey, c_name, CAST(bal_cents AS BIGINT) AS bal_cents
        |FROM m WHERE op IS NULL OR op != 'delete' ORDER BY 1""".stripMargin)),

    // ---- q164: merged-interval coverage (sweep-line over windows) ---
    // Each event opens a 600-second activity interval; overlapping
    // intervals per user merge, and the output is each user's busy-
    // period count, total covered seconds, and longest busy period —
    // the utilization/coverage shape (machine busy time, speaker
    // activity, GPU occupancy). One partitioned window pass: an
    // interval starts a new busy period iff its start exceeds the
    // running max of prior ends — equal-length intervals make the
    // tie order irrelevant, so integer epoch arithmetic keeps every
    // value engine-exact.
    QueryDef("q164_interval_coverage",
      (s, d) => {
        val iv = events(s, d)
          .select(col("user_id"), col("ts").cast("long").as("st"))
          .withColumn("en", col("st") + 600L)
        val wPrev = Window.partitionBy("user_id").orderBy("st", "en")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRun = Window.partitionBy("user_id").orderBy("st", "en")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val islands = iv
          .withColumn("__new",
            when(col("st") > coalesce(max("en").over(wPrev), lit(Long.MinValue)),
              1L).otherwise(0L))
          .withColumn("__isl", sum("__new").over(wRun))
          .groupBy("user_id", "__isl")
          .agg(min("st").as("a"), max("en").as("b"))
        islands.groupBy("user_id")
          .agg(count(lit(1)).as("n_busy_periods"),
            sum(col("b") - col("a")).as("covered_sec"),
            max(col("b") - col("a")).as("longest_sec"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS st,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 600 AS en FROM events),
        |f AS (SELECT user_id, st, en,
        |    CASE WHEN st > coalesce(max(en) OVER (PARTITION BY user_id
        |        ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -9223372036854775808) THEN 1 ELSE 0 END AS nw
        |  FROM iv),
        |i AS (SELECT user_id, st, en,
        |    sum(nw) OVER (PARTITION BY user_id ORDER BY st, en
        |      ROWS UNBOUNDED PRECEDING) AS isl FROM f),
        |g AS (SELECT user_id, isl, min(st) AS a, max(en) AS b
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_busy_periods,
        |  CAST(sum(b - a) AS BIGINT) AS covered_sec,
        |  CAST(max(b - a) AS BIGINT) AS longest_sec
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q165: market-basket support + lift -------------------------
    // Co-purchase association metrics: for the 50 most-supported part
    // pairs, support count, each side's order count, and lift =
    // P(a,b) / (P(a)P(b)) — the association-rule shape (feature
    // co-occurrence mining). Everything is an integer count until the
    // final division; the pair frame is the q145/q162 equi-self-join
    // (never all-pairs across orders) behind Relational.basketPairs'
    // mega-basket guard (a basket of m items contributes m² pairs;
    // baskets above the cap drop via a broadcast anti-join — inert at
    // TPC-H basket sizes, replayed by the oracle). Per-item counts and
    // the order total stay over the UNcapped frame: they are marginals,
    // not pair artifacts.
    QueryDef("q165_basket_lift",
      (s, d) => {
        // partition on the basket key BEFORE the distinct:
        // HashPartitioning(ok) already satisfies the (ok, pk) clustering
        // the dedup agg needs, and the big-basket agg plus BOTH sides of
        // the pair self-join then reuse the same exchange (ReusedExchange)
        // instead of re-shuffling per consumer
        val op = lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .repartition(col("ok"))
          .distinct()
        val pairs = Relational.basketPairs(op, "ok", "pk", maxBasket = 1000)
        val parts = op.groupBy("pk").agg(count(lit(1)).as("cnt"))
        val n = op.agg(countDistinct("ok").as("n_orders"))
        val scored = pairs
          .join(parts.select(col("pk").as("pa"), col("cnt").as("cnt_a")), "pa")
          .join(parts.select(col("pk").as("pb"), col("cnt").as("cnt_b")), "pb")
          .crossJoin(broadcast(n))
          .select(col("pa"), col("pb"), col("pair_cnt"), col("cnt_a"),
            col("cnt_b"),
            round((col("pair_cnt") * col("n_orders")).cast("double") /
              (col("cnt_a") * col("cnt_b")).cast("double"), 6).as("lift"))
        Relational.topK(scored,
          Seq(col("pair_cnt").desc, col("pa").asc, col("pb").asc), 50)
      },
      Some("""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem),
        |big AS (SELECT ok FROM op GROUP BY ok HAVING count(*) > 1000),
        |opc AS (SELECT * FROM op ANTI JOIN big USING (ok)),
        |pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS pair_cnt
        |  FROM opc a JOIN opc b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
        |parts AS (SELECT pk, count(*) AS cnt FROM op GROUP BY 1),
        |nn AS (SELECT count(DISTINCT ok) AS n_orders FROM op)
        |SELECT pa, pb, pair_cnt, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
        |  round(CAST(pair_cnt * n_orders AS DOUBLE)
        |    / CAST(ca.cnt * cb.cnt AS DOUBLE), 6) AS lift
        |FROM pairs JOIN parts ca ON ca.pk = pa
        |JOIN parts cb ON cb.pk = pb, nn
        |ORDER BY pair_cnt DESC, pa, pb LIMIT 50""".stripMargin)),

    // ---- q166: chi-square independence (lang x length bucket) -------
    // Contingency-table independence test over exact integer counts;
    // the chi-square statistic is the only float and is computed as an
    // ORDER-PINNED fold over cells sorted by (lang, bucket) — the q132
    // entropy discipline — so both engines add identical doubles in
    // identical order and the statistic itself hash-verifies.
    QueryDef("q166_chi_square",
      (s, d) => {
        val obs = documents(s, d)
          .groupBy(col("lang"), expr("n_chars div 400").as("b"))
          .agg(count(lit(1)).as("o"))
        val rowT = obs.groupBy("lang").agg(sum("o").as("rt"))
        val colT = obs.groupBy("b").agg(sum("o").as("ct"))
        val n = obs.agg(sum("o").cast("double").as("n"))
        val cells = obs.join(rowT, "lang").join(colT, "b")
          .crossJoin(broadcast(n))
          .select(col("lang"), col("b"), col("o").cast("double").as("od"),
            ((col("rt") * col("ct")).cast("double") / col("n")).as("ex"))
        cells
          .agg(count(lit(1)).as("n_cells"),
            countDistinct("lang").as("nr"), countDistinct("b").as("nc"),
            sort_array(collect_list(struct(col("lang"), col("b"),
              (((col("od") - col("ex")) * (col("od") - col("ex"))) / col("ex"))
                .as("term")))).as("cs"))
          .select(col("n_cells"),
            ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
            round(aggregate(col("cs"), lit(0.0),
              (acc, c) => acc + c.getField("term")), 6).as("chi2"))
      },
      Some("""WITH obs AS (SELECT lang, n_chars // 400 AS b, count(*) AS o
        |    FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(o) AS rt FROM obs GROUP BY 1),
        |ct AS (SELECT b, sum(o) AS ct FROM obs GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS DOUBLE) AS n FROM obs),
        |cells AS (SELECT lang, b, CAST(o AS DOUBLE) AS od,
        |    CAST(rt.rt * ct.ct AS DOUBLE) / n AS ex
        |  FROM obs JOIN rt USING (lang) JOIN ct USING (b), nn)
        |SELECT count(*) AS n_cells,
        |  CAST((count(DISTINCT lang) - 1) * (count(DISTINCT b) - 1) AS BIGINT)
        |    AS dof,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((od - ex) * (od - ex) / ex ORDER BY lang, b)),
        |    (acc, x) -> acc + x), 6) AS chi2
        |FROM cells""".stripMargin)),

    // ---- q167: train/holdout n-gram contamination -------------------
    // The eval-integrity gate every training pipeline needs: split the
    // corpus by id hash (the q81 convention), collect the TRAIN side's
    // distinct 8-gram shingles, and measure what fraction of HOLDOUT
    // documents share at least one shingle with train — per language.
    // Shape: shingle-keyed semi-join (shuffle on shingle hash, never
    // doc x doc), distinct-doc hit set, two exact counts and one final
    // division.
    QueryDef("q167_contamination",
      (s, d) => {
        // tokens materialized behind an exchange barrier (shingleRows
        // discipline): both sh() calls below would otherwise re-run the
        // regexp tokenization per shingle-slice lambda position
        val d0 = documents(s, d).select(col("doc_id"), col("lang"),
          Text.tokens(col("text")).as("__toks"),
          (Sampling.hashLong(col("doc_id")) % 100).as("hm"))
          .repartition(col("doc_id"))
        def sh(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
          col("lang"),
          explode(Dedup.wordShingles(col("__toks"), 8)).as("sh"))
        val trainSh = sh(d0.where(col("hm") < 80)).select("sh").distinct()
        val hits = sh(d0.where(col("hm") >= 80))
          .join(trainSh, Seq("sh"), "left_semi")
          .select("doc_id", "lang").distinct()
          .groupBy("lang").agg(count(lit(1)).as("n_contaminated"))
        val hold = d0.where(col("hm") >= 80)
          .groupBy("lang").agg(count(lit(1)).as("n_holdout"))
        hold.join(hits, Seq("lang"), "left")
          .select(col("lang"), col("n_holdout"),
            coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
            round(coalesce(col("n_contaminated"), lit(0L)).cast("double") /
              col("n_holdout").cast("double"), 6).as("rate"))
          .orderBy("lang")
      },
      Some(s"""WITH d0 AS (SELECT doc_id, lang, text,
        |    ${DuckSql.hashLong("doc_id")} % 100 AS hm FROM documents),
        |tr AS (SELECT DISTINCT unnest(
        |    ${DuckSql.shingles(DuckSql.toks("text"), 8)}) AS sh
        |  FROM d0 WHERE hm < 80),
        |ho AS (SELECT doc_id, lang, unnest(
        |    ${DuckSql.shingles(DuckSql.toks("text"), 8)}) AS sh
        |  FROM d0 WHERE hm >= 80),
        |hits AS (SELECT lang, count(*) AS n_contaminated FROM
        |  (SELECT DISTINCT doc_id, lang FROM ho SEMI JOIN tr USING (sh))
        |  GROUP BY 1),
        |hd AS (SELECT lang, count(*) AS n_holdout FROM d0
        |  WHERE hm >= 80 GROUP BY 1)
        |SELECT hd.lang, n_holdout,
        |  CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
        |  round(CAST(coalesce(n_contaminated, 0) AS DOUBLE)
        |    / CAST(n_holdout AS DOUBLE), 6) AS rate
        |FROM hd LEFT JOIN hits ON hd.lang = hits.lang
        |ORDER BY hd.lang""".stripMargin)),

    // ---- q168: personalized PageRank (random-walk-with-restart) -----
    // Proximity-to-seed-set scoring — the "expand this curated pool"
    // shape: rank starts at and teleports back to seed parts (id % 89
    // = 0) only; everything else holds mass solely through graph
    // adjacency. Integer-exact like q145/q162, so the oracle replays
    // both rounds as chained CTEs; seed membership is a pure function
    // of the id, replayed identically in SQL.
    QueryDef("q168_personalized_pagerank",
      (s, d) => Checkpoints.scoped { pin =>
        val li = lineitem(s, d).where(col("l_orderkey") % 3 === 0)
          .select("l_orderkey", "l_partkey")
        val e = pin.keep(Graph.layoutEdges(
          li.withColumnRenamed("l_partkey", "src")
            .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
            .where(col("src") =!= col("dst")),
          "src", "dst", layoutKey = "dst"))
        val seeds = e.select(col("src").as("id")).where(col("id") % 89 === 0)
        Relational.topK(
            Graph.personalizedPageRank(e, "src", "dst", seeds, iters = 2,
              assumeLaidOut = true),
            Seq(col("rank_micro").desc, col("id").asc), 100)
          .select(col("id").as("part_id"), col("rank_micro"))
      },
      Some {
        def round_(prev: String, curr: String) =
          s"""$curr AS (SELECT n.id, CAST(
          |    (CASE WHEN n.id % 89 = 0 THEN 150000 ELSE 0 END)
          |    + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS r
          |  FROM nodes n LEFT JOIN (
          |    SELECT e.dst AS id, CAST(sum($prev.r // deg.d) AS BIGINT) AS s
          |    FROM e JOIN $prev ON $prev.id = e.src
          |    JOIN deg ON deg.src = e.src GROUP BY 1) s ON s.id = n.id)"""
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey != b.l_partkey
        |    WHERE a.l_orderkey % 3 = 0),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT id, CAST(CASE WHEN id % 89 = 0 THEN 1000000 ELSE 0 END
        |    AS BIGINT) AS r FROM nodes),
        |${round_("r0", "r1")},
        |${round_("r1", "r2")}
        |SELECT id AS part_id, r AS rank_micro FROM r2
        |ORDER BY rank_micro DESC, part_id LIMIT 100""".stripMargin
      }),

    // ---- q169: PII redaction (emails / phones / long ids) -----------
    // The curation scrub every training corpus needs: replace emails,
    // phone-shaped numbers, and 9+-digit identifiers with typed
    // placeholder tokens and count each redaction class per document.
    // PII is synthesized deterministically per doc (both engines build
    // the identical input), patterns stay in the Java-regex ∩ RE2
    // dialect (no lookaround/backrefs — the q139 parity discipline),
    // and the redacted text rides as md5 so the full rewrite is
    // hash-verified without shipping wide strings.
    QueryDef("q169_pii_redaction",
      (s, d) => {
        val pEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val pPhone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
        val pId = "\\b[0-9]{9,}\\b"
        val dirty = documents(s, d).where(col("doc_id") < 400)
          .select(col("doc_id"),
            concat(col("text"),
              lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com or 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 3, "0"),
              lit("-1234 ref "),
              lpad(col("doc_id").cast("string"), 11, "0")).as("t"))
        // lit() patterns (DataFrame API): a SQL-literal '\b' would be
        // parsed as a backspace escape before the regex engine sees it
        dirty.select(col("doc_id"),
            size(regexp_extract_all(col("t"), lit(pEmail), lit(0)))
              .cast("bigint").as("n_emails"),
            size(regexp_extract_all(col("t"), lit(pPhone), lit(0)))
              .cast("bigint").as("n_phones"),
            size(regexp_extract_all(col("t"), lit(pId), lit(0)))
              .cast("bigint").as("n_ids"),
            md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
              pEmail, "<EMAIL>"), pPhone, "<PHONE>"), pId, "<ID>"))
              .as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH dirty AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or 555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 3, '0')
        |      || '-1234 ref ' || lpad(CAST(doc_id AS VARCHAR), 11, '0') AS t
        |  FROM documents WHERE doc_id < 400)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(t,
        |    '\b[0-9]{9,}\b')) AS BIGINT) AS n_ids,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b[0-9]{9,}\b', '<ID>', 'g')) AS redacted_md5
        |FROM dirty ORDER BY doc_id""".stripMargin)))
}
