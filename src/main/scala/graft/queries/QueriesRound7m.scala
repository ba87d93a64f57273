package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Graph, Sampling}
import org.apache.spark.sql.functions._

/** Round-7 thirteenth batch: multi-touch attribution with
  * exactly-conserved integer credits, the double-sweep graph diameter
  * estimate, per-file Bloom data skipping (the point-lookup
  * complement of q291's min/max pruning), and the right-to-be-
  * forgotten deletion-propagation audit.
  */
object QueriesRound7m {

  val defs: Seq[QueryDef] = Seq(

    // ---- q338: multi-touch attribution ---------------------------------
    // Linear attribution that SUMS EXACTLY: each purchase splits 10⁶
    // credit over its user's click/view touches in the trailing
    // 7 days — base 10⁶ div n per touch, the 10⁶ mod n remainder to
    // the most recent touches (largest-remainder; recency rank, id
    // tie-break), so Σcredit == n_conversions·10⁶ BY CONSTRUCTION
    // (spec-pinned). The touch join is user-keyed with a time-window
    // residual (the q143 shape — per-user frames, never corpus²);
    // zero-touch conversions report in a separate 'direct' lane, not
    // silently dropped. Output: per-channel conversion counts +
    // exactly-conserved credit mass.
    QueryDef("q338_attribution",
      (s, d) => {
        val ev = events(s, d).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("__us"))
        val conv = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("__cid"), col("user_id"),
            col("__us").as("__cus"))
        val touch = ev.where(col("event_type").isin("click", "view"))
          .select(col("user_id"), col("event_id").as("__tid"),
            col("event_type").as("channel"), col("__us").as("__tus"))
        val joined = conv.join(touch, Seq("user_id"))
          .where(col("__tus") < col("__cus") &&
            col("__tus") >= col("__cus") - expr("604800000000L"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("__cid").orderBy(col("__tus").desc, col("__tid"))
        val credits = joined
          .withColumn("__rk", row_number().over(w).cast("long"))
          .withColumn("__n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("__cid")))
          .select(col("__cid"), col("channel"),
            (expr("1000000L div __n") +
              when(col("__rk") <= expr("1000000L % __n"), 1L)
                .otherwise(0L)).as("__credit"))
        val attributed = credits.groupBy("channel")
          .agg(countDistinct("__cid").as("n_conversions"),
            sum("__credit").as("credit_ppm"))
        val direct = conv.join(
            credits.select("__cid").distinct(), Seq("__cid"), "left_anti")
          .agg(count(lit(1)).as("n_conversions"))
          .select(lit("direct").as("channel"), col("n_conversions"),
            (col("n_conversions") * 1000000L).as("credit_ppm"))
        attributed.unionByName(direct).orderBy("channel")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |c AS (SELECT event_id AS cid, user_id, us AS cus FROM ev
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS tid, event_type AS channel,
        |    us AS tus FROM ev WHERE event_type IN ('click', 'view')),
        |j AS (SELECT c.cid, t.channel, t.tid, t.tus FROM c
        |  JOIN t ON c.user_id = t.user_id
        |    AND t.tus < c.cus AND t.tus >= c.cus - 604800000000),
        |r AS (SELECT cid, channel,
        |    row_number() OVER (PARTITION BY cid
        |      ORDER BY tus DESC, tid) AS rk,
        |    count(*) OVER (PARTITION BY cid) AS n FROM j),
        |cr AS (SELECT cid, channel, 1000000 // n
        |    + CASE WHEN rk <= 1000000 % n THEN 1 ELSE 0 END AS credit
        |  FROM r),
        |att AS (SELECT channel,
        |    CAST(count(DISTINCT cid) AS BIGINT) AS n_conversions,
        |    CAST(sum(credit) AS BIGINT) AS credit_ppm
        |  FROM cr GROUP BY 1),
        |dir AS (SELECT 'direct' AS channel,
        |    CAST(count(*) AS BIGINT) AS n_conversions,
        |    CAST(count(*) * 1000000 AS BIGINT) AS credit_ppm
        |  FROM c WHERE cid NOT IN (SELECT cid FROM cr))
        |SELECT * FROM att UNION ALL SELECT * FROM dir
        |ORDER BY channel""".stripMargin)),

    // ---- q339: double-sweep diameter estimate --------------------------
    // The 2-sweep heuristic: BFS from an arbitrary seed (min node),
    // hop to the FARTHEST reached node (max dist, min-id tie-break),
    // BFS again from there — the second eccentricity is a diameter
    // lower bound that is exact on trees and near-exact on real
    // graphs, at the cost of TWO bounded traversals instead of
    // all-pairs. Both sweeps are the q149 min-fold shape (4 rounds,
    // laid-out edges, chained-CTE oracle); the argmax hand-off is a
    // one-row broadcast.
    QueryDef("q339_diameter_2sweep",
      (s, d) => Checkpoints.scoped { pin =>
        val li = lineitem(s, d).where(col("l_orderkey") % 5 === 0)
          .select("l_orderkey", "l_partkey")
        val e = pin.keep(Graph.layoutEdges(
          li.withColumnRenamed("l_partkey", "src")
            .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
            .where(col("src") =!= col("dst")),
          "src", "dst"))
        def bfs(seed: org.apache.spark.sql.DataFrame) =
          Graph.boundedBfs(e, "src", "dst", seed, 4, assumeLaidOut = true)
        val s0 = e.agg(min("src").as("id"))
        val d1 = bfs(s0)
        // farthest from seed: max dist, min id — one struct argmax row
        val far = d1.agg(
          max(struct(col("dist"), (-col("id")).as("__ni"))).as("__f"))
          .select((-col("__f.__ni")).as("id"))
        val d2 = bfs(far)
        d2.agg(max(struct(col("dist"), (-col("id")).as("__ni"))).as("__f"))
          .crossJoin(broadcast(far.select(col("id").as("sweep2_root"))))
          .select(col("sweep2_root"),
            (-col("__f.__ni")).as("far_node"),
            col("__f.dist").as("diameter_lb"))
      },
      Some {
        // AS MATERIALIZED: each round references the previous twice —
        // inlined CTEs would recompute the whole chain per reference
        // (2^8 blowup across the 8 rounds; observed: the plain form
        // spilled multi-GB temp and ran >10 min at sf0.1)
        def round_(tbl: String, prev: String, curr: String) =
          s"""$curr AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
          |    SELECT id, dist FROM $prev
          |    UNION ALL
          |    SELECT e.dst AS id, $prev.dist + 1 FROM e
          |    JOIN $prev ON $prev.id = e.src) GROUP BY 1)"""
        s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |    WHERE l_orderkey % 5 = 0),
        |e AS MATERIALIZED (SELECT DISTINCT
        |    a.l_partkey AS src, b.l_partkey AS dst
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey != b.l_partkey),
        |s0 AS (SELECT min(src) AS id, CAST(0 AS BIGINT) AS dist FROM e),
        |${round_("e", "s0", "a1")},
        |${round_("e", "a1", "a2")},
        |${round_("e", "a2", "a3")},
        |${round_("e", "a3", "a4")},
        |f1 AS (SELECT id FROM a4 ORDER BY dist DESC, id LIMIT 1),
        |b0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM f1),
        |${round_("e", "b0", "b1")},
        |${round_("e", "b1", "b2")},
        |${round_("e", "b2", "b3")},
        |${round_("e", "b3", "b4")}
        |SELECT (SELECT id FROM f1) AS sweep2_root,
        |  (SELECT id FROM b4 ORDER BY dist DESC, id LIMIT 1) AS far_node,
        |  (SELECT max(dist) FROM b4) AS diameter_lb""".stripMargin
      }),

    // ---- q340: per-file Bloom data skipping ----------------------------
    // q291 answered range predicates with min/max footers; POINT
    // lookups need Bloom skipping (Parquet's bloom_filter_enabled,
    // Delta/Iceberg file skipping). 16 "files" by orderkey range,
    // k = 4 md5 positions per l_partkey in a per-file m = 2¹³ filter
    // held as the exact distinct (file, pos) table (≤ min(rows·k, m)
    // per file). A 20-key lookup set (md5-picked) probes: a file must
    // be READ iff all 4 positions of the key are set. Readout
    // per key: files the Bloom reads vs files that truly contain it —
    // the false-positive scan overhead, measured; no-false-negative
    // (bloom ⊇ exact) spec-pinned. All joins are (file, pos) equi —
    // the filter table is the only thing probed, never the data.
    QueryDef("q340_bloom_file_skip",
      (s, d) => {
        val li = lineitem(s, d).select(
          expr("l_orderkey div 4096").as("__f"), col("l_partkey"))
        def pos(c: org.apache.spark.sql.Column, j: Int) =
          Sampling.hashLong(concat(c, lit(s"#b$j"))) % 8192
        val filt = li.select(col("__f") +:
            (0 until 4).map(j => pos(col("l_partkey"), j).as(s"__p$j")): _*)
          .select(col("__f"), explode(array((0 until 4)
            .map(j => col(s"__p$j")): _*)).as("__p"))
          .distinct()
        val keys = part(s, d)
          .where(Sampling.hashLong(concat(lit("probe:"),
            col("p_partkey"))) % 97 === 0)
          .select(col("p_partkey").as("key"))
          .orderBy("key").limit(20)
        val probe = keys.select(col("key") +:
          (0 until 4).map(j => pos(col("key"), j).as(s"__q$j")): _*)
        // a file is read iff ALL the key's DISTINCT positions are set
        // (two of the 4 hashes can collide — comparing against a
        // hard-coded 4 would turn that collision into a false
        // NEGATIVE, breaking the Bloom theorem)
        val perPos = (0 until 4).map { j =>
          probe.select(col("key"), col(s"__q$j").as("__p"))
        }.reduce(_ unionByName _).distinct()
        val kq = broadcast(perPos.groupBy("key")
          .agg(count(lit(1)).as("__kq")))
        val blm = perPos.join(filt, Seq("__p"))
          .groupBy("key", "__f").agg(countDistinct("__p").as("__hit"))
          .join(kq, Seq("key")).where(col("__hit") === col("__kq"))
          .groupBy("key").agg(count(lit(1)).as("files_bloom"))
        val exact = li.join(broadcast(keys),
            col("l_partkey") === col("key"))
          .groupBy("key").agg(countDistinct("__f").as("files_exact"))
        keys.join(blm, Seq("key"), "left")
          .join(exact, Seq("key"), "left")
          .select(col("key"),
            coalesce(col("files_bloom"), lit(0L)).as("files_bloom"),
            coalesce(col("files_exact"), lit(0L)).as("files_exact"),
            (coalesce(col("files_bloom"), lit(0L)) -
              coalesce(col("files_exact"), lit(0L))).as("fp_files"))
          .orderBy("key")
      },
      Some {
        def pos(c: String, j: Int) =
          s"(${DuckSql.hashLong(s"$c || '#b$j'")}) % 8192"
        val probePos = (0 until 4).map(j =>
          s"SELECT key, ${pos("key", j)} AS p FROM k").mkString(
          " UNION ALL ")
        val filtPos = (0 until 4).map(j =>
          s"SELECT f, ${pos("l_partkey", j)} AS p FROM li").mkString(
          " UNION ALL ")
        s"""WITH li AS (SELECT l_orderkey // 4096 AS f, l_partkey
        |  FROM lineitem),
        |k AS (SELECT p_partkey AS key FROM part
        |  WHERE (${DuckSql.hashLong("'probe:' || p_partkey")}) % 97 = 0
        |  ORDER BY p_partkey LIMIT 20),
        |filt AS (SELECT DISTINCT f, p FROM ($filtPos)),
        |pp AS (SELECT DISTINCT key, p FROM ($probePos)),
        |kq AS (SELECT key, count(*) AS kq FROM pp GROUP BY 1),
        |blm AS (SELECT h.key, count(*) AS files_bloom FROM (
        |  SELECT pp.key, filt.f, count(DISTINCT filt.p) AS hit
        |  FROM pp JOIN filt ON pp.p = filt.p GROUP BY 1, 2) h
        |  JOIN kq ON h.key = kq.key WHERE h.hit = kq.kq GROUP BY 1),
        |ex AS (SELECT key, count(DISTINCT f) AS files_exact
        |  FROM li JOIN k ON li.l_partkey = k.key GROUP BY 1)
        |SELECT k.key, CAST(coalesce(blm.files_bloom, 0) AS BIGINT)
        |    AS files_bloom,
        |  CAST(coalesce(ex.files_exact, 0) AS BIGINT) AS files_exact,
        |  CAST(coalesce(blm.files_bloom, 0)
        |    - coalesce(ex.files_exact, 0) AS BIGINT) AS fp_files
        |FROM k LEFT JOIN blm ON k.key = blm.key
        |LEFT JOIN ex ON k.key = ex.key
        |ORDER BY k.key""".stripMargin
      }),

    // ---- q341: deletion-propagation audit ------------------------------
    // Right-to-be-forgotten, verified: a delete list (doc_id ≡ 0
    // mod 37) must appear in ZERO derived artifacts. Three artifacts
    // audited by anti-semantics semi-joins: token postings rebuilt
    // AFTER the deletion (expect 0 residuals), LSH band index rebuilt
    // after (expect 0), and a STALE cache deliberately built before
    // (the audit must CATCH it — its residual count equals the delete
    // list size, spec-pinned). The audit itself is three
    // delete-list-keyed semi-join counts — O(artifact) scans, the
    // delete list broadcast.
    QueryDef("q341_deletion_audit",
      (s, d) => {
        val docs = documents(s, d)
        val del = broadcast(docs.where(col("doc_id") % 37 === 0)
          .select(col("doc_id")))
        val kept = docs.join(del, Seq("doc_id"), "left_anti")
        val postings = kept.select(col("doc_id"),
          explode(graft.ops.Text.tokens(col("text"))).as("tok"))
        val bands = graft.ops.Dedup.bandIndex(
            kept.select(col("doc_id"), col("text")),
            "doc_id", "text", shingleN = 8, k = 16, bands = 4)
          .select(col("doc_id").cast("long").as("doc_id"))
        val stale = docs.select(col("doc_id"), col("n_chars"))
        def audit(name: String, df: org.apache.spark.sql.DataFrame) =
          df.join(del, Seq("doc_id"), "left_semi")
            .agg(countDistinct("doc_id").as("n_residual_docs"))
            .select(lit(name).as("artifact"),
              coalesce(col("n_residual_docs"), lit(0L))
                .as("n_residual_docs"))
        audit("postings_rebuilt", postings)
          .unionByName(audit("band_index_rebuilt", bands))
          .unionByName(audit("stale_cache", stale))
          .orderBy("artifact")
      },
      Some("""WITH del AS (SELECT doc_id FROM documents
        |    WHERE doc_id % 37 = 0),
        |kept AS (SELECT * FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM del)),
        |a1 AS (SELECT 'postings_rebuilt' AS artifact,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_residual_docs
        |  FROM kept WHERE doc_id IN (SELECT doc_id FROM del)),
        |a2 AS (SELECT 'band_index_rebuilt' AS artifact,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_residual_docs
        |  FROM kept WHERE doc_id IN (SELECT doc_id FROM del)),
        |a3 AS (SELECT 'stale_cache' AS artifact,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_residual_docs
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM del))
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |UNION ALL SELECT * FROM a3 ORDER BY artifact""".stripMargin)))
}
