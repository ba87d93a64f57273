package graft.queries

import graft.Tables._
import graft.functions.GraftFunctions
import graft.ops.Graph
import org.apache.spark.sql.functions._

/** Round-9 fifth batch: the bounded top-k aggregate (the rank-window
  * replacement) and warm-start PageRank refresh (the incremental
  * link-analysis posture) — both exact-integer and oracle-replayed.
  */
object QueriesRound9e {

  val defs: Seq[QueryDef] = Seq(

    // ---- q502: exact top-k per group via the bounded aggregate -------------
    // "Top k rows per group" through a rank window shuffles EVERY row
    // and sorts every group; `graft_topk` (functions/TopKPairs, the
    // engine's third TypedImperativeAggregate after KMV and HLL)
    // keeps O(k) state per group and combines map-side, so the
    // shuffle carries at most k pairs per (group × partition) — the
    // posture that makes per-host/per-domain leaderboards free at
    // corpus scale. Result pinned EQUAL to the window form: the
    // oracle replays row_number() <= k, so the hash gate proves the
    // aggregate's (key DESC, id ASC) semantics exactly.
    QueryDef("q502_topk_aggregate",
      (s, d) => {
        documents(s, d)
          .groupBy("source")
          .agg(GraftFunctions.topK(col("n_chars"), col("doc_id"), 5)
            .as("top"))
          .select(col("source"), posexplode(col("top")).as(Seq("r0", "t")))
          .select(col("source"), (col("r0") + 1).cast("long").as("rank"),
            col("t.key").as("n_chars"), col("t.id").as("doc_id"))
          .orderBy("source", "rank")
      },
      Some("""SELECT source, CAST(rn AS BIGINT) AS rank, n_chars, doc_id
        |FROM (SELECT source, n_chars, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, rank""".stripMargin)),

    // ---- q503: warm-start PageRank refresh ---------------------------------
    // The incremental link-analysis posture: when a crawl batch adds
    // edges, a full 3-iteration recompute is 3 O(|E_full|) passes —
    // the warm start seeds ONE iteration over the grown graph from
    // the previous ranks (new nodes enter at the 10⁶ initial mass),
    // paying a third of the bill per refresh cycle. The readout is
    // the drift ledger that tells you when warm starts stop being
    // enough: |warm − old| per node, folded into octave buckets
    // (integer bit-length — no log needed). Old graph = co-purchase
    // pairs from orders with orderkey % 10 != 0; the delta is the
    // remaining tenth. Same micro-unit floor arithmetic as q145, so
    // the oracle replays 3 cold rounds + 1 warm round as chained
    // CTEs and the hash covers the whole refresh.
    QueryDef("q503_warmstart_pagerank",
      (s, d) => {
        val li = lineitem(s, d).select("l_orderkey", "l_partkey")
        // ONE pair self-join builds BOTH graphs (was: two self-joins +
        // two distincts): each distinct (src, dst) carries whether any
        // supporting order is in the old 90% — eOld/eFull are then
        // projections of the same checkpointed frame. Same distinct
        // pair sets as the oracle's two DISTINCT CTEs by construction.
        val flags = li.withColumnRenamed("l_partkey", "src")
          .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
          .where(col("src") =!= col("dst"))
          .select(col("src"), col("dst"),
            (col("l_orderkey") % 10 =!= 0).cast("int").as("__old"))
          .groupBy("src", "dst").agg(max("__old").as("__old"))
          .localCheckpoint()
        val eOld = flags.where(col("__old") === 1).select("src", "dst")
        val r0 = Graph.pageRank(eOld, "src", "dst", iters = 3)
          .select(col("id"), col("rank_micro").as("r_old"))
        val eFull = flags.select("src", "dst")
        val degF = eFull.groupBy("src").agg(count(lit(1)).as("d"))
          .localCheckpoint()
        // every src key survives the degree agg, so the node set reads
        // off degF instead of a second distinct pass over the pairs
        val nodesF = degF.select(col("src").as("id"))
        val seed = nodesF.join(r0, Seq("id"), "left")
          .select(col("id"), coalesce(col("r_old"), lit(1000000L))
            .as("r_seed"))
          .localCheckpoint()
        val perSrc = seed.join(degF.withColumnRenamed("src", "id"), "id")
          .select(col("id").as("src"), expr("r_seed div d").as("__c"))
        val sums = eFull.join(broadcast(perSrc), "src")
          .groupBy(col("dst").as("id")).agg(sum("__c").as("__s"))
        val warm = seed.join(sums, Seq("id"), "left")
          .select(col("id"), col("r_seed"),
            expr("150000 + (85 * coalesce(__s, 0L)) div 100").as("r_warm"))
        val out = warm
          .select(col("id"), (col("r_warm") - col("r_seed")).as("delta"))
          .selectExpr("CASE WHEN delta = 0 THEN 0" +
            " ELSE length(bin(abs(delta))) END AS octave",
            "abs(delta) AS ad")
          .groupBy("octave")
          .agg(count(lit(1)).as("n_nodes"), sum("ad").as("sum_abs_delta"))
          .select(col("octave").cast("long").as("octave"), col("n_nodes"),
            col("sum_abs_delta"))
          .orderBy("octave")
          .localCheckpoint()
        graft.ops.Checkpoints.free(seed)
        graft.ops.Checkpoints.free(degF)
        graft.ops.Checkpoints.free(flags)
        out
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
        |      AND a.l_partkey != b.l_partkey
        |    WHERE a.l_orderkey % 10 != 0),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS id FROM e),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |${iter("r0", "r1")},
        |${iter("r1", "r2")},
        |${iter("r2", "r3")},
        |ef AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey != b.l_partkey),
        |degf AS (SELECT src, count(*) AS d FROM ef GROUP BY 1),
        |nf AS (SELECT DISTINCT src AS id FROM ef),
        |sd AS (SELECT nf.id, coalesce(r3.r, 1000000) AS r_seed
        |  FROM nf LEFT JOIN r3 ON r3.id = nf.id),
        |wm AS (SELECT n.id, n.r_seed,
        |    150000 + (85 * coalesce(s.s, 0)) // 100 AS r_warm
        |  FROM sd n LEFT JOIN (
        |    SELECT ef.dst AS id, CAST(sum(sd.r_seed // degf.d) AS BIGINT)
        |      AS s
        |    FROM ef JOIN sd ON sd.id = ef.src
        |    JOIN degf ON degf.src = ef.src GROUP BY 1) s ON s.id = n.id),
        |dl AS (SELECT id, r_warm - r_seed AS delta FROM wm)
        |SELECT CAST(CASE WHEN delta = 0 THEN 0
        |    ELSE length(format('{:b}', abs(delta))) END AS BIGINT)
        |    AS octave,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(abs(delta)) AS BIGINT) AS sum_abs_delta
        |FROM dl GROUP BY 1 ORDER BY 1""".stripMargin
      })
  )
}
