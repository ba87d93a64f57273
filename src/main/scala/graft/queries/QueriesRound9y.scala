package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Graph}
import org.apache.spark.sql.functions._

/** Round-9 twenty-fifth batch: graph diameter estimation by double
  * sweep.
  */
object QueriesRound9y {

  val defs: Seq[QueryDef] = Seq(

    // ---- q532: double-sweep diameter estimate -----------------------------------
    // The iteration-budget planner for the whole graph family: every
    // bounded-round operator (BFS hops, LPA rounds, PageRank
    // convergence) is sized by the graph's diameter, and the
    // double-sweep lower bound (BFS from an arbitrary node, then BFS
    // from the farthest node found — classic, tight on real
    // topologies) measures it with exactly two traversals instead of
    // all-pairs. Both sweeps are the SAME boundedBfs the q149 lane
    // pins (layout once, assumeLaidOut for the second sweep);
    // eccentricities, reach counts, and the argmax far node are all
    // in the output, and the oracle replays both sweeps as chained
    // min-fold CTEs.
    QueryDef("q532_double_sweep_diameter",
      (s, d) => Checkpoints.scoped { pin =>
        val li = lineitem(s, d).where(col("l_orderkey") % 7 === 0)
          .select("l_orderkey", "l_partkey")
        val e = pin.keep(Graph.layoutEdges(
          li.withColumnRenamed("l_partkey", "src")
            .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
            .where(col("src") =!= col("dst")),
          "src", "dst", layoutKey = "dst"))
        val seed = e.agg(min("src").as("id"))
        // each sweep's result is its last round frame, already
        // materialized
        val b1 = Graph.boundedBfs(e, "src", "dst", seed, hops = 8,
          assumeLaidOut = true)
        val far = b1.orderBy(desc("dist"), asc("id")).limit(1)
          .select(col("id"))
        val b2 = Graph.boundedBfs(e, "src", "dst", far, hops = 8,
          assumeLaidOut = true)
        seed.select(col("id").as("seed_id"))
          .crossJoin(broadcast(b1.agg(max("dist").as("ecc_seed"),
            count(lit(1)).as("n_reach_seed"))))
          .crossJoin(broadcast(far.select(col("id").as("far_id"))))
          .crossJoin(broadcast(b2.agg(max("dist").as("diameter_lb"),
            count(lit(1)).as("n_reach_far"))))
          .localCheckpoint()
      },
      Some {
        // MATERIALIZED per round: each round references its
        // predecessor twice (carry + expand) — inlined, the chain
        // re-executes 2^rounds times
        def round_(prev: String, curr: String) =
          s"""$curr AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
             |    SELECT id, dist FROM $prev
             |    UNION ALL
             |    SELECT e.dst AS id, $prev.dist + 1 AS dist
             |    FROM e JOIN $prev ON $prev.id = e.src) GROUP BY 1)"""
        val rounds1 = (0 until 8).map(i => round_(s"a$i", s"a${i + 1}"))
          .mkString(",\n")
        val rounds2 = (0 until 8).map(i => round_(s"b$i", s"b${i + 1}"))
          .mkString(",\n")
        // MATERIALIZED: 16 BFS rounds each reference e — without it
        // DuckDB re-opens the parquet per reference and trips the
        // open-file limit
        s"""WITH e AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
        |    FROM lineitem x JOIN lineitem y
        |      ON x.l_orderkey = y.l_orderkey
        |      AND x.l_partkey != y.l_partkey
        |    WHERE x.l_orderkey % 7 = 0 AND y.l_orderkey % 7 = 0),
        |sd AS (SELECT min(src) AS id FROM e),
        |a0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM sd),
        |$rounds1,
        |fr AS (SELECT id FROM a8 ORDER BY dist DESC, id LIMIT 1),
        |b0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM fr),
        |$rounds2
        |SELECT sd.id AS seed_id,
        |  (SELECT max(dist) FROM a8) AS ecc_seed,
        |  (SELECT CAST(count(*) AS BIGINT) FROM a8) AS n_reach_seed,
        |  fr.id AS far_id,
        |  (SELECT max(dist) FROM b8) AS diameter_lb,
        |  (SELECT CAST(count(*) AS BIGINT) FROM b8) AS n_reach_far
        |FROM sd, fr""".stripMargin
      })
  )
}
