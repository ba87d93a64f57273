package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup}
import org.apache.spark.sql.functions._

/** Round-9 twenty-third batch: dedup-knob sensitivity — cluster
  * structure as a function of the SimHash radius.
  */
object QueriesRound9w {

  val defs: Seq[QueryDef] = Seq(

    // ---- q530: dedup threshold sensitivity curve --------------------------------
    // q405 measures the PAIR precision/recall of the SimHash radius;
    // this lane measures what the knob does to CLUSTERS — the number
    // every dedup rollout actually ships: edges, touched docs,
    // components, and the largest cluster at Hamming radius 1/2/3,
    // from ONE banded pair pass (exact for r ≤ 3 by pigeonhole)
    // filtered three ways, each closure a bounded label-propagation
    // CC (q45's duplicateGroups). The radius-monotone growth of
    // max_cluster vs n_components is the over-merge early warning —
    // the same curve at 100 TB tells you the radius at which
    // boilerplate chains start welding unrelated docs together.
    QueryDef("q530_radius_cluster_curve",
      (s, d) => Checkpoints.scoped { pin =>
        val pairs = pin(Dedup.simhashNearDupPairs(documents(s, d),
          "doc_id", "text", 3))
        val rows = (1 to 3).map { r =>
          val e = pairs.where(col("hamming") <= r)
            .select("id_a", "id_b")
          val g = Dedup.duplicateGroups(e)
          val cl = g.groupBy("group_id").agg(count(lit(1)).as("sz"))
          e.agg(count(lit(1)).as("n_edges"))
            .crossJoin(broadcast(cl.agg(
              count(lit(1)).as("n_components"),
              coalesce(max("sz"), lit(0L)).as("max_cluster"),
              coalesce(sum("sz"), lit(0L)).as("n_docs"))))
            .select(lit(r.toLong).as("radius"), col("n_edges"),
              col("n_docs"), col("n_components"), col("max_cluster"))
        }
        // lazy: the result reads the three labelings' round frames
        rows.reduce(_.unionByName(_)).orderBy("radius")
      },
      Some {
        val ham = "CAST(list_sum(list_transform(generate_series(0, 63), " +
          "i -> (xor(fa, fb) >> i) & 1)) AS INT)"
        def cc(r: Int): String =
          s"""cand$r AS (SELECT id_a, id_b FROM pr WHERE hamming <= $r),
             |edges$r AS (SELECT id_a AS a, id_b AS b FROM cand$r
             |  UNION SELECT id_b, id_a FROM cand$r),
             |reach$r AS (
             |  SELECT a, b FROM edges$r
             |  UNION
             |  SELECT r.a, e.b FROM reach$r r JOIN edges$r e ON r.b = e.a),
             |grp$r AS (SELECT a AS id, least(a, min(b)) AS group_id
             |  FROM reach$r GROUP BY a),
             |st$r AS (SELECT CAST($r AS BIGINT) AS radius,
             |    (SELECT CAST(count(*) AS BIGINT) FROM cand$r) AS n_edges,
             |    CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_docs,
             |    CAST(count(*) AS BIGINT) AS n_components,
             |    CAST(coalesce(max(cnt), 0) AS BIGINT) AS max_cluster
             |  FROM (SELECT group_id, count(*) AS cnt FROM grp$r
             |    GROUP BY 1) g)""".stripMargin
        s"""WITH RECURSIVE t AS (SELECT doc_id, ${DuckSql.toks("text")} AS tk
        |  FROM documents),
        |sh AS (SELECT doc_id, ${DuckSql.simhashBits("tk", 64)} AS sh FROM t),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.sh AS fa, b.sh AS fb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |pr AS (SELECT id_a, id_b, hamming FROM
        |    (SELECT id_a, id_b, $ham AS hamming FROM c)
        |  WHERE hamming <= 3),
        |${cc(1)}, ${cc(2)}, ${cc(3)}
        |SELECT radius, n_edges, n_docs, n_components, max_cluster
        |FROM (SELECT * FROM st1 UNION ALL SELECT * FROM st2
        |  UNION ALL SELECT * FROM st3)
        |ORDER BY radius""".stripMargin
      })
  )
}
