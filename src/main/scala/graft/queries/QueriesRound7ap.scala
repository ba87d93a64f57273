package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Graph}
import org.apache.spark.sql.functions._

/** Round-7 forty-second batch: Borůvka minimum-spanning-forest — the
  * contraction-based graph primitive.
  */
object QueriesRound7ap {

  val defs: Seq[QueryDef] = Seq(

    // ---- q419: Borůvka strongest-link spanning forest -------------------
    // The taxonomy-building step over the co-purchase graph: the
    // MAXIMUM-co-occurrence spanning forest (= minimum forest on
    // weight 10⁶−cnt), via `Graph.boruvkaMsf` — per round each
    // component selects its min-key incident edge and the touched
    // components contract (fixed 4 min-label iterations over the
    // O(components) merge frame, the bounded-round discipline). The
    // edge KEY folds (weight, src, dst) into one BIGINT — a total
    // order, so ties cannot exist, the forest is unique, and every
    // step is a min-fold the oracle replays as chained CTEs (4 rounds
    // × 4 label iterations, identical by construction). Kruskal
    // equality + acyclicity are spec-pinned driver-side
    // (Round7apSpec), so the oracle is not the only witness.
    QueryDef("q419_boruvka_msf",
      (s, d) => Checkpoints.scoped { pin =>
        // distinct BEFORE the self-join (one (order, part) row each),
        // not after: dedups 0.6M rows instead of the 1.2M joined
        // pairs, and the join output is then unique (order, src, dst)
        // by construction — same frame the oracle's DISTINCT builds
        val li = lineitem(s, d).select("l_orderkey", "l_partkey")
          .distinct()
        val pr = li
          .join(li.select(col("l_orderkey"), col("l_partkey").as("p2")),
            "l_orderkey")
          .where(col("l_partkey") < col("p2"))
          .select(col("l_orderkey"), col("l_partkey").as("src"),
            col("p2").as("dst"))
        val e = pin(pr.groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
          .select(col("src"), col("dst"), col("cnt"),
            ((lit(1000000L) - col("cnt")) * lit(1L << 40)
              + col("src") * lit(1L << 20) + col("dst")).as("key")))
        val keys = Graph.boruvkaMsf(e.select("src", "dst", "key"))
        e.join(keys, Seq("key"), "left_semi")
          .select(col("src"), col("dst"), col("cnt"))
          .orderBy("src", "dst")
      },
      Some {
        val S40 = 1L << 40
        val S20 = 1L << 20
        def round_(r: Int): String = {
          val p = s"c${r - 1}"
          val labels = (1 to 4).map { i =>
            s"""l${r}_$i AS (SELECT c, min(l) AS l FROM (
            |  SELECT c, l FROM l${r}_${i - 1}
            |  UNION ALL
            |  SELECT m.a AS c, p.l AS l FROM mer$r m
            |    JOIN l${r}_${i - 1} p ON p.c = m.b) u GROUP BY c)"""
              .stripMargin
          }.mkString(",\n")
          s"""ec$r AS MATERIALIZED (SELECT e.key, a.comp AS ca, b.comp AS cb
          |  FROM e JOIN $p a ON a.id = e.src
          |  JOIN $p b ON b.id = e.dst WHERE a.comp != b.comp),
          |sk$r AS (SELECT DISTINCT key FROM (
          |  SELECT min(key) AS key FROM (
          |    SELECT ca AS c, key FROM ec$r
          |    UNION ALL SELECT cb AS c, key FROM ec$r) u
          |  GROUP BY c) m),
          |se$r AS MATERIALIZED (SELECT ec$r.key, ca, cb
          |  FROM ec$r JOIN sk$r USING (key)),
          |mer$r AS (SELECT ca AS a, cb AS b FROM se$r
          |  UNION SELECT cb, ca FROM se$r),
          |l${r}_0 AS (SELECT DISTINCT comp AS c, comp AS l FROM $p),
          |$labels,
          |c$r AS MATERIALIZED (SELECT cc.id, l.l AS comp
          |  FROM $p cc JOIN l${r}_4 l ON l.c = cc.comp)"""
            .stripMargin
        }
        s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |pr AS (SELECT DISTINCT a.l_orderkey, a.l_partkey AS src,
        |    b.l_partkey AS dst
        |  FROM li a JOIN li b ON b.l_orderkey = a.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |e AS MATERIALIZED (SELECT src, dst, count(*) AS cnt,
        |    (1000000 - count(*)) * $S40 + src * $S20 + dst AS key
        |  FROM pr GROUP BY 1, 2),
        |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |c0 AS (SELECT id, id AS comp FROM n),
        |${(1 to 4).map(round_).mkString(",\n")},
        |msf AS (SELECT DISTINCT key FROM (
        |  SELECT key FROM se1 UNION ALL SELECT key FROM se2
        |  UNION ALL SELECT key FROM se3 UNION ALL SELECT key FROM se4) u)
        |SELECT e.src, e.dst, CAST(e.cnt AS BIGINT) AS cnt
        |FROM e JOIN msf USING (key) ORDER BY src, dst""".stripMargin
      }))
}
