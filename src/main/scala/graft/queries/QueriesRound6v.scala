package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup}
import org.apache.spark.sql.functions._

/** Round-6 twenty-second batch: auditing the clustering stage of the
  * dedup pipeline (q262 audits the candidate stage; this audits what
  * connected components DID with those candidates).
  */
object QueriesRound6v {

  val defs: Seq[QueryDef] = Seq(

    // ---- q289: duplicate-cluster purity audit ------------------------
    // Transitive closure can over-merge: A~B and B~C put A and C in
    // one cluster even when A and C share nothing (the chaining
    // failure mode of CC-based dedup). This audit measures each
    // cluster's internal cohesion — exact shingle Jaccard over every
    // intra-cluster pair, mean and MINIMUM in ppm — so chained-in
    // strangers surface as min_jaccard_ppm == 0. Pairs that share no
    // shingle produce no join row and are COALESCED to zero rather
    // than dropped (dropping them would hide exactly the pairs the
    // audit exists to find). A cluster-size cap bounds the pair
    // blow-up (the LSH bucket-cap discipline); sizes over the cap are
    // excluded and would be reported by q194's size audit instead.
    QueryDef("q289_cluster_purity",
      (s, d) => Checkpoints.scoped { _ =>
        val docs = documents(s, d)
        val cand = Dedup.lshCandidatePairs(docs, "doc_id", "text",
          QueriesDedup.ShingleN, QueriesDedup.K, QueriesDedup.Bands)
          .select("id_a", "id_b")
        val grp = Dedup.duplicateGroupsStar(cand, maxIter = 20)
        val sizes = grp.groupBy("group_id").agg(count(lit(1)).as("size"))
          .where(col("size") <= 50)
        val member = grp.join(broadcast(sizes), "group_id")
        val pairs = member.select(col("group_id"), col("size"),
            col("id").as("id_a"))
          .join(member.select(col("group_id"), col("id").as("id_b")),
            "group_id")
          .where(col("id_a") < col("id_b"))
        val jac = Dedup.jaccard(pairs.select("id_a", "id_b"), docs,
            "doc_id", "text", QueriesDedup.ShingleN)
          .select(col("id_a"), col("id_b"),
            expr("(n_inter * 1000000) div (sz_a + sz_b - n_inter)")
              .as("j_ppm"))
        pairs.join(jac, Seq("id_a", "id_b"), "left")
          .withColumn("j_ppm", coalesce(col("j_ppm"), lit(0L)))
          .groupBy("group_id", "size")
          .agg(count(lit(1)).as("n_pairs"),
            expr("sum(j_ppm) div count(*)").as("mean_jaccard_ppm"),
            min("j_ppm").as("min_jaccard_ppm"))
          .orderBy("group_id")
      },
      Some(s"""${QueriesDedup.lshCtes().replaceFirst("WITH ", "WITH RECURSIVE ")},
        |${DuckSql.ccGroupCtes},
        |szg AS (SELECT group_id, count(*) AS size FROM grp
        |  GROUP BY 1 HAVING count(*) <= 50),
        |ip AS (SELECT g1.group_id, k.size, g1.id AS id_a, g2.id AS id_b
        |  FROM grp g1 JOIN grp g2 ON g1.group_id = g2.group_id
        |    AND g1.id < g2.id
        |  JOIN szg k ON k.group_id = g1.group_id),
        |shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |szd AS (SELECT doc_id, count(*) AS sz FROM shx GROUP BY 1),
        |inter AS (SELECT ip.id_a, ip.id_b, count(*) AS n_inter
        |  FROM ip JOIN shx a ON a.doc_id = ip.id_a
        |  JOIN shx b ON b.doc_id = ip.id_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2),
        |jac AS (SELECT ip.group_id, ip.size, ip.id_a, ip.id_b,
        |    coalesce((i.n_inter * 1000000)
        |      // (za.sz + zb.sz - i.n_inter), 0) AS j_ppm
        |  FROM ip LEFT JOIN inter i
        |    ON i.id_a = ip.id_a AND i.id_b = ip.id_b
        |  LEFT JOIN szd za ON za.doc_id = ip.id_a
        |  LEFT JOIN szd zb ON zb.doc_id = ip.id_b)
        |SELECT group_id, CAST(size AS BIGINT) AS size,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(j_ppm) // count(*) AS BIGINT) AS mean_jaccard_ppm,
        |  CAST(min(j_ppm) AS BIGINT) AS min_jaccard_ppm
        |FROM jac GROUP BY 1, 2 ORDER BY 1""".stripMargin))
  )
}
