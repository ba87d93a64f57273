package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Graph, Sampling}
import org.apache.spark.sql.functions._

/** Round-9 twenty-second batch: data-placement (consistent hashing)
  * and community quality (modularity).
  */
object QueriesRound9v {

  /** md5-based ring hash, the Scala twin of Sampling.hashLong /
    * DuckSql.hashLong — used at BUILD time to print the ring as
    * literals into both engines (the q304/q460 one-source-of-truth
    * discipline). */
  private def md5Long(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  /** Ring of `shards` × 64 vnodes, sorted by vnode hash. */
  private def ring(shards: Int): Seq[(Long, Int)] =
    (for (sh <- 0 until shards; v <- 0 until 64)
      yield (md5Long(s"shard$sh#$v"), sh)).sortBy(_._1)

  val defs: Seq[QueryDef] = Seq(

    // ---- q528: consistent-hash rebalance audit ----------------------------------
    // The data-placement pre-flight for growing a cluster 8 → 9
    // shards: under mod-N assignment ~8/9 of all keys relocate;
    // under a 64-vnode consistent-hash ring only ~1/9 do — THE
    // reason shuffle-heavy stores hash to rings. Both rings are
    // printed from ONE Scala source of truth as sorted literal
    // arrays (ring9 ⊇ ring8 by construction — the consistency
    // property itself); per-key lookup is a codegen'd
    // count-of-smaller-hashes + array index, no join anywhere. The
    // audit emits the moved fractions AND the worst-shard load of
    // each scheme, all integer ppm.
    QueryDef("q528_consistent_hash_rebalance",
      (s, d) => {
        val r8 = ring(8); val r9 = ring(9)
        def vhs(r: Seq[(Long, Int)]) = r.map(_._1).mkString(", ")
        def shs(r: Seq[(Long, Int)]) = r.map(_._2).mkString(", ")
        def pick(r: Seq[(Long, Int)], tag: String) =
          s"""element_at(array(${shs(r)}),
             |  CASE WHEN size(filter(array(${vhs(r)}),
             |      x -> x < h)) >= ${r.size} THEN 1
             |    ELSE size(filter(array(${vhs(r)}), x -> x < h)) + 1
             |  END)""".stripMargin
        val keys = documents(s, d)
          .select(Sampling.hashLong(col("doc_id")).as("h"))
          .withColumn("s8", expr(pick(r8, "r8")))
          .withColumn("s9", expr(pick(r9, "r9")))
          .withColumn("m8", expr("CAST(h % 8 AS INT)"))
          .withColumn("m9", expr("CAST(h % 9 AS INT)"))
        val agg = keys.agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("m8") =!= col("m9"), 1L).otherwise(0L)).as("mv_mod"),
          sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)).as("mv_ring"))
        val ringLoad = keys.groupBy("s9").agg(count(lit(1)).as("c"))
          .agg(max("c").as("ring_max"))
        val modLoad = keys.groupBy("m9").agg(count(lit(1)).as("c"))
          .agg(max("c").as("mod_max"))
        agg.crossJoin(broadcast(ringLoad)).crossJoin(broadcast(modLoad))
          .select(col("n_keys"),
            expr("mv_mod * 1000000 div n_keys").as("moved_mod_ppm"),
            expr("mv_ring * 1000000 div n_keys").as("moved_ring_ppm"),
            expr("ring_max * 1000000 div n_keys").as("ring_max_load_ppm"),
            expr("mod_max * 1000000 div n_keys").as("mod_max_load_ppm"))
      },
      Some {
        val r8 = ring(8); val r9 = ring(9)
        def pick(r: Seq[(Long, Int)]) =
          s"""(CASE WHEN len(list_filter([${r.map(_._1).mkString(", ")}],
             |    x -> x < h)) >= ${r.size}
             |  THEN ([${r.map(_._2).mkString(", ")}])[1]
             |  ELSE ([${r.map(_._2).mkString(", ")}])[len(list_filter(
             |    [${r.map(_._1).mkString(", ")}], x -> x < h)) + 1]
             |END)""".stripMargin
        s"""WITH k AS (SELECT ${DuckSql.hashLong("doc_id")} AS h
        |  FROM documents),
        |a AS (SELECT h, ${pick(r8)} AS s8, ${pick(r9)} AS s9,
        |    CAST(h % 8 AS INTEGER) AS m8, CAST(h % 9 AS INTEGER) AS m9
        |  FROM k),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(CASE WHEN m8 != m9 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS mv_mod,
        |    CAST(sum(CASE WHEN s8 != s9 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS mv_ring
        |  FROM a),
        |rl AS (SELECT CAST(max(c) AS BIGINT) AS ring_max
        |  FROM (SELECT s9, count(*) AS c FROM a GROUP BY 1)),
        |ml AS (SELECT CAST(max(c) AS BIGINT) AS mod_max
        |  FROM (SELECT m9, count(*) AS c FROM a GROUP BY 1))
        |SELECT n_keys, mv_mod * 1000000 // n_keys AS moved_mod_ppm,
        |  mv_ring * 1000000 // n_keys AS moved_ring_ppm,
        |  ring_max * 1000000 // n_keys AS ring_max_load_ppm,
        |  mod_max * 1000000 // n_keys AS mod_max_load_ppm
        |FROM t, rl, ml""".stripMargin
      }),

    // ---- q529: modularity of the LPA partition ----------------------------------
    // Closes the community-detection loop: q229 PRODUCES communities,
    // this lane SCORES them — Newman modularity Q = Σ_c (e_c/m −
    // (d_c/2m)²) of the 2-round LPA partition over the same
    // co-purchase graph, exact via cleared denominators: Q·4m² =
    // 4m·E_in − Σ_c d_c², emitted in signed ppm (signum × positive
    // div — the q522 floor-parity guard). One dedup'd edge frame
    // drives degrees, intra counts, and m; communities come from the
    // SAME Graph.labelPropagation call q229 pins, so the two lanes
    // stay in lockstep by construction.
    QueryDef("q529_lpa_modularity",
      (s, d) => Checkpoints.scoped { pin =>
        val li = lineitem(s, d).where(col("l_orderkey") % 7 === 0)
          .select("l_orderkey", "l_partkey")
        // the distinct pair frame is computed ONCE and checkpointed:
        // LPA's internal layout and the modularity readout both read
        // cached blocks instead of each re-running the self-join
        val e = pin(li.withColumnRenamed("l_partkey", "src")
          .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
          .where(col("src") < col("dst"))
          .select("src", "dst").distinct())
        val labels = Graph.labelPropagation(e, "src", "dst", rounds = 2)
        val ed = e
        // the O(V) label frame is a stats-less checkpoint the planner
        // would shuffle-join — hint it broadcast on both attachments
        val lab = labels.select(col("id"), col("label"))
        val flagged = ed
          .join(broadcast(lab.withColumnRenamed("id", "src")
            .withColumnRenamed("label", "la")), Seq("src"))
          .join(broadcast(lab.withColumnRenamed("id", "dst")
            .withColumnRenamed("label", "lb")), Seq("dst"))
        val m = ed.agg(count(lit(1)).as("m"))
        val ein = flagged.agg(
          sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("e_in"))
        val deg = ed.select(col("src").as("id"))
          .unionAll(ed.select(col("dst").as("id")))
          .groupBy("id").agg(count(lit(1)).as("deg"))
        val dc = deg.join(broadcast(lab), Seq("id"))
          .groupBy("label").agg(sum("deg").as("d_c"))
        val sumDc2 = dc.agg(sum(expr("d_c * d_c")).as("sum_dc2"),
          count(lit(1)).as("n_comm"))
        m.crossJoin(broadcast(ein)).crossJoin(broadcast(sumDc2))
          .select(col("m"), col("e_in"), col("n_comm"),
            expr("CAST(signum(4 * m * e_in - sum_dc2) AS BIGINT) *" +
              " (abs(4 * m * e_in - sum_dc2) * 1000000" +
              " div (4 * m * m))").as("q_ppm"))
      },
      Some("""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |    WHERE l_orderkey % 7 = 0),
        |d AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey),
        |l0 AS (SELECT DISTINCT src AS id, src AS label FROM d),
        |c1 AS (SELECT d.dst AS id, l.label, count(*) AS c
        |  FROM d JOIN l0 l ON l.id = d.src GROUP BY 1, 2),
        |b1 AS (SELECT id, label FROM c1
        |  QUALIFY row_number() OVER (PARTITION BY id
        |    ORDER BY c DESC, label) = 1),
        |l1 AS (SELECT l0.id, coalesce(b1.label, l0.label) AS label
        |  FROM l0 LEFT JOIN b1 USING (id)),
        |c2 AS (SELECT d.dst AS id, l.label, count(*) AS c
        |  FROM d JOIN l1 l ON l.id = d.src GROUP BY 1, 2),
        |b2 AS (SELECT id, label FROM c2
        |  QUALIFY row_number() OVER (PARTITION BY id
        |    ORDER BY c DESC, label) = 1),
        |l2 AS (SELECT l1.id, coalesce(b2.label, l1.label) AS label
        |  FROM l1 LEFT JOIN b2 USING (id)),
        |ed AS (SELECT src, dst FROM d WHERE src < dst),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
        |ein AS (SELECT CAST(sum(CASE WHEN la.label = lb.label
        |      THEN 1 ELSE 0 END) AS BIGINT) AS e_in
        |  FROM ed JOIN l2 la ON la.id = ed.src
        |    JOIN l2 lb ON lb.id = ed.dst),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT src AS id FROM ed
        |    UNION ALL SELECT dst FROM ed) GROUP BY 1),
        |dc AS (SELECT l2.label, CAST(sum(deg.deg) AS BIGINT) AS d_c
        |  FROM deg JOIN l2 ON l2.id = deg.id GROUP BY 1),
        |s2 AS (SELECT CAST(sum(d_c * d_c) AS BIGINT) AS sum_dc2,
        |    CAST(count(*) AS BIGINT) AS n_comm FROM dc)
        |SELECT m.m, ein.e_in, s2.n_comm,
        |  CAST(sign(4 * m.m * ein.e_in - s2.sum_dc2) AS BIGINT)
        |    * (abs(4 * m.m * ein.e_in - s2.sum_dc2) * 1000000
        |      // (4 * m.m * m.m)) AS q_ppm
        |FROM m, ein, s2""".stripMargin))
  )
}
