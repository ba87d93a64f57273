package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup, Text}
import org.apache.spark.sql.functions._

/** Round-9 fourth batch: exact Shapley data valuation over source
  * coalitions and a near-dup transitivity audit — the data-market and
  * cluster-quality readouts, exact-integer and oracle-replayed.
  */
object QueriesRound9d {

  val defs: Seq[QueryDef] = Seq(

    // ---- q500: exact source-group Shapley valuation ------------------------
    // "What is each source family actually WORTH to corpus coverage?"
    // — the data-valuation question behind licensing and mixture
    // decisions, answered with the EXACT Shapley value (not a Monte
    // Carlo estimate): the 20 sources coalesce into 5 deterministic
    // groups (src NN % 5 — at real scale you value source families,
    // not 2²⁰ coalitions), the value function v(S) = number of
    // distinct 3-shingles covered by the union of S, and the whole
    // game reduces to the SHINGLE→GROUP-MASK HISTOGRAM: one corpus
    // pass builds ≤ 2⁵ (mask, count) rows, every v(S) is a fold over
    // that table, and Shapley_i · 5! = Σ_{S∌i} |S|!(4−|S|)!·120/5!
    // ... kept integral by reporting shapley_x120 (multiplying by
    // n! = 120 clears every factorial denominator — exact integers,
    // no rational arithmetic). Efficiency axiom Σ shapley_x120 =
    // 120·v(full) rides as a per-row check column.
    QueryDef("q500_source_shapley",
      (s, d) => Checkpoints.scoped { pin =>
        val n = 5
        val sh = documents(s, d)
          .select((expr("CAST(substring(source, 4, 8) AS INT)") % n)
            .cast("int").as("grp"),
            Text.tokens(col("text")).as("__toks"))
          .repartition(col("grp"))
          .select(col("grp"),
            explode(array_distinct(Dedup.wordShingles(col("__toks"), 3)))
              .as("sh"))
        // ≤ 31 rows; read by every v(S) fold
        val hist = pin(sh.distinct()
          .groupBy("sh")
          .agg(expr("bit_or(shiftleft(1, grp))").cast("long").as("mask"))
          .groupBy("mask").agg(count(lit(1)).as("cnt")))
        val subs = s.range(1 << n).select(col("id").cast("long").as("ss"))
        val v = pin(subs.join(hist, // 32 rows
            expr("(ss & mask) != 0"), "left")
          .groupBy("ss").agg(coalesce(sum("cnt"), lit(0L)).as("v")))
        val srcs = s.range(n).select(col("id").cast("long").as("grp"))
        val terms = srcs.join(v.select(col("ss"), col("v").as("v_s")),
            expr("(ss & shiftleft(1, grp)) = 0"))
          .join(v.select(col("ss").as("ss2"), col("v").as("v_si")),
            expr("ss2 = ss | shiftleft(1, grp)"))
          .selectExpr("grp", "ss",
            "factorial(bit_count(ss)) * factorial(4 - bit_count(ss))"
              + " * (v_si - v_s) AS term")
        val vFull = v.where(col("ss") === ((1 << n) - 1).toLong)
          .select(col("v").as("v_full"))
        val vSolo = srcs.join(v, expr("ss = shiftleft(1, grp)"))
          .select(col("grp"), col("v").as("v_solo"))
        terms.groupBy("grp")
          .agg(sum("term").cast("long").as("shapley_x120"))
          .join(vSolo, "grp")
          .crossJoin(broadcast(vFull))
          .select(col("grp"), col("v_solo"), col("shapley_x120"),
            expr("(shapley_x120 * 1000000) div (120 * v_full)")
              .as("share_ppm"),
            expr("sum(shapley_x120) OVER () = 120 * v_full")
              .as("efficiency_ok"))
          .orderBy("grp")
          .localCheckpoint()
      },
      Some("""WITH sh0 AS (SELECT CAST(substr(source, 4) AS INT) % 5 AS grp,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(toks) - 2, 0)),
        |      i -> array_to_string(toks[i:i+2], ' ')))) AS sh
        |  FROM (SELECT source,
        |      list_filter(string_split(trim(regexp_replace(regexp_replace(
        |        lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
        |        ' '), x -> length(x) > 0) AS toks
        |    FROM documents)),
        |mk AS (SELECT sh, CAST(bit_or(1 << grp) AS BIGINT) AS mask
        |  FROM (SELECT DISTINCT grp, sh FROM sh0) GROUP BY sh),
        |hist AS (SELECT mask, CAST(count(*) AS BIGINT) AS cnt FROM mk
        |  GROUP BY 1),
        |subs AS (SELECT CAST(unnest(generate_series(0, 31)) AS BIGINT)
        |  AS ss),
        |v AS (SELECT ss, CAST(coalesce(sum(CASE WHEN (ss & mask) != 0
        |    THEN cnt END), 0) AS BIGINT) AS v
        |  FROM subs LEFT JOIN hist ON true GROUP BY ss),
        |srcs AS (SELECT CAST(unnest(generate_series(0, 4)) AS BIGINT)
        |  AS grp),
        |terms AS (SELECT s.grp,
        |    CAST(factorial(bit_count(va.ss)) AS BIGINT)
        |      * CAST(factorial(4 - bit_count(va.ss)) AS BIGINT)
        |      * (vb.v - va.v) AS term
        |  FROM srcs s
        |  JOIN v va ON (va.ss & (1 << s.grp)) = 0
        |  JOIN v vb ON vb.ss = (va.ss | (1 << s.grp))),
        |sol AS (SELECT s.grp, v.v AS v_solo FROM srcs s
        |  JOIN v ON v.ss = (1 << s.grp)),
        |vf AS (SELECT v AS v_full FROM v WHERE ss = 31),
        |sp AS (SELECT grp, CAST(sum(term) AS BIGINT) AS shapley_x120
        |  FROM terms GROUP BY 1)
        |SELECT sp.grp, sol.v_solo, sp.shapley_x120,
        |  CAST((sp.shapley_x120 * 1000000) // (120 * vf.v_full)
        |    AS BIGINT) AS share_ppm,
        |  (SELECT sum(shapley_x120) FROM sp) = 120 * vf.v_full
        |    AS efficiency_ok
        |FROM sp JOIN sol USING (grp), vf
        |ORDER BY grp""".stripMargin)),

    // ---- q501: near-dup transitivity audit ---------------------------------
    // Duplicate CLUSTERS come from taking the transitive closure of
    // pairwise matches (q45's duplicateGroups) — sound only if the
    // match relation is close to transitive. This audit measures
    // that: over the exact-Jaccard-verified edge set (candidates from
    // q491's OPH banding, verified J >= 0.5), enumerate wedges
    // a—b—c and check whether a—c also holds at the threshold;
    // violations are the chains that over-merge clusters. The
    // closing pairs are a BOUNDED set (wedges of the verified edge
    // frame, never doc×doc), and their Jaccard is computed by the
    // same shingle join. Output: edge/wedge/closure counts and
    // transitivity ppm.
    QueryDef("q501_dedup_transitivity",
      (s, d) => Checkpoints.scoped { pin =>
        val toks = pin(documents(s, d)
          .select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
          .repartition(col("doc_id"))
          .select(col("doc_id"),
            explode(array_distinct(Dedup.wordShingles(col("__toks"), 3)))
              .as("sh")))
        val sz = pin(toks.groupBy("doc_id").agg(count(lit(1)).as("n")))
        def jaccard(pairs: org.apache.spark.sql.DataFrame) = pairs
          .join(toks.select(col("doc_id").as("id_a"), col("sh")), "id_a")
          .join(toks.select(col("doc_id").as("id_b"), col("sh")),
            Seq("id_b", "sh"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("ni"))
          .join(sz.withColumnRenamed("doc_id", "id_a")
            .withColumnRenamed("n", "na"), "id_a")
          .join(sz.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("n", "nb"), "id_b")
          .select(col("id_a"), col("id_b"),
            expr("(ni * 1000000) div (na + nb - ni)").as("j_ppm"))
        // verified edges: OPH-banded candidates (q491 discipline,
        // bins 0-3 band) that pass exact J >= 0.5
        val hv = toks.select(col("doc_id"),
          graft.ops.Sampling.hashLong(col("sh")).as("h"))
        val bins = hv.groupBy("doc_id").agg(
          min(when(col("h") % 16 === 0, col("h"))).as("b0"),
          (1 until 16).map(j =>
            min(when(col("h") % 16 === j, col("h"))).as(s"b$j")): _*)
        val dens = bins.select((col("doc_id") +: (0 until 4).map { j =>
          coalesce((0 until 16).map(t =>
            col(s"b${(j + t) % 16}") + lit(t.toLong * 8589934592L)): _*)
            .as(s"d$j")
        }): _*)
        val sig = dens.withColumn("band",
          md5(concat_ws(",", (0 until 4).map(j => col(s"d$j")): _*)))
          .select("doc_id", "band")
        val okB = sig.groupBy("band").agg(count(lit(1)).as("__c"))
          .where(col("__c") <= 32).select("band")
        val sg = sig.join(broadcast(okB), Seq("band"), "left_semi")
        val cand = sg.as("a").join(sg.as("b"),
            col("a.band") === col("b.band") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        val edges = pin(jaccard(cand).where(col("j_ppm") >= 500000)
          .select("id_a", "id_b"))
        // wedges a—b—c (b the shared endpoint, either role), closing
        // pair canonicalized a < c
        val both = edges.select(col("id_a").as("u"), col("id_b").as("w"))
          .union(edges.select(col("id_b").as("u"), col("id_a").as("w")))
        val wedges = pin(both.as("p").join(both.as("q"),
            col("p.u") === col("q.u") && col("p.w") < col("q.w"))
          .select(col("p.w").as("id_a"), col("q.w").as("id_b"))
          .distinct())
        val closedJ = jaccard(wedges)
        val audit = wedges
          .join(closedJ, Seq("id_a", "id_b"), "left")
          .select(col("id_a"), col("id_b"),
            (coalesce(col("j_ppm"), lit(0L)) >= 500000).as("closed"))
        audit.agg(count(lit(1)).as("n_wedge_pairs"),
            sum(when(col("closed"), 1L).otherwise(0L)).as("n_closed"))
          .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
          .select(col("n_edges"), col("n_wedge_pairs"), col("n_closed"),
            expr("(n_closed * 1000000) div greatest(n_wedge_pairs, 1L)")
              .as("transitivity_ppm"))
          .localCheckpoint()
      },
      Some {
        val h = DuckSql.hexLong("md5(sh)")
        val binSel = (0 until 16).map(j =>
          s"min(CASE WHEN h % 16 = $j THEN h END) AS b$j").mkString(", ")
        val densSel = (0 until 4).map { j =>
          val ts = (0 until 16).map { t =>
            val b = s"b${(j + t) % 16}"
            if (t == 0) b else s"$b + ${t.toLong * 8589934592L}"
          }.mkString(", ")
          s"coalesce($ts) AS d$j"
        }.mkString(", ")
        val bandCat = (0 until 4).map(j => s"CAST(d$j AS VARCHAR)")
          .mkString(" || ',' || ")
        s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    ${DuckSql.shingles("toks", 3)})) AS sh FROM t),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh
        |  GROUP BY 1),
        |hv AS (SELECT doc_id, $h AS h FROM sh),
        |bins AS (SELECT doc_id, $binSel FROM hv GROUP BY doc_id),
        |dn AS (SELECT doc_id, $densSel FROM bins),
        |sig AS (SELECT doc_id, md5($bandCat) AS band FROM dn),
        |ok AS (SELECT band FROM sig GROUP BY band HAVING count(*) <= 32),
        |sg AS (SELECT sig.* FROM sig JOIN ok USING (band)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sg a JOIN sg b ON a.band = b.band AND a.doc_id < b.doc_id),
        |je AS (SELECT c.id_a, c.id_b,
        |    CAST((count(*) * 1000000) // (sa.n + sb.n - count(*))
        |      AS BIGINT) AS j_ppm
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a
        |  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
        |  JOIN sz sa ON sa.doc_id = c.id_a
        |  JOIN sz sb ON sb.doc_id = c.id_b
        |  GROUP BY c.id_a, c.id_b, sa.n, sb.n),
        |edges AS (SELECT id_a, id_b FROM je WHERE j_ppm >= 500000),
        |bo AS (SELECT id_a AS u, id_b AS w FROM edges
        |  UNION ALL SELECT id_b, id_a FROM edges),
        |wg AS (SELECT DISTINCT p.w AS id_a, q.w AS id_b
        |  FROM bo p JOIN bo q ON p.u = q.u AND p.w < q.w),
        |jc AS (SELECT w.id_a, w.id_b,
        |    CAST((count(*) * 1000000) // (sa.n + sb.n - count(*))
        |      AS BIGINT) AS j_ppm
        |  FROM wg w JOIN sh a ON a.doc_id = w.id_a
        |  JOIN sh b ON b.doc_id = w.id_b AND b.sh = a.sh
        |  JOIN sz sa ON sa.doc_id = w.id_a
        |  JOIN sz sb ON sb.doc_id = w.id_b
        |  GROUP BY w.id_a, w.id_b, sa.n, sb.n),
        |au AS (SELECT w.id_a, w.id_b,
        |    coalesce(jc.j_ppm, 0) >= 500000 AS closed
        |  FROM wg w LEFT JOIN jc ON jc.id_a = w.id_a
        |    AND jc.id_b = w.id_b),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
        |SELECT ne.n_edges,
        |  CAST(count(*) AS BIGINT) AS n_wedge_pairs,
        |  CAST(sum(CASE WHEN closed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_closed,
        |  CAST((sum(CASE WHEN closed THEN 1 ELSE 0 END) * 1000000)
        |    // greatest(count(*), 1) AS BIGINT) AS transitivity_ppm
        |FROM au, ne GROUP BY ne.n_edges""".stripMargin
      })
  )
}
