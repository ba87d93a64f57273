package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Sampling}
import org.apache.spark.sql.functions._

/** Round-7 twenty-first batch: the pass@k eval estimator, a
  * Bradley–Terry preference fit, the UniMax mixture planner, and
  * redirect-chain resolution by pointer doubling.
  */
object QueriesRound7u {

  val defs: Seq[QueryDef] = Seq(

    // ---- q367: pass@k estimator (exact combinatorial) ------------------
    // The LLM-eval staple (Chen et al. 2021, HumanEval): with n
    // samples per problem of which c pass, the unbiased estimator is
    // pass@k = 1 − C(n−c,k)/C(n,k) — here computed EXACTLY as integer
    // falling-factorial products (n=8 samples; k=1 and k=4), in ppm.
    // Per-problem sample outcomes are md5-derived (25% pass rate), so
    // both engines replay the same draws. Whenever c ≥ n−k+1 one
    // factor of the numerator product is zero, so the formula is
    // total for every c without a guard. One explode, two hash-aggs;
    // the output frame is the c-histogram (≤ 9 rows).
    QueryDef("q367_pass_at_k",
      (s, d) => {
        val samples = documents(s, d)
          .select(col("doc_id"), explode(sequence(lit(0), lit(7))).as("i"))
        samples
          .select(col("doc_id"),
            when(Sampling.hashLong(concat(col("doc_id").cast("string"),
              lit("#s"), col("i").cast("string"))) % 4 === 0, 1L)
              .otherwise(0L).as("__p"))
          .groupBy("doc_id").agg(sum("__p").as("c"))
          .groupBy("c").agg(count(lit(1)).as("n_problems"))
          .select(col("c"), col("n_problems"),
            expr("1000000 - ((8 - c) * 1000000) div 8").as("pass1_ppm"),
            expr("1000000 - ((8-c)*(7-c)*(6-c)*(5-c) * 1000000) div 1680")
              .as("pass4_ppm"))
          .orderBy("c")
      },
      Some {
        val h = DuckSql.hashLong(
          "CAST(doc_id AS VARCHAR) || '#s' || CAST(i AS VARCHAR)")
        s"""WITH s AS (SELECT doc_id, g.i
        |  FROM documents, generate_series(0, 7) g(i)),
        |p AS (SELECT doc_id,
        |    sum(CASE WHEN ($h) % 4 = 0 THEN 1 ELSE 0 END) AS c
        |  FROM s GROUP BY 1),
        |g AS (SELECT c, count(*) AS n FROM p GROUP BY 1)
        |SELECT CAST(c AS BIGINT) AS c, CAST(n AS BIGINT) AS n_problems,
        |  CAST(1000000 - ((8 - c) * 1000000) // 8 AS BIGINT)
        |    AS pass1_ppm,
        |  CAST(1000000 - ((8-c)*(7-c)*(6-c)*(5-c) * 1000000) // 1680
        |    AS BIGINT) AS pass4_ppm
        |FROM g ORDER BY c""".stripMargin
      }),

    // ---- q368: Bradley–Terry preference strengths ----------------------
    // The RLHF reward-model shape past q354's pair prep: pairwise
    // "matches" between SOURCES (adjacent docs of different sources
    // compete; more chars wins, ties to the earlier doc), then the
    // Bradley–Terry MM fixed point (Hunter 2004)
    //   s_i ← W_i / Σ_j n_ij/(s_i+s_j)
    // run 3 rounds in pico-scaled integer arithmetic: the D_i terms
    // floor-divide at 10¹² so every engine folds the identical
    // summand set, strengths stay in micro units. A source that never
    // wins lands at exactly 0 and stays there; two zero-strength
    // sources can never share a match (their own match had a winner),
    // so no denominator is ever 0. The whole iteration runs on the
    // O(sources²) count frame; the oracle replays all three rounds as
    // chained CTEs (the q145/q317 discipline).
    QueryDef("q368_bradley_terry",
      (s, d) => Checkpoints.scoped { pin =>
        val base = documents(s, d).select(col("doc_id"), col("source"),
          col("n_chars"))
        val m = base.select(col("doc_id").as("__ida"),
            col("source").as("__sa"), col("n_chars").as("__ca"))
          .join(base.select((col("doc_id") - 1).as("__ida"),
            col("source").as("__sb"), col("n_chars").as("__cb")), "__ida")
          .where(col("__sa") =!= col("__sb"))
          .select(
            when(col("__ca") >= col("__cb"), col("__sa"))
              .otherwise(col("__sb")).as("win"),
            when(col("__ca") >= col("__cb"), col("__sb"))
              .otherwise(col("__sa")).as("lose"))
        val pn = m.select(least(col("win"), col("lose")).as("x"),
            greatest(col("win"), col("lose")).as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("n"))
        val e = pin(pn.select(col("x").as("i"), col("y").as("j"), col("n"))
          .union(pn.select(col("y").as("i"), col("x").as("j"), col("n"))))
        val wc = m.groupBy(col("win").as("src")).agg(count(lit(1)).as("w"))
        val wins = pin(e.select(col("i").as("src")).distinct()
          .join(wc, Seq("src"), "left")
          .na.fill(0L, Seq("w")))
        var sF = wins.select(col("src"), lit(1000000L).as("s"))
        for (_ <- 1 to 3) {
          val d2 = e
            .join(sF.select(col("src").as("i"), col("s").as("__si")), "i")
            .join(sF.select(col("src").as("j"), col("s").as("__sj")), "j")
            .select(col("i").as("src"),
              expr("(n * 1000000000000) div (__si + __sj)").as("__t"))
            .groupBy("src").agg(sum("__t").as("__dsum"))
          sF = wins.join(d2, Seq("src"))
            .select(col("src"), expr("(w * 1000000000000) div __dsum")
              .as("s"))
        }
        val matches = e.groupBy(col("i").as("src"))
          .agg(sum("n").as("n_matches"))
        wins.join(matches, Seq("src")).join(sF, Seq("src"))
          .select(col("src").as("source"), col("n_matches"),
            col("w").as("wins"), col("s").as("strength_micro"))
          .orderBy("source")
      },
      Some("""WITH b AS (SELECT doc_id, source, n_chars FROM documents),
        |m AS (SELECT
        |    CASE WHEN a.n_chars >= c.n_chars THEN a.source
        |      ELSE c.source END AS win,
        |    CASE WHEN a.n_chars >= c.n_chars THEN c.source
        |      ELSE a.source END AS lose
        |  FROM b a JOIN b c ON c.doc_id = a.doc_id + 1
        |  WHERE a.source <> c.source),
        |pn AS (SELECT least(win, lose) AS x, greatest(win, lose) AS y,
        |    count(*) AS n FROM m GROUP BY 1, 2),
        |e AS (SELECT x AS i, y AS j, n FROM pn
        |  UNION ALL SELECT y, x, n FROM pn),
        |wc AS (SELECT win AS src, count(*) AS w FROM m GROUP BY 1),
        |w AS (SELECT it.src, coalesce(wc.w, 0) AS w
        |  FROM (SELECT DISTINCT i AS src FROM e) it
        |  LEFT JOIN wc USING (src)),
        |s0 AS (SELECT src, 1000000 AS s FROM w),
        |r1 AS (SELECT e.i AS src,
        |    sum((e.n * 1000000000000) // (si.s + sj.s)) AS dsum
        |  FROM e JOIN s0 si ON si.src = e.i
        |  JOIN s0 sj ON sj.src = e.j GROUP BY 1),
        |s1 AS (SELECT w.src, (w.w * 1000000000000) // r1.dsum AS s
        |  FROM w JOIN r1 USING (src)),
        |r2 AS (SELECT e.i AS src,
        |    sum((e.n * 1000000000000) // (si.s + sj.s)) AS dsum
        |  FROM e JOIN s1 si ON si.src = e.i
        |  JOIN s1 sj ON sj.src = e.j GROUP BY 1),
        |s2 AS (SELECT w.src, (w.w * 1000000000000) // r2.dsum AS s
        |  FROM w JOIN r2 USING (src)),
        |r3 AS (SELECT e.i AS src,
        |    sum((e.n * 1000000000000) // (si.s + sj.s)) AS dsum
        |  FROM e JOIN s2 si ON si.src = e.i
        |  JOIN s2 sj ON sj.src = e.j GROUP BY 1),
        |s3 AS (SELECT w.src, (w.w * 1000000000000) // r3.dsum AS s
        |  FROM w JOIN r3 USING (src)),
        |mt AS (SELECT i AS src, sum(n) AS nm FROM e GROUP BY 1)
        |SELECT s3.src AS source, CAST(mt.nm AS BIGINT) AS n_matches,
        |  CAST(w.w AS BIGINT) AS wins,
        |  CAST(s3.s AS BIGINT) AS strength_micro
        |FROM s3 JOIN w USING (src) JOIN mt USING (src)
        |ORDER BY source""".stripMargin)),

    // ---- q369: UniMax mixture planner (capped waterfilling) ------------
    // The UniMax allocation (Chung et al. 2023): spread a character
    // budget B (here 90% of one corpus epoch) as UNIFORMLY as
    // possible across languages subject to a per-language epoch cap
    // (E=1 — never repeat a language's data). Low-resource languages
    // whose full corpus fits under the uniform share are capped at
    // one epoch; the remainder spreads uniformly over the rest.
    // Closed-form waterfilling: sort by cap ascending; lang k is
    // capped iff cap_k·(L−k+1) ≤ B−P_{k−1} (fails propagate upward,
    // so the capped set is the maximal passing prefix); the uncapped
    // share is one floor division, its remainder goes +1 each to the
    // largest-T languages (largest-remainder, the q181 discipline).
    // Σ alloc == B exactly unless every language is capped. All
    // windows run over the O(languages) frame.
    QueryDef("q369_unimax_mixture",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("t").asc, col("lang").asc)
        val perLang = documents(s, d).groupBy("lang")
          .agg(sum("n_chars").as("t"))
        val tot = broadcast(perLang.agg(sum("t").as("__tot"),
          count(lit(1)).as("__l")))
        val ranked = perLang.crossJoin(tot)
          .withColumn("__b", expr("(__tot * 9) div 10"))
          .withColumn("__rk", row_number().over(w))
          .withColumn("__p", sum("t").over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .withColumn("__ok",
            col("t") * (col("__l") - col("__rk") + 1) <=
              col("__b") - (col("__p") - col("t")))
        val ff = broadcast(ranked.agg(
          min(when(!col("__ok"), col("__rk"))).as("__ff")))
        val withK = ranked.crossJoin(ff)
          .withColumn("__k", coalesce(col("__ff") - 1, col("__l")))
        val pk = broadcast(withK.agg(
          max(when(col("__rk") <= col("__k"), col("__p")).otherwise(0L))
            .as("__pk")))
        val wu = org.apache.spark.sql.expressions.Window
          .orderBy(col("t").desc, col("lang").asc)
        val uncapped = withK.where(col("__rk") > col("__k"))
          .crossJoin(pk)
          .withColumn("__m", col("__l") - col("__k"))
          .withColumn("__share", expr("(__b - __pk) div __m"))
          .withColumn("__rem",
            col("__b") - col("__pk") - col("__share") * col("__m"))
          .withColumn("__bonus", row_number().over(wu))
          .select(col("lang"), col("t"), lit(false).as("capped"),
            (col("__share") +
              when(col("__bonus") <= col("__rem"), 1L).otherwise(0L))
              .as("alloc"))
        val capped = withK.where(col("__rk") <= col("__k"))
          .select(col("lang"), col("t"), lit(true).as("capped"),
            col("t").as("alloc"))
        capped.union(uncapped)
          .select(col("lang"), col("t").as("chars"), col("capped"),
            col("alloc"), expr("(alloc * 1000000) div chars")
              .as("epochs_ppm"))
          .orderBy("lang")
      },
      Some("""WITH pl AS (SELECT lang, sum(n_chars) AS t
        |  FROM documents GROUP BY 1),
        |tt AS (SELECT sum(t) AS tot, count(*) AS l FROM pl),
        |rk AS (SELECT pl.lang, pl.t, tt.l, (tt.tot * 9) // 10 AS b,
        |    row_number() OVER (ORDER BY pl.t, pl.lang) AS rk,
        |    sum(pl.t) OVER (ORDER BY pl.t, pl.lang
        |      ROWS UNBOUNDED PRECEDING) AS p
        |  FROM pl, tt),
        |fl AS (SELECT lang, t, l, b, rk, p,
        |    CASE WHEN t * (l - rk + 1) <= b - (p - t)
        |      THEN 1 ELSE 0 END AS ok FROM rk),
        |kk AS (SELECT coalesce(min(CASE WHEN ok = 0 THEN rk END) - 1,
        |    max(l)) AS k FROM fl),
        |pk AS (SELECT coalesce(max(CASE WHEN fl.rk <= kk.k
        |      THEN fl.p END), 0) AS pk
        |  FROM fl, kk),
        |un AS (SELECT fl.lang, fl.t, fl.b, fl.l, kk.k, pk.pk,
        |    (fl.b - pk.pk) // (fl.l - kk.k) AS share,
        |    fl.b - pk.pk
        |      - ((fl.b - pk.pk) // (fl.l - kk.k)) * (fl.l - kk.k)
        |      AS rem,
        |    row_number() OVER (ORDER BY fl.t DESC, fl.lang) AS bonus
        |  FROM fl, kk, pk WHERE fl.rk > kk.k),
        |alloc AS (
        |  SELECT fl.lang, fl.t, TRUE AS capped, fl.t AS alloc
        |  FROM fl, kk WHERE fl.rk <= kk.k
        |  UNION ALL
        |  SELECT lang, t, FALSE AS capped,
        |    share + CASE WHEN bonus <= rem THEN 1 ELSE 0 END AS alloc
        |  FROM un)
        |SELECT lang, CAST(t AS BIGINT) AS chars, capped,
        |  CAST(alloc AS BIGINT) AS alloc,
        |  CAST((alloc * 1000000) // t AS BIGINT) AS epochs_ppm
        |FROM alloc ORDER BY lang""".stripMargin)),

    // ---- q370: redirect-chain resolution (pointer doubling) ------------
    // The list-ranking primitive star-contraction CC doesn't cover:
    // resolve every node of a successor CHAIN to its terminal in
    // O(log chain) rounds by pointer doubling — p ← p∘p composed as a
    // self-equi-join per round, 4 rounds covering the 16-long
    // synthetic redirect chains (doc i points at i−1 except every
    // 16th, which is a terminal). Each round is ONE equi-join of the
    // O(n) pointer frame with itself (never frontier×frontier), the
    // rounds run under Checkpoints.iterate, and the
    // oracle replays all four compositions as chained CTEs. Readout:
    // per-terminal chain size and span.
    QueryDef("q370_pointer_doubling",
      (s, d) => {
        val (p0, n) = Checkpoints.ckptCount(
          documents(s, d).select(col("doc_id").as("id"),
            when(col("doc_id") % 16 === 0, col("doc_id"))
              .otherwise(col("doc_id") - 1).as("p")))
        val (p, _) = Checkpoints.iterate(p0, n, 4) { (p, _) =>
          p.join(p.select(col("id").as("__pid"), col("p").as("__pp")),
              col("p") === col("__pid"))
            .select(col("id"), col("__pp").as("p"))
        }
        p.groupBy(col("p").as("root"))
          .agg(count(lit(1)).as("n_nodes"),
            (max("id") - min("p")).as("span"))
          .orderBy("root")
      },
      Some("""WITH p0 AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 16 = 0 THEN doc_id
        |      ELSE doc_id - 1 END AS p
        |  FROM documents),
        |p1 AS (SELECT a.id, b.p FROM p0 a JOIN p0 b ON b.id = a.p),
        |p2 AS (SELECT a.id, b.p FROM p1 a JOIN p1 b ON b.id = a.p),
        |p3 AS (SELECT a.id, b.p FROM p2 a JOIN p2 b ON b.id = a.p),
        |p4 AS (SELECT a.id, b.p FROM p3 a JOIN p3 b ON b.id = a.p)
        |SELECT p AS root, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(max(id) - min(p) AS BIGINT) AS span
        |FROM p4 GROUP BY p ORDER BY root""".stripMargin)))
}
