package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Text}
import org.apache.spark.sql.functions._

/** Round-7 thirty-third batch: the Brier-score decomposition and
  * Holt's linear trend as a chunk-composed parallel recurrence.
  */
object QueriesRound7ag {

  val defs: Seq[QueryDef] = Seq(

    // ---- q406: Brier decomposition (reliability / resolution) -----------
    // The calibration readout past q222's bins and q308's ECE: Murphy's
    // decomposition Brier = REL − RES + UNC for a binned forecast.
    // Forecast = min(25·tokens, 1000) milli (length predicts the
    // n_chars ≥ 200 outcome), 10 forecast bins; the decomposition uses
    // the bin-mean forecast, under which the identity holds exactly in
    // rationals — here each mean floors once to milli, so the four
    // terms carry a bounded rounding gap that is REPORTED as a column
    // (and bounded in the spec) rather than hidden. Every term comes
    // from the O(bins) frame after one scan; the Brier itself re-joins
    // the broadcast bin means.
    QueryDef("q406_brier_decomposition",
      (s, d) => Checkpoints.scoped { pin =>
        val rows = documents(s, d).select(
          least(size(Text.tokens(col("text"))) * 25, lit(1000))
            .cast("long").as("p"),
          when(col("n_chars") >= 200, 1000L).otherwise(0L).as("o"))
          .withColumn("k", least(expr("p div 100"), lit(9L)))
        val tot = broadcast(rows.agg(count(lit(1)).as("nn"),
          sum("o").as("sot")))
        // terms + the per-row re-join
        val bins = pin(rows.groupBy("k")
          .agg(count(lit(1)).as("nk"), sum("p").as("sp"),
            sum("o").as("so"))
          .select(col("k"), col("nk"),
            expr("sp div nk").as("pbar"), expr("so div nk").as("obar")))
        val obarAll = broadcast(tot.select(col("nn"),
          expr("sot div nn").as("ob")))
        val terms = broadcast(bins.crossJoin(obarAll)
          .agg(expr("sum(nk * (pbar - obar) * (pbar - obar))" +
            " div first(nn)").as("rel_milli2"),
            expr("sum(nk * (obar - ob) * (obar - ob)) div first(nn)")
              .as("res_milli2"),
            expr("first(ob) * (1000 - first(ob))").as("unc_milli2")))
        val brier = rows.join(broadcast(bins.select("k", "pbar")), Seq("k"))
          .crossJoin(obarAll)
          .agg(expr("sum((pbar - o) * (pbar - o)) div first(nn)")
            .as("brier_milli2"))
        brier.crossJoin(terms).crossJoin(tot)
          .select(col("nn").as("n"), col("brier_milli2"),
            col("rel_milli2"), col("res_milli2"), col("unc_milli2"),
            (col("brier_milli2") - (col("rel_milli2") -
              col("res_milli2") + col("unc_milli2"))).as("identity_gap"))
      },
      Some(s"""WITH r AS (SELECT
        |    least(25 * len(${DuckSql.toks("text")}), 1000) AS p,
        |    CASE WHEN n_chars >= 200 THEN 1000 ELSE 0 END AS o
        |  FROM documents),
        |rk AS (SELECT p, o, least(p // 100, 9) AS k FROM r),
        |tot AS (SELECT count(*) AS nn, sum(o) AS sot FROM rk),
        |ob AS (SELECT nn, sot // nn AS ob FROM tot),
        |bins AS (SELECT k, count(*) AS nk, sum(p) // count(*) AS pbar,
        |    sum(o) // count(*) AS obar FROM rk GROUP BY 1),
        |terms AS (SELECT
        |    sum(nk * (pbar - obar) * (pbar - obar)) // max(nn)
        |      AS rel_milli2,
        |    sum(nk * (obar - ob.ob) * (obar - ob.ob)) // max(nn)
        |      AS res_milli2,
        |    max(ob.ob) * (1000 - max(ob.ob)) AS unc_milli2
        |  FROM bins, ob),
        |br AS (SELECT sum((pbar - o) * (pbar - o)) // max(ob.nn)
        |    AS brier_milli2
        |  FROM rk JOIN bins USING (k), ob)
        |SELECT CAST(nn AS BIGINT) AS n,
        |  CAST(brier_milli2 AS BIGINT) AS brier_milli2,
        |  CAST(rel_milli2 AS BIGINT) AS rel_milli2,
        |  CAST(res_milli2 AS BIGINT) AS res_milli2,
        |  CAST(unc_milli2 AS BIGINT) AS unc_milli2,
        |  CAST(brier_milli2 - (rel_milli2 - res_milli2 + unc_milli2)
        |    AS BIGINT) AS identity_gap
        |FROM tot, terms, br""".stripMargin)),

    // ---- q407: Holt's linear trend as a parallel recurrence -------------
    // q129 parallelized the SCALAR EWMA recurrence by chunk
    // composition; Holt's double smoothing is the 2-state version —
    // l ← αx + (1−α)(l+b), b ← β(l−l_prev) + (1−β)b — an AFFINE map
    // on (l, b) per step: M = [[1−α, 1−α], [−αβ, 1−αβ]],
    // v = [αx, αβx] (α = 0.3, β = 0.2). Each 256-event chunk folds
    // its steps into ONE composed (M, v) — a left-to-right product of
    // 2×2 affine maps in fixed order — and the per-user chunk chain
    // folds the compositions, seeding (l₀, b₀) = (x₁, 0) in chunk 0.
    // Identical fold order in the DuckDB oracle makes the floats
    // bit-equal (the q129 discipline); the chunk tree is why a
    // 100 TB-per-user history smooths in O(log) depth instead of one
    // sequential pass. Readout: final level, trend, and the one-step
    // forecast per user.
    QueryDef("q407_holt_trend",
      (s, d) => {
        val C = 256
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val chunked = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("value").cast("double").as("v"))
          .withColumn("__rn", row_number().over(w).cast("long") - 1)
          .withColumn("__c", expr(s"__rn div $C"))
        val vals = sort_array(collect_list(struct(col("ts"),
          col("event_id"), col("v"))))
        // compose the chunk's steps: state is (a11,a12,a21,a22,u1,u2);
        // step (M, vx) applied as A' = M·A, u' = M·u + vx
        def comp(acc: org.apache.spark.sql.Column,
                 x: org.apache.spark.sql.Column) = struct(
          (lit(0.7) * acc.getField("a11") + lit(0.7) * acc.getField("a21"))
            .as("a11"),
          (lit(0.7) * acc.getField("a12") + lit(0.7) * acc.getField("a22"))
            .as("a12"),
          (lit(-0.06) * acc.getField("a11") + lit(0.94) * acc.getField("a21"))
            .as("a21"),
          (lit(-0.06) * acc.getField("a12") + lit(0.94) * acc.getField("a22"))
            .as("a22"),
          (lit(0.7) * acc.getField("u1") + lit(0.7) * acc.getField("u2") +
            lit(0.3) * x).as("u1"),
          (lit(-0.06) * acc.getField("u1") + lit(0.94) * acc.getField("u2") +
            lit(0.06) * x).as("u2"))
        val idm = struct(lit(1.0).as("a11"), lit(0.0).as("a12"),
          lit(0.0).as("a21"), lit(1.0).as("a22"),
          lit(0.0).as("u1"), lit(0.0).as("u2"))
        val sums = chunked
          .groupBy("user_id", "__c")
          .agg(transform(vals, e => e.getField("v")).as("vs"))
          .select(col("user_id"), col("__c"),
            size(col("vs")).cast("long").as("m"),
            // chunk 0 seeds (l, b) = (x1, 0) then folds the rest;
            // later chunks stay affine maps awaiting the carry
            when(col("__c") === 0L,
              aggregate(slice(col("vs"), lit(2), size(col("vs")) - 1),
                struct(lit(1.0).as("a11"), lit(0.0).as("a12"),
                  lit(0.0).as("a21"), lit(1.0).as("a22"),
                  element_at(col("vs"), 1).as("u1"), lit(0.0).as("u2")),
                comp))
              .otherwise(aggregate(col("vs"), idm, comp)).as("st"))
        val wC = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("__c")
        val chain = sort_array(collect_list(struct(col("__c"), col("st"))))
        sums.groupBy("user_id")
          .agg(sum("m").as("n"),
            aggregate(
              transform(chain, e => e.getField("st")),
              struct(lit(0.0).as("l"), lit(0.0).as("b")),
              (acc, st) => struct(
                (st.getField("a11") * acc.getField("l") +
                  st.getField("a12") * acc.getField("b") +
                  st.getField("u1")).as("l"),
                (st.getField("a21") * acc.getField("l") +
                  st.getField("a22") * acc.getField("b") +
                  st.getField("u2")).as("b"))).as("fin"))
          .select(col("user_id"), col("n"),
            round(col("fin").getField("l"), 6).as("level"),
            round(col("fin").getField("b"), 6).as("trend"),
            round(col("fin").getField("l") + col("fin").getField("b"), 6)
              .as("forecast_1"))
          .orderBy("user_id")
      },
      // The oracle carries the affine state as a DOUBLE[] (positions
      // [a11,a12,a21,a22,u1,u2]), NOT a struct: DuckDB's list_reduce
      // with a struct accumulator exhibits a read-after-write hazard
      // (later struct fields see earlier fields' NEW values mid-step
      // — verified on a 3-step fold); list construction evaluates all
      // positions against the old accumulator, matching Spark.
      Some("""WITH ev AS (SELECT user_id, CAST(value AS DOUBLE) AS v,
        |    (row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - 1) // 256 AS c, ts, event_id
        |  FROM events),
        |ck AS (SELECT user_id, c, list(v ORDER BY ts, event_id) AS vs
        |  FROM ev GROUP BY 1, 2),
        |sm AS (SELECT user_id, c, len(vs) AS m,
        |    CASE WHEN c = 0 THEN list_reduce(
        |      list_prepend(CAST([1.0, 0.0, 0.0, 1.0, vs[1], 0.0]
        |        AS DOUBLE[]),
        |      list_transform(vs[2:],
        |        x -> CAST([x, 0.0, 0.0, 0.0, 0.0, 0.0] AS DOUBLE[]))),
        |      (acc, x) -> [
        |        0.7 * acc[1] + 0.7 * acc[3],
        |        0.7 * acc[2] + 0.7 * acc[4],
        |        -0.06 * acc[1] + 0.94 * acc[3],
        |        -0.06 * acc[2] + 0.94 * acc[4],
        |        0.7 * acc[5] + 0.7 * acc[6] + 0.3 * x[1],
        |        -0.06 * acc[5] + 0.94 * acc[6] + 0.06 * x[1]])
        |    ELSE list_reduce(
        |      list_prepend(CAST([1.0, 0.0, 0.0, 1.0, 0.0, 0.0]
        |        AS DOUBLE[]),
        |      list_transform(vs,
        |        x -> CAST([x, 0.0, 0.0, 0.0, 0.0, 0.0] AS DOUBLE[]))),
        |      (acc, x) -> [
        |        0.7 * acc[1] + 0.7 * acc[3],
        |        0.7 * acc[2] + 0.7 * acc[4],
        |        -0.06 * acc[1] + 0.94 * acc[3],
        |        -0.06 * acc[2] + 0.94 * acc[4],
        |        0.7 * acc[5] + 0.7 * acc[6] + 0.3 * x[1],
        |        -0.06 * acc[5] + 0.94 * acc[6] + 0.06 * x[1]])
        |    END AS st FROM ck),
        |fold AS (SELECT user_id, CAST(sum(m) AS BIGINT) AS n,
        |    list_reduce(
        |      list_prepend(CAST([0.0, 0.0] AS DOUBLE[]),
        |        list(st ORDER BY c)),
        |      (acc, s) -> [s[1] * acc[1] + s[2] * acc[2] + s[5],
        |                   s[3] * acc[1] + s[4] * acc[2] + s[6]]) AS fin
        |  FROM sm GROUP BY 1)
        |SELECT user_id, n, round(fin[1], 6) + 0 AS level,
        |  round(fin[2], 6) + 0 AS trend,
        |  round(fin[1] + fin[2], 6) + 0 AS forecast_1
        |FROM fold ORDER BY user_id""".stripMargin)))
}
