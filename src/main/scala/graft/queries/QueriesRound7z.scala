package graft.queries

import graft.Tables._
import graft.ops.{Sampling, Text}
import org.apache.spark.sql.functions._

/** Round-7 twenty-sixth batch: the difference-in-differences
  * estimator, RANSAC robust line fitting, and the conformal gate run
  * as the 16th verified streaming lane.
  */
object QueriesRound7z {

  val defs: Seq[QueryDef] = Seq(

    // ---- q386: difference-in-differences --------------------------------
    // The quasi-experimental A/B sequel to q314's CUPED: users split
    // into treat/control by md5 parity, periods split at the corpus
    // time midpoint, outcome = events per user-period with a PLANTED
    // +20 treatment effect on treated-post cells (both engines plant
    // identically, so the spec can assert recovery). The user-period
    // panel is the full users × {pre, post} grid (zero-activity cells
    // MUST count — dropping them biases DiD), built from O(users)
    // frames; cell means in exact milli units, DiD from the four
    // means. Recovers ≈ 20000 milli by construction (the effect is sized to
    // dominate md5-assignment noise even at sf0.001).
    QueryDef("q386_diff_in_diff",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"),
          expr("unix_micros(ts)").as("us"))
        val mid = broadcast(ev.agg(
          expr("(min(us) + max(us)) div 2").as("mid")))
        val counts = ev.crossJoin(mid)
          .select(col("user_id"), (col("us") >= col("mid")).as("post"))
          .groupBy("user_id", "post").agg(count(lit(1)).as("c"))
        val users = ev.select("user_id").distinct()
        val panel = users
          .crossJoin(s.range(2).select((col("id") === 1).as("post")))
          .join(counts, Seq("user_id", "post"), "left")
          .select(col("user_id"), col("post"),
            (Sampling.hashLong(col("user_id")) % 2 === 0).as("treat"),
            coalesce(col("c"), lit(0L)).as("y0"))
          .select(col("post"), col("treat"),
            (col("y0") + when(col("treat") && col("post"), 20L)
              .otherwise(0L)).as("y"))
        val cells = panel.groupBy("treat", "post")
          .agg(count(lit(1)).as("n"), sum("y").as("sy"))
          .select(col("treat"), col("post"),
            expr("(sy * 1000) div n").as("m"), col("n"))
        cells.groupBy()
          .agg(
            max(when(col("treat") && !col("post"), col("n"))).as("n_treat"),
            max(when(!col("treat") && !col("post"), col("n"))).as("n_ctrl"),
            max(when(col("treat") && !col("post"), col("m"))).as("mt_pre_milli"),
            max(when(col("treat") && col("post"), col("m"))).as("mt_post_milli"),
            max(when(!col("treat") && !col("post"), col("m"))).as("mc_pre_milli"),
            max(when(!col("treat") && col("post"), col("m"))).as("mc_post_milli"))
          .select(col("n_treat"), col("n_ctrl"), col("mt_pre_milli"),
            col("mt_post_milli"), col("mc_pre_milli"), col("mc_post_milli"),
            ((col("mt_post_milli") - col("mt_pre_milli")) -
              (col("mc_post_milli") - col("mc_pre_milli"))).as("did_milli"))
      },
      Some {
        val h = DuckSql.hashLong("user_id")
        s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |cnt AS (SELECT user_id, us >= mid AS post, count(*) AS c
        |  FROM ev, mid GROUP BY 1, 2),
        |u AS (SELECT DISTINCT user_id FROM ev),
        |panel AS (SELECT p.post,
        |    (${DuckSql.hashLong("u.user_id")}) % 2 = 0 AS treat,
        |    coalesce(c, 0) + CASE WHEN
        |      (${DuckSql.hashLong("u.user_id")}) % 2 = 0 AND p.post
        |      THEN 20 ELSE 0 END AS y
        |  FROM u CROSS JOIN (SELECT unnest([false, true]) AS post) p
        |  LEFT JOIN cnt ON cnt.user_id = u.user_id
        |    AND cnt.post = p.post),
        |cells AS (SELECT treat, post, count(*) AS n,
        |    (sum(y) * 1000) // count(*) AS m FROM panel GROUP BY 1, 2)
        |SELECT
        |  CAST(max(CASE WHEN treat AND NOT post THEN n END) AS BIGINT)
        |    AS n_treat,
        |  CAST(max(CASE WHEN NOT treat AND NOT post THEN n END) AS BIGINT)
        |    AS n_ctrl,
        |  CAST(max(CASE WHEN treat AND NOT post THEN m END) AS BIGINT)
        |    AS mt_pre_milli,
        |  CAST(max(CASE WHEN treat AND post THEN m END) AS BIGINT)
        |    AS mt_post_milli,
        |  CAST(max(CASE WHEN NOT treat AND NOT post THEN m END) AS BIGINT)
        |    AS mc_pre_milli,
        |  CAST(max(CASE WHEN NOT treat AND post THEN m END) AS BIGINT)
        |    AS mc_post_milli,
        |  CAST((max(CASE WHEN treat AND post THEN m END)
        |    - max(CASE WHEN treat AND NOT post THEN m END))
        |    - (max(CASE WHEN NOT treat AND post THEN m END)
        |    - max(CASE WHEN NOT treat AND NOT post THEN m END)) AS BIGINT)
        |    AS did_milli
        |FROM cells""".stripMargin
      }),

    // ---- q387: RANSAC robust line fit -----------------------------------
    // Robust fitting past q331's Theil–Sen: 8 candidate lines, each
    // through a deterministic doc pair (ids are dense from 0, so model
    // m uses docs min+3m and min+4m+17 — engine-identical, degenerate
    // Δx=0 pairs dropped), slope/intercept in exact micro units,
    // inliers = points within 100 chars of the line counted in ONE
    // scan against the broadcast 8-model frame, winner by the q363
    // numeric argmax key. The consensus loop that kills outliers a
    // least-squares fit would absorb.
    QueryDef("q387_ransac_fit",
      (s, d) => {
        val pts = documents(s, d).select(
          col("doc_id"), col("n_chars").as("y"),
          size(Text.tokens(col("text"))).cast("long").as("x"))
        val ids = broadcast(pts.agg(min("doc_id").as("lo")))
        val models = broadcast(
          s.range(8).select(col("id").as("m")).crossJoin(ids)
            .join(pts.select(col("doc_id").as("ida"), col("x").as("xa"),
              col("y").as("ya")),
              col("ida") === col("lo") + col("m") * 3)
            .join(pts.select(col("doc_id").as("idb"), col("x").as("xb"),
              col("y").as("yb")),
              col("idb") === col("lo") + col("m") * 4 + 17)
            .where(col("xb") =!= col("xa"))
            .select(col("m"),
              expr("((yb - ya) * 1000000) div (xb - xa)").as("slope_micro"),
              expr("ya * 1000000 - ((yb - ya) * 1000000 div (xb - xa)) * xa")
                .as("icept_micro")))
        val scored = pts.crossJoin(models)
          .groupBy("m", "slope_micro", "icept_micro")
          .agg(sum(when(
            abs(col("y") * 1000000L - (col("slope_micro") * col("x") +
              col("icept_micro"))) <= 100000000L, 1L).otherwise(0L))
            .as("n_inliers"))
        val best = broadcast(scored.agg(
          max(col("n_inliers") * 8 + (lit(7) - col("m"))).as("bk")))
        scored.crossJoin(best)
          .select(col("m"), col("slope_micro"), col("icept_micro"),
            col("n_inliers"),
            (col("n_inliers") * 8 + (lit(7) - col("m")) === col("bk"))
              .as("best"))
          .orderBy("m")
      },
      Some(s"""WITH pts AS (SELECT doc_id, n_chars AS y,
        |    len(${DuckSql.toks("text")}) AS x FROM documents),
        |lo AS (SELECT min(doc_id) AS lo FROM pts),
        |mdl AS (SELECT m, ((b.y - a.y) * 1000000) // (b.x - a.x)
        |      AS slope_micro,
        |    a.y * 1000000 - (((b.y - a.y) * 1000000) // (b.x - a.x)) * a.x
        |      AS icept_micro
        |  FROM (SELECT unnest(generate_series(0, 7)) AS m), lo
        |  JOIN pts a ON a.doc_id = lo + m * 3
        |  JOIN pts b ON b.doc_id = lo + m * 4 + 17
        |  WHERE b.x != a.x),
        |sc AS (SELECT m, slope_micro, icept_micro,
        |    sum(CASE WHEN abs(y * 1000000 -
        |      (slope_micro * x + icept_micro)) <= 100000000
        |      THEN 1 ELSE 0 END) AS n_inliers
        |  FROM pts CROSS JOIN mdl GROUP BY 1, 2, 3),
        |bk AS (SELECT max(n_inliers * 8 + (7 - m)) AS bk FROM sc)
        |SELECT m, CAST(slope_micro AS BIGINT) AS slope_micro,
        |  CAST(icept_micro AS BIGINT) AS icept_micro,
        |  CAST(n_inliers AS BIGINT) AS n_inliers,
        |  n_inliers * 8 + (7 - m) = bk AS best
        |FROM sc, bk ORDER BY m""".stripMargin)),

    // ---- q388: STREAMING conformal gate ---------------------------------
    // q384's uncertainty gate AT INGEST — streaming lane #16: q-hat is
    // last calibration's artifact (computed batch-side from the train
    // split, broadcast as a static one-row frame), the document stream
    // filters to the held-out split statelessly, scores nonconformity
    // per row, and folds covered/total per language in one streaming
    // aggregation. Hash-matches the pure-batch oracle — the
    // batch/stream identity proof for the uncertainty stage.
    QueryDef("q388_streaming_conformal_gate",
      (s, d) => {
        val batch = documents(s, d)
        val scored = Sampling.hashSplit(
            batch.select(col("doc_id"), col("n_chars"),
              size(Text.tokens(col("text"))).cast("long").as("nt")),
            "doc_id", 50, 0)
          .select(col("split"),
            abs(col("n_chars") - lit(6L) * col("nt")).as("sc"))
        val cal = scored.where(col("split") === "train")
        val nCal = cal.agg(count(lit(1)).as("n_cal"))
        val wCum = org.apache.spark.sql.expressions.Window
          .orderBy("sc").rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val qhat = cal.groupBy("sc").agg(count(lit(1)).as("c"))
          .crossJoin(nCal)
          .withColumn("run", sum("c").over(wCum))
          .where(col("run") >= expr("least((n_cal + 1) * 9 div 10, n_cal)"))
          .agg(min("sc").as("qhat")).withColumn("__one", lit(1))
        graft.streaming.Sessions.runStreamToBatch(s, d, batch.schema,
            globFilter = Some("documents.parquet"),
            transform = st => st
              .where(Sampling.hashLong(col("doc_id")) % 100 >= 50)
              .select(col("lang"),
                abs(col("n_chars") - lit(6L) *
                  size(Text.tokens(col("text"))).cast("long")).as("sc"))
              .withColumn("__one", lit(1))
              .join(broadcast(qhat), Seq("__one"))
              .groupBy("lang")
              .agg(count(lit(1)).as("n_test"),
                sum(when(col("sc") <= col("qhat"), 1L).otherwise(0L))
                  .as("n_covered")))
          .select(col("lang"), col("n_test"), col("n_covered"),
            expr("(n_covered * 1000000) div n_test").as("coverage_ppm"))
          .orderBy("lang")
      },
      Some {
        val h = DuckSql.hashLong("doc_id")
        s"""WITH sc AS (SELECT lang,
        |    CASE WHEN ($h) % 100 < 50 THEN 'train' ELSE 'test' END
        |      AS split,
        |    abs(n_chars - 6 * len(${DuckSql.toks("text")})) AS sc
        |  FROM documents),
        |cal AS (SELECT sc FROM sc WHERE split = 'train'),
        |n AS (SELECT count(*) AS n_cal FROM cal),
        |run AS (SELECT sc, sum(c) OVER (ORDER BY sc
        |    ROWS UNBOUNDED PRECEDING) AS run
        |  FROM (SELECT sc, count(*) AS c FROM cal GROUP BY 1)),
        |q AS (SELECT min(sc) AS qhat FROM run, n
        |  WHERE run >= least(((n_cal + 1) * 9) // 10, n_cal))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN sc.sc <= q.qhat THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_covered,
        |  CAST((sum(CASE WHEN sc.sc <= q.qhat THEN 1 ELSE 0 END)
        |    * 1000000) // count(*) AS BIGINT) AS coverage_ppm
        |FROM sc, q WHERE sc.split = 'test'
        |GROUP BY lang, q.qhat ORDER BY lang""".stripMargin
      }))
}
