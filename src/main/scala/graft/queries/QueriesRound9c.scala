package graft.queries

import graft.Tables._
import graft.ops.Checkpoints
import org.apache.spark.sql.functions._

/** Round-9 third batch: cross-signal lag analysis and the streaming
  * first-touch funnel — both exact-integer, both oracle-replayed.
  */
object QueriesRound9c {

  val defs: Seq[QueryDef] = Seq(

    // ---- q498: lagged co-movement (cross-correlation numerators) ----------
    // "Does the purchase curve follow the click curve, and by how many
    // days?" — the lead/lag readout next to q281's autocorrelation:
    // daily click/purchase counts (zero-filled over the full 30-day
    // domain, so missing days are data, not dropped rows), and for
    // each lag L in 0..7 the EXACT covariance numerator over the
    // n = 30−L aligned pairs: cov_num = n·Σxy − Σx·Σy (pure BIGINT —
    // no mean is ever materialized, the classic cross-multiplied
    // form), scaled to ppm of n² for cross-lag comparison. The lag
    // domain is a constant 8-row frame; the only data-sized work is
    // one daily count aggregation. best flags the argmax row
    // (ties to the smaller lag).
    QueryDef("q498_lagged_comovement",
      (s, d) => Checkpoints.scoped { pin =>
        val daily = events(s, d)
          .where(col("event_type").isin("click", "purchase"))
          .select(expr("CAST(date_diff(DAY, TIMESTAMP '2024-01-01', ts)"
            + " AS BIGINT)").as("day"), col("event_type"))
          .groupBy("day")
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("y"))
        val dom = s.range(30).select(col("id").as("day"))
        // joined once per lag side below
        val filled = pin(dom.join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
            coalesce(col("y"), lit(0L)).as("y")))
        val lags = s.range(8).select(col("id").as("lag"))
        val pairs = lags
          .join(filled.select(col("day"), col("x")), col("day") <= lit(29) - col("lag"))
          .join(filled.select(col("day").as("dy"), col("y")),
            col("dy") === col("day") + col("lag"))
        val agg = pairs.groupBy("lag")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"))
          .withColumn("cov_num",
            col("n") * col("sxy") - col("sx") * col("sy"))
          .withColumn("cov_ppm",
            expr("(cov_num * 1000000) div (n * n)"))
        // argmax over the CONSTANT 8-row lag frame: a single-partition
        // window is fine here (the q427 bounded-frame discipline)
        agg
          .withColumn("__b",
            max(struct(col("cov_ppm").as("cp"), (-col("lag")).as("nl")))
              .over(org.apache.spark.sql.expressions.Window.partitionBy()))
          .select(col("lag"), col("n"), col("sx"), col("sy"), col("sxy"),
            col("cov_num"), col("cov_ppm"),
            (col("cov_ppm") === col("__b.cp") &&
              col("lag") === -col("__b.nl")).as("best"))
          .orderBy("lag")
      },
      Some("""WITH daily AS (SELECT
        |    CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT)
        |      AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x0,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y0
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |dom AS (SELECT unnest(generate_series(0, 29)) AS day),
        |f AS (SELECT dom.day, CAST(coalesce(x0, 0) AS BIGINT) AS x,
        |    CAST(coalesce(y0, 0) AS BIGINT) AS y
        |  FROM dom LEFT JOIN daily ON daily.day = dom.day),
        |lg AS (SELECT unnest(generate_series(0, 7)) AS lag),
        |pr AS (SELECT lg.lag, a.x, b.y FROM lg
        |  JOIN f a ON a.day <= 29 - lg.lag
        |  JOIN f b ON b.day = a.day + lg.lag),
        |ag AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM pr GROUP BY 1),
        |cv AS (SELECT lag, n, sx, sy, sxy,
        |    n * sxy - sx * sy AS cov_num,
        |    CAST(((n * sxy - sx * sy) * 1000000) // (n * n) AS BIGINT)
        |      AS cov_ppm
        |  FROM ag),
        |bt AS (SELECT lag AS blag FROM cv
        |  ORDER BY cov_ppm DESC, lag ASC LIMIT 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n, sx, sy, sxy,
        |  CAST(cov_num AS BIGINT) AS cov_num, cov_ppm,
        |  lag = bt.blag AS best
        |FROM cv, bt ORDER BY lag""".stripMargin)),

    // ---- q499: STREAMING first-touch funnel (lane #28) ---------------------
    // q87's sequential funnel scans history; the STREAMING form keeps
    // the funnel live without re-scan by maintaining only what a
    // commutative fold can: the FIRST-TOUCH timestamp per (user,
    // step) — min(ts) is incrementally exact under any arrival order,
    // so the stream holds 3 timestamps per user and the finisher
    // derives conversion on the O(users) register table. Semantics
    // differ from q87 BY DESIGN (first-touch: a user converts at
    // step k if min ts of step k is at or after min ts of step k−1
    // — the variant streaming systems actually serve) and the oracle
    // replays exactly this definition.
    QueryDef("q499_streaming_funnel",
      (s, d) => {
        val mins = graft.streaming.Sessions.runStreamToBatch(s, d,
          eventsStreamSchema(s, d),
          globFilter = Some("events.parquet"),
          transform = st => normalizeEventTs(st)
            .where(col("event_type").isin("signup", "click", "purchase"))
            .groupBy("user_id")
            .agg(min(when(col("event_type") === "signup", col("ts")))
              .as("t1"),
              min(when(col("event_type") === "click", col("ts"))).as("t2"),
              min(when(col("event_type") === "purchase", col("ts")))
                .as("t3")))
        mins.select(
          col("t1").isNotNull.as("s1"),
          (col("t1").isNotNull && col("t2").isNotNull &&
            col("t2") >= col("t1")).as("s2"),
          (col("t1").isNotNull && col("t2").isNotNull &&
            col("t2") >= col("t1") && col("t3").isNotNull &&
            col("t3") >= col("t2")).as("s3"))
          .agg(sum(when(col("s1"), 1L).otherwise(0L)).as("n_signup"),
            sum(when(col("s2"), 1L).otherwise(0L)).as("n_click_after"),
            sum(when(col("s3"), 1L).otherwise(0L)).as("n_purchase_after"))
          .select(col("n_signup"), col("n_click_after"),
            col("n_purchase_after"),
            expr("(n_click_after * 1000000) div n_signup")
              .as("step2_ppm"),
            expr("(n_purchase_after * 1000000)"
              + " div greatest(n_click_after, 1L)").as("step3_ppm"))
      },
      Some("""WITH m AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t2,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
        |  FROM events
        |  WHERE event_type IN ('signup', 'click', 'purchase')
        |  GROUP BY 1),
        |c AS (SELECT
        |    t1 IS NOT NULL AS s1,
        |    t1 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t1 AS s2,
        |    t1 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t1
        |      AND t3 IS NOT NULL AND t3 >= t2 AS s3
        |  FROM m)
        |SELECT CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_signup,
        |  CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_click_after,
        |  CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purchase_after,
        |  CAST((sum(CASE WHEN s2 THEN 1 ELSE 0 END) * 1000000)
        |    // sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS step2_ppm,
        |  CAST((sum(CASE WHEN s3 THEN 1 ELSE 0 END) * 1000000)
        |    // greatest(sum(CASE WHEN s2 THEN 1 ELSE 0 END), 1)
        |    AS BIGINT) AS step3_ppm
        |FROM c""".stripMargin))
  )
}
