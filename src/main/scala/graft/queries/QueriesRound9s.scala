package graft.queries

import graft.Tables._
import org.apache.spark.sql.functions._

/** Round-9 nineteenth batch: streaming Holt maintenance. */
object QueriesRound9s {

  val defs: Seq[QueryDef] = Seq(

    // ---- q525: STREAMING Holt forecast maintenance (lane #31) ------------------
    // q520's level+trend forecast maintained LIVE — the third
    // stateful-state shape in the streaming surface: not O(1)
    // telescoping state (EWMA), not per-event decisions (token
    // bucket), but BOUNDED SUFFICIENT STATISTICS (30 day-counts per
    // user) + an O(30) recompute per emission. That split-safety is
    // the point: carrying (l, b) across micro-batches would be wrong
    // under any re-batching, counts are commutative under all of
    // them. Hash-matched to the same recurrence the q520 oracle
    // walks, plus the per-user event total.
    QueryDef("q525_streaming_holt",
      (s, d) => {
        import org.apache.spark.sql.Dataset
        val pts = graft.streaming.Sessions.runStreamToBatch(s, d,
          eventsStreamSchema(s, d),
          globFilter = Some("events.parquet"),
          outputMode = "update",
          transform = st => {
            val sess = st.sparkSession
            import sess.implicits._
            val typed: Dataset[graft.streaming.DayEvent] =
              normalizeEventTs(st)
                .select(col("user_id").as("key"),
                  dayofmonth(col("ts")).as("day"))
                .as[graft.streaming.DayEvent]
            graft.streaming.Sessions.streamingHolt(typed).toDF()
          })
        // latest emission per user = the one with the largest count
        // (the streamingEwma selection discipline)
        pts.groupBy("user_id")
          .agg(max(struct(col("n_events"), col("level"), col("trend"),
            col("forecast_7d"))).as("m"))
          .select(col("user_id"), col("m.n_events").as("n_events"),
            col("m.level").as("level"), col("m.trend").as("trend"),
            col("m.forecast_7d").as("forecast_7d"))
          .orderBy("user_id")
      },
      Some("""WITH RECURSIVE u AS (SELECT DISTINCT user_id FROM events),
        |cnt AS (SELECT user_id, day(ts) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT u.user_id, g.day,
        |    CAST(coalesce(cnt.c, 0) AS DOUBLE) AS y
        |  FROM u CROSS JOIN (SELECT unnest(generate_series(1, 30)) AS day) g
        |  LEFT JOIN cnt ON cnt.user_id = u.user_id AND cnt.day = g.day),
        |w AS (
        |  SELECT user_id, 1 AS t, y AS l, CAST(0.0 AS DOUBLE) AS b
        |  FROM grid WHERE day = 1
        |  UNION ALL
        |  SELECT w.user_id, w.t + 1,
        |    CAST(0.5 AS DOUBLE) * g.y + CAST(0.5 AS DOUBLE) * (w.l + w.b),
        |    CAST(0.25 AS DOUBLE) * (CAST(0.5 AS DOUBLE) * g.y
        |        + CAST(0.5 AS DOUBLE) * (w.l + w.b) - w.l)
        |      + CAST(0.75 AS DOUBLE) * w.b
        |  FROM w JOIN grid g ON g.user_id = w.user_id AND g.day = w.t + 1
        |  WHERE w.t < 30),
        |ne AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE day(ts) BETWEEN 1 AND 30 GROUP BY 1)
        |SELECT w.user_id, ne.n_events, w.l AS level, w.b AS trend,
        |  w.l + CAST(7.0 AS DOUBLE) * w.b AS forecast_7d
        |FROM w JOIN ne ON ne.user_id = w.user_id
        |WHERE w.t = 30 ORDER BY w.user_id""".stripMargin))
  )
}
