package graft.queries

import graft.Tables._
import graft.ops.RateLimit
import org.apache.spark.sql.functions._

/** Round-9 twelfth batch: token-bucket admission control — the
  * politeness/rate-limit policy as a replayable operator, batch fold
  * and streaming state-machine twin under one recursive-CTE oracle.
  */
object QueriesRound9l {

  val defs: Seq[QueryDef] = Seq(

    // ---- q513: token-bucket politeness replay (batch) ----------------------
    // The crawl-scheduler pre-flight: replay historical per-user
    // traffic through a 3-token / 12-h-refill bucket and read off who
    // gets throttled. The recurrence (admission feeds the level) is
    // sequential PER KEY only, so the plan is one shuffle on user_id
    // + an in-memory column-expression fold over the time-sorted
    // event array — no UDF, no window cascade, no driver loop. The
    // oracle walks the same integer recurrence as a recursive CTE, so
    // every branch (partial refill, cap clamp, reject-without-decrement)
    // is hash-pinned at every step, not just in aggregate.
    QueryDef("q513_token_bucket_replay",
      (s, d) => RateLimit.replaySummary(
          events(s, d), "user_id", "event_id", "ts")
        .orderBy("user_id"),
      Some(s"""WITH RECURSIVE ${RateLimit.duckWalkCtes},
        |fin AS (SELECT user_id, max(rn) AS mx FROM w GROUP BY 1)
        |SELECT w.user_id, w.rn AS n_events, w.adm AS admitted,
        |  w.rej AS rejected, w.lvl AS final_level_micro
        |FROM w JOIN fin ON fin.user_id = w.user_id AND w.rn = fin.mx
        |ORDER BY w.user_id""".stripMargin)),

    // ---- q514: STREAMING token bucket (lane #30) ----------------------------
    // The same bucket run LIVE: flatMapGroupsWithState with O(1)
    // state per key (level + last event time), one decision row per
    // event — the admission-control state machine a streaming ingest
    // gate actually runs (the reference's sleep-between-batches
    // throttle, made exact). Emission is per-event and append-mode,
    // so micro-batch boundaries cannot duplicate or drop decisions;
    // the recursive-CTE oracle pins every per-event level, which a
    // summary readout could mask.
    QueryDef("q514_streaming_token_bucket",
      (s, d) => {
        import org.apache.spark.sql.Dataset
        val dec = graft.streaming.Sessions.runStreamToBatch(s, d,
          eventsStreamSchema(s, d),
          globFilter = Some("events.parquet"),
          outputMode = "append",
          transform = st => {
            val sess = st.sparkSession
            import sess.implicits._
            val typed: Dataset[graft.streaming.BucketEvent] =
              normalizeEventTs(st)
                .select(col("user_id").as("key"), col("event_id").as("id"),
                  unix_micros(col("ts")).as("ts_us"))
                .as[graft.streaming.BucketEvent]
            graft.streaming.Sessions.streamingTokenBucket(typed).toDF()
          })
        dec.orderBy("user_id", "event_id")
      },
      Some(s"""WITH RECURSIVE ${RateLimit.duckWalkCtes}
        |SELECT w.user_id, o.event_id, w.a AS admitted,
        |  w.lvl AS level_after
        |FROM w JOIN o ON o.user_id = w.user_id AND o.rn = w.rn
        |WHERE w.rn >= 1
        |ORDER BY w.user_id, o.event_id""".stripMargin))
  )
}
