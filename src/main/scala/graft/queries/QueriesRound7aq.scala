package graft.queries

import graft.Tables._
import graft.plans.GreedyThinOp
import org.apache.spark.sql.functions._

/** Round-7 forty-third batch: the custom physical-operator lane —
  * greedy temporal thinning via LogicalPlan → SparkStrategy →
  * SparkPlan (plans/GreedyThin).
  */
object QueriesRound7aq {

  val defs: Seq[QueryDef] = Seq(

    // ---- q420: greedy snapshot thinning (custom SparkPlan) --------------
    // The re-crawl debounce of a web corpus: per user keep an event
    // only if >= 12 h after the last KEPT one — a decision on the
    // operator's own OUTPUT, which no window function can express
    // (rank/lag see the input, not the kept set). Runs through the
    // engine's one custom whole-operator lane: GreedyThin logical
    // node → GreedyThinStrategy → GreedyThinExec, whose declared
    // ClusteredDistribution + ordering let EnsureRequirements plan
    // the single hash exchange; the pass itself is a streaming O(1)-
    // state filter (no group materialization — the flatMapGroups
    // alternative would buffer and codec every group). The oracle
    // replays the same greedy recurrence as a recursive CTE: each
    // level selects, per user, the min (ts, event_id) row at least
    // one gap after the previous level's kept row. (keys, ts,
    // event_id) is a total order, so the kept set is unique and the
    // hash compare is exact. GreedyThinSpec pins semantics vs a
    // sequential reference, tie handling, and the one-exchange plan.
    QueryDef("q420_greedy_thinning",
      (s, d) => {
        val ev = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .where(col("ts").isNotNull && col("user_id").isNotNull)
        GreedyThinOp.thin(ev, Seq("user_id"), "ts", Seq("event_id"),
            12L * 3600L * 1000000L)
          .select(col("user_id"), unix_micros(col("ts")).as("tus"),
            col("event_id"))
          .orderBy("user_id", "tus")
      },
      Some("""WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |         epoch_us(ts)::HUGEINT * 1000000000000 + event_id AS k
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |kept AS (
        |  SELECT e.user_id, e.tus, e.event_id FROM ev e
        |  JOIN (SELECT user_id, min(k) AS k FROM ev GROUP BY 1) m
        |    ON m.user_id = e.user_id AND m.k = e.k
        |  UNION ALL
        |  SELECT n.user_id, n.tus, n.event_id FROM (
        |    SELECT e2.user_id, min(e2.k) AS k
        |    FROM kept k0 JOIN ev e2 ON e2.user_id = k0.user_id
        |      AND e2.tus >= k0.tus + 43200000000
        |    GROUP BY 1) m
        |  JOIN ev n ON n.user_id = m.user_id AND n.k = m.k)
        |SELECT user_id, tus, event_id FROM kept
        |ORDER BY user_id, tus""".stripMargin)),

    // ---- q421: STREAMING greedy thinning (lane #19) ---------------------
    // The same re-crawl debounce at INGEST time: streaming lane #19,
    // the q284 discipline applied to the new operator — a genuine
    // readStream plan through flatMapGroupsWithState with ONE long of
    // state per key (the last kept timestamp), kept rows final on
    // emit (Append). Hash-matched against the IDENTICAL recursive-CTE
    // oracle as the batch custom physical operator (q420): two
    // execution models — a declared-requirement SparkPlan and a
    // stateful stream — one verified semantics.
    QueryDef("q421_streaming_thinning",
      (s, d) => {
        import s.implicits._
        val sch = eventsStreamSchema(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("events.parquet"),
            outputMode = "append",
            transform = st => graft.streaming.Sessions.streamingGreedyThin(
              normalizeEventTs(st)
                .where(col("user_id").isNotNull && col("ts").isNotNull)
                .select(col("user_id").as("key"),
                  unix_micros(col("ts")).as("ts_us"),
                  col("event_id").as("seq"), lit(0.0).as("value"))
                .as[graft.streaming.ValEvent],
              gapMicros = 12L * 3600L * 1000000L).toDF())
          .select(col("user_id"), col("tus"), col("event_id"))
          .orderBy("user_id", "tus")
      },
      Some("""WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |         epoch_us(ts)::HUGEINT * 1000000000000 + event_id AS k
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |kept AS (
        |  SELECT e.user_id, e.tus, e.event_id FROM ev e
        |  JOIN (SELECT user_id, min(k) AS k FROM ev GROUP BY 1) m
        |    ON m.user_id = e.user_id AND m.k = e.k
        |  UNION ALL
        |  SELECT n.user_id, n.tus, n.event_id FROM (
        |    SELECT e2.user_id, min(e2.k) AS k
        |    FROM kept k0 JOIN ev e2 ON e2.user_id = k0.user_id
        |      AND e2.tus >= k0.tus + 43200000000
        |    GROUP BY 1) m
        |  JOIN ev n ON n.user_id = m.user_id AND n.k = m.k)
        |SELECT user_id, tus, event_id FROM kept
        |ORDER BY user_id, tus""".stripMargin)),

    // ---- q422: filter-through-thinning optimizer rule -------------------
    // The engine's SECOND injected optimizer rule
    // (plans/PushFilterThroughGreedyThin) under the gate: thinning is
    // per-key independent, so a key-only predicate commutes with the
    // operator. The query is written the naive way — thin EVERYTHING,
    // then ask for a handful of users — and the rule moves the
    // predicate below the custom node, where PhysicalOperation hands
    // it to the parquet scan (spec-pinned PushedFilters): at 100 TB
    // "debounce these domains" prunes at the source instead of
    // thinning the corpus. The ORACLE computes filter-FIRST, so the
    // hash equality is the commutation law itself, verified on real
    // data. Non-key predicates stay above (spec-pinned — moving them
    // would change which rows are kept).
    QueryDef("q422_thin_filter_pushdown",
      (s, d) => {
        val ev = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .where(col("ts").isNotNull && col("user_id").isNotNull)
        graft.plans.GreedyThinOp.thin(ev, Seq("user_id"), "ts",
            Seq("event_id"), 12L * 3600L * 1000000L)
          .where(col("user_id") % 10 === 3)
          .select(col("user_id"), unix_micros(col("ts")).as("tus"),
            col("event_id"))
          .orderBy("user_id", "tus")
      },
      Some("""WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |         epoch_us(ts)::HUGEINT * 1000000000000 + event_id AS k
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND user_id % 10 = 3),
        |kept AS (
        |  SELECT e.user_id, e.tus, e.event_id FROM ev e
        |  JOIN (SELECT user_id, min(k) AS k FROM ev GROUP BY 1) m
        |    ON m.user_id = e.user_id AND m.k = e.k
        |  UNION ALL
        |  SELECT n.user_id, n.tus, n.event_id FROM (
        |    SELECT e2.user_id, min(e2.k) AS k
        |    FROM kept k0 JOIN ev e2 ON e2.user_id = k0.user_id
        |      AND e2.tus >= k0.tus + 43200000000
        |    GROUP BY 1) m
        |  JOIN ev n ON n.user_id = m.user_id AND n.k = m.k)
        |SELECT user_id, tus, event_id FROM kept
        |ORDER BY user_id, tus""".stripMargin)),

    // ---- q423: corpus-refresh composite (thin → dedup → report) ---------
    // The custom physical operator MID-pipeline: debounce re-crawls
    // (GreedyThin), then exact content dedup across users (md5
    // fingerprint, first occurrence by (tus, event_id) wins — the
    // q40 discipline), then the per-user refresh report — all one
    // DAG, one hash gate. Proves the node composes: the thinned
    // frame feeds a window and an aggregation downstream, its
    // preserved hash partitioning on user_id reusable by the final
    // groupBy. The oracle chains the q420 recursive CTE into the
    // same window + aggregation.
    QueryDef("q423_refresh_pipeline",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("props"))
          .where(col("ts").isNotNull && col("user_id").isNotNull)
        val kept = graft.plans.GreedyThinOp.thin(ev, Seq("user_id"), "ts",
            Seq("event_id"), 12L * 3600L * 1000000L)
          .withColumn("tus", unix_micros(col("ts")))
          .withColumn("fp", md5(coalesce(col("props"), lit(""))))
        val uniq = kept
          .withColumn("__rn", row_number().over(
            Window.partitionBy("fp").orderBy(col("tus"), col("event_id"))))
          .where(col("__rn") === 1)
        uniq.groupBy("user_id")
          .agg(count(lit(1)).as("n_unique"),
            countDistinct(col("event_type")).as("n_types"),
            min(col("tus")).as("first_tus"),
            max(col("tus")).as("last_tus"))
          .orderBy("user_id")
      },
      Some("""WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type, props,
        |         epoch_us(ts)::HUGEINT * 1000000000000 + event_id AS k
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |kept AS (
        |  SELECT e.user_id, e.tus, e.event_id FROM ev e
        |  JOIN (SELECT user_id, min(k) AS k FROM ev GROUP BY 1) m
        |    ON m.user_id = e.user_id AND m.k = e.k
        |  UNION ALL
        |  SELECT n.user_id, n.tus, n.event_id FROM (
        |    SELECT e2.user_id, min(e2.k) AS k
        |    FROM kept k0 JOIN ev e2 ON e2.user_id = k0.user_id
        |      AND e2.tus >= k0.tus + 43200000000
        |    GROUP BY 1) m
        |  JOIN ev n ON n.user_id = m.user_id AND n.k = m.k),
        |j AS (SELECT k.user_id, k.tus, k.event_id, e.event_type,
        |    md5(coalesce(e.props, '')) AS fp
        |  FROM kept k JOIN ev e
        |    ON e.user_id = k.user_id AND e.event_id = k.event_id),
        |u AS (SELECT *, row_number() OVER (PARTITION BY fp
        |    ORDER BY tus, event_id) AS rn FROM j)
        |SELECT user_id, count(*) AS n_unique,
        |  count(DISTINCT event_type) AS n_types,
        |  min(tus) AS first_tus, max(tus) AS last_tus
        |FROM u WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin)))
}
