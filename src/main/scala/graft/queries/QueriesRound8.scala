package graft.queries

import graft.Tables._
import org.apache.spark.sql.functions._

/** Round-8 first batch: the q401 degree-cap audit and the custom
  * MicroBatchStream device-capture source (streaming lane #20).
  */
object QueriesRound8 {

  val defs: Seq[QueryDef] = Seq(

    // ---- q424: random-walk degree-cap audit -----------------------------
    // The q179 discipline (audit what a safety cap excluded) applied
    // to q401's adjacency build: the co-purchase graph's degree
    // distribution against the walk cap (64), reporting how many
    // nodes were trimmed, how many (src,dst) pairs the cap dropped,
    // and the hub maximum — the numbers that tell an operator whether
    // the cap is biting the corpus or only the power-law tail. Same
    // one-shuffle aggregation shape as the build itself.
    QueryDef("q424_walk_cap_audit",
      (s, d) => {
        val li = lineitem(s, d).select("l_orderkey", "l_partkey")
        val deg = li.withColumnRenamed("l_partkey", "src")
          .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
          .where(col("src") =!= col("dst"))
          .select(col("src").cast("long").as("src"),
            col("dst").cast("long").as("dst")).distinct()
          .groupBy("src").agg(count(lit(1)).as("degree"))
        deg.agg(
            count(lit(1)).as("n_nodes"),
            sum(when(col("degree") > 64, 1L).otherwise(0L)).as("n_capped"),
            sum(greatest(col("degree") - 64, lit(0L))).as("excluded_pairs"),
            max(col("degree")).as("max_degree"),
            sum(col("degree")).as("total_pairs"))
          .select(col("n_nodes"), col("n_capped"), col("excluded_pairs"),
            col("max_degree"), col("total_pairs"))
      },
      Some("""WITH e AS (SELECT DISTINCT a.l_partkey AS src,
        |    b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey != b.l_partkey),
        |deg AS (SELECT src, count(*) AS degree FROM e GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(CASE WHEN degree > 64 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_capped,
        |  CAST(sum(greatest(degree - 64, 0)) AS BIGINT) AS excluded_pairs,
        |  CAST(max(degree) AS BIGINT) AS max_degree,
        |  CAST(sum(degree) AS BIGINT) AS total_pairs
        |FROM deg""".stripMargin)),

    // ---- q425: device-capture MicroBatchStream (streaming lane #20) -----
    // The S5 source built for real: a custom DataSourceV2
    // MicroBatchStream (sources/AudioCaptureSource) with admission-
    // control rate limiting — 3 devices × 40 chunks delivered 7 seqs
    // per micro-batch — feeding the NATIVE WAV header expression.
    // n_samples comes from parsing the actual RIFF bytes each chunk
    // carries, so the lane proves source planning AND payload
    // round-trip in one hash: the oracle replays the deterministic
    // capture model (frames = 50 + seq%40, ts = epoch + 100ms·seq)
    // from generate_series, values only the byte walk can reproduce.
    // SourceV2Spec pins the rate limit (≥ ceil(40/7) micro-batches),
    // exactly-once seqs, and stream ≡ batch twin on the same table.
    QueryDef("q425_capture_stream",
      (s, d) => graft.streaming.Sessions.runSourceStreamToBatch(s,
          "graft-audio-capture",
          Map("devices" -> "3", "totalChunks" -> "40",
            "chunksPerBatch" -> "7"),
          st => {
            val m = graft.ops.Multimodal.wavMetadata(col("content"))
            st.select(col("device_id"), col("seq"),
                unix_micros(col("capture_ts").cast("timestamp")).as("us"),
                m.getField("n_samples").as("n_samples"),
                m.getField("valid").as("valid"))
              .groupBy("device_id")
              .agg(count(lit(1)).as("n_chunks"),
                sum("n_samples").as("sum_samples"),
                sum(col("seq") * col("seq")).as("ck"),
                min("us").as("first_us"), max("us").as("last_us"),
                sum(when(col("valid"), 0L).otherwise(1L)).as("n_invalid"))
          })
        .orderBy("device_id"),
      Some("""SELECT 'dev-' || CAST(d AS VARCHAR) AS device_id,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(50 + s % 40) AS BIGINT) AS sum_samples,
        |  CAST(sum(s * s) AS BIGINT) AS ck,
        |  CAST(min(1767225600000000 + s * 100000) AS BIGINT) AS first_us,
        |  CAST(max(1767225600000000 + s * 100000) AS BIGINT) AS last_us,
        |  CAST(0 AS BIGINT) AS n_invalid
        |FROM (SELECT unnest(generate_series(0, 2)) AS d),
        |     (SELECT unnest(generate_series(0, 39)) AS s)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q426: ADAPTIVE-gap greedy thinning ------------------------------
    // The flagship operator with a per-key recrawl BUDGET instead of
    // one global gap — "news users every 6 h, bulk every 12 h,
    // archives every 48 h": the gap is an epoch-micros COLUMN
    // evaluated per candidate row (GreedyThinOp.thinAdaptive), here
    // derived from user_id % 3, in production joined from a policy
    // dimension. Same custom logical node → strategy → whole-stage-
    // codegen'd exec; the oracle replays the greedy recurrence as a
    // recursive CTE with the gap resolved per user. The three gap
    // tiers produce visibly different kept densities, so the hash
    // would catch a gap-column mixup immediately.
    QueryDef("q426_adaptive_thinning",
      (s, d) => {
        val ev = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .where(col("ts").isNotNull && col("user_id").isNotNull)
          .withColumn("gap_us", element_at(
            array(lit(6L * 3600L * 1000000L), lit(12L * 3600L * 1000000L),
              lit(48L * 3600L * 1000000L)),
            (col("user_id") % 3 + 1).cast("int")))
        graft.plans.GreedyThinOp.thinAdaptive(ev, Seq("user_id"), "ts",
            Seq("event_id"), "gap_us")
          .select(col("user_id"), unix_micros(col("ts")).as("tus"),
            col("event_id"))
          .orderBy("user_id", "tus")
      },
      Some("""WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |         CASE user_id % 3 WHEN 0 THEN 21600000000
        |           WHEN 1 THEN 43200000000
        |           ELSE 172800000000 END AS g,
        |         epoch_us(ts)::HUGEINT * 1000000000000 + event_id AS k
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |kept AS (
        |  SELECT e.user_id, e.tus, e.event_id, e.g FROM ev e
        |  JOIN (SELECT user_id, min(k) AS k FROM ev GROUP BY 1) m
        |    ON m.user_id = e.user_id AND m.k = e.k
        |  UNION ALL
        |  SELECT n.user_id, n.tus, n.event_id, n.g FROM (
        |    SELECT e2.user_id, min(e2.k) AS k
        |    FROM kept k0 JOIN ev e2 ON e2.user_id = k0.user_id
        |      AND e2.tus >= k0.tus + k0.g
        |    GROUP BY 1) m
        |  JOIN ev n ON n.user_id = m.user_id AND n.k = m.k)
        |SELECT user_id, tus, event_id FROM kept
        |ORDER BY user_id, tus""".stripMargin)))
}
