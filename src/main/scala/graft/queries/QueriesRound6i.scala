package graft.queries

import graft.Tables._
import graft.ops.{Relational, Sampling}
import graft.streaming.Sessions
import org.apache.spark.sql.functions._

/** Round-6 ninth batch: the 2D spatial join (grid-bucketed distance
  * pairs), a k-anonymity governance audit, and two streaming closures
  * — the FULL-outer interval join (completing the stream-stream join
  * matrix: inner q143, left-outer q148, stream-static q200) and the
  * changelog fold run at ingest (the streaming twin of q92).
  */
object QueriesRound6i {

  val defs: Seq[QueryDef] = Seq(

    // ---- q248: grid-bucketed spatial distance join -------------------
    // All customer pairs within Euclidean radius 500 of each other on
    // a synthetic md5-placed 100k×100k plane (both engines derive the
    // same coordinates). Relational.gridDistanceJoin buckets on
    // radius-sized cells and probes the 3×3 neighborhood — complete by
    // pigeonhole, so the brute-force quadratic oracle must agree
    // exactly; dist² stays in BIGINT (no sqrt). Never point×point on
    // the engine side.
    QueryDef("q248_spatial_grid_join",
      (s, d) => {
        val pts = customer(s, d).select(col("c_custkey").as("id"),
          (Sampling.hashLong(concat(col("c_custkey").cast("string"),
            lit("#x"))) % 100000).as("x"),
          (Sampling.hashLong(concat(col("c_custkey").cast("string"),
            lit("#y"))) % 100000).as("y"))
        Relational.gridDistanceJoin(pts, "id", "x", "y", radius = 500L)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH p AS (SELECT c_custkey AS id,
        |    ${DuckSql.hashLong("c_custkey || '#x'")} % 100000 AS x,
        |    ${DuckSql.hashLong("c_custkey || '#y'")} % 100000 AS y
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |    AS BIGINT) AS dist2
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |  <= 250000
        |ORDER BY id_a, id_b""".stripMargin)),

    // ---- q249: k-anonymity audit -------------------------------------
    // Governance pre-release check: group the corpus by its quasi-
    // identifier tuple (lang, source, n_chars rounded to 100) and
    // report every equivalence class with its size and whether it
    // breaks k = 5 — plus each class's share of total rows in ppm.
    // One map-side-combining aggregation; the k decision is pure
    // integer comparison.
    QueryDef("q249_k_anonymity",
      (s, d) => {
        val k = 5L
        documents(s, d)
          .select(col("lang"), col("source"),
            expr("(n_chars div 100) * 100").as("chars_bucket"))
          .groupBy("lang", "source", "chars_bucket")
          .agg(count(lit(1)).as("class_size"))
          .withColumn("violates_k5", col("class_size") < k)
          // the global total is a window over the CLASS frame (one row
          // per equivalence class), never over data rows
          .withColumn("share_ppm",
            expr("(class_size * 1000000) div (sum(class_size) OVER ())"))
          .orderBy("lang", "source", "chars_bucket")
      },
      Some("""WITH c AS (SELECT lang, source,
        |    (n_chars // 100) * 100 AS chars_bucket, count(*) AS class_size
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, source, CAST(chars_bucket AS BIGINT) AS chars_bucket,
        |  CAST(class_size AS BIGINT) AS class_size,
        |  class_size < 5 AS violates_k5,
        |  CAST((class_size * 1000000)
        |    // (SELECT sum(class_size) FROM c) AS BIGINT) AS share_ppm
        |FROM c ORDER BY 1, 2, 3""".stripMargin)),

    // ---- q250: STREAMING full-outer interval join --------------------
    // The last stream-stream join form: click↔purchase attribution
    // where BOTH directions of non-match must surface — an unmatched
    // click AND an unmatched purchase each emit a null-padded row only
    // when the watermark proves no partner can still arrive. Both
    // sides are bounded 10+ days before the stream's end so the final
    // no-data micro-batch flushes every pending row, and the emitted
    // set equals the batch FULL OUTER join exactly.
    QueryDef("q250_streaming_full_outer",
      (s, d) => {
        val sch = eventsStreamSchema(s, d)
        Sessions.runStreamToBatch(s, d, sch,
            globFilter = Some("events.parquet"),
            outputMode = "append",
            transform = st => {
              // watermark on the SOURCE, before the selective filters
              // (the q148 discipline — a post-filter watermark stalls
              // at that branch's last row and strands outer state)
              val ev = normalizeEventTs(st)
                .withWatermark("ts", "30 seconds")
              val cutoff = lit("2024-01-20 00:00:00").cast("timestamp")
              val clicks = ev.where(col("event_type") === "click" &&
                  col("ts") < cutoff)
                .select(col("user_id"), col("ts").as("c_ts"),
                  col("event_id").as("c_id"))
              val purchases = ev.where(col("event_type") === "purchase" &&
                  col("ts") < cutoff)
                .select(col("user_id"), col("ts").as("p_ts"),
                  col("event_id").as("p_id"))
              Sessions.joinWithinInterval(clicks, purchases, "user_id",
                "c_ts", "p_ts", lowerSec = 0, upperSec = 1800,
                joinType = "full_outer", applyWatermarks = false)
            })
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("c_id").isNotNull && col("p_id").isNotNull, 1L)
              .otherwise(0L)).as("n_pairs"),
            sum(when(col("p_id").isNull, 1L).otherwise(0L)).as("n_click_only"),
            sum(when(col("c_id").isNull, 1L).otherwise(0L)).as("n_purchase_only"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-20 00:00:00'),
        |p AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-20 00:00:00'),
        |j AS (SELECT coalesce(c.user_id, p.user_id) AS user_id,
        |    c.event_id AS c_id, p.event_id AS p_id
        |  FROM c FULL OUTER JOIN p ON p.user_id = c.user_id
        |    AND epoch_us(p.ts) >= epoch_us(c.ts)
        |    AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000)
        |SELECT user_id, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN c_id IS NOT NULL AND p_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN p_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_click_only,
        |  CAST(sum(CASE WHEN c_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purchase_only
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q251: STREAMING changelog apply (CDC at ingest) -------------
    // The q92 upsert/delete fold as a foreachBatch stream: every event
    // is an upsert of its user's row (delete iff the event id's md5
    // class says so), each micro-batch argmax-merges into a versioned
    // snapshot, and the FINAL snapshot — surviving keys with their
    // winning row — hash-matches the batch latest-per-key window. The
    // argmax merge is associative, so the result is independent of
    // micro-batching.
    QueryDef("q251_streaming_changelog",
      (s, d) => {
        val sch = eventsStreamSchema(s, d)
        val work = java.nio.file.Files
          .createTempDirectory("graft-cdc").toString
        val stream = {
          val reader = s.readStream.schema(sch)
            .option("pathGlobFilter", "events.parquet")
          reader.parquet(d)
        }
        val ch = normalizeEventTs(stream).select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          (Sampling.hashLong(col("event_id")) % 10 === 0).as("is_delete"),
          round(col("value").cast("double") * 100, 0).cast("long")
            .as("value_cents"))
        Sessions.streamingChangelogApply(ch, "user_id",
            Seq("ts_us", "event_id"), "is_delete", work)
          .select("user_id", "ts_us", "event_id", "value_cents")
          .orderBy("user_id")
      },
      Some(s"""WITH ch AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    ${DuckSql.hashLong("event_id")} % 10 = 0 AS is_delete,
        |    CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT)
        |      AS value_cents
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts_us DESC, event_id DESC) AS rn FROM ch)
        |SELECT user_id, ts_us, event_id, value_cents
        |FROM r WHERE rn = 1 AND NOT is_delete
        |ORDER BY user_id""".stripMargin)))
}
