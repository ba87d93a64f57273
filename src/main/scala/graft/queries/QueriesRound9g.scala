package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Multimodal, Relational, Text}
import org.apache.spark.sql.functions._

/** Round-9 seventh batch: RFM behavioral segmentation on the
  * two-level global rank (no corpus-sized window anywhere), a
  * leakage-safe temporal split audit, and an audio/text sync gate on
  * the real WAV byte parser.
  */
object QueriesRound9g {

  val defs: Seq[QueryDef] = Seq(

    // ---- q505: RFM segmentation (rank quintiles, two-level) ---------------
    // The classic behavioral feature triplet — Recency (days since
    // last event), Frequency (events), Monetary (cents) — coded into
    // rank quintiles. Rank-based coding needs a GLOBAL order over
    // users; the single-partition window that usually computes it is
    // the thing that dies first at scale, so each metric's ascending
    // rank comes from Relational.twoLevelRankDesc on the NEGATED
    // metric (its one global window runs over O(domain/width) coarse
    // buckets, never over users). quintile = ((rank−1)·5 div n) + 1 —
    // deterministic (user_id tiebreak), oracle-replayed by plain
    // row_number(). Output: the ≤ 125 RFM cells with counts.
    QueryDef("q505_rfm_segments",
      (s, d) => Checkpoints.scoped { pin =>
        // recency in whole HOURS by pure epoch-micros arithmetic —
        // date_diff(DAY, ts, ref) counts complete 24 h units in Spark
        // but calendar-boundary crossings in DuckDB (a uniform +1
        // shift for non-midnight ts that rank-coding happens to
        // absorb, until one timestamp lands exactly on midnight);
        // integer division of the micros span is engine-identical
        val u = pin(events(s, d)
          .groupBy("user_id")
          .agg(expr("(unix_micros(TIMESTAMP '2024-01-31 00:00:00') - " +
            "unix_micros(max(ts))) div 3600000000").as("rec"),
            count(lit(1)).as("freq"),
            sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
              .as("mon"))) // three rank passes below
        val n = u.agg(count(lit(1)).as("n"))
        def quint(metric: String, out: String) = {
          // ascending rank = descending rank of the negated metric
          Relational.twoLevelRankDesc(
            u.select(col("user_id"), (-col(metric)).as("__s")),
            "__s", "user_id", idWidth = 4096L, outCol = "__r")
            .crossJoin(broadcast(n))
            .select(col("user_id"),
              expr("((__r - 1) * 5) div n + 1").as(out))
        }
        // lazy: the result reads each rank's persisted input
        quint("rec", "r_code")
          .join(quint("freq", "f_code"), "user_id")
          .join(quint("mon", "m_code"), "user_id")
          .groupBy("r_code", "f_code", "m_code")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("r_code", "f_code", "m_code")
      },
      Some("""WITH u AS (SELECT user_id,
        |    CAST((epoch_us(TIMESTAMP '2024-01-31 00:00:00')
        |      - epoch_us(max(ts))) // 3600000000 AS BIGINT) AS rec,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS mon
        |  FROM events GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
        |r AS (SELECT user_id,
        |    row_number() OVER (ORDER BY rec, user_id) AS rr,
        |    row_number() OVER (ORDER BY freq, user_id) AS rf,
        |    row_number() OVER (ORDER BY mon, user_id) AS rm
        |  FROM u),
        |c AS (SELECT user_id,
        |    ((rr - 1) * 5) // n + 1 AS r_code,
        |    ((rf - 1) * 5) // n + 1 AS f_code,
        |    ((rm - 1) * 5) // n + 1 AS m_code
        |  FROM r, n)
        |SELECT CAST(r_code AS BIGINT) AS r_code,
        |  CAST(f_code AS BIGINT) AS f_code,
        |  CAST(m_code AS BIGINT) AS m_code,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ---- q506: temporal split audit with embargo gap -----------------------
    // The leakage-safe split check every time-series eval needs:
    // train < 2024-01-20, embargo [01-20, 01-23), test >= 01-23. A
    // row-level temporal split still LEAKS THROUGH USERS (the same
    // user's behavior spans the boundary), so the audit reports both
    // the row ledger and the user-overlap: users present on both
    // sides, overlap ppm of test users, and the counts a GROUP-SAFE
    // split (assign each user by FIRST event) would give instead.
    // Pure aggregations + one semi-join-shaped intersection.
    QueryDef("q506_temporal_split_audit",
      (s, d) => Checkpoints.scoped { pin =>
        val ev = pin(events(s, d).select(col("user_id"), col("ts"))
          .withColumn("part", when(
            col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"),
            "train")
            .when(col("ts") >= lit("2024-01-23 00:00:00").cast("timestamp"),
              "test")
            .otherwise("embargo")))
        val rows = ev.groupBy("part").agg(count(lit(1)).as("n_rows"),
          countDistinct("user_id").as("n_users"))
        val trU = ev.where(col("part") === "train").select("user_id")
          .distinct()
        val teU = ev.where(col("part") === "test").select("user_id")
          .distinct()
        val overlap = trU.join(teU, "user_id")
          .agg(count(lit(1)).as("n_overlap"))
        val teN = teU.agg(count(lit(1)).as("n_test_users"))
        // group-safe assignment: a user belongs where their FIRST
        // event falls (embargo-first users are discarded)
        val safe = ev.groupBy("user_id").agg(min("ts").as("t0"))
          .withColumn("part", when(
            col("t0") < lit("2024-01-20 00:00:00").cast("timestamp"),
            "train")
            .when(col("t0") >= lit("2024-01-23 00:00:00").cast("timestamp"),
              "test")
            .otherwise("embargo"))
          .groupBy("part").agg(count(lit(1)).as("n_safe_users"))
        rows.join(safe, Seq("part"), "left")
          .crossJoin(broadcast(overlap))
          .crossJoin(broadcast(teN))
          .select(col("part"), col("n_rows"), col("n_users"),
            coalesce(col("n_safe_users"), lit(0L)).as("n_safe_users"),
            col("n_overlap"),
            expr("(n_overlap * 1000000) div greatest(n_test_users, 1L)")
              .as("user_leak_ppm"))
          .orderBy("part")
          .localCheckpoint()
      },
      Some("""WITH ev AS (SELECT user_id, ts,
        |    CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
        |      WHEN ts >= TIMESTAMP '2024-01-23 00:00:00' THEN 'test'
        |      ELSE 'embargo' END AS part
        |  FROM events),
        |rws AS (SELECT part, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM ev GROUP BY 1),
        |ov AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap FROM (
        |  SELECT DISTINCT user_id FROM ev WHERE part = 'train'
        |  INTERSECT SELECT DISTINCT user_id FROM ev WHERE part = 'test')),
        |tn AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
        |    AS n_test_users FROM ev WHERE part = 'test'),
        |sf AS (SELECT CASE
        |      WHEN t0 < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
        |      WHEN t0 >= TIMESTAMP '2024-01-23 00:00:00' THEN 'test'
        |      ELSE 'embargo' END AS part,
        |    CAST(count(*) AS BIGINT) AS n_safe_users
        |  FROM (SELECT user_id, min(ts) AS t0 FROM ev GROUP BY 1)
        |  GROUP BY 1)
        |SELECT r.part, r.n_rows, r.n_users,
        |  coalesce(sf.n_safe_users, 0) AS n_safe_users,
        |  ov.n_overlap,
        |  CAST((ov.n_overlap * 1000000) // greatest(tn.n_test_users, 1)
        |    AS BIGINT) AS user_leak_ppm
        |FROM rws r LEFT JOIN sf ON sf.part = r.part, ov, tn
        |ORDER BY r.part""".stripMargin)),

    // ---- q507: audio/text sync audit (real WAV parse) ----------------------
    // The ASR sanity gate a speech-corpus pipeline runs before
    // training: tokens-per-second from the PARSED audio duration
    // (the real RIFF byte walk — n_samples and sample_rate read from
    // the synthesized WAV, never from the synthesis inputs) against
    // the transcript token count; rates outside [0.5, 5] tok/s flag
    // as mis-sync. Planted outliers: doc_id % 23 → 0.2 tok/s (slow),
    // else doc_id % 29 → 20 tok/s (fast), else 2 tok/s. Integer
    // milli-rate = 1000·rate·tokens div n_samples. Per-source ledger.
    QueryDef("q507_av_sync_audit",
      (s, d) => {
        val mkWav = udf((id: Long, toks: Int) => {
          val per =
            if (id % 23 == 0) 400
            else if (id % 29 == 0) 4
            else 40
          Multimodal.makeWav(80, 1, new Array[Short](toks * per))
        })
        val base = documents(s, d)
          .select(col("doc_id"), col("source"),
            size(Text.tokens(col("text"))).as("toks"))
          .where(col("toks") > 0)
        val parsed = base
          .withColumn("m", Multimodal.wavMetadata(
            mkWav(col("doc_id"), col("toks"))))
          .select(col("doc_id"), col("source"), col("toks"),
            col("m.sample_rate").cast("long").as("rate"),
            col("m.n_samples").cast("long").as("n_samples"))
          .withColumn("rate_milli",
            expr("(1000 * rate * toks) div n_samples"))
          .withColumn("flag",
            when(col("rate_milli") < 500, "slow")
              .when(col("rate_milli") > 5000, "fast")
              .otherwise("ok"))
        parsed.groupBy("source", "flag")
          .agg(count(lit(1)).as("n_docs"),
            min("rate_milli").as("min_rate_milli"),
            max("rate_milli").as("max_rate_milli"))
          .orderBy("source", "flag")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
        |    CAST(len(${DuckSql.toks("text")}) AS BIGINT) AS toks
        |  FROM documents WHERE len(${DuckSql.toks("text")}) > 0),
        |p AS (SELECT doc_id, source, toks,
        |    toks * (CASE WHEN doc_id % 23 = 0 THEN 400
        |      WHEN doc_id % 29 = 0 THEN 4 ELSE 40 END) AS n_samples
        |  FROM t),
        |r AS (SELECT source,
        |    (1000 * 80 * toks) // n_samples AS rate_milli FROM p),
        |f AS (SELECT source, rate_milli,
        |    CASE WHEN rate_milli < 500 THEN 'slow'
        |      WHEN rate_milli > 5000 THEN 'fast' ELSE 'ok' END AS flag
        |  FROM r)
        |SELECT source, flag, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(rate_milli) AS BIGINT) AS min_rate_milli,
        |  CAST(max(rate_milli) AS BIGINT) AS max_rate_milli
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  )
}
