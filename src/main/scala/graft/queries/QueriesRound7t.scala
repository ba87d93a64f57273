package graft.queries

import graft.Tables._
import graft.ops.{Relational, Sampling}
import org.apache.spark.sql.functions._

/** Round-7 twentieth batch: the out-of-order/clock-skew event audit,
  * the table fingerprint AT INGEST (streaming lane #15), and the
  * Pareto 80/20 revenue-concentration readout through the two-level
  * machinery.
  */
object QueriesRound7t {

  val defs: Seq[QueryDef] = Seq(

    // ---- q364: clock-skew / out-of-order audit -------------------------
    // Event-time hygiene before any watermark choice: per user, how
    // often does ARRIVAL order (event_id — the emit sequence)
    // disagree with EVENT time, and by how much — lag() over the
    // per-user arrival order, backward steps counted, the worst skew
    // kept. The generator's clock is perfectly ordered, so skew is
    // PLANTED the deterministic way: every 7th event's clock reads an
    // md5-derived amount early by its 32-bit md5 value in microseconds (at most ~72 min) — per-user inter-event
    // gaps are hours at this corpus density, so the jitter must be
    // able to cross them; both engines perturb identically. The
    // max-skew distribution is exactly what bounds a watermark's
    // allowed lateness.
    QueryDef("q364_clock_skew_audit",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("event_id")
        events(s, d)
          .select(col("user_id"), col("event_id"),
            (unix_micros(col("ts")) -
              when(col("event_id") % 7 === 0,
                Sampling.hashLong(concat(col("event_id").cast("string"),
                  lit("#skew"))) % 200000000000L).otherwise(0L)).as("__us"))
          .withColumn("__prev", lag("__us", 1).over(w))
          .where(col("__prev").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_steps"),
            sum(when(col("__us") < col("__prev"), 1L).otherwise(0L))
              .as("n_backward"),
            max(when(col("__us") < col("__prev"),
              col("__prev") - col("__us")).otherwise(0L))
              .as("max_skew_us"))
          .where(col("n_backward") > 0)
          .orderBy("user_id")
      },
      Some {
        val j = DuckSql.hashLong("CAST(event_id AS VARCHAR) || '#skew'")
        s"""WITH e AS (SELECT user_id, event_id,
        |    epoch_us(ts) - CASE WHEN event_id % 7 = 0
        |      THEN ($j) % 200000000000 ELSE 0 END AS us
        |  FROM events),
        |o AS (SELECT user_id, us,
        |    lag(us) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS prev
        |  FROM e),
        |a AS (SELECT user_id, count(*) AS n_steps,
        |    sum(CASE WHEN us < prev THEN 1 ELSE 0 END) AS n_backward,
        |    max(CASE WHEN us < prev THEN prev - us ELSE 0 END)
        |      AS max_skew_us
        |  FROM o WHERE prev IS NOT NULL GROUP BY 1)
        |SELECT user_id, CAST(n_steps AS BIGINT) AS n_steps,
        |  CAST(n_backward AS BIGINT) AS n_backward,
        |  CAST(max_skew_us AS BIGINT) AS max_skew_us
        |FROM a WHERE n_backward > 0 ORDER BY user_id""".stripMargin
      }),

    // ---- q365: STREAMING table fingerprint -----------------------------
    // q360's stage-equality checksum AT INGEST: documents arrive on a
    // genuine readStream, per-row hashes fold through ONE streaming
    // aggregation (count + bit_xor + decimal sum — all
    // order-independent, so micro-batch boundaries can't change the
    // answer), and the final row hash-matches the batch fingerprint
    // oracle. The cheapest possible ingest-integrity gate: a landed
    // batch whose fingerprint disagrees with the producer's is
    // corrupt before any row-level diff runs. Streaming lane #15.
    QueryDef("q365_streaming_fingerprint",
      (s, d) => {
        val batch = documents(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, batch.schema,
            globFilter = Some("documents.parquet"),
            transform = st => st
              .select(Sampling.hashLong(concat_ws("|",
                  col("doc_id").cast("string"),
                  coalesce(col("lang"), lit(" ")),
                  col("source"), col("n_chars").cast("string")))
                .as("__h"))
              .agg(count(lit(1)).as("n_rows"),
                expr("bit_xor(__h)").as("fp_xor"),
                expr("cast(sum(cast(__h as decimal(38,0))) as string)")
                  .as("fp_sum")))
          .select(col("n_rows"), col("fp_xor"), col("fp_sum"))
      },
      Some {
        val h = DuckSql.hashLong(
          "CAST(doc_id AS VARCHAR) || '|' || coalesce(lang, ' ')" +
            " || '|' || source || '|' || CAST(n_chars AS VARCHAR)")
        s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor($h) AS BIGINT) AS fp_xor,
        |  CAST(CAST(sum($h) AS HUGEINT) AS VARCHAR) AS fp_sum
        |FROM documents""".stripMargin
      }),

    // ---- q366: Pareto 80/20 revenue concentration ----------------------
    // "How few customers carry 80% of revenue" with NO
    // single-partition window anywhere: customers rank by exact cent
    // revenue through twoLevelRankDesc, the revenue running total
    // over the RANK ordering comes from twoLevelCumSum on the rank
    // key (ranks are distinct — a valid cum key), and the answer is
    // one min fold: the smallest rank whose cumulative revenue
    // reaches 80% of total. Output: customer count, the 80% head
    // count, its ppm share, and the head's revenue share verified
    // ≥ 80% by construction.
    QueryDef("q366_pareto_concentration",
      (s, d) => {
        val rev = orders(s, d)
          .select(col("o_custkey"),
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100" +
              " as bigint)").as("__r"))
          .groupBy("o_custkey").agg(sum("__r").as("rev"))
        val ranked = Relational.twoLevelRankDesc(
          rev, "rev", "o_custkey", idWidth = 4096L, outCol = "__rk")
        val cum = Relational.twoLevelCumSum(
          ranked.select(col("__rk"), col("rev")), "__rk", "rev", 4096L)
        val tot = broadcast(rev.agg(count(lit(1)).as("__n"),
          sum("rev").as("__t")))
        cum.crossJoin(tot)
          .where(col("cum") * 100 >= col("__t") * 80)
          .agg(min("__rk").as("__n80"), max("__n").as("n_customers"),
            max("__t").as("total_rev_cents"))
          .select(col("n_customers"), col("total_rev_cents"),
            col("__n80").as("n_for_80pct"),
            expr("(__n80 * 1000000) div n_customers")
              .as("head_share_ppm"))
      },
      Some("""WITH r AS (SELECT o_custkey,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS rev
        |  FROM orders GROUP BY 1),
        |rk AS (SELECT rev, row_number() OVER (ORDER BY rev DESC,
        |    o_custkey) AS rk FROM r),
        |cm AS (SELECT rk, sum(rev) OVER (ORDER BY rk) AS cum FROM rk),
        |t AS (SELECT count(*) AS n, sum(rev) AS tt FROM r)
        |SELECT CAST(t.n AS BIGINT) AS n_customers,
        |  CAST(t.tt AS BIGINT) AS total_rev_cents,
        |  CAST(min(cm.rk) AS BIGINT) AS n_for_80pct,
        |  CAST((min(cm.rk) * 1000000) // t.n AS BIGINT)
        |    AS head_share_ppm
        |FROM cm, t WHERE cm.cum * 100 >= t.tt * 80
        |GROUP BY t.n, t.tt""".stripMargin)))
}
