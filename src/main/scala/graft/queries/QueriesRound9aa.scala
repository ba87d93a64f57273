package graft.queries

import graft.Tables._
import graft.ops.Checkpoints
import org.apache.spark.sql.functions._

/** Round-9 twenty-seventh batch: Markov removal-effect attribution. */
object QueriesRound9aa {

  val defs: Seq[QueryDef] = Seq(

    // ---- q536: Markov removal-effect attribution ---------------------------------
    // Which channel actually DRIVES conversion? First/last-touch
    // (q499) credit endpoints; the Markov model credits a channel by
    // what conversion LOSES without it: build the user-journey
    // transition matrix (START → … → purchase|END, traces truncated
    // at first purchase), value-iterate conversion probability from
    // START, then re-run with each channel's state zeroed — the
    // removal effect. The matrix is O(states²) regardless of corpus
    // size (ONE trace scan builds it); all six variants (base + five
    // removals) iterate together in one ≤42-row frame through 8
    // unrolled join+agg rounds, every division a per-(state,round)
    // integer-micro floor, so the whole fixed point is
    // oracle-replayable as chained CTEs. Out-degrees keep the FULL
    // denominator under removal (mass through the removed state is
    // lost, which IS the semantics).
    QueryDef("q536_markov_attribution",
      (s, d) => Checkpoints.scoped { pin =>
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val ev = events(s, d)
          .withColumn("fp", min(when(col("event_type") === "purchase",
            col("ts"))).over(
            org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
          .where(col("fp").isNull || col("ts") <= col("fp"))
          .withColumn("prev", lag("event_type", 1).over(w))
          .withColumn("nxt", lead("event_type", 1).over(w))
        val trans = ev.select(
          coalesce(col("prev"), lit("START")).as("src"),
          col("event_type").as("dst"))
          .unionByName(ev.where(col("nxt").isNull &&
            col("event_type") =!= "purchase")
            .select(col("event_type").as("src"), lit("END").as("dst")))
          .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
        val outDeg = trans.groupBy("src").agg(sum("cnt").as("out"))
        val tm = pin(trans.join(outDeg, Seq("src")))
        val channels = Seq("view", "click", "signup", "error")
        val variants = ("base" +: channels).toDF("variant")
        val states = tm.select(col("src").as("state"))
          .unionByName(tm.select(col("dst").as("state"))).distinct()
        // v0: purchase = 1e6, everything else 0
        val (v0, n) = Checkpoints.ckptCount(
          variants.crossJoin(states)
            .select(col("variant"), col("state"),
              when(col("state") === "purchase", 1000000L).otherwise(0L)
                .as("v")))
        val (v, _) = Checkpoints.iterate(v0, n, 8) { (v, _) =>
          val stepped = tm
            .join(v.select(col("variant"), col("state").as("dst"),
              col("v").as("vd")), Seq("dst"))
            .where(col("variant") === "base" ||
              (col("dst") =!= col("variant") && col("src") =!= col("variant")))
            .groupBy(col("variant"), col("src").as("state"))
            .agg(expr("sum(cnt * vd) div min(out)").as("nv"))
          v.join(stepped, Seq("variant", "state"), "left")
            .select(col("variant"), col("state"),
              when(col("state") === "purchase", 1000000L)
                .when(col("state") === "END", 0L)
                .otherwise(coalesce(col("nv"), lit(0L))).as("v"))
        }
        val conv = v.where(col("state") === "START")
          .select(col("variant"), col("v").as("conv_micro"))
        val base = conv.where(col("variant") === "base")
          .select(col("conv_micro").as("base_micro"))
        conv.crossJoin(broadcast(base))
          .select(col("variant"), col("conv_micro"), col("base_micro"),
            // signum × positive-div: removal can INCREASE conversion
            // (dropping a dead-end channel), and Spark div truncates
            // where DuckDB // floors on negatives
            when(col("variant") === "base", 0L)
              .otherwise(expr(
                "CAST(signum(base_micro - conv_micro) AS BIGINT) *" +
                  " (abs(base_micro - conv_micro) * 1000000" +
                  " div greatest(base_micro, 1L))")).as("removal_ppm"))
          .orderBy("variant")
          .localCheckpoint()
      },
      Some {
        def round(prev: String, curr: String) =
          s"""$curr AS MATERIALIZED (SELECT x.variant, x.state,
             |  CAST(CASE WHEN x.state = 'purchase' THEN 1000000
             |    WHEN x.state = 'END' THEN 0
             |    ELSE coalesce(st.nv, 0) END AS BIGINT) AS v
             |  FROM $prev x LEFT JOIN (
             |    SELECT p.variant, tm.src AS state,
             |        CAST(sum(tm.cnt * p.v) // min(tm.out) AS BIGINT) AS nv
             |      FROM tm JOIN $prev p ON p.state = tm.dst
             |      WHERE p.variant = 'base'
             |        OR (tm.dst != p.variant AND tm.src != p.variant)
             |      GROUP BY 1, 2) st
             |    ON st.variant = x.variant AND st.state = x.state)"""
        val rounds = (0 until 8).map(i => round(s"v$i", s"v${i + 1}"))
          .mkString(",\n")
        s"""WITH ev0 AS (SELECT user_id, ts, event_id, event_type,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END)
        |      OVER (PARTITION BY user_id) AS fp
        |  FROM events),
        |ev AS (SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM ev0 WHERE fp IS NULL OR ts <= fp),
        |tr AS (SELECT coalesce(prev, 'START') AS src, event_type AS dst
        |    FROM ev
        |  UNION ALL
        |  SELECT event_type, 'END' FROM ev
        |    WHERE nxt IS NULL AND event_type != 'purchase'),
        |tc AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tr GROUP BY 1, 2),
        |od AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS out FROM tc
        |  GROUP BY 1),
        |tm AS MATERIALIZED (SELECT tc.src, tc.dst, tc.cnt, od.out
        |  FROM tc JOIN od ON od.src = tc.src),
        |vr AS (SELECT unnest(['base', 'view', 'click', 'signup',
        |  'error']) AS variant),
        |stt AS (SELECT DISTINCT state FROM (SELECT src AS state FROM tm
        |  UNION SELECT dst FROM tm)),
        |v0 AS MATERIALIZED (SELECT vr.variant, stt.state,
        |    CAST(CASE WHEN stt.state = 'purchase' THEN 1000000 ELSE 0 END
        |      AS BIGINT) AS v
        |  FROM vr, stt),
        |$rounds,
        |conv AS (SELECT variant, v AS conv_micro FROM v8
        |  WHERE state = 'START'),
        |b AS (SELECT conv_micro AS base_micro FROM conv
        |  WHERE variant = 'base')
        |SELECT c.variant, c.conv_micro, b.base_micro,
        |  CAST(CASE WHEN c.variant = 'base' THEN 0
        |    ELSE CAST(sign(b.base_micro - c.conv_micro) AS BIGINT)
        |      * (abs(b.base_micro - c.conv_micro) * 1000000
        |        // greatest(b.base_micro, 1)) END AS BIGINT) AS removal_ppm
        |FROM conv c, b ORDER BY c.variant""".stripMargin
      })
  )
}
