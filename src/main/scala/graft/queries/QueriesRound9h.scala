package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup, Text}
import org.apache.spark.sql.functions._

/** Round-9 eighth batch: greedy source set-cover — the acquisition
  * planner next to q500's Shapley fairness readout.
  */
object QueriesRound9h {

  val defs: Seq[QueryDef] = Seq(

    // ---- q508: greedy source cover (budgeted acquisition order) ------------
    // "In what order should source families be acquired to cover the
    // most vocabulary per step?" — the greedy set-cover heuristic
    // (the classic (1 − 1/e) guarantee) over the SAME 5-group mask
    // histogram q500 builds: one corpus shingle pass reduces the
    // whole game to ≤ 2⁵ (mask, count) rows, then five rounds each
    // pick the group with the largest marginal coverage (ties to the
    // smaller group id). Round state is ONE scalar bitmask carried in
    // a one-row frame (the q452 bounds discipline); both engines
    // replay the rounds as chained CTEs, so the hash covers the whole
    // greedy schedule. Read next to q500: greedy ORDER vs Shapley
    // FAIRNESS — acquisition planning vs payment splitting.
    QueryDef("q508_greedy_source_cover",
      (s, d) => Checkpoints.scoped { pin =>
        val n = 5
        // ≤ 31 rows; every round folds over it
        val hist = pin(documents(s, d)
          .select((expr("CAST(substring(source, 4, 8) AS INT)") % n)
            .cast("int").as("grp"),
            Text.tokens(col("text")).as("__toks"))
          .repartition(col("grp"))
          .select(col("grp"),
            explode(array_distinct(Dedup.wordShingles(col("__toks"), 3)))
              .as("sh"))
          .distinct()
          .groupBy("sh")
          .agg(expr("bit_or(shiftleft(1, grp))").cast("long").as("mask"))
          .groupBy("mask").agg(count(lit(1)).as("cnt")))
        val vFull = hist.agg(sum("cnt").as("v_full"))
        val srcs = s.range(n).select(col("id").cast("long").as("grp"))
        // the round frame is every pick so far, one row per round; the
        // round-0 row is the empty cover. A round reads its state off
        // the last row, so the frame's row count is the next round.
        val none = lit(null).cast("long")
        val (start, one) = Checkpoints.ckptCount(s.range(1)
          .select(lit(0L).as("round"), none.as("grp"), none.as("gain"),
            lit(0L).as("covered_after"), lit(0L).as("smask")))
        val (picks, _) = Checkpoints.iterate(start, one, n) {
          (picks, r) =>
          val state = picks.where(col("round") === r - 1)
            .select(col("smask"), col("covered_after").as("covered"))
          val gains = srcs.crossJoin(broadcast(state))
            .where(expr("(smask & shiftleft(1, grp)) = 0"))
            .join(hist, expr(
              "(mask & (smask | shiftleft(1, grp))) != 0"), "left")
            .groupBy("grp", "smask", "covered")
            .agg(coalesce(sum("cnt"), lit(0L)).as("v_next"))
            .select(col("grp"), col("smask"), col("covered"),
              (col("v_next") - col("covered")).as("gain"),
              col("v_next"))
          val best = gains
            .agg(max(struct(col("gain"), (-col("grp")).as("ng"))).as("b"))
            .select(col("b.gain").as("gain"), (-col("b.ng")).as("grp"))
          picks.unionByName(gains.join(broadcast(best), Seq("grp", "gain"))
            .select(lit(r).as("round"), col("grp"), col("gain"),
              col("v_next").as("covered_after"),
              expr("smask | shiftleft(1, grp)").as("smask")))
        }
        picks.where(col("round") > 0)
          .crossJoin(broadcast(vFull))
          .select(col("round"), col("grp").as("grp_chosen"), col("gain"),
            col("covered_after"),
            expr("(covered_after * 1000000) div v_full")
              .as("coverage_ppm"))
          .orderBy("round")
          .localCheckpoint()
      },
      Some {
        val roundCtes = (1 to 5).map { r =>
          val prev = s"st${r - 1}"
          s"""g$r AS (SELECT s.grp,
          |    (SELECT coalesce(sum(cnt), 0) FROM hist, $prev
          |      WHERE (mask & ($prev.smask | (1 << s.grp))) != 0)
          |      AS v_next
          |  FROM srcs s, $prev
          |  WHERE ($prev.smask & (1 << s.grp)) = 0),
          |p$r AS (SELECT grp, v_next,
          |    v_next - (SELECT covered FROM $prev) AS gain
          |  FROM g$r
          |  ORDER BY gain DESC, grp ASC LIMIT 1),
          |st$r AS (SELECT $prev.smask | (1 << p$r.grp) AS smask,
          |    p$r.v_next AS covered FROM $prev, p$r)""".stripMargin
        }.mkString(",\n")
        val rows = (1 to 5).map(r =>
          s"SELECT $r AS round, grp, gain, v_next FROM p$r")
          .mkString("\nUNION ALL ")
        s"""WITH sh0 AS (SELECT CAST(substr(source, 4) AS INT) % 5 AS grp,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(toks) - 2, 0)),
        |      i -> array_to_string(toks[i:i+2], ' ')))) AS sh
        |  FROM (SELECT source,
        |      list_filter(string_split(trim(regexp_replace(regexp_replace(
        |        lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')),
        |        ' '), x -> length(x) > 0) AS toks
        |    FROM documents)),
        |mk AS (SELECT sh, CAST(bit_or(1 << grp) AS BIGINT) AS mask
        |  FROM (SELECT DISTINCT grp, sh FROM sh0) GROUP BY sh),
        |hist AS (SELECT mask, CAST(count(*) AS BIGINT) AS cnt FROM mk
        |  GROUP BY 1),
        |vf AS (SELECT CAST(sum(cnt) AS BIGINT) AS v_full FROM hist),
        |srcs AS (SELECT CAST(unnest(generate_series(0, 4)) AS BIGINT)
        |  AS grp),
        |st0 AS (SELECT CAST(0 AS BIGINT) AS smask,
        |  CAST(0 AS BIGINT) AS covered),
        |$roundCtes,
        |allr AS ($rows)
        |SELECT CAST(round AS BIGINT) AS round, grp AS grp_chosen,
        |  CAST(gain AS BIGINT) AS gain,
        |  CAST(v_next AS BIGINT) AS covered_after,
        |  CAST((v_next * 1000000) // vf.v_full AS BIGINT) AS coverage_ppm
        |FROM allr, vf ORDER BY round""".stripMargin
      })
  )
}
