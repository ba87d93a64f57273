package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Graph}
import org.apache.spark.sql.functions._

/** Round-7 tenth batch: time-respecting reachability (the temporal
  * twist classic BFS gets wrong — influence can only flow forward in
  * time), the statistical sample-size planner (how many rows buy
  * ±e precision), and the Kaplan–Meier survival curve with censoring
  * (the churn readout) — all exact-integer, all chained-CTE or
  * fold-replayed oracles.
  */
object QueriesRound7j {

  val defs: Seq[QueryDef] = Seq(

    // ---- q323: time-respecting reachability ----------------------------
    // Static BFS overcounts influence: an edge USED BEFORE the node
    // was reached carries nothing. Temporal reachability fixes the
    // semantics — arrival(v) = min over edges (u,v,t) with
    // t ≥ arrival(u) of t. Graph: customer↔part trade edges stamped
    // with the ship day (both directions; part ids offset by 10⁶),
    // seeds = customers ≡ 0 (mod 97) at day 0, three rounds of
    // equi-join + inequality filter + min-fold — the q149 shape plus
    // one predicate, every value min-fold deterministic, rounds
    // replayed as chained CTEs.
    QueryDef("q323_temporal_reachability",
      (s, d) => Checkpoints.scoped { pin =>
        val li = lineitem(s, d)
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"),
            (col("l_partkey") + 1000000L).as("p"),
            expr("unix_micros(cast(l_shipdate as timestamp))"
              + " div 86400000000").as("t"))
        val e = li.select(col("c").as("src"), col("p").as("dst"), col("t"))
          .union(li.select(col("p").as("src"), col("c").as("dst"),
            col("t")))
          .distinct()
        // layoutEdges drops payload columns, so lay out inline: one
        // src-keyed shuffle + in-partition sort, persisted across the
        // three rounds and released once they are done
        val eL = pin.keep(e.repartition(col("src")).sortWithinPartitions("src")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val (seeds, seedRows) = Checkpoints.ckptCount(
          eL.select(col("src").as("id")).distinct()
            .where(col("id") < 1000000L && col("id") % 97 === 0)
            .withColumn("arr", lit(0L)))
        val (arr, _) = Checkpoints.iterate(seeds, seedRows, 3) {
          (arr, _) =>
            val next = eL.join(arr.withColumnRenamed("id", "src"), "src")
              .where(col("t") >= col("arr"))
              .select(col("dst").as("id"), col("t").as("arr"))
            arr.union(next).groupBy("id").agg(min("arr").as("arr"))
        }
        arr.select(col("id"), col("arr")).orderBy("id")
      },
      Some {
        def round_(prev: String, curr: String) =
          s"""$curr AS (SELECT id, min(arr) AS arr FROM (
          |    SELECT id, arr FROM $prev
          |    UNION ALL
          |    SELECT e.dst AS id, e.t AS arr
          |    FROM e JOIN $prev ON $prev.id = e.src AND e.t >= $prev.arr)
          |  GROUP BY 1)"""
        s"""WITH li AS (SELECT o.o_custkey AS c,
        |    l.l_partkey + 1000000 AS p,
        |    epoch_us(l.l_shipdate) // 86400000000 AS t
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e AS (SELECT DISTINCT src, dst, t FROM (
        |  SELECT c AS src, p AS dst, t FROM li
        |  UNION ALL SELECT p, c, t FROM li)),
        |a0 AS (SELECT DISTINCT src AS id, CAST(0 AS BIGINT) AS arr
        |  FROM e WHERE src < 1000000 AND src % 97 = 0),
        |${round_("a0", "a1")},
        |${round_("a1", "a2")},
        |${round_("a2", "a3")}
        |SELECT id, arr FROM a3 ORDER BY id""".stripMargin
      }),

    // ---- q324: sample-size planner (precision budgeting) ---------------
    // "How many docs must I sample per language to estimate mean
    // length within ±50 chars at 95%?" — n_req = ⌈z²·Var / e²⌉ with
    // z² = 1.96² = 3.8416 EXACT (a finite decimal, so the formula
    // reduces to the integer ratio 2401·varnum / (1562500·den) after
    // ÷16). Variance from exact power sums; ceil via (a+b−1) div b.
    // One corpus aggregation; the planner the q310 allocator feeds on.
    QueryDef("q324_sample_size_planner",
      (s, d) => documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("__s1"),
          sum(col("n_chars") * col("n_chars")).as("__s2"))
        .where(col("n") >= 2)
        .select(col("lang"), col("n"),
          expr("((n * __s2 - __s1 * __s1) * 1000) div (n * (n - 1))")
            .as("var_milli"),
          expr("(2401 * (n * __s2 - __s1 * __s1)"
            + " + (1562500 * n * (n - 1) - 1))"
            + " div (1562500 * n * (n - 1))").as("n_req"))
        .orderBy("lang"),
      Some("""WITH a AS (SELECT lang, count(*) AS n, sum(n_chars) AS s1,
        |    sum(n_chars * n_chars) AS s2
        |  FROM documents GROUP BY 1 HAVING count(*) >= 2)
        |SELECT lang, CAST(n AS BIGINT) AS n,
        |  CAST(((n * s2 - s1 * s1) * 1000) // (n * (n - 1)) AS BIGINT)
        |    AS var_milli,
        |  CAST((2401 * (n * s2 - s1 * s1) + (1562500 * n * (n - 1) - 1))
        |    // (1562500 * n * (n - 1)) AS BIGINT) AS n_req
        |FROM a ORDER BY lang""".stripMargin)),

    // ---- q325: Kaplan–Meier survival with censoring --------------------
    // User churn with the censoring KM exists for: users last seen
    // within 3 days of the corpus end are CENSORED (still alive), not
    // churned. Lifetimes in whole days; per-lifetime-day deaths d_t /
    // censors c_t; at-risk n_t = Σ_{s≥t}(d_s + c_s) via one descending
    // cumulative window over the O(days) frame; S(t) = sequential
    // product of (n_s − d_s)/n_s in micro units with a PINNED floor at
    // each death step — replayed per row as a list_reduce fold over
    // the filtered day list (days are domain-bounded, so the quadratic
    // re-fold is over a ≤40-row frame, never data).
    QueryDef("q325_kaplan_meier",
      (s, d) => {
        val days = events(s, d)
          .groupBy("user_id")
          .agg(expr("min(unix_micros(ts) div 86400000000)").as("__f"),
            expr("max(unix_micros(ts) div 86400000000)").as("__l"))
        val m = days.agg(max("__l").as("__m"))
        val lt = days.crossJoin(broadcast(m))
          .select(
            when(col("__l") <= col("__m") - 4, col("__l") - col("__f"))
              .otherwise(col("__m") - col("__f")).as("t"),
            (col("__l") <= col("__m") - 4).cast("long").as("__death"))
          .groupBy("t")
          .agg(sum("__death").as("d"),
            (count(lit(1)) - sum("__death")).as("c"))
        val wDesc = org.apache.spark.sql.expressions.Window
          .orderBy(col("t").desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        val withRisk = lt.withColumn("n_risk",
          sum(col("d") + col("c")).over(wDesc))
        // steps: ascending (t, n, d) structs with d > 0, folded with a
        // floored product — re-folded per row over the prefix (frame
        // is O(distinct lifetime days))
        val steps = withRisk.agg(
          array_sort(collect_list(when(col("d") > 0,
            struct(col("t"), col("n_risk"), col("d"))))).as("__steps"))
        withRisk.crossJoin(broadcast(steps))
          .select(col("t"), col("n_risk"), col("d"), col("c"),
            aggregate(
              filter(col("__steps"), x => x.getField("t") <= col("t")),
              lit(1000000L),
              (acc, x) => {
                // floored product step in exact integers: values stay
                // ≤ 10⁶·n (< 2⁵³), and the subtraction makes the
                // double division exact before the cast
                val n = x.getField("n_risk")
                val num = acc * (n - x.getField("d"))
                ((num - pmod(num, n)) / n).cast("long")
              }).as("s_ppm"))
          .orderBy("t")
      },
      Some("""WITH u AS (SELECT user_id,
        |    min(epoch_us(ts) // 86400000000) AS f,
        |    max(epoch_us(ts) // 86400000000) AS l
        |  FROM events GROUP BY 1),
        |m AS (SELECT max(l) AS m FROM u),
        |lt AS (SELECT CASE WHEN l <= m.m - 4 THEN l - f ELSE m.m - f END
        |      AS t,
        |    CASE WHEN l <= m.m - 4 THEN 1 ELSE 0 END AS death
        |  FROM u, m),
        |day AS (SELECT t, sum(death) AS d, count(*) - sum(death) AS c
        |  FROM lt GROUP BY 1),
        |risk AS (SELECT t, d, c,
        |    sum(d + c) OVER (ORDER BY t DESC
        |      ROWS UNBOUNDED PRECEDING) AS n_risk FROM day),
        |steps AS (SELECT list(struct_pack(t := t, n := n_risk, d := d)
        |    ORDER BY t) AS st FROM risk WHERE d > 0)
        |SELECT r.t, CAST(r.n_risk AS BIGINT) AS n_risk,
        |  CAST(r.d AS BIGINT) AS d, CAST(r.c AS BIGINT) AS c,
        |  CAST(list_reduce(
        |    list_prepend(CAST(1000000 AS BIGINT),
        |      list_transform(list_filter(steps.st, x -> x.t <= r.t),
        |        x -> (x.n - x.d) * 1000000000 + x.n)),
        |    (acc, e) -> (acc * (e // 1000000000)) // (e % 1000000000))
        |    AS BIGINT) AS s_ppm
        |FROM risk r, steps ORDER BY r.t""".stripMargin)))
}
