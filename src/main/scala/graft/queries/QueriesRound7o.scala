package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Relational, Sampling}
import org.apache.spark.sql.functions._

/** Round-7 fifteenth batch: the sampler calibration curve (64
  * replicate priority samples through ONE composite-key two-level
  * rank), the shuffle-skew what-if planner, day-over-day behavioral
  * drift by edit distance, and greedy k-center coreset selection —
  * the diversity-sampling operator for curation.
  */
object QueriesRound7o {

  val defs: Seq[QueryDef] = Seq(

    // ---- q346: priority-sampler calibration curve ----------------------
    // Is q333's sampler actually weight-proportional? 64 replicate
    // samples (salted hashes), inclusion frequency per weight decile.
    // The scale trick: all 64 × n ranks come from ONE
    // twoLevelRankDesc over the salt-major composite score
    // salt·2⁴⁵ + priority — each salt's block is contiguous in the
    // global descending order, so rank-within-salt = global rank −
    // (63 − salt)·n with n a broadcast scalar. NO per-salt window,
    // no 64 jobs. Output: per-decile doc count, mean weight, and
    // measured inclusion ppm — the calibration curve (monotone in
    // weight; spec pins top decile ≫ bottom).
    QueryDef("q346_sampler_calibration",
      (s, d) => {
        val grid = broadcast(s.range(0, 64).select(col("id").as("salt")))
        val frame = documents(s, d)
          .select(col("doc_id"), col("n_chars").as("w"))
          .crossJoin(grid)
          .withColumn("__u", Sampling.hashLong(
            concat(col("doc_id").cast("string"), lit("#s"),
              col("salt").cast("string"))) + 1)
          .withColumn("__pr", expr("(w * 4294967296L) div __u"))
          .withColumn("__ck",
            expr("salt * 35184372088832L + __pr"))
          .withColumn("__rid", expr("doc_id * 64 + salt"))
        val ranked = Relational.twoLevelRankDesc(
          frame, "__ck", "__rid", idWidth = 4096L, outCol = "__rd")
        val tot = broadcast(documents(s, d).agg(
          count(lit(1)).as("__n"), max("n_chars").as("__mw")))
        val inc = ranked.crossJoin(tot)
          .withColumn("__rw", expr("__rd - (63 - salt) * __n"))
          .groupBy("doc_id", "w", "__n", "__mw")
          .agg(sum(when(col("__rw") <= 100, 1L).otherwise(0L))
            .as("__inc"))
        inc.select(
            expr("least(9L, (w * 10) div (__mw + 1))").as("decile"),
            col("w"), col("__inc"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_docs"),
            expr("sum(w) div count(1)").as("mean_w"),
            expr("(sum(__inc) * 1000000) div (64 * count(1))")
              .as("incl_ppm"))
          .orderBy("decile")
      },
      Some {
        val h = DuckSql.hashLong(
          "CAST(doc_id AS VARCHAR) || '#s' || CAST(salt AS VARCHAR)")
        s"""WITH g AS (SELECT unnest(generate_series(0, 63)) AS salt),
        |f AS (SELECT d.doc_id, d.n_chars AS w, g.salt,
        |    (d.n_chars * 4294967296) // (($h) + 1) AS pr
        |  FROM documents d, g),
        |r AS (SELECT doc_id, w, salt, row_number() OVER (
        |    PARTITION BY salt ORDER BY pr DESC, doc_id) AS rw FROM f),
        |t AS (SELECT count(*) AS n, max(n_chars) AS mw FROM documents),
        |i AS (SELECT doc_id, w,
        |    sum(CASE WHEN rw <= 100 THEN 1 ELSE 0 END) AS inc
        |  FROM r GROUP BY 1, 2)
        |SELECT CAST(least(9, (i.w * 10) // (t.mw + 1)) AS BIGINT)
        |    AS decile,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(i.w) // count(*) AS BIGINT) AS mean_w,
        |  CAST((sum(i.inc) * 1000000) // (64 * count(*)) AS BIGINT)
        |    AS incl_ppm
        |FROM i, t GROUP BY 1 ORDER BY decile""".stripMargin
      }),

    // ---- q347: shuffle-skew what-if planner ----------------------------
    // "Will this join skew at P partitions?" answered BEFORE running:
    // per-key counts (the O(keys) frame q327 ranks) assigned to
    // partitions by the model hash, per-P max partition mass and the
    // skew ratio max·P/total in ppm (1.0 = perfectly balanced). One
    // key-count pass, a 3-row P-grid broadcast, O(P) folds — the
    // planner that decides between q79's salting, q265's hybrid
    // split, or doing nothing.
    QueryDef("q347_shuffle_skew_whatif",
      (s, d) => {
        val cnt = lineitem(s, d)
          .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
          .withColumn("__h", Sampling.hashLong(col("l_partkey")))
        val grid = broadcast(s.createDataFrame(
          Seq(Tuple1(8L), Tuple1(32L), Tuple1(128L)))
          .toDF("p_partitions"))
        val tot = broadcast(cnt.agg(sum("cnt").as("__t")))
        cnt.crossJoin(grid)
          .groupBy(col("p_partitions"),
            expr("pmod(__h, p_partitions)").as("__part"))
          .agg(sum("cnt").as("__mass"))
          .groupBy("p_partitions")
          .agg(max("__mass").as("max_mass"),
            count(lit(1)).as("parts_used"))
          .crossJoin(tot)
          .select(col("p_partitions"), col("max_mass"),
            col("parts_used"),
            expr("(max_mass * p_partitions * 1000000) div __t")
              .as("skew_ratio_ppm"))
          .orderBy("p_partitions")
      },
      Some {
        val h = DuckSql.hashLong("l_partkey")
        s"""WITH c AS (SELECT l_partkey, count(*) AS cnt,
        |    ($h) AS h FROM lineitem GROUP BY 1),
        |g AS (SELECT unnest([8, 32, 128]) AS p),
        |m AS (SELECT g.p, ((c.h % g.p) + g.p) % g.p AS part,
        |    sum(c.cnt) AS mass FROM c, g GROUP BY 1, 2),
        |a AS (SELECT p, max(mass) AS max_mass, count(*) AS parts_used
        |  FROM m GROUP BY 1),
        |t AS (SELECT sum(cnt) AS t FROM c)
        |SELECT CAST(a.p AS BIGINT) AS p_partitions,
        |  CAST(a.max_mass AS BIGINT) AS max_mass,
        |  CAST(a.parts_used AS BIGINT) AS parts_used,
        |  CAST((a.max_mass * a.p * 1000000) // t.t AS BIGINT)
        |    AS skew_ratio_ppm
        |FROM a, t ORDER BY p_partitions""".stripMargin
      }),

    // ---- q348: day-over-day behavioral drift ---------------------------
    // Account-takeover / bot-shift detection: each user's day is a
    // symbol trace (q302's idiom, (ts, event_id) total order), and
    // drift between CONSECUTIVE ACTIVE days is edit distance over the
    // longer trace, in ppm. levenshtein agrees across engines (the
    // q283 precedent); traces are per-(user, day) bounded; one lead()
    // window per user over the O(user-days) frame.
    QueryDef("q348_behavioral_drift",
      (s, d) => {
        val tr = events(s, d)
          .select(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            struct(col("ts"), col("event_id"),
              substring(col("event_type"), 1, 1).as("sym")).as("__e"))
          .groupBy("user_id", "day")
          .agg(concat_ws("", transform(array_sort(collect_list(col("__e"))),
            e => e("sym"))).as("__tr"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("day")
        tr.withColumn("__nd", lead("day", 1).over(w))
          .withColumn("__nt", lead("__tr", 1).over(w))
          .where(col("__nd").isNotNull)
          .select(col("user_id"), col("day"), col("__nd").as("next_day"),
            length(col("__tr")).cast("long").as("len_a"),
            length(col("__nt")).cast("long").as("len_b"),
            levenshtein(col("__tr"), col("__nt")).cast("long").as("lev"),
            expr("(cast(levenshtein(__tr, __nt) as bigint) * 1000000)" +
              " div greatest(length(__tr), length(__nt))")
              .as("drift_ppm"))
          .orderBy("user_id", "day")
      },
      Some("""WITH o AS (SELECT user_id,
        |    epoch_us(ts) // 86400000000 AS day, ts, event_id,
        |    substr(event_type, 1, 1) AS sym FROM events),
        |tr AS (SELECT user_id, day,
        |    string_agg(sym, '' ORDER BY ts, event_id) AS tr
        |  FROM o GROUP BY 1, 2),
        |p AS (SELECT user_id, day, tr,
        |    lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nd,
        |    lead(tr) OVER (PARTITION BY user_id ORDER BY day) AS nt
        |  FROM tr)
        |SELECT user_id, day, nd AS next_day,
        |  CAST(len(tr) AS BIGINT) AS len_a,
        |  CAST(len(nt) AS BIGINT) AS len_b,
        |  CAST(levenshtein(tr, nt) AS BIGINT) AS lev,
        |  CAST((levenshtein(tr, nt) * 1000000)
        |    // greatest(len(tr), len(nt)) AS BIGINT) AS drift_ppm
        |FROM p WHERE nd IS NOT NULL
        |ORDER BY user_id, day""".stripMargin)),

    // ---- q349: greedy k-center coreset ---------------------------------
    // Diversity selection for curation (the anti-SemDeDup: pick the
    // SPREAD, not drop the dups): greedy farthest-point — start at
    // min vec_id, 7 rounds of "farthest from everything chosen", the
    // classic 2-approximation to k-center. Millis-quantized BIGINT
    // distances (q201 discipline); per round ONE pass over the
    // corpus against a ≤8-row broadcast of chosen vectors (a bounded
    // probe, never vec×vec), argmax by struct-max with min-id
    // tie-break; sel_dist records the coverage radius as it shrinks.
    // The oracle replays all 7 rounds as MATERIALIZED chained CTEs.
    QueryDef("q349_kcenter_coreset",
      (s, d) => Checkpoints.scoped { pin =>
        // quantize ONCE, scanned by all 7 rounds
        val emb = pin(embeddings(s, d).select(col("vec_id"),
          expr("transform(embedding, x ->" +
            " cast(round(x * 1000, 0) as bigint))").as("__q")))
        // Incremental farthest-point over ONE row per vector: `pick` is
        // the round a vector was chosen in (null while unchosen) and
        // `__mind` its distance to the nearest chosen center — carried
        // and folded with ONLY the newest center per round (min over
        // all chosen = min(carried, dist-to-newest)), so round r costs
        // 1 center×corpus pass, not r, with identical integers to the
        // full recompute the oracle replays. A chosen row keeps the
        // `__mind` it was picked at: its sel_dist.
        val first = emb.agg(min("vec_id").as("__first"))
        val (start, n) = Checkpoints.ckptCount(emb
          .crossJoin(broadcast(first))
          .select(col("vec_id"),
            when(col("vec_id") === col("__first"), lit(0L)).as("pick"),
            lit(null).cast("long").as("__mind")))
        var r = 0L
        val (picked, _) = Checkpoints.iterate(start, n, 7) {
          (st, _) =>
          r += 1
          val newest = broadcast(emb
            .join(st.where(col("pick") === r - 1).select("vec_id"),
              Seq("vec_id"))
            .select(col("__q").as("__cq")))
          val dNew = emb.crossJoin(newest)
            .select(col("vec_id"), expr("aggregate(zip_with(__q, __cq," +
              " (x, y) -> (x - y) * (x - y)), 0L, (a, v) -> a + v)")
              .as("__d"))
          val merged = st.where(col("pick").isNull).join(dNew, Seq("vec_id"))
            .select(col("vec_id"),
              least(col("__mind"), col("__d")).as("__mind"))
          val far = merged
            .agg(max(struct(col("__mind"), (-col("vec_id")).as("__nv")))
              .as("__f"))
            .select((-col("__f.__nv")).as("__far"))
          st.where(col("pick").isNotNull).unionByName(merged
            .crossJoin(broadcast(far))
            .select(col("vec_id"),
              when(col("vec_id") === col("__far"), lit(r)).as("pick"),
              col("__mind")))
        }
        picked.where(col("pick").isNotNull)
          .select(col("vec_id"), col("pick"), col("__mind").as("sel_dist"))
          .orderBy("pick")
      },
      Some {
        val dist = "list_sum(list_transform(generate_series(1, 64)," +
          " i -> (v.q[i] - c.q[i]) * (v.q[i] - c.q[i])))"
        def round_(r: Int) =
          s"""d$r AS MATERIALIZED (SELECT v.vec_id, min($dist) AS mind
          |  FROM e v, e c
          |  WHERE c.vec_id IN (SELECT vec_id FROM ch${r - 1})
          |    AND v.vec_id NOT IN (SELECT vec_id FROM ch${r - 1})
          |  GROUP BY 1),
          |p$r AS (SELECT vec_id, CAST($r AS BIGINT) AS pick,
          |    mind AS sel_dist
          |  FROM d$r ORDER BY mind DESC, vec_id LIMIT 1),
          |ch$r AS MATERIALIZED (SELECT * FROM ch${r - 1}
          |  UNION ALL SELECT * FROM p$r)"""
        s"""WITH e AS MATERIALIZED (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(x * 1000)
        |      AS BIGINT)) AS q FROM embeddings),
        |ch0 AS (SELECT min(vec_id) AS vec_id, CAST(0 AS BIGINT) AS pick,
        |    CAST(NULL AS BIGINT) AS sel_dist FROM e),
        |${(1 to 7).map(round_).mkString(",\n")}
        |SELECT vec_id, pick, sel_dist FROM ch7 ORDER BY pick""".stripMargin
      }))
}
