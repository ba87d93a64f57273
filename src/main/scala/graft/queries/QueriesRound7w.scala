package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Relational, Sampling, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-7 twenty-third batch: probabilistic record linkage
  * (Fellegi–Sunter EM), a join-driven dynamic-partition-pruning read,
  * a Naive Bayes language classifier lane, and DoReMi-style
  * excess-surprisal mixture reweighting.
  */
object QueriesRound7w {

  /** Fellegi–Sunter EM pieces as expression TEXT shared verbatim by
    * Spark (`div`) and DuckDB (`//`) — the q372 discipline: both
    * engines run the identical milli-unit integer arithmetic, so the
    * fixed point is exactly reproducible. Columns in scope: the
    * agreement pattern (g_name, g_nat, g_seg), its pair count n, and
    * the current parameters lam / m-field / u-field, all in [1, 999]
    * milli units (clamped — probability 0/1 would zero a product and
    * stall EM; 3-digit fixed point keeps every intermediate ≤ ~1e15,
    * inside BIGINT on both engines). */
  private val fsPm = "((CASE WHEN g_name = 1 THEN mn ELSE 1000 - mn END)" +
    " * (CASE WHEN g_nat = 1 THEN mt ELSE 1000 - mt END)" +
    " * (CASE WHEN g_seg = 1 THEN ms ELSE 1000 - ms END))"
  private val fsPu = "((CASE WHEN g_name = 1 THEN un ELSE 1000 - un END)" +
    " * (CASE WHEN g_nat = 1 THEN ut ELSE 1000 - ut END)" +
    " * (CASE WHEN g_seg = 1 THEN us ELSE 1000 - us END))"
  private def fsW(div: String) =
    s"(lam * $fsPm * 1000) $div (lam * $fsPm + (1000 - lam) * $fsPu)"
  private def fsM(f: String, div: String) =
    s"least(greatest((sum(CASE WHEN g_$f = 1 THEN n * w ELSE 0 END)" +
      s" * 1000) $div sum(n * w), 1), 999)"
  private def fsU(f: String, div: String) =
    s"least(greatest((sum(CASE WHEN g_$f = 1 THEN n * (1000 - w) ELSE 0" +
      s" END) * 1000) $div sum(n * (1000 - w)), 1), 999)"
  private def fsLam(div: String) =
    s"least(greatest(sum(n * w) $div sum(n), 1), 999)"

  val defs: Seq[QueryDef] = Seq(

    // ---- q375: Fellegi–Sunter probabilistic record linkage -------------
    // The classic data-integration operator past q109's fuzzy join and
    // q256's survivorship: two files (customers vs an md5-perturbed
    // copy — 20%/30%/40% field corruption, both engines derive the
    // identical copy), candidate pairs BLOCKED on id div 8 (linkage's
    // scale answer: comparisons grow with Σ block², never n² — at
    // web scale the block key comes from a cheap canopy), per-pair
    // agreement vector over (name, nation, segment), then the
    // Fellegi–Sunter EM: E-step posterior per pattern, M-step m/u/λ
    // re-estimates, 2 full rounds + a final E-step, ALL in milli-unit
    // integer arithmetic on the O(2³) pattern frame (shared expression
    // text, q372-style). Output: each observed pattern with its pair
    // count, converged match posterior, and λ. An independent float EM
    // replay tracks the integer fixed point in Round7wSpec.
    QueryDef("q375_fellegi_sunter",
      (s, d) => Checkpoints.scoped { pin =>
        def h(sfx: String) = Sampling.hashLong(
          concat(col("id").cast("string"), lit(sfx)))
        val a = customer(s, d).select(
          col("c_custkey").cast("long").as("id"), col("c_name").as("name"),
          col("c_nationkey").cast("long").as("nat"),
          col("c_mktsegment").as("seg"))
        val b = a.select(col("id").as("b_id"),
          when(h("#fn") % 10 < 2, concat(col("name"), lit("~")))
            .otherwise(col("name")).as("b_name"),
          when(h("#fa") % 10 < 3, (col("nat") + 1L + h("#fb") % 24) % 25)
            .otherwise(col("nat")).as("b_nat"),
          when(h("#fs") % 10 < 4, concat(col("seg"), lit("~")))
            .otherwise(col("seg")).as("b_seg"))
        // the O(8) frame feeds three E-steps
        val pat = pin(a.withColumn("blk", expr("id div 8"))
          .join(b.withColumn("blk", expr("b_id div 8")), Seq("blk"))
          .select((col("name") === col("b_name")).cast("long").as("g_name"),
            (col("nat") === col("b_nat")).cast("long").as("g_nat"),
            (col("seg") === col("b_seg")).cast("long").as("g_seg"))
          .groupBy("g_name", "g_nat", "g_seg").agg(count(lit(1)).as("n")))
        val p0 = s.range(1).select(lit(500L).as("lam"),
          lit(900L).as("mn"), lit(900L).as("mt"), lit(900L).as("ms"),
          lit(100L).as("un"), lit(100L).as("ut"), lit(100L).as("us"))
        def estep(p: DataFrame) = pat.crossJoin(broadcast(p))
          .withColumn("w", expr(fsW("div")))
        def mstep(e: DataFrame) = e.groupBy().agg(
          expr(fsLam("div")).as("lam"),
          expr(fsM("name", "div")).as("mn"), expr(fsM("nat", "div")).as("mt"),
          expr(fsM("seg", "div")).as("ms"),
          expr(fsU("name", "div")).as("un"), expr(fsU("nat", "div")).as("ut"),
          expr(fsU("seg", "div")).as("us"))
        val p2 = mstep(estep(mstep(estep(p0))))
        estep(p2).select(col("g_name"), col("g_nat"), col("g_seg"),
          col("n").as("n_pairs"), col("w").as("posterior_milli"),
          col("lam").as("lambda_milli"))
          .orderBy("g_name", "g_nat", "g_seg")
      },
      Some {
        def h(sfx: String) =
          DuckSql.hashLong(s"CAST(id AS VARCHAR) || '$sfx'")
        def mrow(src: String) =
          s"""SELECT ${fsLam("//")} AS lam,
             |    ${fsM("name", "//")} AS mn, ${fsM("nat", "//")} AS mt,
             |    ${fsM("seg", "//")} AS ms,
             |    ${fsU("name", "//")} AS un, ${fsU("nat", "//")} AS ut,
             |    ${fsU("seg", "//")} AS us FROM $src""".stripMargin
        def erow(p: String) =
          s"""SELECT pat.*, lam, mn, mt, ms, un, ut, us,
             |    ${fsW("//")} AS w FROM pat CROSS JOIN $p""".stripMargin
        s"""WITH a AS (SELECT CAST(c_custkey AS BIGINT) AS id,
        |    c_name AS name, CAST(c_nationkey AS BIGINT) AS nat,
        |    c_mktsegment AS seg FROM customer),
        |b AS (SELECT id AS b_id,
        |    CASE WHEN (${h("#fn")}) % 10 < 2 THEN name || '~'
        |      ELSE name END AS b_name,
        |    CASE WHEN (${h("#fa")}) % 10 < 3
        |      THEN (nat + 1 + (${h("#fb")}) % 24) % 25
        |      ELSE nat END AS b_nat,
        |    CASE WHEN (${h("#fs")}) % 10 < 4 THEN seg || '~'
        |      ELSE seg END AS b_seg FROM a),
        |pat AS (SELECT CAST(name = b_name AS BIGINT) AS g_name,
        |    CAST(nat = b_nat AS BIGINT) AS g_nat,
        |    CAST(seg = b_seg AS BIGINT) AS g_seg, count(*) AS n
        |  FROM a JOIN b ON a.id // 8 = b.b_id // 8 GROUP BY 1, 2, 3),
        |p0 AS (SELECT CAST(500 AS BIGINT) AS lam,
        |    CAST(900 AS BIGINT) AS mn, CAST(900 AS BIGINT) AS mt,
        |    CAST(900 AS BIGINT) AS ms, CAST(100 AS BIGINT) AS un,
        |    CAST(100 AS BIGINT) AS ut, CAST(100 AS BIGINT) AS us),
        |e1 AS (${erow("p0")}),
        |p1 AS (${mrow("e1")}),
        |e2 AS (${erow("p1")}),
        |p2 AS (${mrow("e2")}),
        |e3 AS (${erow("p2")})
        |SELECT g_name, g_nat, g_seg, CAST(n AS BIGINT) AS n_pairs,
        |  CAST(w AS BIGINT) AS posterior_milli,
        |  CAST(lam AS BIGINT) AS lambda_milli
        |FROM e3 ORDER BY g_name, g_nat, g_seg""".stripMargin
      }),

    // ---- q376: dynamic-partition-pruning join ---------------------------
    // The runtime half of layout pruning, completing the static trio
    // (q286 literal partition pruning, q291/q372 clustering, q340
    // footer skipping): the fact side is written partitionBy(priority)
    // to scratch, the dim side carries the selective predicate
    // (tier = 'expedite'), and the partitions to scan are only known
    // AFTER the dim broadcast runs — Catalyst inserts a
    // DynamicPruningSubquery into the fact scan's PartitionFilters
    // (Round7wSpec pins `dynamicpruning` in the executed plan), so at
    // 100 TB the fact scan reads 2 of 5 partition subtrees without any
    // literal in the query text. Result hash-matches the direct-filter
    // oracle over the original table — the cycle loses nothing.
    QueryDef("q376_dpp_join",
      (s, d) => {
        val base = s"${Scratch.dir(s, d)}/q376"
        orders(s, d).select("o_orderkey", "o_totalprice", "o_orderpriority")
          .write.mode("overwrite").partitionBy("o_orderpriority")
          .parquet(s"$base/fact")
        orders(s, d).select("o_orderpriority").distinct()
          .withColumn("tier",
            when(substring(col("o_orderpriority"), 1, 1).isin("1", "2"),
              "expedite").otherwise("standard"))
          .write.mode("overwrite").parquet(s"$base/dim")
        val fact = s.read.parquet(s"$base/fact")
        val dim = s.read.parquet(s"$base/dim")
          .where(col("tier") === "expedite")
        fact.join(broadcast(dim), Seq("o_orderpriority"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            Relational.sumExact(col("o_totalprice"), 2).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders WHERE substr(o_orderpriority, 1, 1) IN ('1', '2')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q377: Naive Bayes language classifier --------------------------
    // The trained-classifier lane between q316's fixed linear scorer
    // and q35's heuristic lang-ID: multinomial Naive Bayes over 64
    // hashed token buckets, trained on the 75% hash split, applied to
    // the held-out 25%, confusion matrix out — `Classify
    // .naiveBayesConfusion`, all scores exact integer surprisal bits.
    // On THIS corpus the text is generated independently of the lang
    // label (per-lang token rates are uniform — verified), so the
    // statistically correct NB outcome is collapse to the train
    // prior's argmax, and that is what the matrix shows; the same op
    // run on a planted class-specific vocabulary goes perfectly
    // diagonal (both behaviors pinned in Round7wSpec). The confusion
    // itself hash-matches the oracle's full replay either way.
    QueryDef("q377_naive_bayes",
      (s, d) => graft.ops.Classify.naiveBayesConfusion(
          documents(s, d), "doc_id", "lang", "text")
        .select(col("true_label").as("true_lang"),
          col("pred_label").as("pred_lang"), col("n_docs"))
        .orderBy("true_lang", "pred_lang"),
      Some {
        val hd = DuckSql.hashLong("doc_id")
        val ht = DuckSql.hashLong("tok")
        s"""WITH dd AS (SELECT doc_id, lang,
        |    CASE WHEN ($hd) % 100 < 75 THEN 'train' ELSE 'test' END
        |      AS split, text FROM documents),
        |tk AS (SELECT doc_id, lang, split, ($ht) % 64 AS b
        |  FROM (SELECT doc_id, lang, split,
        |      unnest(${DuckSql.toks("text")}) AS tok FROM dd)),
        |li AS (SELECT lang, CAST(row_number() OVER (ORDER BY lang)
        |      AS BIGINT) AS idx
        |  FROM (SELECT DISTINCT lang FROM tk WHERE split = 'train')),
        |cnt AS (SELECT lang AS clang, b, count(*) AS c FROM tk
        |  WHERE split = 'train' GROUP BY 1, 2),
        |tot AS (SELECT lang AS clang, count(*) AS t FROM tk
        |  WHERE split = 'train' GROUP BY 1),
        |grid AS (SELECT li.lang AS clang, g.b,
        |    length(format('{:b}', CAST((t + 64) // (coalesce(c, 0) + 1)
        |      AS BIGINT))) - 1 AS bits
        |  FROM li CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) g
        |  JOIN tot ON tot.clang = li.lang
        |  LEFT JOIN cnt ON cnt.clang = li.lang AND cnt.b = g.b),
        |pri AS (SELECT lang AS clang,
        |    length(format('{:b}', CAST(
        |      (SELECT count(*) FROM dd WHERE split = 'train') // count(*)
        |      AS BIGINT))) - 1 AS pbits
        |  FROM dd WHERE split = 'train' GROUP BY 1),
        |sc AS (SELECT t.doc_id, t.lang, g.clang, sum(g.bits) AS tb
        |  FROM tk t JOIN grid g USING (b) WHERE t.split = 'test'
        |  GROUP BY 1, 2, 3),
        |pr AS (SELECT doc_id, sc.lang AS lang,
        |    min((tb + pbits) * 9 + idx) % 9 AS idx
        |  FROM sc JOIN pri USING (clang)
        |  JOIN li ON li.lang = sc.clang GROUP BY 1, 2)
        |SELECT pr.lang AS true_lang, li.lang AS pred_lang,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM pr JOIN li USING (idx) GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin
      }),

    // ---- q378: DoReMi-style excess-surprisal mixture reweighting --------
    // The modern mixture sequel to q181's token-share budget: domains
    // whose text the reference unigram model finds HARD (excess
    // surprisal over the corpus mean) get upweighted, DoReMi's
    // exp(excess loss) move done with base-2 EXACT integer
    // exponentials — the multiplier is 2^min(excess_milli div 250, 12)
    // (quarter-bit steps, capped at 4096×), so no float exp ever runs.
    // Token counts scale by the multiplier, then the q181
    // largest-remainder normalization yields ppm weights summing to
    // EXACTLY 10⁶. Everything past the one token shuffle runs on the
    // O(sources) frame.
    QueryDef("q378_doremi_weights",
      (s, d) => Checkpoints.scoped { pin =>
        val toks = documents(s, d).select(col("source"),
          explode(Text.tokens(col("text"))).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        val tot = broadcast(vocab.agg(sum("c").as("N")))
        // O(sources); feeds the mean and the readout
        val perSrc = pin(toks.join(vocab, Seq("tok")).crossJoin(tot)
          .select(col("source"),
            (length(bin(expr("N div c"))) - 1).cast("long").as("bits"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_tokens"), sum("bits").as("sb")))
        val overall = broadcast(perSrc.agg(
          expr("(sum(sb) * 1000) div sum(n_tokens)").as("mb_all")))
        val scored = perSrc.crossJoin(overall)
          .withColumn("millibits", expr("(sb * 1000) div n_tokens"))
          .withColumn("excess_milli",
            greatest(col("millibits") - col("mb_all"), lit(0L)))
          .withColumn("mult", expr("shiftleft(CAST(1 AS BIGINT)," +
            " CAST(least(excess_milli div 250, 12) AS INT))"))
          .withColumn("scaled", col("n_tokens") * col("mult"))
        Sampling.allocateBudget(scored.select("source", "scaled"),
            Seq("source"), "scaled", 1000000L)
          .join(scored, Seq("source"))
          .select(col("source"), col("n_tokens"), col("millibits"),
            col("excess_milli"), col("mult"), col("quota").as("weight_ppm"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (SELECT source,
        |    unnest(${DuckSql.toks("text")}) AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
        |n AS (SELECT sum(c) AS N FROM v),
        |ps AS (SELECT source, count(*) AS n_tokens,
        |    sum(length(format('{:b}', CAST(n.N // v.c AS BIGINT))) - 1)
        |      AS sb
        |  FROM t JOIN v USING (tok), n GROUP BY 1),
        |o AS (SELECT (sum(sb) * 1000) // sum(n_tokens) AS mb_all FROM ps),
        |sc AS (SELECT source, n_tokens,
        |    (sb * 1000) // n_tokens AS millibits,
        |    greatest((sb * 1000) // n_tokens - mb_all, 0) AS excess_milli
        |  FROM ps, o),
        |m AS (SELECT *, CAST(1 AS BIGINT)
        |    << CAST(least(excess_milli // 250, 12) AS INTEGER) AS mult
        |  FROM sc),
        |w AS (SELECT *, n_tokens * mult AS scaled FROM m),
        |q AS (SELECT source, n_tokens, millibits, excess_milli, mult,
        |    scaled,
        |    (1000000 * scaled) // (SELECT sum(scaled) FROM w) AS fq,
        |    (1000000 * scaled) % (SELECT sum(scaled) FROM w) AS rem
        |  FROM w),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source)
        |    AS rk FROM q)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(millibits AS BIGINT) AS millibits,
        |  CAST(excess_milli AS BIGINT) AS excess_milli,
        |  CAST(mult AS BIGINT) AS mult,
        |  CAST(fq + CASE WHEN rk <= (SELECT 1000000 - sum(fq) FROM q)
        |    THEN 1 ELSE 0 END AS BIGINT) AS weight_ppm
        |FROM r ORDER BY source""".stripMargin)))
}
