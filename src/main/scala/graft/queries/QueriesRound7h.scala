package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Sampling, Text}
import org.apache.spark.sql.functions._

/** Round-7 eighth batch: the hashing-trick feature lane (model-free
  * featurization + an embedded linear scorer — the fastText-style
  * quality-classifier STRUCTURE with deterministic weights), the
  * stationary distribution of the event-transition chain (the Markov
  * closer over q296's counts), and inter-arrival dispersion (the
  * burstiness diagnostic next to q281's ACF).
  */
object QueriesRound7h {

  val defs: Seq[QueryDef] = Seq(

    // ---- q315: hashing-trick document features -------------------------
    // Feature hashing (Weinberger et al. 2009): token t lands in
    // dimension md5(t) % 64 with sign from a second hash — no vocab
    // table, collision-tolerant, the featurizer behind linear quality
    // classifiers at corpus scale. Features stay in the SCALABLE
    // (doc, dim, value) tuple form (never a wide array); the readout
    // per doc is nnz, L1, Σf², and the positional checksum Σ(dim+1)·f
    // — exact integers a trainer must agree on. One token explode +
    // two map-side-combining aggregations.
    QueryDef("q315_feature_hashing",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), explode(Text.tokens(col("text"))).as("__t"))
        val feats = toks
          .select(col("doc_id"),
            (Sampling.hashLong(col("__t")) % 64).as("dim"),
            (Sampling.hashLong(concat(lit("s:"), col("__t"))) % 2 * 2 - 1)
              .as("__sgn"))
          .groupBy("doc_id", "dim").agg(sum("__sgn").as("f"))
          .where(col("f") =!= 0)
        documents(s, d).select(col("doc_id"))
          .join(feats.groupBy("doc_id")
            .agg(count(lit(1)).as("nnz"), sum(abs(col("f"))).as("l1"),
              sum(col("f") * col("f")).as("sum_sq"),
              sum((col("dim") + 1) * col("f")).as("checksum")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("nnz"), lit(0L)).as("nnz"),
            coalesce(col("l1"), lit(0L)).as("l1"),
            coalesce(col("sum_sq"), lit(0L)).as("sum_sq"),
            coalesce(col("checksum"), lit(0L)).as("checksum"))
          .orderBy("doc_id")
      },
      Some {
        val dim = DuckSql.hashLong("tok")
        val sgn = DuckSql.hashLong("'s:' || tok")
        s"""WITH t AS (SELECT doc_id, unnest(${DuckSql.toks("text")}) AS tok
        |  FROM documents),
        |f AS (SELECT doc_id, $dim % 64 AS dim,
        |    sum($sgn % 2 * 2 - 1) AS f
        |  FROM t GROUP BY 1, 2 HAVING sum($sgn % 2 * 2 - 1) != 0),
        |a AS (SELECT doc_id, count(*) AS nnz, sum(abs(f)) AS l1,
        |    sum(f * f) AS sum_sq, sum((dim + 1) * f) AS checksum
        |  FROM f GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(nnz, 0) AS BIGINT) AS nnz,
        |  CAST(coalesce(l1, 0) AS BIGINT) AS l1,
        |  CAST(coalesce(sum_sq, 0) AS BIGINT) AS sum_sq,
        |  CAST(coalesce(checksum, 0) AS BIGINT) AS checksum
        |FROM documents d LEFT JOIN a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
      }),

    // ---- q316: embedded linear quality scorer --------------------------
    // The classifier-based filter STRUCTURE (CCNet/LLaMA practice)
    // with a deterministic stand-in model: score(doc) = Σ_dim w_dim ·
    // f_dim over the q315 hashed features, weights w_dim =
    // md5('w:'||dim) % 2001 − 1000 — reproducible in both engines, so
    // the full scoring pipeline (featurize → dot → threshold) is
    // hash-verified; a real model swaps the weight expression for a
    // trained table and nothing else changes. Per-lang kept/dropped
    // accounting rides the same pass.
    QueryDef("q316_linear_scorer",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(Text.tokens(col("text"))).as("__t"))
        val feats = toks
          .select(col("doc_id"), col("lang"),
            (Sampling.hashLong(col("__t")) % 64).as("dim"),
            (Sampling.hashLong(concat(lit("s:"), col("__t"))) % 2 * 2 - 1)
              .as("__sgn"))
          .groupBy("doc_id", "lang", "dim").agg(sum("__sgn").as("f"))
        val scored = feats
          .withColumn("__w", Sampling.hashLong(
            concat(lit("w:"), col("dim").cast("string"))) % 2001 - 1000)
          .groupBy("doc_id", "lang")
          .agg(sum(col("__w") * col("f")).as("score"))
          .withColumn("kept", col("score") > 0)
        scored.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum("score").as("score_sum"))
          .withColumn("kept_ppm",
            expr("(n_kept * 1000000) div n_docs"))
          .orderBy("lang")
      },
      Some {
        val dim = DuckSql.hashLong("tok")
        val sgn = DuckSql.hashLong("'s:' || tok")
        val w = DuckSql.hashLong("'w:' || CAST(dim AS VARCHAR)")
        s"""WITH t AS (SELECT doc_id, lang,
        |    unnest(${DuckSql.toks("text")}) AS tok FROM documents),
        |f AS (SELECT doc_id, lang, $dim % 64 AS dim,
        |    sum($sgn % 2 * 2 - 1) AS f
        |  FROM t GROUP BY 1, 2, 3),
        |sc AS (SELECT doc_id, lang,
        |    sum(($w % 2001 - 1000) * f) AS score
        |  FROM f GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(score) AS BIGINT) AS score_sum,
        |  CAST((sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) * 1000000)
        |    // count(*) AS BIGINT) AS kept_ppm
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ---- q317: Markov stationary distribution of event transitions -----
    // The chain closer over q296's adjacency counts: transition
    // probabilities as exact integer ratios (count_ij / out_i), three
    // power-iteration rounds from the uniform start, each entry
    // v'(j) = Σ_i (v(i)·c_ij) div out_i — five floored terms summed
    // (fixed summand set, order-free). The whole iteration runs on the
    // 5×5 count frame; the oracle replays every round as chained CTEs
    // (the q145/q242 discipline).
    QueryDef("q317_markov_stationary",
      (s, d) => Checkpoints.scoped { pin =>
        val wu = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("__ts"), col("event_id"))
        val pairs = events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("__ts"),
            substring(col("event_type"), 1, 1).as("__a"))
          .withColumn("__b", lead(col("__a"), 1).over(wu))
          .where(col("__b").isNotNull)
          .groupBy(col("__a").as("src"), col("__b").as("dst"))
          .agg(count(lit(1)).as("c"))
        val out = pairs.groupBy("src").agg(sum("c").as("outc"))
        val trans = pin(pairs.join(out, Seq("src")))
        var v = trans.select(col("src").as("state")).distinct()
          .union(trans.select(col("dst").as("state")).distinct())
          .distinct()
          .withColumn("v", lit(200000L))
        for (_ <- 1 to 3) {
          v = trans.join(v.withColumnRenamed("state", "src"), Seq("src"))
            .select(col("dst").as("state"),
              expr("(v * c) div outc").as("__term"))
            .groupBy("state").agg(sum("__term").as("v"))
        }
        v.orderBy("state")
      },
      Some("""WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    substr(event_type, 1, 1) AS a FROM events),
        |p AS (SELECT a AS src, lead(a) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id) AS dst FROM o),
        |c AS (SELECT src, dst, count(*) AS c FROM p
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT c.src, c.dst, c.c, o2.outc FROM c
        |  JOIN (SELECT src, sum(c) AS outc FROM c GROUP BY 1) o2
        |  USING (src)),
        |s0 AS (SELECT DISTINCT state, 200000 AS v FROM (
        |  SELECT src AS state FROM t UNION SELECT dst FROM t)),
        |s1 AS (SELECT t.dst AS state, sum((s0.v * t.c) // t.outc) AS v
        |  FROM t JOIN s0 ON s0.state = t.src GROUP BY 1),
        |s2 AS (SELECT t.dst AS state, sum((s1.v * t.c) // t.outc) AS v
        |  FROM t JOIN s1 ON s1.state = t.src GROUP BY 1),
        |s3 AS (SELECT t.dst AS state, sum((s2.v * t.c) // t.outc) AS v
        |  FROM t JOIN s2 ON s2.state = t.src GROUP BY 1)
        |SELECT state, CAST(v AS BIGINT) AS v
        |FROM s3 ORDER BY state""".stripMargin)),

    // ---- q318: inter-arrival dispersion (burstiness) -------------------
    // Variance-to-mean ratio of per-user inter-event gaps — the
    // Poisson-ness diagnostic (VMR ≈ mean gap for exponential
    // arrivals, far above for bursts): gaps in whole SECONDS, VMR in
    // centi-units via one cross-multiplied floor division
    // ((n·Σd² − (Σd)²)·100 div ((n−1)·Σd)) — the ·100 keeps every
    // intermediate under 2⁶³ at month-long spans (µs or ms gaps would
    // not). One lead() window per user, one aggregation.
    QueryDef("q318_interarrival_dispersion",
      (s, d) => {
        val wu = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"))
          .withColumn("__next", lead(col("ts_us"), 1).over(wu))
          .where(col("__next").isNotNull)
          .select(col("user_id"),
            expr("(__next - ts_us) div 1000000").as("__d"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"), sum("__d").as("__sd"),
            sum(col("__d") * col("__d")).as("__sdd"))
          .select(col("user_id"), col("n_gaps"),
            expr("__sd div n_gaps").as("mean_gap_s"),
            when(col("n_gaps") >= 2 && col("__sd") > 0,
              expr("((n_gaps * __sdd - __sd * __sd) * 100)"
                + " div ((n_gaps - 1) * __sd)")).as("vmr_centi"))
          .orderBy("user_id")
      },
      Some("""WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tus
        |  FROM events),
        |g AS (SELECT user_id,
        |    (lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |      - tus) // 1000000 AS d
        |  FROM o),
        |a AS (SELECT user_id, count(*) AS n_gaps, sum(d) AS sd,
        |    sum(d * d) AS sdd
        |  FROM g WHERE d IS NOT NULL GROUP BY 1)
        |SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
        |  CAST(sd // n_gaps AS BIGINT) AS mean_gap_s,
        |  CASE WHEN n_gaps >= 2 AND sd > 0
        |    THEN CAST(((n_gaps * sdd - sd * sd) * 100)
        |      // ((n_gaps - 1) * sd) AS BIGINT) END AS vmr_centi
        |FROM a ORDER BY user_id""".stripMargin)))
}
