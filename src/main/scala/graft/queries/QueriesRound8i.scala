package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Classify, Sampling, Text}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-8 ninth batch: train-then-serve streaming inference (lane
  * #22, q451), the longest duplicated n-gram via a binary lift over
  * shingle lengths (q452), robots-style longest-prefix URL gating
  * (q453), a leave-one-source-out ablation ledger (q454), and a
  * two-sample Kolmogorov–Smirnov drift statistic in exact integers
  * (q455).
  */
object QueriesRound8i {

  /** The q449 training CTE chain (w1→w3) — shared by the q451 oracle
    * so train-batch/serve-stream is verified against ONE source of
    * truth for the weights. */
  private def duckPerceptronW3: String = {
    val dim = DuckSql.hashLong("tok")
    val sgn = DuckSql.hashLong("'s:' || tok")
    s"""dd AS (SELECT doc_id,
    |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM documents),
    |t AS (SELECT doc_id, unnest(${DuckSql.toks("text")}) AS tok
    |  FROM documents),
    |tf AS (SELECT doc_id, $dim % 64 AS dim, $sgn % 2 * 2 - 1 AS sgn
    |  FROM t),
    |f AS (SELECT tf.doc_id, dd.y, dim, sum(sgn) AS f
    |  FROM tf JOIN dd ON tf.doc_id = dd.doc_id GROUP BY 1, 2, 3
    |  HAVING sum(sgn) != 0),
    |w1 AS (SELECT dim, sum(y * f) AS w FROM f GROUP BY 1),
    |s2 AS (SELECT f.doc_id, sum(f.f * w1.w) AS s FROM f
    |  JOIN w1 USING (dim) GROUP BY 1),
    |m2 AS (SELECT dd.doc_id FROM dd LEFT JOIN s2 USING (doc_id)
    |  WHERE coalesce(dd.y * s2.s, 0) <= 0),
    |u2 AS (SELECT dim, sum(y * f) AS u FROM f
    |  JOIN m2 USING (doc_id) GROUP BY 1),
    |w2 AS (SELECT coalesce(w1.dim, u2.dim) AS dim,
    |    coalesce(w, 0) + coalesce(u, 0) AS w
    |  FROM w1 FULL JOIN u2 ON w1.dim = u2.dim),
    |s3 AS (SELECT f.doc_id, sum(f.f * w2.w) AS s FROM f
    |  JOIN w2 USING (dim) GROUP BY 1),
    |m3 AS (SELECT dd.doc_id FROM dd LEFT JOIN s3 USING (doc_id)
    |  WHERE coalesce(dd.y * s3.s, 0) <= 0),
    |u3 AS (SELECT dim, sum(y * f) AS u FROM f
    |  JOIN m3 USING (doc_id) GROUP BY 1),
    |w3 AS (SELECT coalesce(w2.dim, u3.dim) AS dim,
    |    coalesce(w, 0) + coalesce(u, 0) AS w
    |  FROM w2 FULL JOIN u3 ON w2.dim = u3.dim)""".stripMargin
  }

  /** The robots longest-prefix-gate oracle — shared with the
    * streaming twin (q459), which must satisfy the identical law. */
  private[queries] def duckRobotsGate: String = {
    val rh = DuckSql.hashLong("host || '#' || prefix")
    s"""WITH h AS (SELECT DISTINCT source || '.example.com' AS host
    |  FROM documents),
    |r AS (SELECT host, unnest(['/', '/docs', '/docs/priv', '/tmp'])
    |    AS prefix FROM h),
    |rules AS (SELECT host, prefix, $rh % 2 = 1 AS allow FROM r),
    |u AS (SELECT doc_id, source || '.example.com' AS host,
    |    CASE WHEN doc_id % 4 = 0 THEN '/docs/' || doc_id
    |      WHEN doc_id % 4 = 1 THEN '/docs/priv/' || doc_id
    |      WHEN doc_id % 4 = 2 THEN '/tmp/' || doc_id
    |      ELSE '/' || doc_id END AS path
    |  FROM documents)
    |SELECT u.doc_id, u.host, u.path,
    |  max_by(rules.prefix, length(rules.prefix)) AS rule_prefix,
    |  max_by(rules.allow, length(rules.prefix)) AS allowed
    |FROM u JOIN rules ON u.host = rules.host
    |WHERE starts_with(u.path, rules.prefix)
    |GROUP BY 1, 2, 3 ORDER BY u.doc_id""".stripMargin
  }

  /** The robots rule table + synthesized URL frame (Spark side) —
    * shared by q453 and the streaming q459. */
  private[queries] def robotsRulesAndUrls(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val hosts = documents(s, d).select(col("source")).distinct()
      .select(concat(col("source"), lit(".example.com")).as("host"))
    val rules = hosts
      .select(col("host"), explode(array(lit("/"), lit("/docs"),
        lit("/docs/priv"), lit("/tmp"))).as("prefix"))
      .withColumn("allow",
        Sampling.hashLong(concat(col("host"), lit("#"), col("prefix")))
          % 2 === 1)
    val urls = documents(s, d)
      .select(col("doc_id"),
        concat(col("source"), lit(".example.com")).as("host"),
        when(col("doc_id") % 4 === 0,
          concat(lit("/docs/"), col("doc_id")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("/docs/priv/"), col("doc_id")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/tmp/"), col("doc_id")))
          .otherwise(concat(lit("/"), col("doc_id"))).as("path"))
    (rules, urls)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q451: STREAMING trained-model inference (lane #22) ------------
    // Train batch, serve streaming — the production split every learned
    // curation filter lives with. The q449 perceptron trains in batch
    // (3 full-batch rounds, exact integers); the resulting O(64)
    // weight frame enters a genuine readStream plan as a stream-static
    // broadcast (last epoch's artifact, no state store), where
    // per-token signed weights fold into per-doc scores in one
    // streaming aggregation. Token-level folding is algebraically
    // identical to scoring the aggregated feature vector, so the
    // streamed scores hash-match the oracle that replays training AND
    // scoring from scratch — train/serve consistency under the hash
    // gate. Prediction is the margin sign; per-doc correctness rides
    // along.
    QueryDef("q451_streaming_inference",
      (s, d) => Checkpoints.scoped { _ =>
        val batch = documents(s, d)
        val y = when(col("lang") === "en", 1L).otherwise(-1L)
        val docsY = batch.select(col("doc_id"), y.as("y"))
        val feats = Classify.hashedFeatures(batch, "doc_id", "text", y)
        // the stream reads only the last weights; every fit frame is
        // freed once it has run
        val (ws, _) = Classify.perceptronFit(feats, docsY, rounds = 3)
        val w = ws.last
        val scored = graft.streaming.Sessions.runStreamToBatch(s, d,
          batch.schema, globFilter = Some("documents.parquet"),
          transform = st => st
            .select(col("doc_id"),
              explode(Text.tokens(col("text"))).as("__t"))
            .select(col("doc_id"),
              (Sampling.hashLong(col("__t")) % 64).as("dim"),
              (Sampling.hashLong(concat(lit("s:"), col("__t"))) % 2 * 2 - 1)
                .as("__sgn"))
            .join(broadcast(w), Seq("dim"))
            .groupBy("doc_id")
            .agg(sum(col("__sgn") * col("w")).as("score")))
        docsY.join(scored, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("score"), lit(0L)).as("score"),
            col("y"))
          .withColumn("pred", when(col("score") > 0, 1L).otherwise(-1L))
          .withColumn("correct", col("pred") === col("y"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $duckPerceptronW3,
        |sc AS (SELECT tf.doc_id, sum(tf.sgn * w3.w) AS score
        |  FROM tf JOIN w3 USING (dim) GROUP BY 1)
        |SELECT dd.doc_id,
        |  CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
        |  CAST(dd.y AS BIGINT) AS y,
        |  CAST(CASE WHEN coalesce(sc.score, 0) > 0 THEN 1 ELSE -1 END
        |    AS BIGINT) AS pred,
        |  (CASE WHEN coalesce(sc.score, 0) > 0 THEN 1 ELSE -1 END) = dd.y
        |    AS correct
        |FROM dd LEFT JOIN sc USING (doc_id) ORDER BY dd.doc_id""".stripMargin)),

    // ---- q452: longest duplicated n-gram (binary lift) -----------------
    // The maximal-repetition readout the fixed-n diagnostics (q380's
    // 8-gram fraction, q170's window gate) can't give: the LONGEST
    // token n-gram occurring ≥ 2 times corpus-wide, found by binary
    // search over the length axis — existence at length L is monotone
    // decreasing, so 7 rounds of one shingle-count pass each pin L in
    // [1, 128] exactly (docs cap at ~100 tokens; exists(1) holds
    // trivially, exists(128) is vacuously false). Each round is one
    // explode → fingerprint count-agg with the round's length riding a
    // broadcast ONE-ROW bounds frame (localCheckpointed so round
    // plans stay O(1)); no suffix array, no all-lengths scan — at 100
    // TB this is 7 passes where the naive per-length audit would be
    // 128. The oracle replays all 7 rounds as chained CTEs, so the
    // hash equality is the binary search itself.
    QueryDef("q452_longest_dup_ngram",
      (s, d) => Checkpoints.scoped { pin =>
        val toks = pin.keep(documents(s, d)
          .select(Text.tokens(col("text")).as("toks"))
          .where(size(col("toks")) > 0)
          .persist())
        val (bounds0, one) = Checkpoints.ckptCount(s.range(1)
          .select(lit(1).as("lo"), lit(128).as("hi")))
        val (bounds, _) = Checkpoints.iterate(bounds0, one, 7) {
          (bounds, _) =>
          val m = bounds.select(col("lo"), col("hi"),
            expr("(lo + hi) div 2").as("mid"))
          val ex = toks.crossJoin(broadcast(m.select("mid")))
            // sequence(1, 0) DESCENDS in Spark -> guard short docs out
            .select(explode(expr("IF(size(toks) >= mid, transform(" +
              "sequence(1, size(toks) - mid + 1), " +
              "i -> md5(array_join(slice(toks, i, mid), ' '))), " +
              "array())")).as("fp"))
            .groupBy("fp").agg(count(lit(1)).as("c"))
            .agg(coalesce(max("c"), lit(0L)).as("mx"))
          m.crossJoin(ex)
            .select(when(col("mx") >= 2, col("mid")).otherwise(col("lo"))
              .as("lo"),
              when(col("mx") >= 2, col("hi")).otherwise(col("mid"))
                .as("hi"))
        }
        val fin = broadcast(bounds.select(col("lo").as("ll")))
        // materialize the (tiny, one-group) final readout so the cached
        // token frame and the last bounds frame are freed when the
        // query returns instead of lingering in executor storage for
        // the rest of the suite
        toks.crossJoin(fin)
          .select(col("ll"), explode(expr("IF(size(toks) >= ll, transform(" +
            "sequence(1, size(toks) - ll + 1), " +
            "i -> array_join(slice(toks, i, ll), ' ')), array())")).as("sh"))
          .groupBy("ll", "sh").agg(count(lit(1)).as("c"))
          .where(col("c") >= 2)
          .groupBy("ll")
          .agg(count(lit(1)).as("n_repeated"),
            sum("c").as("n_occurrences"), min("sh").as("witness"))
          .select(col("ll").cast("long").as("max_len"),
            col("n_repeated"), col("n_occurrences"), col("witness"))
          .localCheckpoint()
      },
      Some {
        val rounds = (1 to 7).map { k =>
          val prev = s"b${k - 1}"
          s"""m$k AS (SELECT lo, hi, (lo + hi) // 2 AS mid FROM $prev),
          |s$k AS (SELECT md5(array_to_string(
          |      toks[st:st + mid - 1], ' ')) AS fp
          |  FROM (SELECT toks, mid, unnest(generate_series(1,
          |      greatest(len(toks) - mid + 1, 0))) AS st
          |    FROM t, m$k)),
          |e$k AS (SELECT coalesce(max(c), 0) AS mx FROM
          |  (SELECT count(*) AS c FROM s$k GROUP BY fp)),
          |b$k AS (SELECT CASE WHEN e$k.mx >= 2 THEN m$k.mid
          |      ELSE m$k.lo END AS lo,
          |    CASE WHEN e$k.mx >= 2 THEN m$k.hi ELSE m$k.mid END AS hi
          |  FROM m$k, e$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH t AS (SELECT ${DuckSql.toks("text")} AS toks
        |  FROM documents WHERE len(${DuckSql.toks("text")}) > 0),
        |b0 AS (SELECT 1 AS lo, 128 AS hi),
        |$rounds,
        |fin AS (SELECT lo AS ll FROM b7),
        |sf AS (SELECT ll, array_to_string(toks[st:st + ll - 1], ' ')
        |    AS sh
        |  FROM (SELECT toks, ll, unnest(generate_series(1,
        |      greatest(len(toks) - ll + 1, 0))) AS st FROM t, fin)),
        |rep AS (SELECT ll, sh, count(*) AS c FROM sf GROUP BY 1, 2
        |  HAVING count(*) >= 2)
        |SELECT CAST(ll AS BIGINT) AS max_len,
        |  CAST(count(*) AS BIGINT) AS n_repeated,
        |  CAST(sum(c) AS BIGINT) AS n_occurrences,
        |  min(sh) AS witness
        |FROM rep GROUP BY 1""".stripMargin
      }),

    // ---- q453: robots-style longest-prefix URL gate ---------------------
    // Crawl-policy enforcement: per host a small rule table (path
    // prefix → allow/disallow, md5-derived so the oracle rebuilds it),
    // per URL the LONGEST matching prefix wins — the Google robots.txt
    // semantics. The rule table is O(hosts × rules) and broadcast; the
    // URL side streams once through an equi-join on host + a prefix
    // filter + one max_by per URL (prefix lengths are distinct, so the
    // argmax is deterministic). The root rule guarantees every URL a
    // verdict. At web scale this is the shape you want: rules move,
    // URLs never shuffle.
    QueryDef("q453_robots_prefix_gate",
      (s, d) => {
        val (rules, urls) = robotsRulesAndUrls(s, d)
        urls.join(broadcast(rules), Seq("host"))
          .where(col("path").startsWith(col("prefix")))
          .groupBy("doc_id", "host", "path")
          .agg(expr("max_by(prefix, length(prefix))").as("rule_prefix"),
            expr("max_by(allow, length(prefix))").as("allowed"))
          .orderBy("doc_id")
      },
      Some(duckRobotsGate)),

    // ---- q454: leave-one-source-out ablation ledger ---------------------
    // Data-valuation lite: for each source, the corpus-level LM
    // quality (q336's integer unigram surprisal, milli-bits/token)
    // with that source REMOVED — computed from global minus per-source
    // sums (the q247 reaggregation trick), so 20 ablations cost one
    // token pass, not 20. The unigram model is held fixed (the
    // standard cheap-ablation convention — documented, not hidden);
    // delta > 0 means removing the source makes the remaining corpus
    // more surprising, i.e. the source was low-surprisal filler.
    QueryDef("q454_source_ablation",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("__c"))
        val tot = vocab.agg(sum("__c").as("__N")).withColumn("__one", lit(1))
        val perSource = toks
          .join(broadcast(vocab), Seq("tok"))
          .withColumn("__one", lit(1))
          .join(broadcast(tot), Seq("__one"))
          .select(col("source"),
            (length(bin(expr("__N div __c"))) - 1).cast("long").as("__bits"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_tokens"), sum("__bits").as("bits"))
        perSource
          .withColumn("__tb", expr("sum(bits) OVER ()"))
          .withColumn("__tt", expr("sum(n_tokens) OVER ()"))
          .select(col("source"), col("n_tokens"), col("bits"),
            expr("(n_tokens * 1000000) div __tt").as("token_share_ppm"),
            expr("(__tb * 1000) div __tt").as("mbpt_full"),
            expr("((__tb - bits) * 1000) div (__tt - n_tokens)")
              .as("mbpt_without"),
            expr("((__tb - bits) * 1000) div (__tt - n_tokens) - " +
              "(__tb * 1000) div __tt").as("delta_milli"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (SELECT source, unnest(${DuckSql.toks("text")})
        |    AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
        |n AS (SELECT sum(c) AS N FROM v),
        |b AS (SELECT t.source,
        |    length(format('{:b}', CAST(n.N // v.c AS BIGINT))) - 1 AS bits
        |  FROM t JOIN v USING (tok), n),
        |ps AS (SELECT source, count(*) AS n_tokens, sum(bits) AS bits
        |  FROM b GROUP BY 1),
        |g AS (SELECT sum(bits) AS tb, sum(n_tokens) AS tt FROM ps)
        |SELECT ps.source, CAST(ps.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(ps.bits AS BIGINT) AS bits,
        |  CAST((ps.n_tokens * 1000000) // g.tt AS BIGINT)
        |    AS token_share_ppm,
        |  CAST((g.tb * 1000) // g.tt AS BIGINT) AS mbpt_full,
        |  CAST(((g.tb - ps.bits) * 1000) // (g.tt - ps.n_tokens)
        |    AS BIGINT) AS mbpt_without,
        |  CAST(((g.tb - ps.bits) * 1000) // (g.tt - ps.n_tokens)
        |    - (g.tb * 1000) // g.tt AS BIGINT) AS delta_milli
        |FROM ps, g ORDER BY ps.source""".stripMargin)),

    // ---- q455: two-sample Kolmogorov–Smirnov drift ----------------------
    // The distribution-shape drift test next to TV distance (q191) and
    // chi-square (q356): D = sup |F₁ − F₂| over the event-value
    // distribution of two user cohorts, entirely in exact integers —
    // |c₁·n₂ − c₂·n₁| on cumulative counts (one window over the
    // O(distinct cents) histogram frame, the q332/q357 discipline),
    // the large-sample 95% decision as a cross-multiplied DECIMAL(38)
    // compare (c²=1.36² scaled — no sqrt ever runs). Output: the
    // statistic, where it peaks, and the reject flag.
    QueryDef("q455_ks_two_sample",
      (s, d) => {
        val ev = events(s, d)
          .select((col("user_id") % 2).as("g"),
            (col("value").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
        val hist = ev.groupBy("cents")
          .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("a"),
            sum(when(col("g") === 1, 1L).otherwise(0L)).as("b"))
        val wc = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, 0)
        hist
          .withColumn("ca", sum("a").over(wc))
          .withColumn("cb", sum("b").over(wc))
          .withColumn("n1", expr("sum(a) OVER ()"))
          .withColumn("n2", expr("sum(b) OVER ()"))
          .withColumn("diff", abs(col("ca") * col("n2")
            - col("cb") * col("n1")))
          .orderBy(col("diff").desc, col("cents").asc)
          .limit(1)
          .select(col("n1"), col("n2"), col("diff").as("d_num"),
            // diff is bounded by n1*n2, so diff * 10⁶ overflows BIGINT
            // once n1*n2 > ~9.2e12 (~3M events per cohort) — lift the
            // product to DECIMAL(38) like the reject_95 compare; the
            // quotient itself is ≤ 10⁶ so the BIGINT result is safe
            expr("CAST((CAST(diff AS DECIMAL(38,0)) * 1000000)"
              + " div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)")
              .as("ks_ppm"),
            col("cents").as("ks_at_cents"),
            expr("CAST(diff AS DECIMAL(38,0)) * diff * 10000 > " +
              "CAST(18496 AS DECIMAL(38,0)) * (n1 + n2) * n1 * n2")
              .as("reject_95"))
      },
      Some("""WITH ev AS (SELECT user_id % 2 AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |h AS (SELECT cents,
        |    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS a,
        |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS b
        |  FROM ev GROUP BY 1),
        |c AS (SELECT cents,
        |    sum(a) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    sum(b) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |    sum(a) OVER () AS n1, sum(b) OVER () AS n2
        |  FROM h),
        |d AS (SELECT cents, ca, cb, n1, n2,
        |    abs(ca * n2 - cb * n1) AS diff FROM c)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(diff AS BIGINT) AS d_num,
        |  CAST((CAST(diff AS HUGEINT) * 1000000)
        |    // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ks_ppm,
        |  CAST(cents AS BIGINT) AS ks_at_cents,
        |  CAST(diff AS HUGEINT) * diff * 10000
        |    > CAST(18496 AS HUGEINT) * (n1 + n2) * n1 * n2 AS reject_95
        |FROM d ORDER BY diff DESC, cents ASC LIMIT 1""".stripMargin))
  )
}
