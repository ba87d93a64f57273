package graft.queries

import graft.Tables._
import graft.ops.{FixedPoint, Text}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-8 tenth batch: Luhn credit-card PII detection with planted
  * valid/invalid numbers (q456), per-user behavioral predictability
  * via transition entropy (q457), host-template boilerplate removal
  * with planted banners (q458), the streaming robots gate — lane #23
  * (q459), and an SPRT early-stopping readout in exact micro-nats
  * (q460).
  */
object QueriesRound8j {

  /** Luhn checksum of an n-digit string expression: digits at ODD
    * 1-based left positions are doubled (valid for n = 15 payload and
    * n = 16 full number — both put the doubled digits at odd left
    * indices). Spark and DuckDB variants printed from one rule. */
  private[graft] def luhnSumSpark(c: String, n: Int): String =
    s"aggregate(transform(sequence(1, $n), i -> CASE WHEN i % 2 = 1 " +
      s"THEN IF(2 * CAST(substring($c, i, 1) AS INT) > 9, " +
      s"2 * CAST(substring($c, i, 1) AS INT) - 9, " +
      s"2 * CAST(substring($c, i, 1) AS INT)) " +
      s"ELSE CAST(substring($c, i, 1) AS INT) END), 0, (a, x) -> a + x)"

  private[graft] def luhnSumDuck(c: String, n: Int): String =
    s"list_sum(list_transform(generate_series(1, $n), i -> " +
      s"CASE WHEN i % 2 = 1 THEN (CASE WHEN " +
      s"2 * CAST(substr($c, i, 1) AS INTEGER) > 9 THEN " +
      s"2 * CAST(substr($c, i, 1) AS INTEGER) - 9 ELSE " +
      s"2 * CAST(substr($c, i, 1) AS INTEGER) END) ELSE " +
      s"CAST(substr($c, i, 1) AS INTEGER) END))"


  /** The q456 planted-card text synthesis (Spark SQL fragment) —
    * shared with the streaming twin q463. */
  private[graft] def luhnPlantedTextSql: String = {
    val pay = "lpad(CAST(doc_id * doc_id AS STRING), 15, '0')"
    val chk = s"(10 - ${luhnSumSpark(pay, 15)} % 10) % 10"
    val digit = s"CASE WHEN doc_id % 14 = 0 THEN $chk " +
      s"ELSE ($chk + 5) % 10 END"
    s"CASE WHEN doc_id % 7 = 0 " +
      s"THEN concat(text, ' ', $pay, CAST($digit AS STRING)) " +
      s"ELSE text END"
  }

  /** The q456 oracle — shared verbatim with the streaming twin q463
    * (batch/stream detection parity is the verified law). */
  private[graft] def duckLuhnGate: String = {
    val pay = "lpad(CAST(doc_id * doc_id AS VARCHAR), 15, '0')"
    val chk = s"(10 - ${luhnSumDuck(pay, 15)} % 10) % 10"
    val digit = s"CASE WHEN doc_id % 14 = 0 THEN $chk " +
      s"ELSE ($chk + 5) % 10 END"
    s"""WITH t2 AS (SELECT doc_id, source,
    |    CASE WHEN doc_id % 7 = 0
    |      THEN text || ' ' || $pay || CAST($digit AS VARCHAR)
    |      ELSE text END AS txt
    |  FROM documents),
    |c AS (SELECT doc_id, source, unnest(
    |    CASE WHEN len(regexp_extract_all(txt, '\\d{16}')) = 0
    |      THEN [NULL] ELSE regexp_extract_all(txt, '\\d{16}') END)
    |    AS cc
    |  FROM t2),
    |v AS (SELECT doc_id, source, cc,
    |    CASE WHEN cc IS NOT NULL THEN
    |      CASE WHEN ${luhnSumDuck("cc", 16)} % 10 = 0
    |        THEN 1 ELSE 0 END END AS ok
    |  FROM c)
    |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    |  CAST(sum(CASE WHEN cc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    |    AS n_candidates,
    |  CAST(sum(coalesce(ok, 0)) AS BIGINT) AS n_valid_cc,
    |  CAST(sum(CASE WHEN cc IS NOT NULL AND ok = 0 THEN 1 ELSE 0 END)
    |    AS BIGINT) AS n_luhn_reject
    |FROM v GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q456: Luhn credit-card detection ------------------------------
    // The PII class q169's scrubber (email/phone/long-id) cannot
    // judge: a 16-digit run is a CARD NUMBER only if it passes the
    // Luhn mod-10 checksum — validating before redacting is what keeps
    // order ids and timestamps out of the redaction count. Numbers are
    // planted deterministically (payload from doc_id², check digit
    // CONSTRUCTED via the same Luhn rule — valid on doc_id % 14 = 0,
    // off-by-5 otherwise), so the detector's precision is self-proving:
    // n_valid must equal exactly the planted-valid count per source.
    // Per-row regexp extraction + one rollup; the checksum is a pure
    // 16-step integer fold, no UDF.
    QueryDef("q456_luhn_cc_detect",
      (s, d) => {
        val cand = documents(s, d)
          .select(col("doc_id"), col("source"),
            expr(luhnPlantedTextSql).as("__t2"))
          .select(col("doc_id"), col("source"),
            explode_outer(expr("regexp_extract_all(__t2, '\\\\d{16}', 0)"))
              .as("cc"))
        cand
          .withColumn("__ok",
            when(col("cc").isNotNull,
              (expr(luhnSumSpark("cc", 16)) % 10 === 0).cast("long")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("cc").isNotNull, 1L).otherwise(0L))
              .as("n_candidates"),
            sum(coalesce(col("__ok"), lit(0L))).as("n_valid_cc"),
            sum(when(col("cc").isNotNull && col("__ok") === 0, 1L)
              .otherwise(0L)).as("n_luhn_reject"))
          .orderBy("source")
      },
      Some(duckLuhnGate)),

    // ---- q457: behavioral predictability (transition entropy) ----------
    // Per user, the conditional entropy H(next event | current event)
    // of their behavior trace in exact micro-nats — the predictability
    // number behind bot detection (H ≈ 0: scripted loops) and the
    // q348 drift readout. H = (Σ_{c,n} c_cn·ln(c_c/c_cn)) / N with
    // every ln through the FixedPoint table on ratios ≥ 1 by
    // construction (c_c ≥ c_cn). One per-user lag window (bounded by
    // trace length), two map-side-combining count aggs on (user, cur
    // [, next]) keys, one equi-join — never user×user, never a global
    // window.
    QueryDef("q457_transition_entropy",
      (s, d) => {
        val wu = Window.partitionBy("user_id")
          .orderBy(col("__ts"), col("event_id"))
        val trans = events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("__ts"), col("event_id"))
          .withColumn("__next", lead("event_type", 1).over(wu))
          .where(col("__next").isNotNull)
        val cnn = trans.groupBy("user_id", "event_type", "__next")
          .agg(count(lit(1)).as("c_cn"))
        val cn = cnn.groupBy("user_id", "event_type")
          .agg(sum("c_cn").as("c_c"))
        val term = FixedPoint.sparkLnMicroFp20(
          FixedPoint.sparkRatioFp20("(c_c - c_cn)", "c_cn"))
        cnn.join(cn, Seq("user_id", "event_type"))
          .select(col("user_id"), col("c_cn"),
            expr(s"c_cn * $term").as("__num"))
          .groupBy("user_id")
          .agg(sum("c_cn").as("n_transitions"), sum("__num").as("__n2"))
          .select(col("user_id"), col("n_transitions"),
            expr("__n2 div n_transitions").as("h_micro_nats"))
          .orderBy("user_id")
      },
      Some {
        val term = FixedPoint.duckLnMicroFp20(
          FixedPoint.duckRatioFp20("(c_c - c_cn)", "c_cn"))
        s"""WITH e AS (SELECT user_id, event_type, ts, event_id,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |tr AS (SELECT user_id, event_type, nxt FROM e
        |  WHERE nxt IS NOT NULL),
        |cnn AS (SELECT user_id, event_type, nxt,
        |    CAST(count(*) AS BIGINT) AS c_cn FROM tr GROUP BY 1, 2, 3),
        |cn AS (SELECT user_id, event_type,
        |    CAST(sum(c_cn) AS BIGINT) AS c_c FROM cnn GROUP BY 1, 2),
        |j AS (SELECT cnn.user_id, cnn.c_cn,
        |    cnn.c_cn * $term AS num
        |  FROM cnn JOIN cn ON cnn.user_id = cn.user_id
        |    AND cnn.event_type = cn.event_type)
        |SELECT user_id, CAST(sum(c_cn) AS BIGINT) AS n_transitions,
        |  CAST(sum(num) // sum(c_cn) AS BIGINT) AS h_micro_nats
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ---- q458: host-template boilerplate removal ------------------------
    // The C4/RefinedWeb rule q180's corpus-absolute threshold can't
    // express: a segment is boilerplate RELATIVE to its host — struck
    // when it appears in > 50% of the host's documents (nav bars,
    // cookie banners), however rare corpus-wide. Each source gets an
    // 8-token banner planted at position 0 (grid-aligned, so the rest
    // of the doc segments exactly as before), making the detector's
    // target known: every doc loses exactly its banner, nothing else.
    // Frequency runs on md5 fingerprints per (source, fp) —
    // O(segments) with map-side combine; the 50% gate joins the
    // O(sources) doc-count frame; rebuild is one per-doc ordered agg.
    QueryDef("q458_host_template_strip",
      (s, d) => {
        val banner = concat(lit("promo banner for "), col("source"),
          lit(" click here now subscribe "))
        val docs = documents(s, d)
          .select(col("doc_id"), col("source"),
            Text.tokens(concat(banner, col("text"))).as("toks"))
        val segs = docs
          .select(col("doc_id"), col("source"),
            posexplode(expr("transform(" +
              "sequence(0, CAST((size(toks) - 1) / 8 AS INT)), " +
              "g -> array_join(slice(toks, g * 8 + 1, 8), ' '))"))
              .as(Seq("g", "seg")))
          .withColumn("fp", md5(col("seg")))
        val nDocs = documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("__nd"))
        val hot = segs.select(col("source"), col("fp"), col("doc_id"))
          .distinct()
          .groupBy("source", "fp").agg(count(lit(1)).as("__indocs"))
          .join(broadcast(nDocs), "source")
          .where(col("__indocs") * 2 > col("__nd"))
          .select(col("source"), col("fp"))
        val kept = segs.join(hot, Seq("source", "fp"), "left_anti")
        documents(s, d).select(col("doc_id"))
          .join(segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs")),
            Seq("doc_id"), "left")
          .join(kept.groupBy("doc_id")
            .agg(count(lit(1)).as("n_kept"),
              md5(concat_ws(" ", array_sort(
                collect_list(struct(col("g"), col("seg")))).getField("seg")))
                .as("clean_md5")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_segs"), lit(0L)).as("n_segs"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            (coalesce(col("n_segs"), lit(0L))
              - coalesce(col("n_kept"), lit(0L))).as("n_struck"),
            coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
        |    ${DuckSql.toks("'promo banner for ' || source || " +
          "' click here now subscribe ' || text")} AS toks
        |  FROM documents),
        |sg AS (SELECT doc_id, source, g,
        |    array_to_string(toks[g * 8 + 1:g * 8 + 8], ' ') AS seg
        |  FROM (SELECT doc_id, source, toks,
        |      unnest(generate_series(0,
        |        CAST(floor((len(toks) - 1) / 8.0) AS INTEGER))) AS g
        |    FROM t)),
        |fp AS (SELECT doc_id, source, g, seg, md5(seg) AS fp FROM sg),
        |nd AS (SELECT source, count(*) AS ndocs FROM documents
        |  GROUP BY 1),
        |hot AS (SELECT f.source, f.fp FROM
        |    (SELECT DISTINCT source, fp, doc_id FROM fp) f
        |  JOIN nd ON f.source = nd.source
        |  GROUP BY f.source, f.fp, nd.ndocs
        |  HAVING count(*) * 2 > nd.ndocs),
        |kept AS (SELECT fp.* FROM fp LEFT JOIN hot
        |    ON fp.source = hot.source AND fp.fp = hot.fp
        |  WHERE hot.fp IS NULL),
        |ns AS (SELECT doc_id, count(*) AS n_segs FROM fp GROUP BY 1),
        |nk AS (SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(seg, ' ' ORDER BY g)) AS clean_md5
        |  FROM kept GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(ns.n_segs, 0) AS BIGINT) AS n_segs,
        |  CAST(coalesce(nk.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(ns.n_segs, 0) - coalesce(nk.n_kept, 0) AS BIGINT)
        |    AS n_struck,
        |  coalesce(nk.clean_md5, md5('')) AS clean_md5
        |FROM documents d LEFT JOIN ns USING (doc_id)
        |LEFT JOIN nk USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    // ---- q459: STREAMING robots gate (lane #23) -------------------------
    // The q453 crawl-policy gate AT INGEST: URLs synthesize on the
    // stream, the rule table joins as a stream-static broadcast, and
    // the longest-prefix argmax runs as a streaming aggregation —
    // policy enforcement before anything lands, not in a nightly
    // sweep. Hash-matched to the IDENTICAL oracle as the batch gate
    // (one shared SQL), so batch/stream verdict parity is the
    // verified law.
    QueryDef("q459_streaming_robots_gate",
      (s, d) => {
        val (rules, _) = QueriesRound8i.robotsRulesAndUrls(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d,
          documents(s, d).schema,
          globFilter = Some("documents.parquet"),
          transform = st => st
            .select(col("doc_id"),
              concat(col("source"), lit(".example.com")).as("host"),
              when(col("doc_id") % 4 === 0,
                concat(lit("/docs/"), col("doc_id")))
                .when(col("doc_id") % 4 === 1,
                  concat(lit("/docs/priv/"), col("doc_id")))
                .when(col("doc_id") % 4 === 2,
                  concat(lit("/tmp/"), col("doc_id")))
                .otherwise(concat(lit("/"), col("doc_id"))).as("path"))
            .join(broadcast(rules), Seq("host"))
            .where(col("path").startsWith(col("prefix")))
            .groupBy("doc_id", "host", "path")
            .agg(expr("max_by(prefix, length(prefix))").as("rule_prefix"),
              expr("max_by(allow, length(prefix))").as("allowed")))
          .orderBy("doc_id")
      },
      Some(QueriesRound8i.duckRobotsGate)),

    // ---- q460: SPRT early-stopping readout ------------------------------
    // Wald's sequential probability ratio test over an ordered trial
    // stream — the online-experimentation primitive that stops as soon
    // as the evidence crosses ±ln((1−β)/α), instead of waiting for a
    // fixed n. Outcomes are deterministic (event_id % 5 < 3 — a 60%
    // success rate, exactly H₁'s p₁ = 0.6 vs H₀'s 0.5), and the two
    // LLR increments + the threshold are FixedPoint table-ln CONSTANTS
    // computed once in Scala and printed into both engines' SQL — no
    // per-row log. The cumulative LLR runs as a TWO-LEVEL cum over
    // event_id buckets (in-bucket window + broadcast bucket offsets —
    // the q136 discipline, no single-partition pass over the trials),
    // and the decision row is one TakeOrderedAndProject.
    QueryDef("q460_sprt_readout",
      (s, d) => {
        // ln(p1/p0) = ln(1.2), ln((1-p0)/(1-p1)) = ln(1.25), ln(19)
        val incS = FixedPoint.lnMicroLong(FixedPoint.ratioFp20Long(1, 5))
        val incF = FixedPoint.lnMicroLong(FixedPoint.ratioFp20Long(1, 4))
        val thr = FixedPoint.lnMicroLong(FixedPoint.ratioFp20Long(18, 1))
        val trials = events(s, d)
          .select(col("event_id"),
            (col("event_id") % 5 < 3).cast("long").as("s"))
          .withColumn("__g", expr("event_id div 4096"))
        val wIn = Window.partitionBy("__g").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wPre = Window.orderBy("__g")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = trials.groupBy("__g")
          .agg(count(lit(1)).as("__cn"), sum("s").as("__cs"))
          .select(col("__g"),
            coalesce(sum("__cn").over(wPre), lit(0L)).as("__offn"),
            coalesce(sum("__cs").over(wPre), lit(0L)).as("__offs"))
        trials
          .withColumn("__wn", count(lit(1)).over(wIn))
          .withColumn("__ws", sum("s").over(wIn))
          .join(broadcast(offs), "__g")
          .select(col("event_id"),
            (col("__offn") + col("__wn")).as("n_trials"),
            (col("__offs") + col("__ws")).as("n_succ"))
          .withColumn("llr_micro", expr(
            s"n_succ * ${incS}L - (n_trials - n_succ) * ${incF}L"))
          .where(abs(col("llr_micro")) >= thr)
          .orderBy("n_trials")
          .limit(1)
          .select(col("n_trials").as("n_at_decision"),
            col("n_succ").as("n_succ_at_decision"),
            col("llr_micro").as("llr_at_decision"),
            when(col("llr_micro") > 0, lit("accept_h1"))
              .otherwise(lit("accept_h0")).as("decision"),
            lit(thr).as("threshold_micro"))
      },
      Some {
        val incS = FixedPoint.lnMicroLong(FixedPoint.ratioFp20Long(1, 5))
        val incF = FixedPoint.lnMicroLong(FixedPoint.ratioFp20Long(1, 4))
        val thr = FixedPoint.lnMicroLong(FixedPoint.ratioFp20Long(18, 1))
        s"""WITH t AS (SELECT event_id,
        |    CASE WHEN event_id % 5 < 3 THEN 1 ELSE 0 END AS s
        |  FROM events),
        |c AS (SELECT event_id,
        |    count(*) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS n_trials,
        |    sum(s) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS n_succ
        |  FROM t),
        |l AS (SELECT n_trials, n_succ,
        |    n_succ * $incS - (n_trials - n_succ) * $incF AS llr_micro
        |  FROM c)
        |SELECT CAST(n_trials AS BIGINT) AS n_at_decision,
        |  CAST(n_succ AS BIGINT) AS n_succ_at_decision,
        |  CAST(llr_micro AS BIGINT) AS llr_at_decision,
        |  CASE WHEN llr_micro > 0 THEN 'accept_h1'
        |    ELSE 'accept_h0' END AS decision,
        |  CAST($thr AS BIGINT) AS threshold_micro
        |FROM l WHERE abs(llr_micro) >= $thr
        |ORDER BY n_trials LIMIT 1""".stripMargin
      })
  )
}
