package graft.queries

import graft.Tables._
import graft.functions.GraftFunctions
import graft.ops.{Relational, Text}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 fourteenth batch: web-corpus normalization (URL
  * canonicalization, Unicode accent folding via a native codegen
  * expression), the heavy-key-isolated hybrid skew join, cluster
  * labeling by class-based TF-IDF, an l-diversity governance audit,
  * and a hash-verified error evaluation of the Count-Min sketch (the
  * q262 measured-error discipline applied to the frequency-sketch
  * lane).
  */
object QueriesRound6n {

  val defs: Seq[QueryDef] = Seq(

    // ---- q263: URL canonicalization ----------------------------------
    // The first operation of every crawl pipeline: collapse the many
    // spellings of one resource before dedup/frequency counting.
    // Scheme+host lowercase, default-port strip, fragment drop,
    // tracking-param removal (utm_*/fbclid/gclid), query-param sort,
    // trailing-slash strip. Messy inputs are synthesized
    // deterministically from the documents table (mixed-case host,
    // shuffled params, optional :443 / trailing slash by doc_id mod) so
    // the oracle rebuilds byte-identical URLs. Pure per-row string
    // expressions — embarrassingly parallel, no shuffle besides the
    // output order.
    QueryDef("q263_url_canonicalize",
      (s, d) => {
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
          lit("://"), upper(col("source")), lit(".Example.COM"),
          when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
          lit("/Docs/"), col("doc_id"),
          when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
          lit("?"),
          when(col("doc_id") % 2 === 0,
            concat(lit("utm_source=rss&z="), col("n_chars"),
              lit("&lang="), col("lang")))
            .otherwise(concat(lit("lang="), col("lang"),
              lit("&a=1&utm_campaign=x"))),
          lit("#sec"))
        documents(s, d).where(col("doc_id") < 300)
          .select(col("doc_id"), url.as("url"))
          .withColumn("host",
            lower(regexp_replace(
              regexp_extract(col("url"), "^[a-zA-Z]+://([^/?#]+)", 1),
              ":443$", "")))
          .withColumn("path",
            regexp_extract(col("url"), "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1))
          .withColumn("qs", regexp_extract(col("url"), "\\?([^#]*)", 1))
          .withColumn("path", expr(
            "CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/' " +
              "ELSE regexp_replace(path, '/+$', '') END"))
          .withColumn("qs2", expr(
            "array_join(array_sort(filter(split(qs, '&'), x -> NOT (" +
              "startswith(x, 'utm_') OR startswith(x, 'fbclid') OR " +
              "startswith(x, 'gclid')))), '&')"))
          .select(col("doc_id"), col("host"),
            concat(lit("https://"), col("host"), col("path"),
              when(col("qs2") === "", lit(""))
                .otherwise(concat(lit("?"), col("qs2")))).as("canon_url"))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) ||
        |    '://' || upper(source) || '.Example.COM' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END) ||
        |    '/Docs/' || doc_id ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) || '?' ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN 'utm_source=rss&z=' || n_chars || '&lang=' || lang
        |      ELSE 'lang=' || lang || '&a=1&utm_campaign=x' END) ||
        |    '#sec' AS url
        |  FROM documents WHERE doc_id < 300),
        |p AS (SELECT doc_id,
        |    lower(regexp_replace(
        |      regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1),
        |      ':443$', '')) AS host,
        |    regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1) AS path,
        |    regexp_extract(url, '\?([^#]*)', 1) AS qs
        |  FROM u),
        |c AS (SELECT doc_id, host,
        |    CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
        |      ELSE regexp_replace(path, '/+$', '') END AS path2,
        |    array_to_string(list_sort(list_filter(string_split(qs, '&'),
        |      x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'fbclid')
        |        OR starts_with(x, 'gclid')))), '&') AS qs2
        |  FROM p)
        |SELECT doc_id, host,
        |  'https://' || host || path2 ||
        |    (CASE WHEN qs2 = '' THEN '' ELSE '?' || qs2 END) AS canon_url
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- q264: Unicode accent fold (native codegen expression) -------
    // graft_fold_accents = NFD + strip combining marks, the fold every
    // multilingual tokenizer/dedup key needs ('café' == 'cafe').
    // Runs as a whole-stage-codegen expression with an ASCII zero-copy
    // fast path (functions/TextExpressions.scala); DuckDB's
    // strip_accents is char-for-char identical on the exercised range
    // (probed: Latin-1 accents fold, non-decomposable ß ø æ pass
    // through on BOTH engines). Accented text is synthesized from
    // Latin-1 code points so every row actually exercises the fold;
    // the ASCII tail from `text` exercises the fast path. The folded
    // dedup key (md5 of lowercased fold) is what a cross-language
    // exact-dedup stage would group on.
    QueryDef("q264_unicode_fold",
      (s, d) => {
        val accented = concat(
          lit("Caf"), expr("char(233)"), lit(" "),
          expr("char(192)"), lit("propos "), col("source"), lit(" "),
          expr("char(252)"), lit("ber "), expr("char(241)"), lit("and"),
          expr("char(248)"), lit(" "), expr("char(230)"), lit("on "),
          substring(col("text"), 1, 48))
        documents(s, d).where(col("doc_id") < 400)
          .select(col("doc_id"), accented.as("txt"))
          .select(col("doc_id"),
            GraftFunctions.foldAccents(col("txt")).as("folded"),
            (GraftFunctions.foldAccents(col("txt")) =!= col("txt"))
              .as("changed"),
            substring(md5(lower(GraftFunctions.foldAccents(col("txt")))),
              1, 8).as("dedup_key8"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
        |    'Caf' || chr(233) || ' ' || chr(192) || 'propos ' || source ||
        |    ' ' || chr(252) || 'ber ' || chr(241) || 'and' || chr(248) ||
        |    ' ' || chr(230) || 'on ' || substr(text, 1, 48) AS txt
        |  FROM documents WHERE doc_id < 400)
        |SELECT doc_id, strip_accents(txt) AS folded,
        |  strip_accents(txt) <> txt AS changed,
        |  substr(md5(lower(strip_accents(txt))), 1, 8) AS dedup_key8
        |FROM t ORDER BY doc_id""".stripMargin)),

    // ---- q265: hybrid heavy-key-isolated skew join --------------------
    // The third skew weapon next to salting (q79) and AQE skew-split
    // (PlanSpec): keys above the frequency threshold join against a
    // BROADCAST of their dim subset (hot rows never shuffle), the light
    // remainder takes the ordinary shuffle join, union at the end.
    // On a power-law fact table the heavy slice is few DISTINCT keys
    // (broadcast-sized dim subset) but many ROWS — exactly the rows a
    // shuffle hashes into one reducer. Result provably equals the
    // direct join; the oracle IS the direct join.
    QueryDef("q265_hybrid_skew_join",
      (s, d) => {
        val li = lineitem(s, d).select(col("l_orderkey"),
          Relational.revenue(col("l_extendedprice"), col("l_discount"))
            .as("rev"))
        val ord = orders(s, d).select(col("o_orderkey").as("l_orderkey"),
          col("o_orderpriority"))
        Relational.hybridSkewJoin(li, ord, "l_orderkey", threshold = 5L)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            Relational.sumExact(col("rev"), 4).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q266: cluster labeling via class-based TF-IDF ----------------
    // The "what IS this slice of the corpus" readout used after any
    // clustering/bucketing stage (BERTopic's c-TF-IDF, Grootendorst
    // 2022): classes here are the document sources; W(t,c) =
    // tf(t,c) * ln(1 + A / f(t)) with A = mean tokens per class and
    // f(t) the corpus-wide term count. Two hash-aggregations plus a
    // broadcast of the per-term totals. NO float log runs anywhere:
    // the ratio 1 + A/f = 1 + total/(f·classes) is built as an exact
    // fixed-point integer (2²⁰ fraction bits, overflow-safe split
    // division) and the ln is `FixedPoint`'s integer micro-nats log
    // (bitlength + 256-entry mantissa table, printed into the oracle
    // from the SAME Scala array) — so the rank can never flip on a
    // 1-ulp libm divergence at a floor boundary, at any scale, on any
    // engine. w_micro = tf · ln_micro(1 + A/f). Top-10 terms label
    // each class.
    QueryDef("q266_ctfidf_terms",
      (s, d) => {
        val t = documents(s, d)
          .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        val tf = t.groupBy("source", "tok").agg(count(lit(1)).as("tf"))
        val fTot = tf.groupBy("tok").agg(sum("tf").as("f"))
        val scal = tf.agg(sum(col("tf")).as("__total"),
          countDistinct(col("source")).as("__ncls"))
        val w = tf.join(broadcast(fTot), "tok")
          .crossJoin(broadcast(scal))
          .withColumn("__r",
            expr(graft.ops.FixedPoint.sparkRatioFp20(
              "__total", "(f * __ncls)")))
          .withColumn("w_micro",
            expr(s"tf * ${graft.ops.FixedPoint.sparkLnMicroFp20("__r")}"))
        w.withColumn("rank", row_number().over(
            Window.partitionBy("source")
              .orderBy(col("w_micro").desc, col("tok").asc)))
          .where(col("rank") <= 10)
          .select(col("source"), col("rank"), col("tok"),
            col("tf"), col("f"), col("w_micro"))
          .orderBy("source", "rank")
      },
      Some(s"""WITH t AS (SELECT source, unnest(${DuckSql.toks("text")}) AS tok
        |  FROM documents),
        |tf AS (SELECT source, tok, count(*) AS tf FROM t GROUP BY 1, 2),
        |ft AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS f FROM tf GROUP BY 1),
        |sc AS (SELECT CAST(sum(tf) AS BIGINT) AS total,
        |    CAST(count(DISTINCT source) AS BIGINT) AS ncls FROM tf),
        |w AS (SELECT tf.source, tf.tok, tf.tf, ft.f,
        |    tf.tf * ${graft.ops.FixedPoint.duckLnMicroFp20(
          graft.ops.FixedPoint.duckRatioFp20("total", "(f * ncls)"))}
        |      AS w_micro
        |  FROM tf JOIN ft USING (tok), sc),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY w_micro DESC, tok ASC) AS rank FROM w)
        |SELECT source, rank, tok, CAST(tf AS BIGINT) AS tf,
        |  CAST(f AS BIGINT) AS f, CAST(w_micro AS BIGINT) AS w_micro
        |FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin)),

    // ---- q267: l-diversity audit --------------------------------------
    // k-anonymity (q249) bounds re-identification but not attribute
    // disclosure: a size-k class whose SENSITIVE value is constant
    // still leaks it (Machanavajjhala et al. 2007). Same equivalence
    // classes as q249 (lang, source, 100-char bucket); the sensitive
    // attribute (synthesized as n_chars mod 7) must take >= l distinct
    // values per class. One map-side-combining aggregation; the l
    // decision is pure integer comparison.
    QueryDef("q267_l_diversity",
      (s, d) => {
        val l = 3L
        documents(s, d)
          .select(col("lang"), col("source"),
            expr("(n_chars div 100) * 100").as("chars_bucket"),
            (col("n_chars") % 7).as("sensitive"))
          .groupBy("lang", "source", "chars_bucket")
          .agg(count(lit(1)).as("class_size"),
            countDistinct(col("sensitive")).as("l_distinct"))
          .withColumn("violates_l3", col("l_distinct") < l)
          .orderBy("lang", "source", "chars_bucket")
      },
      Some("""SELECT lang, source,
        |  CAST((n_chars // 100) * 100 AS BIGINT) AS chars_bucket,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT n_chars % 7) AS BIGINT) AS l_distinct,
        |  count(DISTINCT n_chars % 7) < 3 AS violates_l3
        |FROM documents GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin)),

    // ---- q268: Count-Min sketch measured-error evaluation -------------
    // The q262 discipline (measure the approximation against exact
    // ground truth, hash-verify the measurement) applied to the CMS
    // lane: a deliberately tight sketch (d=2, w=64 — real collision
    // mass) estimates every term, the exact counts ride along, and the
    // one-row readout reports overestimate counts, max/total error,
    // and how many terms respect the 2N/w Markov bound — all exact
    // integers. est >= cnt must hold for every term (CMS upper-bound
    // theorem); n_under is reported and must be 0.
    QueryDef("q268_cms_error_eval",
      (s, d) => {
        val hh = Text.cmsHeavyHitters(documents(s, d), "text",
          d = 2, w = 64, minCount = 1L)
        val n = hh.agg(sum("cnt").as("__N"))
        hh.crossJoin(broadcast(n))
          .agg(count(lit(1)).as("n_terms"),
            sum(when(col("est") === col("cnt"), 1L).otherwise(0L))
              .as("n_exact"),
            sum(when(col("est") < col("cnt"), 1L).otherwise(0L))
              .as("n_under"),
            max(col("est") - col("cnt")).as("max_err"),
            sum(col("est") - col("cnt")).as("sum_err"),
            sum(when((col("est") - col("cnt")) * 64 <= lit(2) * col("__N"),
              1L).otherwise(0L)).as("n_within_2nw"))
      },
      Some {
        val h = (j: Int) => s"(${DuckSql.hashLong(s"term || '#$j'")} % 64)"
        s"""WITH terms AS (SELECT unnest(${DuckSql.toks("text")}) AS term
        |  FROM documents),
        |js AS (SELECT unnest(generate_series(0, 1)) AS j),
        |occ AS (SELECT term, j,
        |    CASE j WHEN 0 THEN ${h(0)} ELSE ${h(1)} END AS bucket
        |  FROM terms, js),
        |sk AS (SELECT j, bucket, count(*) AS cnt FROM occ GROUP BY 1, 2),
        |ex AS (SELECT term, count(*) AS cnt FROM terms GROUP BY 1),
        |db AS (SELECT term, j,
        |    CASE j WHEN 0 THEN ${h(0)} ELSE ${h(1)} END AS bucket
        |  FROM ex, js),
        |est AS (SELECT db.term, min(sk.cnt) AS est
        |  FROM db JOIN sk USING (j, bucket) GROUP BY 1),
        |joined AS (SELECT e.term, e.est, ex.cnt FROM est e JOIN ex USING (term)),
        |n AS (SELECT sum(cnt) AS N FROM joined)
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(CASE WHEN est = cnt THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN est < cnt THEN 1 ELSE 0 END) AS BIGINT) AS n_under,
        |  CAST(max(est - cnt) AS BIGINT) AS max_err,
        |  CAST(sum(est - cnt) AS BIGINT) AS sum_err,
        |  CAST(sum(CASE WHEN (est - cnt) * 64 <= 2 * n.N THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_within_2nw
        |FROM joined, n""".stripMargin
      })
  )
}
