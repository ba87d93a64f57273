package graft.queries

import graft.ops.{Checkpoints, Dedup, Sampling, Text}
import graft.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 curation-report widening: the audit/planning queries a
  * training-data pipeline runs AROUND its operators — domain
  * blocklisting, duplicate-cluster audits, cross-source duplication,
  * deterministic curriculum ordering, tokenizer fertility, and epoch
  * planning. All integer-exact or md5-deterministic, each replayed by
  * the DuckDB oracle.
  */
object QueriesRound6b {

  val defs: Seq[QueryDef] = Seq(

    // ---- q193: domain blocklist gate ---------------------------------
    // The UT1-style URL filter: each document carries a synthesized
    // source URL, its registered domain is extracted and anti-matched
    // against a blocklist TABLE (here derived deterministically:
    // sources whose md5-hash lands in the bottom quarter of the hash
    // space — at production scale this is a read of the blocklist
    // file). Per language: total, blocked, kept. The blocklist is
    // domain-cardinality small, so it rides a broadcast left join and
    // the corpus is scanned exactly once.
    QueryDef("q193_blocklist_gate",
      (s, d) => {
        val docs = documents(s, d).withColumn("url",
          concat(lit("https://"), col("source"), lit(".example.com/doc/"),
            col("doc_id")))
        val withDom = docs.withColumn("domain",
          regexp_extract(col("url"), "^https?://([^/]+)/", 1))
        val block = documents(s, d).select("source").distinct()
          .where(Sampling.hashLong(col("source")) % 4 === 0)
          .select(concat(col("source"), lit(".example.com")).as("bdomain"))
        withDom.join(broadcast(block),
            col("domain") === col("bdomain"), "left")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("bdomain").isNotNull, 1L).otherwise(0L))
              .as("n_blocked"),
            sum(when(col("bdomain").isNull, 1L).otherwise(0L)).as("n_kept"))
          .orderBy("lang")
      },
      Some(s"""WITH u AS (SELECT lang,
        |    regexp_extract('https://' || source || '.example.com/doc/'
        |      || CAST(doc_id AS VARCHAR), '^https?://([^/]+)/', 1) AS domain
        |  FROM documents),
        |b AS (SELECT DISTINCT source || '.example.com' AS bdomain
        |  FROM documents WHERE ${DuckSql.hashLong("source")} % 4 = 0)
        |SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN bdomain IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_blocked,
        |  CAST(sum(CASE WHEN bdomain IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept
        |FROM u LEFT JOIN b ON u.domain = b.bdomain
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- q194: duplicate-cluster size audit --------------------------
    // The dedup monitoring report: contract the banded-LSH candidate
    // relation (q42's operator — the scale-path dedup relation) to
    // connected components and report the cluster-size distribution —
    // n_clusters and n_docs per size, plus the size-1 row for
    // documents in no pair (computed as corpus total minus grouped
    // docs: one broadcast scalar, never a corpus-wide anti-join). The
    // shape a 100 TB dedup run's health check takes: cluster counts
    // are O(clusters) rows, and a sudden mega-cluster (boilerplate
    // explosion) shows up as a new tail row.
    QueryDef("q194_dup_cluster_audit",
      (s, d) => Checkpoints.scoped { _ =>
        val docs = documents(s, d)
        val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text",
            QueriesDedup.ShingleN, QueriesDedup.K, QueriesDedup.Bands)
          .select("id_a", "id_b")
        val groups = Dedup.duplicateGroupsStar(pairs, maxIter = 20)
        val sizes = groups.groupBy("group_id")
          .agg(count(lit(1)).as("cluster_size"))
        val hist = sizes.groupBy("cluster_size")
          .agg(count(lit(1)).as("n_clusters"),
            sum("cluster_size").as("n_docs"))
        val grouped = sizes.agg(
          coalesce(sum("cluster_size"), lit(0L)).as("__g"))
        val total = docs.agg(count(lit(1)).as("__t"))
        val singletons = total.crossJoin(broadcast(grouped))
          .select(lit(1L).as("cluster_size"),
            (col("__t") - col("__g")).as("n_clusters"),
            (col("__t") - col("__g")).as("n_docs"))
        hist.unionByName(singletons).orderBy("cluster_size")
      },
      Some(s"""${QueriesDedup.lshCtes().replaceFirst("WITH ", "WITH RECURSIVE ")},
        |${DuckSql.ccGroupCtes},
        |sz AS (SELECT group_id, count(*) AS cluster_size FROM grp GROUP BY 1),
        |h AS (SELECT cluster_size, count(*) AS n_clusters,
        |    CAST(sum(cluster_size) AS BIGINT) AS n_docs
        |  FROM sz GROUP BY 1),
        |single AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
        |  (SELECT count(*) FROM documents)
        |    - coalesce((SELECT sum(cluster_size) FROM sz), 0) AS n_clusters,
        |  (SELECT count(*) FROM documents)
        |    - coalesce((SELECT sum(cluster_size) FROM sz), 0) AS n_docs)
        |SELECT cluster_size, CAST(n_clusters AS BIGINT) AS n_clusters,
        |  CAST(n_docs AS BIGINT) AS n_docs
        |FROM (SELECT * FROM h UNION ALL SELECT * FROM single)
        |ORDER BY cluster_size""".stripMargin)),

    // ---- q195: deterministic curriculum interleave -------------------
    // Training-order planning without a global sort: rank documents
    // within each source by quality proxy (n_chars desc, doc_id
    // tie-break — a per-source window), index the SOURCE DOMAIN with a
    // tiny window over its distinct values, and compute each doc's
    // curriculum position as (rank-1)*n_sources + source_idx — a
    // stratified round-robin that interleaves every source's best
    // documents first. The only windows run per-source and over the
    // O(sources) domain frame; the corpus itself is never globally
    // sorted (positions are computed, not assigned by order). First
    // 100 positions returned.
    QueryDef("q195_curriculum_interleave",
      (s, d) => {
        val docs = documents(s, d)
        val ranked = docs.withColumn("rk",
          row_number().over(Window.partitionBy("source")
            .orderBy(col("n_chars").desc, col("doc_id"))))
        val srcIdx = docs.select("source").distinct()
          .withColumn("src_idx",
            row_number().over(Window.orderBy("source")) - 1)
        val nSrc = srcIdx.agg(count(lit(1)).as("__n"))
        val positioned = ranked.join(broadcast(srcIdx), "source")
          .crossJoin(broadcast(nSrc))
          .select(((col("rk") - 1) * col("__n") + col("src_idx"))
              .cast("long").as("pos"),
            col("doc_id"), col("source"), col("n_chars"))
        graft.ops.Relational.topK(positioned, Seq(col("pos").asc), 100)
      },
      Some("""WITH r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents),
        |s AS (SELECT source,
        |    row_number() OVER (ORDER BY source) - 1 AS src_idx
        |  FROM (SELECT DISTINCT source FROM documents)),
        |n AS (SELECT count(*) AS n_src FROM s)
        |SELECT CAST((rk - 1) * n_src + src_idx AS BIGINT) AS pos,
        |  doc_id, r.source, n_chars
        |FROM r JOIN s ON r.source = s.source, n
        |ORDER BY pos LIMIT 100""".stripMargin)),

    // ---- q196: tokenizer fertility profile ---------------------------
    // The tokenizer-audit table: per language, whitespace words vs
    // BPE-style sub-word pieces (letter runs / digit runs / single
    // punctuation — Text.subwordTokens), fertility = pieces per word
    // and compression = chars per piece, both in integer micro-units
    // (one division at the end of exact BIGINT sums). High fertility
    // flags languages the tokenizer splinters — the signal that drives
    // per-language token budgeting (q181/q187).
    QueryDef("q196_tokenizer_fertility",
      (s, d) => documents(s, d)
        .select(col("lang"), col("n_chars"),
          size(Text.tokens(col("text"))).cast("long").as("__w"),
          size(Text.subwordTokens(col("text"))).cast("long").as("__p"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("__w").as("n_words"),
          sum("__p").as("n_pieces"),
          expr("sum(__p) * 1000000L div sum(__w)").as("fertility_micro"),
          expr("sum(n_chars) * 1000000L div sum(__p)")
            .as("chars_per_piece_micro"))
        .orderBy("lang"),
      Some(s"""WITH t AS (SELECT lang, n_chars,
        |    len(${DuckSql.toks("text")}) AS w,
        |    len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS p
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_words,
        |  CAST(sum(p) AS BIGINT) AS n_pieces,
        |  CAST(sum(p) * 1000000 // sum(w) AS BIGINT) AS fertility_micro,
        |  CAST(sum(n_chars) * 1000000 // sum(p) AS BIGINT)
        |    AS chars_per_piece_micro
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- q197: epoch / upsampling plan -------------------------------
    // Mixture execution's other half: given a uniform per-source token
    // budget (2M total over the source domain), how many epochs of
    // each source does the budget imply? avail = source's token count,
    // quota = budget div n_sources (uniform split), epochs =
    // ceil(quota/avail), upsample_micro = quota*1e6 div avail, and the
    // repeated-token overshoot — all BIGINT. One hash-agg over
    // per-doc token counts + two broadcast scalars; the q181 planner
    // picks WEIGHTED quotas, this reports the repetition cost of
    // executing them.
    QueryDef("q197_epoch_plan",
      (s, d) => {
        val per = documents(s, d)
          .select(col("source"),
            size(Text.tokens(col("text"))).cast("long").as("__t"))
          .groupBy("source").agg(sum("__t").as("avail_tokens"))
        val nSrc = per.agg(count(lit(1)).as("__n"))
        per.crossJoin(broadcast(nSrc))
          .select(col("source"), col("avail_tokens"),
            expr("2000000L div __n").as("quota_tokens"),
            expr("(2000000L div __n + avail_tokens - 1L) div avail_tokens")
              .as("epochs"),
            expr("(2000000L div __n) * 1000000L div avail_tokens")
              .as("upsample_micro"),
            greatest(expr("2000000L div __n - avail_tokens"), lit(0L))
              .as("repeated_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH per AS (SELECT source,
        |    CAST(sum(len(${DuckSql.toks("text")})) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY 1),
        |n AS (SELECT count(*) AS n_src FROM per)
        |SELECT source, avail_tokens,
        |  CAST(2000000 // n_src AS BIGINT) AS quota_tokens,
        |  CAST((2000000 // n_src + avail_tokens - 1) // avail_tokens
        |    AS BIGINT) AS epochs,
        |  CAST((2000000 // n_src) * 1000000 // avail_tokens AS BIGINT)
        |    AS upsample_micro,
        |  CAST(greatest(2000000 // n_src - avail_tokens, 0) AS BIGINT)
        |    AS repeated_tokens
        |FROM per, n ORDER BY source""".stripMargin)),

    // ---- q198: cross-source duplication matrix -----------------------
    // Which sources duplicate each other: the q42 MinHash-LSH
    // candidate relation joined back to each side's source, counted
    // per (source_a, source_b) — the provenance report that catches a
    // mirror site or a scraped re-post pipeline. Source attribution is
    // two broadcast joins of the O(sources)-keyed doc->source map onto
    // the candidate pairs; the pair relation itself is the verified
    // banded-LSH bucket join (never doc x doc).
    QueryDef("q198_cross_source_dups",
      (s, d) => {
        val docs = documents(s, d)
        val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text",
          QueriesDedup.ShingleN, QueriesDedup.K, QueriesDedup.Bands)
        val srcOf = docs.select(col("doc_id"), col("source"))
        pairs
          .join(srcOf.select(col("doc_id").as("id_a"),
            col("source").as("__sa")), "id_a")
          .join(srcOf.select(col("doc_id").as("id_b"),
            col("source").as("__sb")), "id_b")
          .select(least(col("__sa"), col("__sb")).as("source_a"),
            greatest(col("__sa"), col("__sb")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""${QueriesDedup.lshCtes()}
        |SELECT least(da.source, db.source) AS source_a,
        |  greatest(da.source, db.source) AS source_b,
        |  count(*) AS n_pairs
        |FROM cand c JOIN documents da ON da.doc_id = c.id_a
        |JOIN documents db ON db.doc_id = c.id_b
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- q199: ordered sharding via two-level row number -------------
    // Deterministic training-order indices + shard assignment WITHOUT
    // a global sort: Relational.twoLevelRowNumber computes each doc's
    // 1-based position in doc_id order from a per-coarse-range
    // partitioned window plus broadcast range offsets (the
    // twoLevelCumSum discipline applied to ranking — the only
    // global-order window runs over the O(domain/64) range counts).
    // shard = (seq-1) div 50: contiguous 50-doc shards in key order,
    // the packed-file assignment a 100 TB export writes. The oracle is
    // the plain global window the operator refuses to run.
    QueryDef("q199_ordered_sharding",
      (s, d) => graft.ops.Relational
        .twoLevelRowNumber(
          documents(s, d).select("doc_id", "source"), "doc_id", 64L)
        .select(col("doc_id"), col("source"), col("seq"),
          expr("(seq - 1L) div 50L").as("shard_id"))
        .orderBy("seq"),
      Some("""SELECT doc_id, source,
        |  row_number() OVER (ORDER BY doc_id) AS seq,
        |  (row_number() OVER (ORDER BY doc_id) - 1) // 50 AS shard_id
        |FROM documents ORDER BY seq""".stripMargin)))
}
