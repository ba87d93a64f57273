package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup}
import org.apache.spark.sql.functions._

/** Round-11 second batch: suffix-array construction — the exact index
  * under the exact-substring dedup family (the n-gram-window lanes
  * q170/q172 approximate what this computes exactly).
  */
object QueriesRound11b {

  private val MaxLen = 64 // per-doc prefix cap: bounds rounds at log2(64)

  val defs: Seq[QueryDef] = Seq(

    // ---- q581: suffix-array ranks by prefix doubling -------------------------------
    // Every suffix of every document's first 64 characters gets its
    // GLOBAL dense rank in suffix-sort order — built in 3 bounded
    // doubling rounds over the 8-char base fold (rank of first 2h
    // chars = dense rank of the (rank_h(i), rank_h(i+h)) pair — a
    // composite-key two-level dense rank, no integer packing, no
    // suffix-count ceiling; one equi-join + one rank pass per round,
    // no global sort, no single-partition window, per-round
    // localCheckpoints). The oracle computes the
    // SAME ranks the direct way — sort all suffix strings — so the
    // hash gate pins the entire doubling recursion: a single
    // mis-ranked pair anywhere shifts every dense rank above it.
    // Exact duplicate tails across documents share a rank in both
    // engines; that collision structure IS the suffix-array dedup
    // signal (Lee et al.), produced here without ever materializing a
    // suffix string on the Spark side — ranks are integers end to end,
    // O(positions) rows per round at any corpus size.
    QueryDef("q581_suffix_array_ranks",
      (s, d) => Dedup.suffixArrayRanks(documents(s, d), "doc_id", "text",
          MaxLen)
        .orderBy("doc_id", "pos"),
      Some(s"""WITH d AS (SELECT doc_id, substr(text, 1, $MaxLen) AS t
        |  FROM documents),
        |e AS (SELECT doc_id, t,
        |    unnest(generate_series(1, length(t))) AS j FROM d),
        |s AS (SELECT doc_id, CAST(j AS BIGINT) AS pos, substr(t, j) AS sfx
        |  FROM e)
        |SELECT doc_id, pos,
        |  CAST(dense_rank() OVER (ORDER BY sfx) AS BIGINT) AS suffix_rank
        |FROM s ORDER BY doc_id, pos""".stripMargin)),

    // ---- q582: LCP spectrum over SA-adjacent suffixes -------------------------------
    // What the suffix array is FOR: the longest-common-prefix of each
    // pair of ADJACENT distinct suffixes in SA order is the corpus's
    // complete repeated-substring inventory (any substring repeated
    // anywhere shows up as an adjacent-pair LCP — the Lee et al.
    // quantity), and its histogram is the duplicate-mass spectrum a
    // curation pipeline reads before choosing a dedup threshold.
    // Adjacency is FREE here: dense ranks are contiguous integers, so
    // the neighbor join is rank = rank + 1 — no row_number pass, no
    // sort. Rank ↔ capped-suffix-string is a bijection, so the
    // representative per rank is a plain dropDuplicates. The LCP walk
    // is a codegen'd 64-step scalar fold per pair (O(total chars) —
    // the same cost class as one more doubling round; the level-walk
    // alternative only pays off when suffixes are huge). Exact
    // duplicate suffixes (rank collisions) are counted separately —
    // that column IS the exact-tail duplicate mass.
    QueryDef("q582_suffix_lcp_spectrum",
      (s, d) => Checkpoints.scoped { pin =>
        val ranks = Dedup.suffixArrayRanks(documents(s, d), "doc_id",
          "text", MaxLen)
        val sfx = documents(s, d).select(col("doc_id"),
            substring(col("text"), 1, MaxLen).as("__t"))
          .where(length(col("__t")) > 0) // sequence(1,0)=[1,0] hazard
          .select(col("doc_id"),
            explode(expr("sequence(1, length(__t))")).as("p"), col("__t"))
          .select(col("doc_id"), col("p").cast("long").as("pos"),
            expr(s"substring(__t, p, $MaxLen)").as("sfx"))
        // both sides of the neighbor join consume it
        val reps = pin(ranks.join(sfx, Seq("doc_id", "pos"))
          .select(col("suffix_rank").as("r"), col("sfx"))
          .dropDuplicates("r"))
        val pairs = reps.select(col("r"), col("sfx").as("sa"))
          .join(reps.select((col("r") - 1).as("r"), col("sfx").as("sb")),
            Seq("r"))
          // two-level LCP fold (blocks-of-8 then chars) — same value
          // as the flat 64-step fold at ~a fifth of the substring
          // probes; see Dedup.lcpFold
          .withColumn("__b", Dedup.lcpFold("sa", "sb", MaxLen))
          .withColumn("lcp",
            (col("__b") + Dedup.lcpWithin("sa", "sb", "__b")).cast("long"))
          .drop("__b")
        val lo = expr("""CASE WHEN lcp = 0 THEN 0 WHEN lcp < 4 THEN 1
          |WHEN lcp < 8 THEN 4 WHEN lcp < 16 THEN 8 WHEN lcp < 32 THEN 16
          |WHEN lcp < 64 THEN 32 ELSE 64 END""".stripMargin)
        // ONE pass over the pair frame: the histogram row count and
        // the global max ride the same O(buckets) aggregate (the
        // audit previously re-ran the neighbor join + LCP fold;
        // grouped is ≤ 7 rows, so the ckpt is a no-cost fan-out
        // point), and n_duplicate_suffixes = positions − distinct
        // ranks reuses the already-materialized reps frame instead of
        // a countDistinct re-scan
        val grouped = pin(pairs.withColumn("lcp_lo", lo)
          .groupBy("lcp_lo").agg(count(lit(1)).as("n_pairs"),
            max("lcp").as("__gmax")))
        val dist = grouped.select("lcp_lo", "n_pairs")
        val audit = grouped.agg(max("__gmax").as("max_lcp"))
          .crossJoin(ranks.agg(count(lit(1)).as("__np"))
            .crossJoin(reps.agg(count(lit(1)).as("__nr")))
            .select((col("__np") - col("__nr"))
              .as("n_duplicate_suffixes")))
        dist.crossJoin(audit).orderBy("lcp_lo")
      },
      Some(s"""WITH d AS (SELECT doc_id, substr(text, 1, $MaxLen) AS t
        |  FROM documents),
        |e AS (SELECT doc_id, t,
        |    unnest(generate_series(1, length(t))) AS j FROM d),
        |rk AS (SELECT substr(t, j) AS sfx,
        |    dense_rank() OVER (ORDER BY substr(t, j)) AS r FROM e),
        |reps AS (SELECT DISTINCT r, sfx FROM rk),
        |lcps AS (SELECT list_max(list_transform(
        |    generate_series(1, $MaxLen),
        |    k -> CASE WHEN substr(a.sfx, 1, k) = substr(b.sfx, 1, k)
        |         THEN k ELSE 0 END)) AS lcp
        |  FROM reps a JOIN reps b ON b.r = a.r + 1),
        |dist AS (SELECT CASE WHEN lcp = 0 THEN 0 WHEN lcp < 4 THEN 1
        |    WHEN lcp < 8 THEN 4 WHEN lcp < 16 THEN 8 WHEN lcp < 32 THEN 16
        |    WHEN lcp < 64 THEN 32 ELSE 64 END AS lcp_lo,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM lcps GROUP BY 1),
        |audit AS (SELECT CAST(max(lcp) AS BIGINT) AS max_lcp FROM lcps),
        |dups AS (SELECT CAST(count(*) - count(DISTINCT r) AS BIGINT)
        |    AS n_duplicate_suffixes FROM rk)
        |SELECT dist.lcp_lo, dist.n_pairs, audit.max_lcp,
        |  dups.n_duplicate_suffixes
        |FROM dist, audit, dups ORDER BY dist.lcp_lo""".stripMargin)),

    // ---- q583: tar shard walk — the WebDataset container -----------------------------
    // Training corpora ship as tar shards of (key.txt, key.cls,
    // key.bin…) entries — the WebDataset convention — and the ingest
    // side must LIST a shard without reading payloads: walk the
    // 512-byte ustar headers (magic + space-seeded checksum + octal
    // size), skip padded content, quarantine poisoned shards as data
    // (every 13th shard here is truncated mid-entry and must surface
    // as a named error row, never a task failure). Shards synthesize
    // deterministically per doc (3 entries with doc-derived sizes), so
    // the oracle mirrors the synthesis arithmetic: per-extension entry
    // counts and payload byte sums over exactly the valid shards, plus
    // the corruption ledger.
    QueryDef("q583_tar_shard_walk",
      (s, d) => {
        val mk = udf { (id: Long) =>
          def content(n: Int) =
            Array.tabulate[Byte](n)(i => ((id + i) % 251).toByte)
          val full = graft.ops.Multimodal.makeTar(Seq(
            (s"$id.txt", content((5 + id % 7).toInt)),
            (s"$id.cls", content(1)),
            (s"$id.bin", content((1 + id % 29).toInt))))
          if (id % 13 == 0) full.take(600) else full
        }
        val walked = documents(s, d)
          .select(col("doc_id"), mk(col("doc_id")).as("b"))
          .withColumn("w", graft.ops.Multimodal.tarWalk(col("b")))
        val good = walked.where(col("w.valid"))
          .select(explode(col("w.entries")).as("e"))
          .select(expr("substring_index(e.name, '.', -1)").as("ext"),
            col("e.size").as("sz"))
        val audit = walked.agg(count(lit(1)).as("n_shards"),
          sum((!col("w.valid")).cast("long")).as("n_bad_shards"),
          sum((col("w.err") === "truncated").cast("long"))
            .as("n_truncated"))
        good.groupBy("ext")
          .agg(count(lit(1)).as("n_entries"), sum("sz").as("sum_bytes"))
          .crossJoin(audit)
          .orderBy("ext")
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents),
        |v AS (SELECT doc_id, 5 + doc_id % 7 AS txt_sz, 1 AS cls_sz,
        |    1 + doc_id % 29 AS bin_sz
        |  FROM ids WHERE doc_id % 13 != 0),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_shards,
        |    CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_bad_shards,
        |    CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_truncated
        |  FROM ids)
        |SELECT e.ext, e.n_entries, e.sum_bytes,
        |  a.n_shards, a.n_bad_shards, a.n_truncated
        |FROM (
        |  SELECT 'bin' AS ext, CAST(count(*) AS BIGINT) AS n_entries,
        |    CAST(sum(bin_sz) AS BIGINT) AS sum_bytes FROM v
        |  UNION ALL
        |  SELECT 'cls', CAST(count(*) AS BIGINT),
        |    CAST(sum(cls_sz) AS BIGINT) FROM v
        |  UNION ALL
        |  SELECT 'txt', CAST(count(*) AS BIGINT),
        |    CAST(sum(txt_sz) AS BIGINT) FROM v) e, a
        |ORDER BY e.ext""".stripMargin))
  )
}
