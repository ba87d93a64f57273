package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup, Graph, Text}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 widening: scale-pattern operators a 100 TB curation job
  * leans on beyond the core inventory — bounded-round graph traversal,
  * mergeable-sketch set algebra, two-level partial-aggregate rollup,
  * Z-order clustering for zone-map pruning, bigram language-model
  * scoring, and asymmetric (containment) near-dup detection. Every
  * query is exact/deterministic by construction so the DuckDB oracle
  * hash-verifies it, sketches included.
  */
object QueriesScaleExt {

  // mirrors QueriesDedup's LSH parameters (shared shingle space)
  private val ShingleN = 3
  private val K = 8
  private val Bands = 4

  /** DuckDB CTEs: tokens -> shingles -> signature -> band keys -> cand
    * (same construction as QueriesDedup.lshCtes; duplicated because the
    * original is private to its file — keep the two in lockstep). */
  private def lshCtes(src: String = "documents"): String = {
    val sig = (0 until K).map(j =>
      DuckSql.minhashComponent("shingles", j)).mkString("[", ", ", "]")
    val bands = (0 until Bands).map { b =>
      val rows = K / Bands
      val parts = (0 until rows).map(r => s"sig[${b * rows + r + 1}]").mkString(" || '|' || ")
      s"'$b:' || md5($parts)"
    }.mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS toks FROM $src),
       |sh AS (SELECT doc_id, list_distinct(${DuckSql.shingles("toks", ShingleN)}) AS shingles FROM t),
       |sig AS (SELECT doc_id, $sig AS sig FROM sh),
       |bands AS (SELECT doc_id, unnest($bands) AS band FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b USING (band) WHERE a.doc_id < b.doc_id)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q149: bounded-round multi-source BFS -----------------------
    // Hop distance from seed parts (id % 97 = 0) over the co-purchase
    // graph: 3 rounds of join+min — the "blast radius" / neighborhood-
    // expansion shape (contamination tracing, related-doc harvesting).
    // Integer distances and min-folds are partition-order-independent,
    // so the oracle replays every round as a chained CTE and the hash
    // check covers the whole traversal.
    QueryDef("q149_bfs_distance",
      (s, d) => Checkpoints.scoped { pin =>
        val li = lineitem(s, d).select("l_orderkey", "l_partkey")
        // lay the edge frame out ONCE (Graph.layoutEdges) — seeds and
        // the BFS rounds all read the same checkpointed layout; passing
        // it back through boundedBfs without assumeLaidOut would
        // materialize the O(|E|) frame twice
        val e = pin.keep(Graph.layoutEdges(
          li.withColumnRenamed("l_partkey", "src")
            .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
            .where(col("src") =!= col("dst")),
          "src", "dst", layoutKey = "dst"))
        val seeds = e.select(col("src").as("id")).where(col("id") % 97 === 0)
        Graph.boundedBfs(e, "src", "dst", seeds, hops = 3, assumeLaidOut = true)
          .select(col("id").as("part_id"), col("dist"))
          .orderBy("part_id")
      },
      Some {
        def round_(prev: String, curr: String) =
          s"""$curr AS (SELECT id, min(dist) AS dist FROM (
          |    SELECT id, dist FROM $prev
          |    UNION ALL
          |    SELECT e.dst AS id, $prev.dist + 1 AS dist
          |    FROM e JOIN $prev ON $prev.id = e.src) GROUP BY 1)"""
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey != b.l_partkey),
        |d0 AS (SELECT DISTINCT src AS id, CAST(0 AS BIGINT) AS dist
        |    FROM e WHERE src % 97 = 0),
        |${round_("d0", "d1")},
        |${round_("d1", "d2")},
        |${round_("d2", "d3")}
        |SELECT id AS part_id, dist FROM d3 ORDER BY part_id""".stripMargin
      }),

    // ---- q150: KMV sketch set algebra (union / intersection) --------
    // Distinct-token cardinality of two corpora AND their union /
    // intersection from k-minimum-values sketches — the mergeable-
    // sketch property that makes cross-partition (and cross-dataset)
    // distinct counting a fixed-size problem at 100 TB: a KMV union is
    // just the k smallest of the concatenated sketches, and the
    // intersection estimate is Jaccard-over-the-union-sketch x the
    // union estimate. md5 hashing makes every sketch member — and so
    // the estimates themselves — engine-identical and hash-verifiable
    // (exact counts ride along for calibration).
    QueryDef("q150_kmv_setops",
      (s, d) => {
        val SK = 64
        // sketch the 3-gram shingle space (the synthetic corpus has a
        // ~31-word vocabulary — smaller than any useful k — but
        // thousands of distinct shingles at every SF)
        // tokenize once behind an exchange barrier (shingleRows
        // discipline — CollapseProject otherwise re-runs the regexp
        // tokenization per shingle-slice lambda, ~10x this explode)
        val toks = documents(s, d)
          .where(col("lang").isin("en", "de"))
          .select(col("lang"), col("doc_id"),
            Text.tokens(col("text")).as("__toks"))
          .repartition(col("doc_id"))
          .select(col("lang"),
            explode(Dedup.wordShingles(col("__toks"), ShingleN)).as("w"))
        // distinct (lang, hash) rows — the sketch input space
        val hashes = toks.select(col("lang"), md5(col("w")).as("h")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        def hLong(c: org.apache.spark.sql.Column) =
          conv(substring(c, 1, 8), 16, 10).cast("long")
        // per-language kth minimum: per-key top-k (rank window is
        // partitioned by lang — parallel across keys, never global)
        val kth = hashes
          .withColumn("rn", row_number().over(Window.partitionBy("lang").orderBy("h")))
          .where(col("rn") === SK)
          .select(col("lang"), hLong(col("h")).as("kth"))
        val estA = kth.where(col("lang") === "en").select(
          round(lit((SK - 1).toDouble * 4294967296.0) / col("kth").cast("double"), 4)
            .as("est_en"))
        val estB = kth.where(col("lang") === "de").select(
          round(lit((SK - 1).toDouble * 4294967296.0) / col("kth").cast("double"), 4)
            .as("est_de"))
        // union sketch: k smallest distinct hashes over both corpora
        // (TakeOrderedAndProject — no global window)
        val uni = hashes.select("h").distinct().orderBy("h").limit(SK)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val estU = uni.agg(max(hLong(col("h"))).as("kth")).select(
          round(lit((SK - 1).toDouble * 4294967296.0) / col("kth").cast("double"), 4)
            .as("est_union"))
        // Jaccard over the union sketch: members present in BOTH sets
        val jn = uni
          .join(hashes.where(col("lang") === "en").select(col("h")), Seq("h"), "left_semi")
          .join(hashes.where(col("lang") === "de").select(col("h")), Seq("h"), "left_semi")
          .agg(count(lit(1)).as("j_num"))
        val exact = hashes.agg(
          count_distinct(when(col("lang") === "en", col("h"))).as("exact_en"),
          count_distinct(when(col("lang") === "de", col("h"))).as("exact_de"),
          count_distinct(col("h")).as("exact_union"))
        // single-row scalar frames — broadcast crossJoin is the
        // established scalar-combination shape, not a cartesian product
        estA.crossJoin(broadcast(estB)).crossJoin(broadcast(estU))
          .crossJoin(broadcast(jn)).crossJoin(broadcast(exact))
          .select(col("est_en"), col("est_de"), col("est_union"),
            col("j_num").cast("bigint").as("j_num"),
            round(col("j_num") / lit(SK.toDouble) * col("est_union"), 4)
              .as("est_intersection"),
            col("exact_en"), col("exact_de"), col("exact_union"))
      },
      Some {
        val SK = 64
        val est = (kth: String) => s"round(63.0 * 4294967296.0 / CAST($kth AS DOUBLE), 4)"
        s"""WITH tk AS (SELECT lang, ${DuckSql.toks("text")} AS toks
        |    FROM documents WHERE lang IN ('en', 'de')),
        |sgl AS (SELECT lang, unnest(${DuckSql.shingles("toks", ShingleN)}) AS w FROM tk),
        |h AS (SELECT DISTINCT lang, md5(w) AS h FROM sgl),
        |ken AS (SELECT h FROM h WHERE lang = 'en' ORDER BY h LIMIT $SK),
        |kde AS (SELECT h FROM h WHERE lang = 'de' ORDER BY h LIMIT $SK),
        |ku AS (SELECT DISTINCT h FROM h ORDER BY h LIMIT $SK),
        |kth AS (SELECT
        |    (SELECT ${DuckSql.hexLong("max(h)")} FROM ken) AS kth_en,
        |    (SELECT ${DuckSql.hexLong("max(h)")} FROM kde) AS kth_de,
        |    (SELECT ${DuckSql.hexLong("max(h)")} FROM ku) AS kth_u),
        |j AS (SELECT count(*) AS j_num FROM ku
        |  WHERE h IN (SELECT h FROM h WHERE lang = 'en')
        |    AND h IN (SELECT h FROM h WHERE lang = 'de')),
        |ex AS (SELECT
        |    count(DISTINCT CASE WHEN lang = 'en' THEN h END) AS exact_en,
        |    count(DISTINCT CASE WHEN lang = 'de' THEN h END) AS exact_de,
        |    count(DISTINCT h) AS exact_union FROM h)
        |SELECT ${est("kth_en")} AS est_en, ${est("kth_de")} AS est_de,
        |  ${est("kth_u")} AS est_union, j_num,
        |  round(CAST(j_num AS DOUBLE) / $SK.0 * ${est("kth_u")}, 4) AS est_intersection,
        |  exact_en, exact_de, exact_union
        |FROM kth, j, ex""".stripMargin
      }),

    // ---- q151: two-level partial-aggregate rollup -------------------
    // Monthly revenue statistics computed FROM daily partial
    // aggregates (count / decimal sum / sum-of-squares / min / max)
    // rather than from the base rows — the algebraic-merge property
    // that incremental 100 TB rollup maintenance depends on: yesterday
    // never gets re-scanned, the month is a merge of 31 partials. The
    // oracle computes the months DIRECTLY from orders, so the hash
    // match IS the proof that the two-level merge loses nothing.
    QueryDef("q151_reaggregation",
      (s, d) => {
        val p = col("o_totalprice").cast("decimal(18,2)")
        val daily = orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("cnt"), sum(p).as("s"),
            sum(p * p).as("ss"), min(p).as("mn"), max(p).as("mx"))
        val monthly = daily
          .groupBy(trunc(col("day"), "month").as("month"))
          .agg(sum(col("cnt")).as("n"), sum(col("s")).as("s"),
            sum(col("ss")).as("ss"), min(col("mn")).as("mn"),
            max(col("mx")).as("mx"))
        val n = col("n").cast("double")
        val sD = col("s").cast("double")
        val ssD = col("ss").cast("double")
        // n=1 months: Spark double/0.0 = Infinity but DuckDB = NaN —
        // an undefined deviation must be NULL, not an engine artifact.
        // Stddev (not variance): variance of ~1.5e5-scale prices is
        // ~2e10, and rounding THAT to 6 decimals needs v*1e6 ≈ 2e16 >
        // 2^53 — past double precision, where the engines' round()
        // paths legitimately disagree. sqrt brings the magnitude back
        // to where 6-decimal rounding is well inside the mantissa.
        monthly.select(col("month"),
            col("n").cast("bigint").as("n_orders"),
            round(sD / n, 6).as("mean_price"),
            when(col("n") > 1,
              round(sqrt((ssD - sD * sD / n) / (n - lit(1.0))), 6)).as("sd_price"),
            col("mn").cast("double").as("min_price"),
            col("mx").cast("double").as("max_price"))
          .orderBy("month")
      },
      Some("""SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
        |  count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*), 6) + 0 AS mean_price,
        |  CASE WHEN count(*) > 1 THEN
        |    round(sqrt((CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
        |          * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |        - CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |          * CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*))
        |      / (count(*) - 1.0)), 6) + 0 END AS sd_price,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q152: Z-order clustering + zone-map span audit -------------
    // Bit-interleave two 8-bit dimensions (customer bucket x order
    // day) into a Z-value, range-bucket rows by Z, and report each
    // bucket's min/max along BOTH dimensions — the locality property
    // that makes multi-column data skipping work: a Z-range bucket
    // bounds every interleaved dimension (span <= 63 of 255 here, ==
    // fixing 2 high bits per dimension), where a lexicographic sort
    // bounds only the leading one. The interleave is integer div/mod
    // on non-negative values (bit-identical in any engine), buckets
    // are static Z-ranges (no global window), and the whole layout
    // decision is hash-verified.
    QueryDef("q152_zorder_layout",
      (s, d) => {
        val base = orders(s, d).select(
          (col("o_custkey") % 256).cast("long").as("x"),
          (datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date")) % 256)
            .cast("long").as("y"))
        val z = (0 until 8).map { i =>
          expr(s"((x div ${1L << i}) % 2) * ${1L << (2 * i)}" +
            s" + ((y div ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
        }.reduce(_ + _)
        base.withColumn("z", z)
          .withColumn("bucket", expr("z div 4096"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_rows"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
          .orderBy("bucket")
      },
      Some {
        val z = (0 until 8).map { i =>
          s"((x // ${1L << i}) % 2) * ${1L << (2 * i)}" +
            s" + ((y // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
        }.mkString("(", " + ", ")")
        s"""WITH base AS (SELECT
        |    CAST(o_custkey % 256 AS BIGINT) AS x,
        |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256 AS BIGINT) AS y
        |  FROM orders),
        |zed AS (SELECT x, y, $z AS z FROM base)
        |SELECT z // 4096 AS bucket, count(*) AS n_rows,
        |  min(x) AS min_x, max(x) AS max_x,
        |  min(y) AS min_y, max(y) AS max_y
        |FROM zed GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ---- q153: bigram language-model scoring ------------------------
    // Per-document mean negative log2 bigram probability (perplexity's
    // log form) against a model trained on the corpus itself — the
    // classic LM-based quality filter (high score = improbable word
    // sequences = boilerplate/garbled text). Probabilities are exact
    // integer-count ratios; the per-doc sum is an ORDER-PINNED fold
    // over bigram-sorted terms (q132's discipline: log2 terms have no
    // exact representation, so both engines add them in the same
    // order), making a transcendental-heavy score hash-verifiable.
    QueryDef("q153_bigram_score",
      (s, d) => {
        val t = documents(s, d).where(col("doc_id") < 300)
          .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
        val bgs = t.select(col("doc_id"),
            explode(zip_with(
              slice(col("tk"), lit(1), greatest(size(col("tk")) - 1, lit(0))),
              slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(0))),
              (a, b) => concat(a, lit("#"), b))).as("bg"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val global = bgs.groupBy("bg").agg(count(lit(1)).as("cbg"))
        val ctx = bgs.select(split(col("bg"), "#").getItem(0).as("w1"))
          .groupBy("w1").agg(count(lit(1)).as("cw1"))
        val probs = global
          .withColumn("w1", split(col("bg"), "#").getItem(0))
          .join(ctx, "w1")
          .select(col("bg"), (col("cbg").cast("double") / col("cw1").cast("double")).as("p"))
        val perDoc = bgs.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
          .join(probs, "bg")
        perDoc.groupBy("doc_id").agg(
            sum(col("c")).as("n_bigrams"),
            sort_array(collect_list(struct(col("bg"), col("c").cast("double").as("c"),
              col("p")))).as("terms"))
          .select(col("doc_id"),
            col("n_bigrams").cast("bigint").as("n_bigrams"),
            round(-aggregate(col("terms"), lit(0.0),
                (acc, s0) => acc + s0.getField("c") * log2(s0.getField("p")))
              / col("n_bigrams"), 6).as("bigram_nll"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS tk
        |    FROM documents WHERE doc_id < 300),
        |b AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(tk) - 1, 0)),
        |    i -> tk[i] || '#' || tk[i+1])) AS bg FROM t),
        |gb AS (SELECT bg, count(*) AS cbg FROM b GROUP BY 1),
        |cw AS (SELECT string_split(bg, '#')[1] AS w1, count(*) AS cw1
        |    FROM b GROUP BY 1),
        |pr AS (SELECT gb.bg,
        |    CAST(gb.cbg AS DOUBLE) / CAST(cw.cw1 AS DOUBLE) AS p
        |  FROM gb JOIN cw ON cw.w1 = string_split(gb.bg, '#')[1]),
        |dc AS (SELECT doc_id, bg, CAST(count(*) AS DOUBLE) AS c
        |    FROM b GROUP BY 1, 2),
        |a AS (SELECT dc.doc_id, CAST(sum(dc.c) AS BIGINT) AS n_bigrams,
        |    list(dc.c * log2(pr.p) ORDER BY dc.bg) AS terms
        |  FROM dc JOIN pr USING (bg) GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  round(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE), terms),
        |    (acc, x) -> acc + x) / n_bigrams, 6) + 0 AS bigram_nll
        |FROM a ORDER BY doc_id""".stripMargin)),

    // ---- q154: shingle containment (asymmetric near-dup) ------------
    // Directional overlap on LSH candidates: containment_in_a =
    // |A∩B| / |A| flags quote/subset duplication that symmetric
    // Jaccard misses (a short doc fully embedded in a long one has
    // high containment but low Jaccard). Reuses the verified
    // candidate-generation + intersection machinery of q42/q43 —
    // still never an all-pairs comparison.
    QueryDef("q154_shingle_containment",
      (s, d) => {
        val docs = documents(s, d)
        val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", ShingleN, K, Bands)
        Dedup.jaccard(pairs.select("id_a", "id_b"), docs, "doc_id", "text", ShingleN)
          .select(col("id_a"), col("id_b"), col("n_inter"),
            round(col("n_inter").cast("double") / col("sz_a"), 6).as("cont_in_a"),
            round(col("n_inter").cast("double") / col("sz_b"), 6).as("cont_in_b"))
          .where(greatest(col("cont_in_a"), col("cont_in_b")) >= 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(s"""${lshCtes()},
        |shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sz AS (SELECT doc_id, count(*) AS sz FROM shx GROUP BY 1),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
        |  FROM cand c JOIN shx a ON a.doc_id = c.id_a
        |  JOIN shx b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2),
        |cont AS (SELECT i.id_a, i.id_b, i.n_inter,
        |    round(CAST(i.n_inter AS DOUBLE) / za.sz, 6) AS cont_in_a,
        |    round(CAST(i.n_inter AS DOUBLE) / zb.sz, 6) AS cont_in_b
        |  FROM inter i JOIN sz za ON za.doc_id = i.id_a
        |    JOIN sz zb ON zb.doc_id = i.id_b)
        |SELECT * FROM cont
        |WHERE greatest(cont_in_a, cont_in_b) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    // ---- q155: per-group OLS regression from exact sums -------------
    // Slope / intercept / R² of price-on-quantity per supplier nation —
    // the feature-engineering shape (one regression per key, millions
    // of keys at 100 TB) done as ONE hash-aggregation of exact decimal
    // power sums (q70's discipline: no engine-native corr/regr whose
    // partition-order double accumulation drifts) followed by pure
    // double arithmetic. Supplier dim joins broadcast.
    QueryDef("q155_group_regression",
      (s, d) => {
        val x = col("l_quantity").cast("decimal(18,2)")
        val y = col("l_extendedprice").cast("decimal(18,2)")
        val m = lineitem(s, d)
          .join(broadcast(supplier(s, d).select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_nationkey").agg(
            count(lit(1)).cast("double").as("n"),
            sum(x).cast("double").as("sx"),
            sum(y).cast("double").as("sy"),
            sum(x * x).cast("double").as("sxx"),
            sum(y * y).cast("double").as("syy"),
            sum(x * y).cast("double").as("sxy"))
        val n = col("n")
        val cov = n * col("sxy") - col("sx") * col("sy")
        val varX = n * col("sxx") - col("sx") * col("sx")
        val varY = n * col("syy") - col("sy") * col("sy")
        val slope = cov / varX
        m.select(col("s_nationkey"),
            col("n").cast("bigint").as("n_rows"),
            round(slope, 6).as("slope"),
            round((col("sy") - slope * col("sx")) / n, 6).as("intercept"),
            round(cov * cov / (varX * varY), 6).as("r2"))
          .orderBy("s_nationkey")
      },
      Some("""WITH m AS (SELECT s_nationkey,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1)
        |SELECT s_nationkey, CAST(n AS BIGINT) AS n_rows,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0 AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) + 0 AS intercept,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0 AS r2
        |FROM m ORDER BY s_nationkey""".stripMargin)),

    // ---- q156: key-skew audit (Gini + discrete tail percentiles) ----
    // The pre-flight diagnostic for every shuffle in this inventory:
    // how skewed is the key distribution, and how heavy is the tail?
    // Computed from the COUNT-OF-COUNTS table (#keys per frequency) —
    // a few hundred rows regardless of key cardinality — so the Gini
    // rank sum Σ i·cᵢ collapses to one pass over frequency runs:
    // ranks of a run of m keys at frequency c contribute
    // c·(m·start + m(m-1)/2) in EXACT integers. Only the final Gini
    // ratio is floating point. Tail percentiles are rank-based
    // (ceil(p·n), integer formula) — no interpolation anywhere.
    QueryDef("q156_skew_audit",
      (s, d) => {
        val counts = lineitem(s, d).groupBy("l_partkey")
          .agg(count(lit(1)).as("c"))
        val cc = counts.groupBy("c").agg(count(lit(1)).as("m"))
        // global window over count-of-counts: O(distinct frequencies)
        // rows (~hundreds) — bounded, not the O(keys) anti-pattern
        val w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
        val runs = cc
          .withColumn("start", coalesce(sum("m").over(w), lit(0L)) + 1)
          .withColumn("cum", col("start") + col("m") - 1)
          .withColumn("contrib",
            col("c") * (col("m") * col("start") +
              expr("m * (m - 1) div 2")))
        val tot = runs.agg(sum("m").as("n_keys"),
          sum(col("c") * col("m")).as("total_rows"),
          sum("contrib").as("rank_sum"), max("c").as("max_count"))
        val joined = runs.crossJoin(broadcast(tot))
        val p = (q: Int) => min(when(
          col("cum") >= expr(s"($q * n_keys + 99) div 100"), col("c")))
        joined.groupBy("n_keys", "total_rows", "rank_sum", "max_count")
          .agg(p(50).as("p50_count"), p(99).as("p99_count"))
          .select(col("n_keys"), col("total_rows"), col("max_count"),
            col("p50_count"), col("p99_count"),
            round(lit(2.0) * col("rank_sum")
                / (col("n_keys").cast("double") * col("total_rows").cast("double"))
              - (col("n_keys") + lit(1L)).cast("double") / col("n_keys").cast("double"),
              6).as("gini"))
      },
      Some("""WITH counts AS (SELECT l_partkey, count(*) AS c
        |    FROM lineitem GROUP BY 1),
        |cc AS (SELECT c, count(*) AS m FROM counts GROUP BY 1),
        |runs AS (SELECT c, m,
        |    coalesce(sum(m) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS start
        |  FROM cc),
        |runs2 AS (SELECT *, start + m - 1 AS cum,
        |    c * (m * start + m * (m - 1) // 2) AS contrib FROM runs),
        |tot AS (SELECT sum(m) AS n_keys, sum(c * m) AS total_rows,
        |    sum(contrib) AS rank_sum, max(c) AS max_count FROM runs2)
        |SELECT CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(total_rows AS BIGINT) AS total_rows,
        |  CAST(max_count AS BIGINT) AS max_count,
        |  CAST((SELECT min(c) FROM runs2, tot
        |    WHERE cum >= (50 * n_keys + 99) // 100) AS BIGINT) AS p50_count,
        |  CAST((SELECT min(c) FROM runs2, tot
        |    WHERE cum >= (99 * n_keys + 99) // 100) AS BIGINT) AS p99_count,
        |  round(2.0 * CAST(rank_sum AS DOUBLE)
        |      / (CAST(n_keys AS DOUBLE) * CAST(total_rows AS DOUBLE))
        |    - CAST(n_keys + 1 AS DOUBLE) / CAST(n_keys AS DOUBLE), 6) + 0 AS gini
        |FROM tot""".stripMargin)),

    // ---- q157: multi-touch attribution with exact credit split ------
    // Linear attribution: each purchase's revenue is split across the
    // user's clicks in the prior 3 days. Credit is INTEGER cents with
    // floor-division + remainder-to-earliest (ordered by click time,
    // id) — Σ credits == cents exactly, no float pennies, partition-
    // order-independent — the money-grade determinism a revenue report
    // needs. The time-bounded join keys on user_id (never a clock
    // cross join); per-purchase windows are tiny (a user's clicks in 3
    // days).
    QueryDef("q157_attribution",
      (s, d) => {
        val ev = events(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"),
            col("ts").as("p_ts"),
            round(col("value") * 100).cast("bigint").as("cents"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id"),
            col("ts").as("c_ts"),
            (graft.ops.Events.jsonInt(col("props"), "$.k") % 4).as("channel"))
        val j = purchases.join(clicks, Seq("user_id"))
          .where(col("c_ts") <= col("p_ts") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 3 DAYS"))
        val w = Window.partitionBy("p_id")
        val wOrd = w.orderBy(col("c_ts"), col("c_id"))
        j.withColumn("k", count(lit(1)).over(w))
          .withColumn("rn", row_number().over(wOrd))
          .withColumn("credit",
            expr("cents div k") + when(col("rn") <= expr("cents % k"), 1L).otherwise(0L))
          .groupBy("channel").agg(
            count(lit(1)).as("n_credited_clicks"),
            count_distinct(col("p_id")).as("n_purchases"),
            sum("credit").as("credit_cents"))
          .orderBy("channel")
      },
      Some("""WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id, ts AS c_ts,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS channel
        |  FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.p_id, p.cents, c.c_id, c.c_ts, c.channel
        |  FROM p JOIN c USING (user_id)
        |  WHERE c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 3 DAY),
        |cr AS (SELECT channel, p_id,
        |    cents // (count(*) OVER (PARTITION BY p_id))
        |      + CASE WHEN row_number() OVER (PARTITION BY p_id ORDER BY c_ts, c_id)
        |          <= cents % (count(*) OVER (PARTITION BY p_id))
        |        THEN 1 ELSE 0 END AS credit
        |  FROM j)
        |SELECT channel, count(*) AS n_credited_clicks,
        |  count(DISTINCT p_id) AS n_purchases,
        |  CAST(sum(credit) AS BIGINT) AS credit_cents
        |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q158: kNN label-agreement audit ----------------------------
    // Training-data QA: does each probe vector's own label agree with
    // the majority label of its 3 nearest neighbors? Disagreements
    // flag mislabeled examples. Rides the verified brute-force top-k
    // (bounded probe set broadcast, corpus streamed once, map-side
    // only); majority = vote count with smallest-label tie-break, all
    // integer.
    QueryDef("q158_knn_label_check",
      (s, d) => {
        val emb = embeddings(s, d)
        val knn = graft.ops.Similarity.bruteForceTopK(
          emb, emb.where(col("vec_id") % 25 === 0), k = 3)
        val votes = knn
          .join(emb.select(col("vec_id").as("neighbor_id"),
            col("label").as("n_label")), "neighbor_id")
          .groupBy("query_id", "n_label").agg(count(lit(1)).as("votes"))
        val maj = votes.withColumn("rn", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(col("votes").desc, col("n_label").asc)))
          .where(col("rn") === 1)
          .select(col("query_id").as("vec_id"),
            col("n_label").as("knn_label"), col("votes"))
        maj.join(embeddings(s, d).select(col("vec_id"), col("label").as("own_label")),
            "vec_id")
          .select(col("vec_id"), col("own_label"),
            col("knn_label").cast("bigint").as("knn_label"),
            col("votes"),
            (col("knn_label") === col("own_label")).as("agree"))
          .orderBy("vec_id")
      },
      Some {
        val cos = DuckSql.cosine("q.embedding", "c.embedding", 64)
        s"""WITH knn AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round($cos, 4) DESC, c.vec_id) AS rn
        |    FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        |    WHERE q.vec_id % 25 = 0)
        |  WHERE rn <= 3),
        |votes AS (SELECT k.query_id, e.label AS n_label, count(*) AS votes
        |  FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
        |  GROUP BY 1, 2),
        |maj AS (SELECT query_id AS vec_id, n_label AS knn_label, votes FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY votes DESC, n_label) AS rn FROM votes)
        |  WHERE rn = 1)
        |SELECT m.vec_id, e.label AS own_label,
        |  CAST(m.knn_label AS BIGINT) AS knn_label, m.votes,
        |  m.knn_label = e.label AS agree
        |FROM maj m JOIN embeddings e ON e.vec_id = m.vec_id
        |ORDER BY m.vec_id""".stripMargin
      }),

    // ---- q160/q161: text + columnar format round trips ---------------
    // CSV and ORC written by the engine and read straight back with a
    // declared schema, hash-matched against the parquet source — the
    // lossless-ingest claim every heterogeneous 100 TB lake needs:
    // doubles survive via shortest-repr printing, timestamps via
    // session-UTC ISO strings (CSV) / native logical types (ORC). The
    // write is to a fresh per-SF directory (the caller-swap discipline
    // of Layout.compactParquet); the read declares the schema rather
    // than inferring it — schema inference is a full extra pass at
    // scale, never the default.
    QueryDef("q160_csv_roundtrip",
      (s, d) => {
        val base = lineitem(s, d).where(col("l_orderkey") % 100 === 0)
          .select("l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_returnflag", "l_shipdate")
        val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_csv_rt_${math.abs(d.hashCode)}").getPath
        base.write.mode("overwrite").option("header", "true").csv(dir)
        s.read.schema(base.schema).option("header", "true").csv(dir)
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_returnflag, l_shipdate
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef("q161_orc_roundtrip",
      (s, d) => {
        val base = orders(s, d).where(col("o_orderkey") % 100 === 0)
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate")
        val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_orc_rt_${math.abs(d.hashCode)}").getPath
        base.write.mode("overwrite").orc(dir)
        s.read.schema(base.schema).orc(dir)
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
        |  o_totalprice, o_orderdate
        |FROM orders WHERE o_orderkey % 100 = 0
        |ORDER BY o_orderkey""".stripMargin))
  )
}
