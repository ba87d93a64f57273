package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Events, Graph}
import org.apache.spark.sql.functions._

/** Round-7 ninth batch: landmark harmonic centrality (seed-keyed
  * bounded BFS — the reachability-weighted importance readout), corpus
  * language diversity (Gini–Simpson, the sqrt/log-free diversity
  * index), the nearest-VALUE join (asofJoin's numeric sibling, sweep
  * not theta), and a Unicode NFC normalization audit over planted
  * decomposed strings.
  */
object QueriesRound7i {

  val defs: Seq[QueryDef] = Seq(

    // ---- q319: landmark harmonic centrality (3 hops) -------------------
    // Closeness-style importance without all-pairs BFS: a FIXED-k
    // landmark set (the 64 smallest md5(id) — the standard
    // hash-chosen landmark-centrality practice: deterministic,
    // uniform over nodes, oracle-replayable) runs one seed-keyed
    // traversal — the distance frame is (seed, id, dist) with min
    // folds, so the oracle replays the rounds as chained CTEs (the
    // q149 discipline with a seed column). harmonic(seed) =
    // Σ_reached 10⁶ div dist — exact integers for small hop counts
    // (10⁶, 5·10⁵, 333333). Per-round shape: one equi-join + one
    // (seed,id) hash-agg, edge frame laid out once. The fixed budget
    // is the scale posture: the r8 seed rule (id % 499) grew the
    // landmark count ∝ |V|, making total traversal work
    // O(|V|/499 × frontier) — superlinear in corpus size BY DESIGN;
    // k = 64 makes it O(k × frontier) at any scale, and the top-k
    // seed pick itself is a TakeOrderedAndProject (per-partition
    // heads, never a global sort).
    QueryDef("q319_harmonic_centrality",
      (s, d) => Checkpoints.scoped { pin =>
        val li = lineitem(s, d).select("l_orderkey", "l_partkey")
        val e = pin.keep(Graph.layoutEdges(
          li.withColumnRenamed("l_partkey", "src")
            .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
            .where(col("src") =!= col("dst")),
          "src", "dst", layoutKey = "src"))
        // Graph.seededBfsBitmask owns the loop — the MS-BFS form (Then
        // et al., VLDB'15): the 64 landmarks ride ONE 64-bit mask per
        // node, so each round moves O(|V|) longs instead of the
        // O(64·|V|) (seed, id, dist) rows the row form moves (measured
        // 10.0 -> 7.5 s isolated at sf0.1, slope 0.67 -> 0.30 — the
        // BASELINE r9 note), with the same size-guarded broadcast. First-discovery round IS the min hop distance
        // under unit weights, so the per-(seed, node) distances — and
        // the harmonic readout — are identical to the row form the
        // oracle replays (GraphSpec pins the two forms equal).
        val seeds = e.select(col("src").as("id")).distinct()
          .orderBy(md5(col("id").cast("string")))
          .limit(64)
          .withColumn("bit", (row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(md5(col("id").cast("string")))) - 1).cast("int"))
        val reach = Graph.seededBfsBitmask(e, "src", "dst", seeds,
          hops = 3, assumeLaidOut = true)
        val bits = s.range(64).select(col("id").cast("int").as("bit"))
        reach.where(col("round") > 0)
          .join(broadcast(bits),
            expr("((new_mask >> bit) & 1) = 1"))
          .join(broadcast(seeds.select(col("id").as("seed"), col("bit"))),
            "bit")
          .groupBy("seed")
          .agg(count(lit(1)).as("n_reached"),
            sum(expr("1000000 div round")).as("harmonic_micro"))
          .orderBy("seed")
      },
      Some {
        def round_(prev: String, curr: String) =
          s"""$curr AS (SELECT seed, id, min(dist) AS dist FROM (
          |    SELECT seed, id, dist FROM $prev
          |    UNION ALL
          |    SELECT $prev.seed, e.dst AS id, $prev.dist + 1 AS dist
          |    FROM e JOIN $prev ON $prev.id = e.src) GROUP BY 1, 2)"""
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey != b.l_partkey),
        |lm AS (SELECT src AS seed FROM (SELECT DISTINCT src FROM e)
        |    ORDER BY md5(CAST(src AS VARCHAR)) LIMIT 64),
        |d0 AS (SELECT seed, seed AS id, CAST(0 AS BIGINT) AS dist
        |    FROM lm),
        |${round_("d0", "d1")},
        |${round_("d1", "d2")},
        |${round_("d2", "d3")}
        |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
        |  CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_micro
        |FROM d3 WHERE dist > 0 GROUP BY 1 ORDER BY seed""".stripMargin
      }),

    // ---- q320: language diversity per source (Gini–Simpson) ------------
    // The diversity index that stays exact: Gini–Simpson 1 − Σp² needs
    // no log or sqrt — gs_ppm = (N² − Σc²)·10⁶ div N², and the
    // effective number of languages (inverse Simpson) =
    // N²·10⁶ div Σc² in micro. One aggregation to the O(source×lang)
    // frame, one fold to O(source); a mixture's "how concentrated is
    // this source" gate.
    QueryDef("q320_language_diversity",
      (s, d) => documents(s, d)
        .groupBy("source", "lang").agg(count(lit(1)).as("__c"))
        .groupBy("source")
        .agg(sum("__c").as("n_docs"),
          count(lit(1)).as("n_langs"),
          sum(col("__c") * col("__c")).as("__ss"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          expr("((n_docs * n_docs - __ss) * 1000000)"
            + " div (n_docs * n_docs)").as("gini_simpson_ppm"),
          expr("(n_docs * n_docs * 1000000) div __ss")
            .as("inv_simpson_micro"))
        .orderBy("source"),
      Some("""WITH c AS (SELECT source, lang, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |a AS (SELECT source, sum(c) AS n_docs, count(*) AS n_langs,
        |    sum(c * c) AS ss FROM c GROUP BY 1)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_langs AS BIGINT) AS n_langs,
        |  CAST(((n_docs * n_docs - ss) * 1000000)
        |    // (n_docs * n_docs) AS BIGINT) AS gini_simpson_ppm,
        |  CAST((n_docs * n_docs * 1000000) // ss AS BIGINT)
        |    AS inv_simpson_micro
        |FROM a ORDER BY source""".stripMargin)),

    // ---- q321: nearest-value join (numeric as-of, both directions) -----
    // Each customer matched to the same-nation supplier with the
    // closest account balance — the 1-D nearest-neighbor join via
    // Events.nearestValueJoin's two-direction carry sweep (one key
    // shuffle, NO theta-join explosion). Right side deduped to one
    // supplier per (nation, balance) — min suppkey — per the asofJoin
    // uniqueness contract. The ORACLE is the quadratic argmin over the
    // nation block: an independent computation path, not the sweep
    // mirrored.
    QueryDef("q321_nearest_value_join",
      (s, d) => {
        val cust = customer(s, d).select(col("c_custkey"),
          col("c_nationkey"),
          (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
            .as("c_bal_cents"))
        val supp = supplier(s, d).select(col("s_suppkey"),
          col("s_nationkey"),
          (col("s_acctbal").cast("decimal(18,2)") * 100).cast("long")
            .as("s_bal_cents"))
          .groupBy("s_nationkey", "s_bal_cents")
          .agg(min("s_suppkey").as("s_suppkey"))
        Events.nearestValueJoin(cust, "c_nationkey", "c_bal_cents",
            supp, "s_nationkey", "s_bal_cents", Seq("s_suppkey"))
          .select(col("c_custkey"), col("c_nationkey"),
            col("c_bal_cents"), col("s_suppkey"), col("nearest_dist"))
          .orderBy("c_custkey")
      },
      Some("""WITH c AS (SELECT c_custkey, c_nationkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS c_bal_cents FROM customer),
        |s AS (SELECT s_nationkey, s_bal_cents,
        |    min(s_suppkey) AS s_suppkey FROM (
        |    SELECT s_suppkey, s_nationkey,
        |      CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |        AS s_bal_cents FROM supplier) GROUP BY 1, 2),
        |rk AS (SELECT c.c_custkey, c.c_nationkey, c.c_bal_cents,
        |    s.s_suppkey, abs(c.c_bal_cents - s.s_bal_cents) AS dist,
        |    row_number() OVER (PARTITION BY c.c_custkey
        |      ORDER BY abs(c.c_bal_cents - s.s_bal_cents),
        |        s.s_bal_cents, s.s_suppkey) AS rn
        |  FROM c JOIN s ON s.s_nationkey = c.c_nationkey)
        |SELECT c.c_custkey, c.c_nationkey, c.c_bal_cents,
        |  rk.s_suppkey, rk.dist AS nearest_dist
        |FROM c LEFT JOIN rk ON rk.c_custkey = c.c_custkey AND rk.rn = 1
        |ORDER BY c.c_custkey""".stripMargin)),

    // ---- q322: Unicode NFC normalization audit -------------------------
    // Crawled text mixes precomposed and decomposed forms; dedup and
    // tokenization split on the difference. Planted suffixes per part
    // — decomposed (e + U+0301), precomposed (é), or plain ASCII —
    // flow through the REAL normalizer (java.text.Normalizer NFC;
    // DuckDB nfc_normalize — both implement UAX#15 over these BMP
    // literals identically). Output: is_nfc, code-unit lengths before/
    // after, per-row. Pure map work; errors impossible by
    // construction, so the audit is the schema.
    QueryDef("q322_nfc_audit",
      (s, d) => {
        val suffix = when(col("p_partkey") % 3 === 0, lit(" cafe\u0301"))
          .when(col("p_partkey") % 3 === 1, lit(" café"))
          .otherwise(lit(" plain"))
        val nfc = udf { (t: String) =>
          java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
        }
        part(s, d).where(col("p_partkey") <= 300)
          .select(col("p_partkey"),
            concat(col("p_name"), suffix).as("__t"))
          .select(col("p_partkey"),
            (col("__t") === nfc(col("__t"))).as("is_nfc"),
            length(col("__t")).cast("long").as("len_raw"),
            length(nfc(col("__t"))).cast("long").as("len_nfc"))
          .orderBy("p_partkey")
      },
      Some("""WITH t AS (SELECT p_partkey,
        |    p_name || (CASE WHEN p_partkey % 3 = 0 THEN ' cafe' || chr(769)
        |      WHEN p_partkey % 3 = 1 THEN ' café'
        |      ELSE ' plain' END) AS t
        |  FROM part WHERE p_partkey <= 300)
        |SELECT p_partkey, t = nfc_normalize(t) AS is_nfc,
        |  CAST(len(t) AS BIGINT) AS len_raw,
        |  CAST(len(nfc_normalize(t)) AS BIGINT) AS len_nfc
        |FROM t ORDER BY p_partkey""".stripMargin)))
}
