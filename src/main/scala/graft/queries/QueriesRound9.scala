package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup, FixedPoint, Sampling, Text}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 first batch: one-permutation MinHash (the k×-fewer-hashes
  * signature a 100 TB dedup sweep actually computes), Adamic–Adar
  * link prediction on the FixedPoint integer log, and a slice-finder
  * quality audit — every value exact-integer and oracle-replayed.
  */
object QueriesRound9 {

  private val K = 16 // OPH bins
  private val BorrowC = 8589934592L // 2^33 — above any 32-bit hash

  val defs: Seq[QueryDef] = Seq(

    // ---- q491: one-permutation MinHash with rotation densification ------
    // Classic K-hash MinHash (q41/q42) pays K hash evaluations per
    // shingle; OPH pays ONE — the hash space is split into K bins,
    // the per-bin minimum is the signature slot, and empty bins
    // densify by borrowing from the next non-empty bin clockwise
    // plus a distance offset (2³³·t, above the 32-bit hash range, so
    // a borrowed slot can only match a slot borrowed from the SAME
    // distance with the SAME value — Shrivastava's densification
    // collision rule). At 100 TB this is the difference between K
    // md5 passes and one. Candidates band on the first 4 densified
    // slots (r=4: candidate probability ≈ J⁴, so only strong pairs
    // surface), degenerate bands capped at 32 docs (the maxBucket
    // discipline); each candidate carries the OPH estimate
    // (matching slots / 16) NEXT TO the exact shingle Jaccard —
    // the estimator-error readout, entirely hash-verified.
    QueryDef("q491_oph_minhash",
      (s, d) => Checkpoints.scoped { pin =>
        // two consumers: signature + exact verify
        val toks = pin(documents(s, d)
          .select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
          .repartition(col("doc_id")) // tokenize once (q150 discipline)
          .select(col("doc_id"),
            explode(array_distinct(Dedup.wordShingles(col("__toks"), 3)))
              .as("sh")))
        val hv = toks.select(col("doc_id"), Sampling.hashLong(col("sh")).as("h"))
        val bins = hv.groupBy("doc_id").agg(
          min(when(col("h") % K === 0, col("h"))).as("b0"),
          (1 until K).map(j =>
            min(when(col("h") % K === j, col("h"))).as(s"b$j")): _*)
        val densCols = (0 until K).map { j =>
          coalesce((0 until K).map(t =>
            col(s"b${(j + t) % K}") + lit(t.toLong * BorrowC)): _*).as(s"d$j")
        }
        val sig = pin(bins.select((col("doc_id") +: densCols): _*)
          .withColumn("dens", array((0 until K).map(j => col(s"d$j")): _*))
          .withColumn("band",
            md5(concat_ws(",", (0 until 4).map(j => col(s"d$j")): _*)))
          .select("doc_id", "dens", "band"))
        val okBands = sig.groupBy("band").agg(count(lit(1)).as("__c"))
          .where(col("__c") <= 32).select("band")
        val sg = sig.join(broadcast(okBands), Seq("band"), "left_semi")
        val pairs = pin(sg.as("a").join(sg.as("b"),
            col("a.band") === col("b.band") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            aggregate(zip_with(col("a.dens"), col("b.dens"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
              lit(0L), (acc, x) => acc + x).as("n_match")))
        val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = pairs.select("id_a", "id_b")
          .join(toks.select(col("doc_id").as("id_a"), col("sh")), "id_a")
          .join(toks.select(col("doc_id").as("id_b"), col("sh")),
            Seq("id_b", "sh"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
        pairs
          .join(sz.withColumnRenamed("doc_id", "id_a")
            .withColumnRenamed("n", "n_a"), "id_a")
          .join(sz.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("n", "n_b"), "id_b")
          .join(inter, Seq("id_a", "id_b"), "left")
          .select(col("id_a"), col("id_b"), col("n_match"),
            expr("(n_match * 1000000) div 16").as("est_ppm"),
            coalesce(col("n_inter"), lit(0L)).as("n_inter"),
            expr("((coalesce(n_inter, 0L)) * 1000000)"
              + " div (n_a + n_b - coalesce(n_inter, 0L))").as("exact_ppm"))
          .orderBy("id_a", "id_b")
          .localCheckpoint()
      },
      Some {
        val h = DuckSql.hexLong("md5(sh)")
        val binSel = (0 until K).map(j =>
          s"min(CASE WHEN h % $K = $j THEN h END) AS b$j").mkString(", ")
        val densSel = (0 until K).map { j =>
          val terms = (0 until K).map { t =>
            val b = s"b${(j + t) % K}"
            if (t == 0) b else s"$b + ${t.toLong * BorrowC}"
          }.mkString(", ")
          s"coalesce($terms) AS d$j"
        }.mkString(", ")
        val bandCat = (0 until 4).map(j => s"CAST(d$j AS VARCHAR)")
          .mkString(" || ',' || ")
        val densList = (0 until K).map(j => s"d$j").mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    ${DuckSql.shingles("toks", 3)})) AS sh FROM t),
        |hv AS (SELECT doc_id, $h AS h FROM sh),
        |bins AS (SELECT doc_id, $binSel FROM hv GROUP BY doc_id),
        |dn AS (SELECT doc_id, $densSel FROM bins),
        |sig AS (SELECT doc_id, $densList AS dens,
        |    md5($bandCat) AS band FROM dn),
        |ok AS (SELECT band FROM sig GROUP BY band HAVING count(*) <= 32),
        |sg AS (SELECT sig.* FROM sig JOIN ok USING (band)),
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(list_sum(list_transform(generate_series(1, $K),
        |      i -> CASE WHEN a.dens[i] = b.dens[i] THEN 1 ELSE 0 END))
        |      AS BIGINT) AS n_match
        |  FROM sg a JOIN sg b ON a.band = b.band AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh
        |  GROUP BY 1),
        |iv AS (SELECT pr.id_a, pr.id_b, CAST(count(*) AS BIGINT) AS n_inter
        |  FROM pr JOIN sh a ON a.doc_id = pr.id_a
        |  JOIN sh b ON b.doc_id = pr.id_b AND b.sh = a.sh
        |  GROUP BY 1, 2)
        |SELECT pr.id_a, pr.id_b, pr.n_match,
        |  CAST((pr.n_match * 1000000) // $K AS BIGINT) AS est_ppm,
        |  coalesce(iv.n_inter, 0) AS n_inter,
        |  CAST((coalesce(iv.n_inter, 0) * 1000000)
        |    // (sa.n + sb.n - coalesce(iv.n_inter, 0)) AS BIGINT)
        |    AS exact_ppm
        |FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
        |JOIN sz sb ON sb.doc_id = pr.id_b
        |LEFT JOIN iv ON iv.id_a = pr.id_a AND iv.id_b = pr.id_b
        |ORDER BY pr.id_a, pr.id_b""".stripMargin
      }),

    // ---- q492: Adamic–Adar link prediction --------------------------------
    // "Which non-adjacent part pairs share many LOW-degree neighbors"
    // — the classic common-neighbor score AA(x,z) = Σ_y 1/ln(deg y),
    // here in exact micro-units on the FixedPoint integer log (the
    // q266/q427 discipline: no float, no 1-ulp rank flips). Wedge
    // enumeration uses the q401 capped-adjacency discipline — each
    // middle contributes wedges only among its 33 smallest neighbor
    // ids (deterministic, oracle-mirrored via row_number), bounding
    // the join at O(V·33²) whatever the hub degree — while the WEIGHT
    // uses the TRUE degree. Existing edges anti-join out (prediction,
    // not description); top-20 by score.
    QueryDef("q492_adamic_adar",
      (s, d) => Checkpoints.scoped { pin =>
        val li = lineitem(s, d).select("l_orderkey", "l_partkey")
        // consumers: deg, capped adj, anti-join
        val e = pin(li.withColumnRenamed("l_partkey", "src")
          .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
          .where(col("src") =!= col("dst"))
          .select("src", "dst").distinct())
        val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        // the middle's 1/ln(deg) weight rides IN the capped adjacency
        // (one 33·V-row join) so the O(V·33²) wedge frame never joins
        // deg again — measured 9.8 -> ~6 s at sf0.1
        val adj = e.withColumn("rn",
            row_number().over(Window.partitionBy("src").orderBy("dst")))
          .where(col("rn") <= 33)
          .select(col("src").as("y"), col("dst").as("nb"))
          .join(broadcast(deg.withColumnRenamed("src", "y")), "y")
          .selectExpr("y", "nb",
            s"1000000000000 div ${FixedPoint.sparkLnMicroFp20("(deg * 1048576)")} AS w")
        val wedges = adj.as("p").join(adj.as("q"),
            col("p.y") === col("q.y") && col("p.nb") < col("q.nb"))
          .select(col("p.nb").as("x"), col("q.nb").as("z"),
            col("p.w").as("w"))
        // aggregate BEFORE the existing-edge anti-join: the anti-join
        // drops whole (x, z) groups, so it commutes with the group-by —
        // the exchange then carries partial-aggregated (x, z) rows and
        // the anti-join's sort runs over O(candidate pairs) instead of
        // the full O(V·33²) wedge frame (guide §2.3: aggregate before
        // you shuffle). Scores identical; the oracle aggregates the
        // filtered frame, which is the same sum per surviving group.
        val scored = wedges.groupBy("x", "z")
          .agg(count(lit(1)).as("n_common"), sum("w").as("aa_micro"))
        scored.join(
          e.select(col("src").as("x"), col("dst").as("z")),
          Seq("x", "z"), "left_anti")
          .orderBy(col("aa_micro").desc, col("x"), col("z"))
          .limit(20)
          .select(col("x").as("part_a"), col("z").as("part_b"),
            col("n_common"), col("aa_micro"))
          .localCheckpoint()
      },
      Some {
        val w = FixedPoint.duckLnMicroFp20("(deg * 1048576)")
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey != b.l_partkey),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e
        |  GROUP BY 1),
        |adj AS (SELECT src AS y, dst AS nb FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src
        |      ORDER BY dst) AS rn FROM e) WHERE rn <= 33),
        |wg AS (SELECT p.y, p.nb AS x, q.nb AS z
        |  FROM adj p JOIN adj q ON p.y = q.y AND p.nb < q.nb),
        |cand AS (SELECT wg.* FROM wg
        |  LEFT JOIN e ON e.src = wg.x AND e.dst = wg.z
        |  WHERE e.src IS NULL),
        |co AS (SELECT x, z, CAST(1000000000000 // ($w) AS BIGINT) AS w
        |  FROM cand JOIN deg ON deg.src = cand.y)
        |SELECT x AS part_a, z AS part_b,
        |  CAST(count(*) AS BIGINT) AS n_common,
        |  CAST(sum(w) AS BIGINT) AS aa_micro
        |FROM co GROUP BY x, z
        |ORDER BY aa_micro DESC, x, z LIMIT 20""".stripMargin
      }),

    // ---- q493: slice finder (per-slice quality deviation audit) -----------
    // The training-data debugging readout ("which slice of the corpus
    // is dragging quality"): every slice of the low-cardinality
    // dimensions (lang, source, lang×source) with enough support is
    // scored by its mean-quality deviation from the corpus mean —
    // EXACT cross-multiplied integers, dev_ppm = (ss·ng − sg·ns)·10⁶
    // div (sg·ns), signed (both engines truncate toward zero).
    // Slices beyond ±1% surface; two aggregations and a broadcast
    // scalar, O(slices) output. BIGINT-safe while sg·ns·10⁶ < 2⁶³
    // (corpus char mass × slice docs < 9.2e12 — shard the audit by
    // dimension beyond, the q466 posture).
    QueryDef("q493_slice_finder",
      (s, d) => {
        val docs = documents(s, d)
          .select(col("lang"), col("source"), col("n_chars"))
        val g = docs.agg(count(lit(1)).as("ng"), sum("n_chars").as("sg"))
        def slices(dims: Seq[String], name: String) =
          docs.groupBy(dims.map(col): _*)
            .agg(count(lit(1)).as("ns"), sum("n_chars").as("ss"))
            .select(lit(name).as("dim"),
              concat_ws("/", dims.map(col): _*).as("slice"),
              col("ns"), col("ss"))
        slices(Seq("lang"), "lang")
          .unionByName(slices(Seq("source"), "source"))
          .unionByName(slices(Seq("lang", "source"), "lang_source"))
          .crossJoin(broadcast(g))
          .where(col("ns") >= 30)
          .select(col("dim"), col("slice"), col("ns"),
            expr("ss div ns").as("mean_chars"),
            expr("((ss * ng - sg * ns) * 1000000) div (sg * ns)")
              .as("dev_ppm"))
          .where(abs(col("dev_ppm")) >= 10000)
          .orderBy("dim", "slice")
      },
      Some("""WITH d AS (SELECT lang, source, n_chars FROM documents),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(n_chars) AS BIGINT) AS sg FROM d),
        |sl AS (
        |  SELECT 'lang' AS dim, lang AS slice,
        |      CAST(count(*) AS BIGINT) AS ns,
        |      CAST(sum(n_chars) AS BIGINT) AS ss FROM d GROUP BY 2
        |  UNION ALL
        |  SELECT 'source', source, CAST(count(*) AS BIGINT),
        |      CAST(sum(n_chars) AS BIGINT) FROM d GROUP BY 2
        |  UNION ALL
        |  SELECT 'lang_source', lang || '/' || source,
        |      CAST(count(*) AS BIGINT),
        |      CAST(sum(n_chars) AS BIGINT) FROM d GROUP BY 2)
        |SELECT dim, slice, ns, CAST(ss // ns AS BIGINT) AS mean_chars,
        |  CAST(((ss * ng - sg * ns) * 1000000) // (sg * ns) AS BIGINT)
        |    AS dev_ppm
        |FROM sl, g
        |WHERE ns >= 30
        |  AND abs(((ss * ng - sg * ns) * 1000000) // (sg * ns)) >= 10000
        |ORDER BY dim, slice""".stripMargin))
  )
}
