package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup, Graph, Relational, Sampling, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 twenty-fourth batch: Sinkhorn optimal-transport coupling,
  * the Gopher corpus-level duplicate-n-gram token fraction, and
  * TextRank keyword extraction.
  */
object QueriesRound7x {

  val defs: Seq[QueryDef] = Seq(

    // ---- q379: Sinkhorn optimal-transport coupling ----------------------
    // OT-based mixture matching (the modern data-mixing tool next to
    // q378's DoReMi): couple the English doc-length distribution to
    // the non-English one over 8 length octiles. Marginals are milli
    // masses via the q181 largest-remainder (Σ = 1000 exactly); the
    // Gibbs kernel is K_ij = 2^(7−|i−j|) — an EXACT base-2 integer
    // kernel, so the three Sinkhorn rounds (u ← r·2¹⁴·10³ div Σ K v,
    // then v symmetric) run entirely in BIGINT floor division and the
    // transport plan P = (u·K·v) div 2¹⁴ is engine-identical. Every
    // frame past the two histogram scans is O(bins) or O(bins²); a
    // float Sinkhorn replay tracks the integer plan in Round7xSpec.
    QueryDef("q379_sinkhorn_coupling",
      (s, d) => Checkpoints.scoped { pin =>
        def bins(f: DataFrame, key: String) = Sampling.allocateBudget(
          f.select(least(expr("n_chars div 250"), lit(7L)).as(key))
            .groupBy(key).agg(count(lit(1)).as("cnt")),
          Seq(key), "cnt", 1000L)
        val r = bins(documents(s, d).where(col("lang") === "en"), "i")
          .select(col("i"), col("quota").as("r"))
        val c = bins(documents(s, d).where(col("lang") =!= "en"), "j")
          .select(col("j"), col("quota").as("c"))
        // O(64); feeds all six half-steps
        val e = pin(r.crossJoin(c)
          .withColumn("k", expr("shiftleft(CAST(1 AS BIGINT)," +
            " CAST(7 - abs(i - j) AS INT))")))
        var v = c.select(col("j"), lit(1000L).as("v"))
        var u: DataFrame = null
        for (_ <- 1 to 3) {
          u = e.join(broadcast(v), Seq("j"))
            .groupBy("i", "r").agg(expr("sum(k * v)").as("__kv"))
            .select(col("i"), expr("(r * 16384000) div __kv").as("u"))
          v = e.join(broadcast(u), Seq("i"))
            .groupBy("j", "c").agg(expr("sum(k * u)").as("__ku"))
            .select(col("j"), expr("(c * 16384000) div __ku").as("v"))
        }
        e.join(broadcast(u), Seq("i")).join(broadcast(v), Seq("j"))
          .select(col("i"), col("j"), col("r").as("r_milli"),
            col("c").as("c_milli"),
            expr("(u * k * v) div 16384").as("plan_ppm"))
          .orderBy("i", "j")
      },
      Some {
        def lr(src: String, key: String, out: String, mass: String) =
          s"""${src}q AS (SELECT $key,
             |    (1000 * cnt) // (SELECT sum(cnt) FROM $src) AS fq,
             |    (1000 * cnt) % (SELECT sum(cnt) FROM $src) AS rem
             |  FROM $src),
             |$out AS (SELECT $key, CAST(fq + CASE WHEN
             |      row_number() OVER (ORDER BY rem DESC, $key)
             |      <= 1000 - (SELECT sum(fq) FROM ${src}q)
             |    THEN 1 ELSE 0 END AS BIGINT) AS $mass FROM ${src}q)"""
            .stripMargin
        val rounds = (1 to 3).map { t =>
          val pv = if (t == 1) "v0" else s"v${t - 1}"
          s"""u$t AS (SELECT i, (r * 16384000) // sum(k * v) AS u
             |  FROM e JOIN $pv USING (j) GROUP BY i, r),
             |v$t AS (SELECT j, (c * 16384000) // sum(k * u) AS v
             |  FROM e JOIN u$t USING (i) GROUP BY j, c)""".stripMargin
        }.mkString(",\n")
        s"""WITH en AS (SELECT least(n_chars // 250, 7) AS i,
        |    count(*) AS cnt FROM documents WHERE lang = 'en' GROUP BY 1),
        |re AS (SELECT least(n_chars // 250, 7) AS j, count(*) AS cnt
        |  FROM documents WHERE lang != 'en' GROUP BY 1),
        |${lr("en", "i", "rq", "r")},
        |${lr("re", "j", "cq", "c")},
        |e AS (SELECT i, j, r, c,
        |    CAST(1 AS BIGINT) << CAST(7 - abs(i - j) AS INTEGER) AS k
        |  FROM rq CROSS JOIN cq),
        |v0 AS (SELECT j, CAST(1000 AS BIGINT) AS v FROM cq),
        |$rounds
        |SELECT e.i, e.j, e.r AS r_milli, e.c AS c_milli,
        |  CAST((u.u * e.k * v.v) // 16384 AS BIGINT) AS plan_ppm
        |FROM e JOIN u3 u USING (i) JOIN v3 v USING (j)
        |ORDER BY i, j""".stripMargin
      }),

    // ---- q380: corpus-level duplicate-n-gram token fraction -------------
    // The Gopher/MassiveText corpus diagnostic that q175 measures
    // INSIDE one doc, now across the corpus: what fraction of each
    // source's tokens sits inside an 8-gram that occurs more than once
    // anywhere (within or across docs)? Positional 8-gram fingerprints
    // → corpus counts on md5 keys (never shingle×shingle), duplicated
    // fingerprints rejoin their positions, per-doc interval UNION via
    // the q164 islands pass (windows partitioned by doc — bounded by
    // doc length), covered-token sums roll up per source in exact ppm.
    // The readout that says "dedup before training" better than any
    // pair count.
    QueryDef("q380_dup_ngram_fraction",
      (s, d) => {
        val base = documents(s, d).select(col("doc_id"), col("source"),
          Text.tokens(col("text")).as("t"))
        val sh = base.select(col("doc_id"),
            posexplode(Dedup.wordShingles(col("t"), 8)).as(Seq("p", "sgl")))
          .select(col("doc_id"), (col("p") + 1).as("st"),
            (col("p") + 8).as("en"), md5(col("sgl")).as("fp"))
        val dup = sh.groupBy("fp").agg(count(lit(1)).as("__n"))
          .where(col("__n") > 1).select("fp")
        val iv = sh.join(dup, Seq("fp")).select("doc_id", "st", "en")
        val wPrev = Window.partitionBy("doc_id").orderBy("st", "en")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRun = Window.partitionBy("doc_id").orderBy("st", "en")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cov = iv
          .withColumn("__new", when(col("st") >
            coalesce(max("en").over(wPrev), lit(Long.MinValue)), 1L)
            .otherwise(0L))
          .withColumn("__isl", sum("__new").over(wRun))
          .groupBy("doc_id", "__isl")
          .agg(min("st").as("a"), max("en").as("b"))
          .groupBy("doc_id")
          .agg(sum(col("b") - col("a") + 1).as("cv"))
        base.select(col("doc_id"), col("source"),
            size(col("t")).cast("long").as("n"))
          .join(cov, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(sum("n").as("n_tokens"),
            sum(coalesce(col("cv"), lit(0L))).as("dup_tokens"))
          .select(col("source"), col("n_tokens"), col("dup_tokens"),
            expr("(dup_tokens * 1000000) div n_tokens")
              .as("dup_token_ppm"))
          .orderBy("source")
      },
      Some {
        val sh = DuckSql.shingles("t", 8)
        s"""WITH b AS (SELECT doc_id, source, ${DuckSql.toks("text")} AS t
        |  FROM documents),
        |sg AS (SELECT doc_id, sh AS sl FROM
        |  (SELECT doc_id, $sh AS sh FROM b)),
        |sh AS (SELECT doc_id, i AS st, i + 7 AS en, md5(sl[i]) AS fp
        |  FROM sg, unnest(generate_series(1, len(sl))) u(i)),
        |d AS (SELECT fp FROM sh GROUP BY fp HAVING count(*) > 1),
        |iv AS (SELECT doc_id, st, en FROM sh JOIN d USING (fp)),
        |f AS (SELECT doc_id, st, en,
        |    CASE WHEN st > coalesce(max(en) OVER (PARTITION BY doc_id
        |        ORDER BY st, en
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -9223372036854775808) THEN 1 ELSE 0 END AS nw FROM iv),
        |i2 AS (SELECT doc_id, st, en, sum(nw) OVER (PARTITION BY doc_id
        |    ORDER BY st, en ROWS UNBOUNDED PRECEDING) AS isl FROM f),
        |g AS (SELECT doc_id, isl, min(st) AS a, max(en) AS b
        |  FROM i2 GROUP BY 1, 2),
        |cov AS (SELECT doc_id, sum(b - a + 1) AS cv FROM g GROUP BY 1),
        |t AS (SELECT b.doc_id, source, len(t) AS n,
        |    coalesce(cv, 0) AS cv
        |  FROM b LEFT JOIN cov ON cov.doc_id = b.doc_id)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(cv) AS BIGINT) AS dup_tokens,
        |  CAST((sum(cv) * 1000000) // sum(n) AS BIGINT)
        |    AS dup_token_ppm
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ---- q381: TextRank keyword extraction ------------------------------
    // Mihalcea & Tarau's TextRank: tokens co-occurring adjacently form
    // an undirected graph; 3 rounds of the integer-exact
    // Graph.pageRank (q145 arithmetic — micro-units, floor division)
    // rank them; top-20 keywords out. Node ids are md5 token hashes
    // (a collision merges the same pair on both engines —
    // deterministic either way); the oracle replays the full
    // iteration as chained CTEs, so the whole random walk is
    // hash-verified. Keyword extraction closes the text-analysis loop
    // between q209's PMI collocations and q266's c-TF-IDF class terms.
    QueryDef("q381_textrank_keywords",
      (s, d) => {
        val tk = documents(s, d).select(col("doc_id"),
          posexplode(Text.tokens(col("text"))).as(Seq("p", "tok")))
        // posexplode positions are dense 0..n-1, so the p+1 self-join
        // is exactly lead(1) over (doc_id, p) — one shuffle, not two.
        val adj = tk
          .withColumn("tok2", lead("tok", 1).over(
            Window.partitionBy("doc_id").orderBy("p")))
          .where(col("tok2").isNotNull && col("tok") =!= col("tok2"))
        val dir = adj.select(Sampling.hashLong(col("tok")).as("src"),
          Sampling.hashLong(col("tok2")).as("dst"))
        val ranks = Graph.pageRank(
          dir.union(dir.select(col("dst").as("src"), col("src").as("dst"))),
          "src", "dst", iters = 3)
        val vm = tk.select("tok").distinct()
          .withColumn("id", Sampling.hashLong(col("tok")))
        Relational.topK(ranks.join(vm, Seq("id")),
            Seq(col("rank_micro").desc, col("tok").asc), 20)
          .select("tok", "rank_micro")
      },
      Some {
        val h = DuckSql.hashLong("tok")
        val ha = DuckSql.hashLong("a.tok")
        val hb = DuckSql.hashLong("b.tok")
        def iter(prev: String, curr: String) =
          s"""$curr AS (SELECT n.id, 150000 + (85 * coalesce(s.s, 0)) // 100 AS r
          |  FROM nodes n LEFT JOIN (
          |    SELECT e.dst AS id, CAST(sum($prev.r // deg.d) AS BIGINT) AS s
          |    FROM e JOIN $prev ON $prev.id = e.src
          |    JOIN deg ON deg.src = e.src GROUP BY 1) s ON s.id = n.id)"""
        s"""WITH tk AS (SELECT doc_id, i AS p, t[i] AS tok
        |  FROM (SELECT doc_id, ${DuckSql.toks("text")} AS t
        |    FROM documents), unnest(generate_series(1, len(t))) u(i)),
        |ad AS (SELECT ($ha) AS s1, ($hb) AS s2 FROM tk a JOIN tk b
        |  ON b.doc_id = a.doc_id AND b.p = a.p + 1 AND a.tok != b.tok),
        |e AS (SELECT DISTINCT s1 AS src, s2 AS dst FROM ad
        |  UNION SELECT DISTINCT s2, s1 FROM ad),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |${iter("r0", "r1")},
        |${iter("r1", "r2")},
        |${iter("r2", "r3")},
        |vm AS (SELECT DISTINCT tok, ($h) AS id FROM tk)
        |SELECT tok, r AS rank_micro FROM r3 JOIN vm USING (id)
        |ORDER BY rank_micro DESC, tok LIMIT 20""".stripMargin
      }),

    // ---- q382: ROUGE-L pairwise similarity via a codegen LCS ------------
    // The eval-metric staple (Lin 2004) the engine could not express
    // before: longest-common-subsequence F1 between candidate doc
    // pairs. LCS is inherently O(n·m) DP — no SQL form — so it runs
    // as the new `graft_lcs` codegen Expression (a tight two-rolling-
    // rows Java loop inside whole-stage codegen; `functions/
    // SequenceExpressions.scala`), with both token arrays capped at 32
    // so the per-pair cost is a constant and the candidate count is
    // the only scale knob. Pairs = each doc against the next doc_id in
    // its (source, lang) group (a deterministic candidate set; swap in
    // LSH pairs at scale). F1 = 2·lcs/(la+lb) exactly in ppm. The
    // DuckDB oracle replays the SAME DP as a recursive CTE carrying
    // the rolling row as a LIST, using cur[j] = max(prev[j+1],
    // running-max of match bonuses) — an identity of the LCS
    // recurrence (prev rows are nondecreasing), so the whole DP is
    // hash-verified cell-free. Driver DP replay pinned in Round7xSpec.
    QueryDef("q382_rouge_l",
      (s, d) => {
        val base = documents(s, d).select(col("doc_id"), col("source"),
          col("lang"), slice(Text.tokens(col("text")), 1, 32).as("t"))
        val w = Window.partitionBy("source", "lang").orderBy("doc_id")
        val pairs = base
          .withColumn("nxt", lead("doc_id", 1).over(w))
          .join(base.select(col("doc_id").as("nxt"), col("t").as("tb")),
            Seq("nxt"))
          .where(size(col("t")) > 0 && size(col("tb")) > 0)
        pairs
          .select(col("source"),
            graft.functions.GraftFunctions.lcsNative(col("t"), col("tb"))
              .as("lcs"),
            (size(col("t")) + size(col("tb"))).cast("long").as("lab"))
          .select(col("source"),
            expr("(2 * lcs * 1000000) div lab").as("f1"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_pairs"),
            expr("sum(f1) div count(1)").as("mean_f1_ppm"),
            max("f1").as("max_f1_ppm"))
          .orderBy("source")
      },
      Some(s"""WITH RECURSIVE
        |b0 AS (SELECT doc_id, source, lang, toks[1:32] AS t
        |  FROM (SELECT doc_id, source, lang,
        |    ${DuckSql.toks("text")} AS toks FROM documents)),
        |pr AS (SELECT a.doc_id AS pid, a.source, a.t AS ta, b.t AS tb
        |  FROM (SELECT *, lead(doc_id) OVER (PARTITION BY source, lang
        |      ORDER BY doc_id) AS nxt FROM b0) a
        |  JOIN b0 b ON b.doc_id = a.nxt
        |  WHERE len(a.t) > 0 AND len(b.t) > 0),
        |dp AS (
        |  SELECT pid, source, ta, tb, 0 AS i,
        |    list_transform(generate_series(0, len(tb)), x -> 0) AS r
        |  FROM pr
        |  UNION ALL
        |  SELECT pid, source, ta, tb, i + 1,
        |    list_prepend(0, list_transform(generate_series(1, len(tb)),
        |      j -> greatest(r[j + 1],
        |        coalesce(list_max(list_transform(generate_series(1, j),
        |          k -> CASE WHEN ta[i + 1] = tb[k] THEN r[k] + 1
        |            ELSE 0 END)), 0))))
        |  FROM dp WHERE i < len(ta)),
        |res AS (SELECT pid, source,
        |    (2 * r[len(tb) + 1] * 1000000) // (len(ta) + len(tb)) AS f1
        |  FROM dp WHERE i = len(ta))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(f1) // count(*) AS BIGINT) AS mean_f1_ppm,
        |  CAST(max(f1) AS BIGINT) AS max_f1_ppm
        |FROM res GROUP BY 1 ORDER BY 1""".stripMargin)))
}
