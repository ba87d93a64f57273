package graft.queries

import graft.Tables._
import graft.functions.GraftFunctions
import graft.ops.{Sampling, Sketches, Text}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-8 thirteenth batch: the HLL TypedImperativeAggregate proven
  * against the relational register pipeline (q471), SymSpell
  * deletion-neighborhood spell variants (q472), a posting-list
  * varint compression planner (q473), an embedding dead-dimension
  * audit with planted dead dims (q474), and a metadata-vs-content
  * language disagreement audit (q475).
  */
object QueriesRound8m {

  val defs: Seq[QueryDef] = Seq(

    // ---- q471: HLL aggregate ≡ relational registers ----------------------
    // The engine's second custom TypedImperativeAggregate
    // (functions/HllDistinct — 64 bytes of state per group, merge =
    // element-wise max) run IN THE SAME QUERY as the relational
    // register pipeline (Sketches.hllEstimate): both paths share the
    // α/scale constants and the FixedPoint LC branch, so their
    // estimates must be identical — the agg_matches column makes the
    // identity self-proving under the hash gate, and the oracle
    // recomputes the registers in SQL. The aggregate form is what a
    // user writes (`graft_hll_distinct(hash)` next to count/sum in
    // ONE pass); the relational form is what an incremental pipeline
    // persists.
    QueryDef("q471_hll_aggregate",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("source"), explode(Text.tokens(col("text"))).as("__t"))
        val viaAgg = toks
          .select(col("source"), Sampling.hashLong(col("__t")).as("__h"))
          .groupBy("source")
          .agg(GraftFunctions.hllDistinct(col("__h")).as("est_agg"),
            count(lit(1)).as("n_tokens"))
        val viaRel = Sketches.hllEstimate(toks, "source", "__t")
          .select(col("source"), col("est").as("est_rel"))
        val exact = toks.groupBy("source")
          .agg(countDistinct(col("__t")).as("n_exact"))
        viaAgg.join(viaRel, "source").join(exact, "source")
          .select(col("source"), col("n_tokens"), col("n_exact"),
            col("est_agg"), col("est_rel"),
            (col("est_agg") === col("est_rel")).as("agg_matches"))
          .orderBy("source")
      },
      Some {
        val h = DuckSql.hashLong("tok")
        val lc = graft.ops.FixedPoint.duckLnMicroFp20(
          graft.ops.FixedPoint.duckRatioFp20("(64 - v_zero)", "v_zero"))
        s"""WITH t AS (SELECT source, unnest(${DuckSql.toks("text")}) AS tok
        |  FROM documents),
        |rg AS (SELECT source, h // 67108864 AS bucket,
        |    CASE WHEN h % 67108864 = 0 THEN 27
        |      ELSE 27 - length(format('{:b}', h % 67108864)) END AS rank
        |  FROM (SELECT source, $h AS h FROM t)),
        |regs AS (SELECT source, bucket, max(rank) AS m FROM rg
        |  GROUP BY 1, 2),
        |sk AS (SELECT source, count(*) AS n_present,
        |    sum(1::BIGINT << CAST(40 - m AS INTEGER)) AS dp
        |  FROM regs GROUP BY 1),
        |s2 AS (SELECT source, 64 - n_present AS v_zero,
        |    dp + (64 - n_present) * ${Sketches.DenomScale} AS denom
        |  FROM sk),
        |s3 AS (SELECT source, v_zero,
        |    (${Sketches.AlphaM2Milli} * ${Sketches.DenomScale}) //
        |      (1000 * denom) AS est_raw FROM s2),
        |s4 AS (SELECT source,
        |    CASE WHEN v_zero > 0 AND est_raw <= 160
        |      THEN (64 * $lc) // 1000000 ELSE est_raw END AS est
        |  FROM s3),
        |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS n_exact
        |  FROM t GROUP BY 1)
        |SELECT ex.source, ex.n_tokens, ex.n_exact,
        |  CAST(s4.est AS BIGINT) AS est_agg,
        |  CAST(s4.est AS BIGINT) AS est_rel,
        |  true AS agg_matches
        |FROM ex JOIN s4 ON ex.source = s4.source
        |ORDER BY ex.source""".stripMargin
      }),

    // ---- q472: SymSpell deletion-neighborhood variants -------------------
    // Spelling-variant detection WITHOUT token×token: every vocab
    // token emits its 1-deletion neighborhood (plus itself), tokens
    // sharing a variant become candidates (covers edit distance ≤ 2
    // including transpositions), and exact levenshtein verifies —
    // the SymSpell blocking scheme, O(vocab × len) keys instead of
    // O(vocab²) comparisons. Typos are planted ('tabel joi strema' on
    // doc_id % 11 = 0) so the known pairs must surface; corpus counts
    // ride along and the higher-count side is the suggested
    // correction.
    QueryDef("q472_symspell_variants",
      (s, d) => {
        val txt = when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" tabel joi strema")))
          .otherwise(col("text"))
        val vocab = documents(s, d)
          .select(explode(Text.tokens(txt)).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val variants = vocab.select(col("tok"), col("c"),
          explode(expr("transform(sequence(0, length(tok)), i -> " +
            "IF(i = 0, tok, concat(substring(tok, 1, i - 1), " +
            "substring(tok, i + 1, length(tok) - i))))")).as("dvar"))
          .distinct()
        val pairs = variants.as("a").join(variants.as("b"),
            col("a.dvar") === col("b.dvar") && col("a.tok") < col("b.tok"))
          .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"),
            col("a.c").as("c_a"), col("b.c").as("c_b"))
          .distinct()
          .withColumn("lev", levenshtein(col("tok_a"), col("tok_b")))
          .where(col("lev") <= 2)
        pairs
          .withColumn("suggestion",
            when(col("c_a") > col("c_b"), col("tok_a"))
              .when(col("c_b") > col("c_a"), col("tok_b"))
              .otherwise(least(col("tok_a"), col("tok_b"))))
          .orderBy("tok_a", "tok_b")
      },
      Some("""WITH d2 AS (SELECT CASE WHEN doc_id % 11 = 0
        |    THEN text || ' tabel joi strema' ELSE text END AS txt
        |  FROM documents),
        |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(list_filter(string_split(trim(regexp_replace(
        |      regexp_replace(lower(txt), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), ' '), x -> length(x) > 0)) AS tok
        |    FROM d2) GROUP BY 1),
        |vr AS (SELECT DISTINCT tok, c,
        |    unnest(list_transform(generate_series(0, length(tok)),
        |      i -> CASE WHEN i = 0 THEN tok
        |        ELSE substr(tok, 1, i - 1) ||
        |             substr(tok, i + 1, length(tok) - i) END)) AS dvar
        |  FROM v),
        |pr AS (SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b,
        |    a.c AS c_a, b.c AS c_b
        |  FROM vr a JOIN vr b ON a.dvar = b.dvar AND a.tok < b.tok),
        |lv AS (SELECT *, CAST(levenshtein(tok_a, tok_b) AS INTEGER)
        |    AS lev FROM pr)
        |SELECT tok_a, tok_b, c_a, c_b, lev,
        |  CASE WHEN c_a > c_b THEN tok_a
        |    WHEN c_b > c_a THEN tok_b
        |    ELSE least(tok_a, tok_b) END AS suggestion
        |FROM lv WHERE lev <= 2 ORDER BY tok_a, tok_b""".stripMargin)),

    // ---- q473: posting-list varint compression planner -------------------
    // The q400 encoding planner extended to the retrieval index:
    // postings (token → sorted doc ids) compress as delta gaps in
    // varint bytes — vb(g) = ceil(bitlen(g)/7), all integer. Per
    // df-octave (bitlength of document frequency): terms, postings,
    // projected varint bytes vs fixed 8-byte ids, savings ppm — the
    // readout that sizes an inverted index before building it. Gaps
    // via one per-TOKEN lag window (bounded by df, never global);
    // octave rollup is O(octaves).
    QueryDef("q473_posting_compression",
      (s, d) => {
        val post = documents(s, d)
          .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
          .distinct()
        val wt = Window.partitionBy("tok").orderBy("doc_id")
        val gaps = post
          .withColumn("__prev", lag("doc_id", 1).over(wt))
          .withColumn("g", coalesce(col("doc_id") - col("__prev"),
            col("doc_id") + 1))
          .withColumn("vb",
            expr("(length(bin(g)) + 6) div 7").cast("long"))
        val df = post.groupBy("tok").agg(count(lit(1)).as("df"))
          .withColumn("octave", length(bin(col("df"))).cast("long"))
        gaps.join(df, "tok")
          .groupBy("octave")
          .agg(countDistinct("tok").as("n_terms"),
            count(lit(1)).as("n_postings"),
            sum("vb").as("varint_bytes"))
          .withColumn("fixed_bytes", col("n_postings") * 8)
          .withColumn("savings_ppm", expr(
            "((fixed_bytes - varint_bytes) * 1000000) div fixed_bytes"))
          .orderBy("octave")
      },
      Some(s"""WITH p AS (SELECT DISTINCT doc_id,
        |    unnest(${DuckSql.toks("text")}) AS tok FROM documents),
        |g AS (SELECT tok, doc_id,
        |    coalesce(doc_id - lag(doc_id) OVER (PARTITION BY tok
        |      ORDER BY doc_id), doc_id + 1) AS g
        |  FROM p),
        |vb AS (SELECT tok,
        |    (length(format('{:b}', g)) + 6) // 7 AS vb FROM g),
        |df AS (SELECT tok, count(*) AS df,
        |    CAST(length(format('{:b}', count(*))) AS BIGINT) AS octave
        |  FROM p GROUP BY 1),
        |j AS (SELECT df.octave, vb.tok, vb.vb FROM vb
        |  JOIN df ON vb.tok = df.tok)
        |SELECT octave, CAST(count(DISTINCT tok) AS BIGINT) AS n_terms,
        |  CAST(count(*) AS BIGINT) AS n_postings,
        |  CAST(sum(vb) AS BIGINT) AS varint_bytes,
        |  CAST(count(*) * 8 AS BIGINT) AS fixed_bytes,
        |  CAST(((count(*) * 8 - sum(vb)) * 1000000) // (count(*) * 8)
        |    AS BIGINT) AS savings_ppm
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q474: embedding dead-dimension audit -----------------------------
    // Embedding-health profiling: dimensions whose variance collapses
    // ("dead units") waste index bytes and poison cosine geometry.
    // Per-dim variance from exact integer power sums (n·Σx² − (Σx)²,
    // millis quantization), compared against the MEDIAN dim variance
    // by cross-multiplication — dims under 10% of median flag dead.
    // Four dims are planted dead (constant 7) so the flag law is
    // exact: 61–64 flag, nothing else. One corpus scan to the O(64)
    // frame; the median rank runs over 64 rows.
    QueryDef("q474_dead_dimension_audit",
      (s, d) => {
        val qv = expr("transform(sequence(1, 64), i -> " +
          "IF(i >= 61, 7L, CAST(round(CAST(element_at(embedding, i) " +
          "AS DOUBLE) * 1000, 0) AS LONG)))")
        val dims = embeddings(s, d).select(qv.as("v"))
          .select(posexplode(col("v")).as(Seq("__p", "x")))
          .withColumn("dim", col("__p") + 1)
          .groupBy("dim")
          .agg(count(lit(1)).as("n"), sum("x").as("__s"),
            sum(col("x") * col("x")).as("__s2"))
          .withColumn("var_scaled",
            col("n") * col("__s2") - col("__s") * col("__s"))
        val wr = Window.orderBy(col("var_scaled"), col("dim"))
        dims
          .withColumn("__rk", row_number().over(wr))
          .withColumn("__med", max(when(col("__rk") === 32,
            col("var_scaled"))).over(Window.partitionBy()))
          .select(col("dim"), col("n"),
            expr("__s div n").as("mean_milli"), col("var_scaled"),
            expr("(var_scaled * 1000000) div __med").as("var_vs_median_ppm"),
            (col("var_scaled") * 10 < col("__med")).as("dead"))
          .orderBy("dim")
      },
      Some("""WITH e AS (SELECT list_transform(generate_series(1, 64),
        |    i -> CASE WHEN i >= 61 THEN 7
        |      ELSE CAST(round(CAST(embedding[i] AS DOUBLE) * 1000, 0)
        |        AS BIGINT) END) AS v
        |  FROM embeddings),
        |d AS (SELECT i AS dim, v[i] AS x FROM e,
        |  generate_series(1, 64) AS t(i)),
        |a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS s2
        |  FROM d GROUP BY 1),
        |vr AS (SELECT dim, n, s, n * s2 - s * s AS var_scaled FROM a),
        |rk AS (SELECT *, row_number() OVER (ORDER BY var_scaled, dim)
        |    AS rk FROM vr),
        |md AS (SELECT max(CASE WHEN rk = 32 THEN var_scaled END) AS med
        |  FROM rk)
        |SELECT dim, n, CAST(s // n AS BIGINT) AS mean_milli,
        |  CAST(var_scaled AS BIGINT) AS var_scaled,
        |  CAST((var_scaled * 1000000) // md.med AS BIGINT)
        |    AS var_vs_median_ppm,
        |  var_scaled * 10 < md.med AS dead
        |FROM rk, md ORDER BY dim""".stripMargin)),

    // ---- q475: metadata-vs-content language audit -------------------------
    // Declared metadata lies; content doesn't: run the q35 language-ID
    // heuristic against the DECLARED lang column and report the
    // disagreement matrix + per-source disagreement ppm (over docs
    // with evidence) — the wrong-metadata detector that decides
    // whether a source's lang tags can be trusted for mixture
    // planning (q181/q369). One scoring pass, O(source × lang²)
    // output, per-source rates via windows over that frame.
    QueryDef("q475_metadata_lang_audit",
      (s, d) => {
        val scored = documents(s, d)
          .select(col("source"), col("lang"), col("text"))
          .repartition(col("source"))
          .withColumn("lang_pred", Text.langIdHeuristic(col("text")))
        val cells = scored.groupBy("source", "lang", "lang_pred")
          .agg(count(lit(1)).as("n"))
        val ws = Window.partitionBy("source")
        cells
          .withColumn("__ev", sum(when(col("lang_pred").isNotNull,
            col("n")).otherwise(0L)).over(ws))
          .withColumn("__dis", sum(when(col("lang_pred").isNotNull &&
            col("lang_pred") =!= col("lang"), col("n")).otherwise(0L))
            .over(ws))
          .select(col("source"), col("lang"), col("lang_pred"), col("n"),
            expr("(__dis * 1000000) div __ev").as("src_disagree_ppm"))
          .orderBy("source", "lang", "lang_pred")
      },
      Some {
        val structs = Text.stopwords.toSeq.sortBy(_._1).map { case (lg, words) =>
          val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
          s"struct_pack(hits := len(list_filter(rt, " +
            s"x -> list_contains($list, x))), lg := '$lg')"
        }.mkString(",\n    ")
        s"""WITH t AS (SELECT source, lang,
        |  list_filter(regexp_split_to_array(lower(text), '\\s+'),
        |    x -> length(x) > 0) AS rt
        |  FROM documents),
        |s AS (SELECT source, lang, list_aggregate([
        |    $structs], 'max') AS best FROM t),
        |p AS (SELECT source, lang,
        |    CASE WHEN best.hits > 0 THEN best.lg END AS lang_pred
        |  FROM s),
        |c AS (SELECT source, lang, lang_pred,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM p GROUP BY 1, 2, 3),
        |w AS (SELECT *,
        |    sum(CASE WHEN lang_pred IS NOT NULL THEN n ELSE 0 END)
        |      OVER (PARTITION BY source) AS ev,
        |    sum(CASE WHEN lang_pred IS NOT NULL AND lang_pred != lang
        |      THEN n ELSE 0 END) OVER (PARTITION BY source) AS dis
        |  FROM c)
        |SELECT source, lang, lang_pred, n,
        |  CAST((dis * 1000000) // ev AS BIGINT) AS src_disagree_ppm
        |FROM w ORDER BY source, lang, lang_pred NULLS FIRST""".stripMargin
      })
  )
}
