package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * term statistics, language-ID heuristic, quality scoring, and
  * fingerprinting. All hot-path expressions are built-in functions
  * (codegen'd); no UDFs.
  */
object Text {

  /** Lowercase, strip non-alphanumerics, collapse whitespace. The
    * canonical form used by dedup and fingerprinting. */
  def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Whitespace tokens of the normalized text (empty-safe). */
  def tokens(c: Column): Column =
    filter(split(normText(c), " "), t => length(t) > 0)

  /** Raw whitespace tokens (lowercased, diacritics preserved) — used
    * by language-ID where normalization would destroy the evidence. */
  def rawTokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  /** BPE-ish sub-word token stream: letter runs, digit runs, and single
    * punctuation marks — the usual pre-tokenizer regex family. */
  def subwordTokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Per-document token statistics. */
  def tokenStats(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    df.withColumn("n_tokens", size(toks).cast("bigint"))
      .withColumn("n_subword_tokens", size(subwordTokens(col(textCol))).cast("bigint"))
      .withColumn("avg_token_len",
        round(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
          greatest(size(toks), lit(1)), 4))
  }

  /** Corpus term frequencies: explode + hash-agg (map-side partial
    * aggregation keeps the shuffle small at scale). */
  def termFrequencies(df: DataFrame, textCol: String): DataFrame =
    // round-robin repartition before tokenize+explode: the map-side
    // tokenization is the cost, and a small single-file scan is ONE
    // partition (see Dedup.shingleRows)
    df.select(col(textCol)).repartition()
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))

  /** TF-IDF per (doc, term): tf * (ln((N+1)/(df+1)) + 1) — the
    * smoothed-idf variant. Two hash-aggs + one equi-join on the term;
    * `nDocs` is supplied by the caller (a count the caller usually
    * already has) so the operator itself stays a pure transform. */
  def tfidf(df: DataFrame, idCol: String, textCol: String, nDocs: Long): DataFrame =
      Checkpoints.scoped { pin =>
    // Single corpus scan: tf already has one row per (doc, term), so
    // df(term) = count of tf rows per term — no second tokenize pass,
    // no distinct. tf is persisted (it feeds both the df aggregate and
    // the final join). The join strategy is left to AQE: per-term
    // counts broadcast when the vocabulary is small, fall back to a
    // shuffle join when it isn't (at corpus scale a vocabulary can
    // outgrow a broadcast). repartition before tokenize+explode
    // spreads the map-side work when the source is a single small file
    // (see Dedup.shingleRows).
    val termRows = df.select(col(idCol), col(textCol)).repartition(col(idCol))
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = pin.keep(termRows.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, Seq("term"))
      .withColumn("tfidf", round(col("tf") *
        (log((lit(nDocs) + 1.0) / (col("df") + 1.0)) + 1.0), 6))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Adjacent sub-word token pair frequencies — the counting step of a
    * BPE merge round. Pairs are built row-locally (transform over the
    * token index, no self-join) then explode + hash-aggregate; at
    * corpus scale the shuffle carries map-side-combined (pair, count)
    * partials, not token streams. */
  def adjacentPairFrequencies(df: DataFrame, textCol: String): DataFrame = {
    // let-bind the token array: without it CollapseProject re-runs the
    // tokenizer per pair index (see langIdHeuristic)
    val pairs = transform(array(subwordTokens(col(textCol))), t =>
      when(size(t) >= 2,
        transform(sequence(lit(1), size(t) - 1),
          i => concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
        .otherwise(array().cast("array<string>"))
    ).getItem(0)
    df.select(col(textCol)).repartition()
      .select(explode(pairs).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("freq"))
  }

  /** One BPE-style merge applied to a token array: every adjacent
    * occurrence of (x, y) becomes the single token x‖joiner‖y.
    * Requires x ≠ y (the caller's pair selection enforces it) — then
    * merge sites cannot overlap, so "all sites merge" IS the greedy
    * left-to-right BPE pass, and the whole rewrite is one
    * position-indexed transform+filter (no sequential fold, no UDF):
    * position i emits the merged token if (i, i+1) is a site, drops
    * if (i-1, i) is a site, else passes through. */
  def mergeAdjacentPair(toks: Column, x: Column, y: Column,
                        joiner: String): Column =
    // size < 2: no possible site — and the guard matters for
    // correctness under ANSI: sequence(1, 0) DESCENDS to [1, 0], so
    // the unguarded transform would element_at an empty array
    when(size(toks) < 2, toks).otherwise(filter(
      transform(sequence(lit(1), size(toks)), i => {
        // per-branch laziness of CASE WHEN guards every element_at
        // against out-of-range indices (ANSI-safe)
        val nextIsY = when(i < size(toks),
          element_at(toks, i + 1) === y).otherwise(lit(false))
        val prevIsX = when(i > lit(1),
          element_at(toks, i - 1) === x).otherwise(lit(false))
        when(element_at(toks, i) === x && nextIsY, concat(x, lit(joiner), y))
          .otherwise(when(prevIsX && element_at(toks, i) === y, lit(null))
            .otherwise(element_at(toks, i)))
      }),
      z => z.isNotNull))

  /** One round of corpus-level BPE merge training over a (key, toks)
    * frame: count adjacent pairs with x ≠ y (map-side-combining
    * hash-agg — the q108 shape), pick the most frequent (ties broken
    * on (x, y) ascending — engine-portable for ASCII tokens), and
    * rewrite every document with [[mergeAdjacentPair]]. The winning
    * pair rides a broadcast 1-row frame into the rewrite — no
    * driver-side collect, so rounds chain lazily. Returns
    * (rewritten frame, 1-row (x, y, cnt) frame). */
  def bpeMergeRound(df: DataFrame, toksCol: String,
                    joiner: String = "_"): (DataFrame, DataFrame) = {
    val t = col(toksCol)
    val pairs = df
      .select(explode(when(size(t) >= 2,
        transform(sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("x"), element_at(t, i + 1).as("y"))))
        .otherwise(array().cast("array<struct<x:string,y:string>>"))).as("p"))
      .where(col("p.x") =!= col("p.y"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(count(lit(1)).as("cnt"))
    val best = pairs.orderBy(col("cnt").desc, col("x"), col("y")).limit(1)
    val merged = df.crossJoin(broadcast(best.select(
        col("x").as("__bx"), col("y").as("__by"), col("cnt").as("__bc"))))
      .withColumn(toksCol,
        mergeAdjacentPair(t, col("__bx"), col("__by"), joiner))
      .drop("__bx", "__by", "__bc")
    (merged, best)
  }

  /** Sorted-neighbor longest-common-prefix audit (the suffix-array-
    * adjacency trick applied at document granularity): each doc's LCP
    * in TOKENS with its predecessor in (first-token partition, text
    * order). Boilerplate-heavy corpora (shared page headers, template
    * openings) surface as long LCPs without any pair join — ONE
    * partitioned sort, no doc×doc. The first doc of each first-token
    * partition has no predecessor (lcp null); docs sharing no first
    * token are never compared — exactly the blocking a boilerplate
    * audit wants. A first-token hot key ("the"-initial web text)
    * skews the sort; sub-partition on the first TWO tokens (same
    * blocking argument) before reaching for salting.
    *
    * LCP itself is position arithmetic, not a fold: first differing
    * index via array_min over the mismatch positions, m on total
    * agreement. */
  def sortedNeighborLcp(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .repartition(col(idCol))
      .withColumn("__ft",
        when(size(col("__t")) > 0, element_at(col("__t"), 1))
          .otherwise(lit("")))
      .withColumn("__key", concat_ws(" ", col("__t")))
    val w = Window.partitionBy("__ft").orderBy(col("__key"), col(idCol))
    val prev = lag(col("__t"), 1).over(w)
    // coalesce to 0 so the guard below stays FALSE (not null) with no
    // predecessor — And(null, _) would evaluate the element_at branch
    val m = coalesce(least(size(col("__t")), size(col("__prev"))), lit(0))
      .cast("int")
    val firstDiff = array_min(filter(
      transform(sequence(lit(1), greatest(col("__m"), lit(1))), i =>
        when(col("__m") >= 1 &&
          element_at(col("__t"), i) =!= element_at(col("__prev"), i), i)),
      z => z.isNotNull))
    toks.withColumn("__prev", prev)
      .withColumn("__m", m)
      .withColumn("lcp",
        when(col("__prev").isNull, lit(null).cast("long"))
          .otherwise(coalesce(firstDiff - 1,
            col("__m").cast("long")).cast("long")))
      .select(col(idCol), size(col("__t")).cast("long").as("n_tokens"),
        col("lcp"))
  }

  /** Small multilingual stopword inventory for the language-ID
    * heuristic. Public knowledge (most-frequent function words). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "pas", "pour", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "no", "por", "que"),
    "vi" -> Seq("và", "là", "của", "có", "không", "một", "người", "trong", "được", "cho"))

  /** Count of tokens that appear in `words`. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Word-unigram language-ID heuristic: argmax of per-language
    * stopword hit counts; null when no evidence. Pure expressions —
    * stays in whole-stage codegen. */
  def langIdHeuristic(textCol: Column): Column =
    // let-bind the token array via transform(array(x), v => body)
    // .getItem(0): without it CollapseProject inlines the regexp
    // tokenizer into every per-language hit count and it re-runs 5x
    // per row (the recompute trap — see Dedup.rowBandKeys)
    transform(array(rawTokens(textCol)), toks => {
      val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
        struct(stopwordHits(toks, words).as("hits"), lit(lang).as("lang"))
      }
      val best = array_max(array(scored: _*))
      when(best.getField("hits") > 0, best.getField("lang"))
    }).getItem(0)

  /** Characteristic character trigrams per language (public knowledge:
    * high-frequency function-word fragments, diacritic-bearing for
    * vi). Space-padded trigrams capture word boundaries. */
  val charTrigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "he ", " th", "ing", "and", " of", "of ", "ion", " is", "is "),
    "de" -> Seq("der", "ein", "ich", "sch", "und", " de", "die", "cht", "en ", "nde"),
    "fr" -> Seq(" le", "les", "des", "ent", "que", " qu", "est", "une", " un", "ais"),
    "es" -> Seq(" el", "el ", " la", "los", " es", "es ", "ión", "ado", " un", "una"),
    "vi" -> Seq("ng ", " ng", "nh ", " ch", " th", "ười", "ông", "iệ", "ậ", "ờ"))

  /** Character n-gram language ID: per language, the fraction of the
    * text's char trigrams found in that language's profile; argmax
    * with the same null-on-no-evidence contract as langIdHeuristic.
    * More robust than word matching on unsegmented or OCR-ish text. */
  def langIdCharNgram(textCol: Column): Column = {
    val padded = concat(lit(" "), lower(textCol), lit(" "))
    val grams = transform(sequence(lit(1), greatest(length(padded) - 2, lit(0))),
      i => padded.substr(i, lit(3)))
    val scored = charTrigramProfiles.toSeq.sortBy(_._1).map { case (lang, profile) =>
      // substring profiles (vi diacritics) need contains, not equality
      val hits = size(filter(grams, g =>
        profile.map(p => g.contains(p)).reduce(_ || _)))
      struct(hits.as("hits"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang"))
  }

  /** Quality gate with drop-reason accounting: evaluates `rules` in
    * order and labels each row with the FIRST failing rule's name
    * (null = kept). Pipelines report drop reasons as first-class
    * output — "how much did each filter cost me" is the observability
    * question every corpus build asks. Pure projection, no shuffle. */
  def qualityGate(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    val reason = rules.foldRight(lit(null).cast("string")) {
      // NULL rule result = FAIL (conservative: a row whose quality
      // cannot be established is dropped, not silently kept)
      case ((name, passes), rest) =>
        when(!coalesce(passes, lit(false)), lit(name)).otherwise(rest)
    }
    df.withColumn("drop_reason", reason)
  }

  /** Heuristic quality features + a composite score in [0, 1]:
    * length, punctuation/digit ratios, stopword density, repetition.
    * The standard cheap pre-filter family for LLM training corpora. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nChars = greatest(length(t), lit(1)).cast("double")
    val nToks = greatest(size(toks), lit(1)).cast("double")
    df.withColumn("q_n_tokens", size(toks).cast("bigint"))
      .withColumn("q_punct_ratio",
        round(length(regexp_replace(t, "[^.!?,;:]", "")).cast("double") / nChars, 6))
      .withColumn("q_digit_ratio",
        round(length(regexp_replace(t, "[^0-9]", "")).cast("double") / nChars, 6))
      .withColumn("q_stopword_ratio",
        round(stopwordHits(toks, stopwords("en")).cast("double") / nToks, 6))
      .withColumn("q_uniq_token_ratio",
        round(size(array_distinct(toks)).cast("double") / nToks, 6))
  }

  /** Composite score from qualityFeatures output. */
  def qualityScore(df: DataFrame): DataFrame =
    df.withColumn("quality_score", round(
      least(col("q_n_tokens").cast("double") / 64.0, lit(1.0)) * 0.4 +
        col("q_uniq_token_ratio") * 0.4 +
        least(col("q_stopword_ratio") * 5.0, lit(1.0)) * 0.2, 6))

  /** Content fingerprint: md5 of the normalized text — exact-dup key. */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** Winnowing-style robust fingerprint: the lexicographic minimum of
    * the hashed word n-gram shingles. Survives local edits that change
    * only a few shingles; used as a cheap near-dup prefilter. */
  def minShingleFingerprint(c: Column, n: Int): Column =
    array_min(transform(Dedup.wordShingles(tokens(c), n), s => md5(s)))

  /** Rolling-hash (Karp-Rabin) shingle hashes: one 64-bit hash per
    * word n-gram in O(tokens) via the graft_rolling_hash expression.
    * Callers must have registered graft functions on the session. */
  def rollingShingleHashes(toks: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_rolling_hash",
      toks, org.apache.spark.sql.functions.lit(n))

  /** Rolling-hash document fingerprint: min shingle hash (winnowing
    * pick) — the linear-time counterpart of minShingleFingerprint. */
  def rollingFingerprint(df: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    df.select(col(idCol),
      array_min(rollingShingleHashes(tokens(col(textCol)), n)).as("rolling_fp"))
  }

  /** Count-Min sketch of token frequencies: `d` hash rows × `w`
    * buckets, hashes md5-derived (engine-portable, deterministic — the
    * same trick that makes the KMV and SRP sketches oracle-verifiable).
    * The sketch is a FIXED d×w-row table regardless of corpus size:
    * one explode + hash-aggregate whose shuffle carries at most d×w
    * partial counters per map task — the 100 TB shape for frequency
    * estimation where a full term groupBy's cardinality is unbounded.
    * Output: (row, bucket, cnt). */
  def countMinSketch(df: DataFrame, textCol: String, d: Int, w: Int): DataFrame = {
    val terms = df
      .select(col(textCol)).repartition(col(textCol)) // projection barrier (see shingleRows)
      .select(explode(tokens(col(textCol))).as("term"))
    val rows = terms.select(posexplode(array((0 until d).map { j =>
      (Sampling.hashLong(concat(col("term"), lit(s"#$j"))) % w).as(s"b$j")
    }: _*)).as(Seq("row", "bucket")))
    rows.groupBy("row", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Heavy hitters via the Count-Min sketch: estimate each candidate
    * term's count as the MIN of its d bucket counters (classic CMS
    * upper bound: est >= true count, overestimate bounded by collision
    * mass), keep candidates with est >= minCount. The d sketch joins
    * broadcast (the sketch is d×w rows — config-file sized); the only
    * corpus-sized work is the candidate-term distinct. Returns (term,
    * est, cnt) with the exact count for calibration. */
  def cmsHeavyHitters(df: DataFrame, textCol: String, d: Int, w: Int,
                      minCount: Long): DataFrame = Checkpoints.scoped { pin =>
    // persisted: each of the d broadcast joins below consumes the
    // sketch, and without this the corpus-sized explode+agg would run
    // d times (the frame itself is only d×w counter rows)
    val sketch = pin.keep(countMinSketch(df, textCol, d, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val exact = df
      .select(col(textCol)).repartition(col(textCol))
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val withEst = (0 until d).foldLeft(exact) { (acc, j) =>
      acc.withColumn(s"__b$j", Sampling.hashLong(concat(col("term"), lit(s"#$j"))) % w)
        .join(broadcast(sketch.where(col("row") === j)
          .select(col("bucket").as(s"__b$j"), col("cnt").as(s"__c$j"))), Seq(s"__b$j"))
    }
    withEst
      .select(col("term"), least((0 until d).map(j => col(s"__c$j")): _*).as("est"),
        col("cnt"))
      .where(col("est") >= minCount)
  }

  /** Repetition/boilerplate signals per document — the Gopher-family
    * quality rules (Rae et al. 2021 §A1.1: fraction of characters in
    * the most common n-gram, fraction of duplicate n-grams): for each
    * doc the total n-gram occurrence count, the most frequent n-gram's
    * count, its mass fraction, and the duplicate-occurrence fraction
    * (1 - distinct/total, computed as an exact integer ratio). High
    * values flag machine-generated / boilerplate text that length and
    * punctuation gates miss.
    *
    * Shape: explode n-gram OCCURRENCES (not the distinct set — mass
    * fractions need multiplicity), count per (doc, gram), then fold to
    * per-doc stats — two map-side-combinable hash aggregations, no
    * joins, shuffle keyed on (doc, gram) then doc. Docs with fewer
    * than n tokens emit no row (no n-grams — nothing to score). */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame = {
    val grams = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .repartition(col(idCol))
      .select(col(idCol), explode(Dedup.wordShingles(col("__toks"), n)).as("__g"))
    grams
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum("__c").as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max("__c").as("top_cnt"))
      .select(col(idCol), col("n_grams"), col("n_distinct"), col("top_cnt"),
        round(col("top_cnt").cast("double") / col("n_grams"), 6).as("top_frac"),
        round((col("n_grams") - col("n_distinct")).cast("double") /
          col("n_grams"), 6).as("dup_frac"))
  }

  /** Fixed-size token chunking with overlap — the context-window
    * splitter every training/RAG pipeline runs before tokenizer
    * packing: windows of `chunkSize` tokens starting every `stride`
    * tokens (overlap = chunkSize - stride), the last window ragged.
    * Output: one row per (doc, chunk) with the 0-based chunk index,
    * 1-based start token, chunk length, and the md5 of the re-joined
    * chunk text (hash-verifiable without shipping wide strings).
    *
    * Row-local: starts come from sequence(), chunks from slice() — no
    * shuffle at all until the caller aggregates; at 100 TB this is a
    * pure map stage. Empty docs emit no row. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val chunks = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .repartition(col(idCol))
      .select(col(idCol), col("__toks"),
        explode(when(size(col("__toks")) > 0,
            sequence(lit(1), size(col("__toks")), lit(stride)))
          .otherwise(array().cast("array<int>"))).as("__start"))
    chunks.select(col(idCol),
        (expr(s"(__start - 1) div $stride")).cast("long").as("chunk_idx"),
        col("__start").cast("long").as("start_tok"),
        size(slice(col("__toks"), col("__start"), lit(chunkSize)))
          .cast("long").as("n_toks"),
        md5(array_join(slice(col("__toks"), col("__start"), lit(chunkSize)), " "))
          .as("chunk_md5"))
  }

  /** Per-domain percentile quality gate: keep each row whose integer
    * `scoreCol` is at or above its domain's `pct`-th percentile —
    * "drop the bottom quartile of every language" rather than one
    * global cut that would gut low-resource domains. The threshold is
    * percentile_disc semantics in pure integer math: the smallest
    * score whose running count reaches ceil(total * pct / 100), so
    * it is always an existing score (no interpolation, no floats) and
    * replays bit-identically in any engine.
    *
    * Two-level shape: scores first collapse to (domain, score) COUNT
    * rows (one partial-combining hash-agg over the data), the
    * cumulative window then runs over those distinct-score rows only —
    * bounded by score cardinality, never data rows. The per-domain
    * threshold table is one row per domain and broadcast back. Scores
    * must be non-null. */
  def domainPercentileGate(df: DataFrame, domainCol: String,
                           scoreCol: String, pct: Int): DataFrame = {
    val thr = domainPercentileThreshold(df, domainCol, scoreCol, pct)
    df.join(broadcast(thr), Seq(domainCol))
      .where(col(scoreCol) >= col("threshold"))
  }

  /** The per-domain percentile_disc threshold [[domainPercentileGate]]
    * gates on, as a standalone (domain, threshold) frame — reused by
    * any two-pass robust statistic (median, MAD) that needs an exact
    * order statistic per group without a data-row window. */
  def domainPercentileThreshold(df: DataFrame, domainCol: String,
                                scoreCol: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be 0..100, got $pct")
    val c = df.groupBy(col(domainCol), col(scoreCol))
      .agg(count(lit(1)).as("__cnt"))
    val t = c.groupBy(col(domainCol)).agg(sum("__cnt").as("__total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol)).orderBy(col(scoreCol))
    c.join(t, Seq(domainCol))
      .withColumn("__run", sum(col("__cnt")).over(w))
      .where(col("__run") >= expr(s"(__total * $pct + 99) div 100"))
      .groupBy(col(domainCol)).agg(min(col(scoreCol)).as("threshold"))
  }

  /** Per-domain ROBUST outliers — median + MAD in exact integer math
    * (the q124 global two-pass MAD, made per-group): a row is an
    * outlier when |score - median| * 100 > k100 * MAD, i.e. score is
    * more than k100/100 MADs from its domain's median. Both order
    * statistics are percentile_disc(50) via
    * [[domainPercentileThreshold]], so every comparison is BIGINT and
    * replays bit-identically (no float robust-scale estimate). Output:
    * the outlier rows with their domain median and MAD attached.
    *
    * Two passes over the data (median, then deviation median), each a
    * count-collapse + domain-bounded window + broadcast back — the
    * same shape as the gate, never a data-row window. MAD == 0 (over
    * half the domain at one value) flags every off-median row; the
    * caller can pre-bucket scores if that is too strict. */
  def domainRobustOutliers(df: DataFrame, domainCol: String,
                           scoreCol: String, k100: Long): DataFrame = {
    require(k100 > 0, s"k100 must be positive, got $k100")
    val med = domainPercentileThreshold(df, domainCol, scoreCol, 50)
      .withColumnRenamed("threshold", "median")
    val dev = df.join(broadcast(med), Seq(domainCol))
      .withColumn("__adev", abs(col(scoreCol) - col("median")))
    val mad = domainPercentileThreshold(dev, domainCol, "__adev", 50)
      .withColumnRenamed("threshold", "mad")
    dev.join(broadcast(mad), Seq(domainCol))
      .where(col("__adev") * 100 > col("mad") * k100)
      .drop("__adev")
  }
}
