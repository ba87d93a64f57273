package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, and n-gram
  * Jaccard verification. All hashing is md5-based (built-in, identical
  * across engines, deterministic) so every stage is oracle-verifiable.
  *
  * Scale design: nothing here compares all pairs. Exact dedup is one
  * hash-agg; MinHash/LSH reduces near-dup detection to an equi-join on
  * band keys (shuffle on band, then pair-local work); Jaccard runs
  * only on LSH candidates. The signature computation is formulated as
  * explode + hash-aggregate rather than nested array lambdas: min() of
  * k hash columns is a codegen'd partial aggregate that combines
  * map-side, so the shuffle carries one row per (doc, k mins) — at
  * 100 TB the shuffle volume is O(docs), not O(shingles).
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per normalized-content hash.
    * One shuffle (hash-agg on the fingerprint). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", Text.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Bloom-filter membership of incoming fingerprints against an
    * existing corpus's fingerprint set — the cheap FIRST gate of
    * incremental exact dedup at web scale (q292). The "filter" is the
    * DISTINCT table of the k md5-derived bit positions the existing
    * fps set (size min(n·k, mBits) rows — exact, engine-portable, and
    * at most the bit-array's information content); an incoming row is
    * `claimed` iff all k of its positions are present. The Bloom
    * theorem holds by construction: an fp present in `existing` set
    * exactly the positions the same fp probes, so false negatives are
    * impossible (pinned on planted duplicates in Round7Spec); false
    * positives are the design trade the caller measures. All joins are
    * keyed on positions; nothing row × row. */
  def bloomClaimed(existing: DataFrame, incoming: DataFrame, fpCol: String,
                   mBits: Int, k: Int): DataFrame = {
    require(mBits > 0 && k > 0, s"need positive mBits/k, got $mBits/$k")
    def pos(f: Column, j: Column): Column =
      Sampling.hashLong(concat(f, lit("#bl"), j.cast("string"))) % mBits
    val bits = existing.select(col(fpCol)).distinct()
      .select(col(fpCol), explode(sequence(lit(0), lit(k - 1))).as("__j"))
      .select(pos(col(fpCol), col("__j")).as("__p")).distinct()
    val hits = incoming.select(col(fpCol)).distinct()
      .select(col(fpCol), explode(sequence(lit(0), lit(k - 1))).as("__j"))
      .select(col(fpCol), pos(col(fpCol), col("__j")).as("__p"))
      .join(bits, Seq("__p"), "left_semi")
      .groupBy(col(fpCol)).agg(count(lit(1)).as("__nhit"))
    incoming.join(hits, Seq(fpCol), "left")
      .withColumn("claimed", coalesce(col("__nhit"), lit(0L)) === k)
      .drop("__nhit")
  }

  /** Word n-gram shingles from a token array (positions via
    * transform+slice — no explode, no shuffle). Empty when the doc has
    * fewer than n tokens. */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Distinct shingle set per document. */
  def shingleSet(textCol: Column, n: Int): Column =
    array_distinct(wordShingles(Text.tokens(textCol), n))

  /** One row per (id, distinct shingle) — the exploded formulation the
    * aggregate stages build on.
    *
    * The token array is materialized behind a repartition barrier
    * before shingling. Without it, Catalyst's CollapseProject inlines
    * the tokenization into every lambda position, so `slice(tokens, i,
    * n)` re-runs the full regexp+split per shingle index (measured
    * ~60x per doc); the exchange also spreads per-doc work across
    * cores when the source is a single small file. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = df
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .repartition(col(idCol))
    toks.select(col(idCol),
      explode(array_distinct(wordShingles(col("__toks"), n))).as("shingle"))
  }

  /** MinHash signatures: k columns `sig_0..sig_{k-1}`, where
    * sig_j = min over shingles of md5(shingle || "#j"). String-min
    * over hex digests is a valid min-hash family and engine-portable.
    * Docs with no shingles keep null signatures (left join back). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame = {
    val aggs = (0 until k).map { j =>
      min(md5(concat(col("shingle"), lit(s"#$j")))).as(s"sig_$j")
    }
    val sigs = shingleRows(df, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
    df.select(col(idCol)).join(sigs, Seq(idCol), "left")
  }

  /** LSH band keys from signature columns: `bands` keys, each
    * "<b>:" + md5(sig_{b*r} | ... | sig_{b*r+r-1}). Docs sharing any
    * band key are candidate near-duplicates. */
  def bandKeyArray(k: Int, bands: Int): Column = {
    val rows = k / bands
    array((0 until bands).map { b =>
      val cols = (0 until rows).map(r => col(s"sig_${b * rows + r}"))
      concat(lit(s"$b:"), md5(concat_ws("|", cols: _*)))
    }: _*)
  }

  /** Candidate near-dup pairs via MinHash LSH. Output: (id_a, id_b)
    * with id_a < id_b, distinct.
    *
    * `maxBucket` guards the self-join blowup: a band key shared by m
    * docs yields m² candidate pairs, and at corpus scale a few
    * degenerate buckets (boilerplate, empty-ish docs hashing alike)
    * can dominate the whole job. Buckets above the cap are dropped
    * entirely — the standard production trade (docs in a >maxBucket
    * bucket are near-certainly caught by one of their other bands, or
    * are exact dupes that exact-dedup already handles). Disabled when
    * maxBucket <= 0. */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, k: Int, bands: Int,
                        maxBucket: Int = 100000): DataFrame = Checkpoints.scoped { pin =>
    // persisted: both sides of the self-join consume this frame and
    // exchange reuse does not fire across the differently-aliased
    // branches. The frame is O(docs * bands) short rows — the dedup
    // working set — and spills to disk if it outgrows memory.
    val bandedAll = pin.keep(bandIndex(df, idCol, textCol, shingleN, k, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val banded =
      if (maxBucket <= 0) bandedAll
      else {
        // anti-join against the OVER-cap buckets: that list is tiny
        // (usually empty) and broadcasts, where joining on the
        // under-cap list would shuffle nearly every band key
        val big = bandedAll.groupBy("band")
          .agg(count(lit(1)).as("__m")).where(col("__m") > maxBucket)
          .select("band")
        // persisted too: a and b below each consume the capped frame,
        // and without this the count-agg + anti-join would run twice
        pin.keep(bandedAll.join(broadcast(big), Seq("band"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      }
    val a = banded.select(col("band"), col(idCol).as("id_a"))
    val b = banded.select(col("band"), col(idCol).as("id_b"))
    a.join(b, Seq("band"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Row-local LSH band keys: the same minhash/band family as
    * minhashSignatures + bandKeyArray but computed per ROW with array
    * expressions — no explode, no aggregation. This is the streaming
    * formulation (a stream cannot run the groupBy signature aggregate
    * before a stateful match); per-row cost is O(shingles × k)
    * interpreted lambdas, acceptable at per-record streaming rates.
    * Batch equivalence is pinned by StreamingSpec. Null when the doc
    * has no shingles. */
  def rowBandKeys(textCol: Column, shingleN: Int, k: Int, bands: Int): Column =
    // let-expression via lambda binding: `transform(array(x), v => body)
    // .getItem(0)` evaluates x ONCE and binds it — without it, the
    // tokenizer would re-run per shingle index inside wordShingles'
    // lambda and the shingle array would re-build per signature (the
    // CollapseProject recompute trap, see shingleRows; a projection
    // barrier is not available inside a single row-local expression)
    transform(array(Text.tokens(textCol)), toks =>
      transform(array(array_distinct(wordShingles(toks, shingleN))), sh => {
        def sig(j: Int): Column =
          array_min(transform(sh, s => md5(concat(s, lit(s"#$j")))))
        val rows = k / bands
        val keys = array((0 until bands).map { b =>
          val parts = (b * rows until b * rows + rows).map(sig)
          concat(lit(s"$b:"), md5(concat_ws("|", parts: _*)))
        }: _*)
        when(size(sh) > 0, keys)
      }).getItem(0)
    ).getItem(0)

  /** Persistent LSH band index: the (id, band) rows for a corpus
    * slice, suitable for writing to storage and reusing across ingest
    * increments — the piece that makes dedup INCREMENTAL at scale
    * (never re-shingle the existing corpus when a new batch arrives). */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                shingleN: Int, k: Int, bands: Int): DataFrame =
    minhashSignatures(df, idCol, textCol, shingleN, k)
      .where(col("sig_0").isNotNull)
      .select(col(idCol), explode(bandKeyArray(k, bands)).as("band"))

  /** Candidate pairs involving a NEW batch, given its band index and
    * the stored index of the existing corpus: cross pairs (new vs
    * stored) plus within-batch pairs. Together with the stored
    * corpus's own historical pairs this equals a full-corpus run —
    * banding is per-document, so candidates decompose exactly.
    * Output: (id_a, id_b), id_a < id_b, distinct. */
  def incrementalCandidatePairs(newBanded: DataFrame, storedBanded: DataFrame,
                                idCol: String, maxBucket: Int = 100000): DataFrame =
      Checkpoints.scoped { pin =>
    // persist: the new-batch banding is consumed three times (cross
    // join + both sides of the within-batch self-join) and exchange
    // reuse does not fire across the aliased branches
    val nb = pin.keep(newBanded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the blowup guard counts COMBINED bucket size (stored + new):
    // that is the m whose m² the join would materialize
    val capped =
      if (maxBucket <= 0) nb
      else {
        val big = nb.select(col("band")).union(storedBanded.select(col("band")))
          .groupBy("band").agg(count(lit(1)).as("__m"))
          .where(col("__m") > maxBucket).select("band")
        pin.keep(nb.join(broadcast(big), Seq("band"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      }
    val n = capped.select(col("band"), col(idCol).as("__nid"))
    val s = storedBanded.select(col("band"), col(idCol).as("__sid"))
    val cross = n.join(s, Seq("band"))
      .select(least(col("__nid"), col("__sid")).as("id_a"),
        greatest(col("__nid"), col("__sid")).as("id_b"))
      .where(col("id_a") < col("id_b")) // drops id collisions across slices
    val within = n.join(n.select(col("band"), col("__nid").as("__nid2")), Seq("band"))
      .select(col("__nid").as("id_a"), col("__nid2").as("id_b"))
      .where(col("id_a") < col("id_b"))
    cross.union(within).distinct()
  }

  /** Exact n-gram Jaccard over candidate pairs: |A ∩ B| via a double
    * equi-join on (id, shingle) rows — never materializes A × B. */
  def jaccard(pairs: DataFrame, df: DataFrame, idCol: String,
              textCol: String, shingleN: Int): DataFrame = Checkpoints.scoped { pin =>
    // consumed three times (two intersection joins + sizes) — persist
    val sh = pin.keep(shingleRows(df, idCol, textCol, shingleN)
      .withColumnRenamed(idCol, "sid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = sh.groupBy("sid").agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.select(col("sid").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("sid").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("sid").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("sid").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("n_inter")), 6))
      .select("id_a", "id_b", "n_inter", "sz_a", "sz_b", "jaccard")
  }

  /** EXACT shared-long-n-gram pairs — the "documents sharing a long
    * verbatim span" detector (the exact-substring dedup family of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022, reduced to fixed-length token windows): any
    * two documents that share at least one verbatim `n`-token window
    * become a pair, with the count of distinct shared windows. Unlike
    * MinHash this has no false negatives at the window length — but
    * ONLY when `maxDocsPerShingle <= 0`: with the cap on, a window
    * shared by more than the cap is dropped entirely, so a pair whose
    * only overlap is such a boilerplate window is missed. For a strict
    * eval-leak gate run uncapped, or pre-strip boilerplate; the capped
    * default is the throughput setting for corpus dedup.
    *
    * Shape: one row per (doc, distinct window FINGERPRINT) — the
    * md5 of the window rides in place of the window text, so the
    * shuffle carries 32-byte keys instead of n-token strings — then a
    * fingerprint self-equi-join (never doc × doc) and a pair hash-agg.
    * `maxDocsPerShingle` is the same degenerate-bucket cap as
    * `lshCandidatePairs`: a boilerplate window shared by m docs would
    * contribute m² pairs, so windows above the cap are dropped via an
    * anti-join (deterministic, replayed identically by the oracle,
    * q170). The over-cap set is NOT force-broadcast — at web scale the
    * boilerplate-window set is itself large (the same reasoning as
    * [[segmentDedup]]'s over-cap anti-join); a shuffled anti-join on
    * the fingerprint key scales with it, and AQE demotes to broadcast
    * on its own whenever the set is actually small. */
  def sharedShinglePairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int, maxDocsPerShingle: Int = 10000): DataFrame =
      Checkpoints.scoped { pin =>
    val fps = pin.keep(shingleRows(df, idCol, textCol, n)
      .select(col(idCol), md5(col("shingle")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val capped =
      if (maxDocsPerShingle <= 0) fps
      else {
        val big = fps.groupBy("fp")
          .agg(count(lit(1)).as("__m")).where(col("__m") > maxDocsPerShingle)
          .select("fp")
        pin.keep(fps.join(big, Seq("fp"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      }
    val a = capped.select(col("fp"), col(idCol).as("id_a"))
    val b = capped.select(col("fp"), col(idCol).as("id_b"))
    a.join(b, Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-document n-gram novelty: the fraction (ppm) of a document's
    * distinct n-token windows that NO earlier document (smaller id)
    * contains — the marginal-contribution signal data-valuation and
    * memorization audits rank on (a doc whose windows all appeared
    * before adds nothing; a high-novelty doc carries new content).
    * One shuffle keyed on the 32-byte window fingerprint computes the
    * global min owner per window (partial-combining min, never
    * doc×doc); a second map-side-combining agg folds ownership back
    * per doc. Docs with fewer than n tokens report 0 windows and ppm
    * null (no windows to be novel). */
  def windowNovelty(df: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame = {
    val fps = shingleRows(df, idCol, textCol, n)
      .select(col(idCol), md5(col("shingle")).as("fp"))
    val firstOwner = fps.groupBy("fp")
      .agg(min(col(idCol)).as("first_id"))
    val perDoc = fps.join(firstOwner, Seq("fp"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("first_id") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
    df.select(col(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_windows"), lit(0L)) > 0,
          expr("(n_novel * 1000000L) div n_windows")).as("novelty_ppm"))
  }

  /** Cap-drop audit for [[sharedShinglePairs]]: what did the
    * degenerate-window cap discard? One row: total distinct windows,
    * windows over the cap, (doc, window) occurrences lost with them,
    * and the number of documents touching at least one dropped window
    * — the exact population whose pairs the capped run can miss. A
    * leak-gate run reports this next to the pair count so "no false
    * negatives" claims are grounded in what the cap actually dropped
    * (zero dropped ⟹ the capped result IS the exact result). Same
    * frame shapes as the operator itself: fingerprint counts are one
    * partial-combining hash-agg, never doc × doc. */
  def sharedShingleCapAudit(df: DataFrame, idCol: String, textCol: String,
                            n: Int, maxDocsPerShingle: Int): DataFrame =
      Checkpoints.scoped { pin =>
    val fps = pin.keep(shingleRows(df, idCol, textCol, n)
      .select(col(idCol), md5(col("shingle")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val counts = fps.groupBy("fp").agg(count(lit(1)).as("__m"))
    val big = counts.where(col("__m") > maxDocsPerShingle)
    val docsHit = fps.join(broadcast(big.select("fp")), Seq("fp"), "left_semi")
      .agg(countDistinct(col(idCol)).as("n_docs_affected"))
    counts.agg(count(lit(1)).as("n_windows"),
        coalesce(sum(when(col("__m") > maxDocsPerShingle, lit(1L))), lit(0L))
          .as("n_windows_dropped"),
        coalesce(sum(when(col("__m") > maxDocsPerShingle, col("__m"))), lit(0L))
          .as("n_occurrences_dropped"))
      .crossJoin(broadcast(docsHit))
  }

  /** SEGMENT-level corpus dedup — the C4 / RefinedWeb boilerplate
    * removal stage: cut each document into consecutive `segTokens`-token
    * segments, drop every segment that occurs (verbatim) in more than
    * `maxDocs` distinct documents corpus-wide, and reassemble what's
    * left in original order. Catches the nav-bars / cookie-banners /
    * license-headers class of duplication that document-level dedup
    * (exact q40, fuzzy q91, exact-substring q172) never sees, because
    * the surrounding document is unique. Output: one row per input doc
    * — segment totals, kept/dropped counts, and the md5 of the
    * reassembled text (hash-verifiable without shipping wide strings);
    * docs shredded to nothing (or empty to begin with) survive with
    * n_kept = 0 and md5("") — dropping them is a policy for the
    * quality gate downstream, not for the rewrite.
    *
    * Scale shape: segment text never travels beyond its own doc's
    * rows — corpus-wide frequency runs on md5 fingerprints (distinct
    * (doc, fp) then a partial-combining count), the over-`maxDocs` set
    * anti-joins back on fp (a shuffle join, NOT a forced broadcast: at
    * web scale the boilerplate set is itself large; AQE demotes to
    * broadcast when it is small), and reassembly is one groupBy(doc)
    * whose collect_list buffers a single document's segments — bounded
    * by doc length, the same bound as any per-doc rewrite. No stage is
    * doc × doc. */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segTokens: Int, maxDocs: Int): DataFrame = {
    require(segTokens > 0 && maxDocs > 0,
      s"need positive segTokens/maxDocs, got $segTokens/$maxDocs")
    val segs = df
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .repartition(col(idCol))
      .select(col(idCol),
        explode(when(size(col("__toks")) > 0,
            sequence(lit(1), size(col("__toks")), lit(segTokens)))
          .otherwise(array().cast("array<int>"))).as("__s"),
        col("__toks"))
      .select(col(idCol), col("__s"),
        array_join(slice(col("__toks"), col("__s"), lit(segTokens)), " ")
          .as("__seg"))
      .withColumn("__fp", md5(col("__seg")))
    val freq = segs.select(col(idCol), col("__fp")).distinct()
      .groupBy("__fp").agg(count(lit(1)).as("__m"))
      .where(col("__m") > maxDocs).select("__fp")
    val kept = segs.join(freq, Seq("__fp"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
            array_sort(collect_list(struct(col("__s"), col("__seg")))),
            x => x.getField("__seg")), " ").as("__clean"))
    val totals = segs.groupBy(col(idCol)).agg(count(lit(1)).as("n_segs"))
    df.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_segs"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        md5(coalesce(col("__clean"), lit(""))).as("clean_md5"))
  }

  /** INTRA-document repeated-segment removal — the self-repetition
    * scrub next to [[segmentDedup]]'s corpus-wide strike: on the same
    * `segTokens` grid, every occurrence of a segment AFTER its first
    * within the SAME document is dropped and the remainder reassembled
    * in order (the "page repeats its own boilerplate N times"
    * degeneracy that Gopher's duplicate-n-gram fraction (q175) flags
    * but does not fix). No corpus-wide frequency pass at all: the
    * keep/drop decision is a per-(doc, fingerprint) min-position
    * window — partitioned, never global — so the operator is one
    * doc-keyed shuffle end to end and scales with the corpus
    * trivially. Reassembly buffers one doc's kept segments, bounded by
    * the doc's own length. Output mirrors [[segmentDedup]]:
    * (id, n_segs, n_kept, n_dropped, clean_md5). */
  def intraDocSegmentDedup(df: DataFrame, idCol: String, textCol: String,
                           segTokens: Int): DataFrame = {
    require(segTokens > 0, s"need positive segTokens, got $segTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("__fp"))
    val segs = df
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .repartition(col(idCol))
      .select(col(idCol),
        explode(when(size(col("__toks")) > 0,
            sequence(lit(1), size(col("__toks")), lit(segTokens)))
          .otherwise(array().cast("array<int>"))).as("__s"),
        col("__toks"))
      .select(col(idCol), col("__s"),
        array_join(slice(col("__toks"), col("__s"), lit(segTokens)), " ")
          .as("__seg"))
      .withColumn("__fp", md5(col("__seg")))
      .withColumn("__first", min(col("__s")).over(w))
    val kept = segs.where(col("__s") === col("__first"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
            array_sort(collect_list(struct(col("__s"), col("__seg")))),
            x => x.getField("__seg")), " ").as("__clean"))
    val totals = segs.groupBy(col(idCol)).agg(count(lit(1)).as("n_segs"))
    df.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_segs"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        md5(coalesce(col("__clean"), lit(""))).as("clean_md5"))
  }

  /** CONTENT-DEFINED chunking + cross-doc chunk-share audit — the
    * storage-dedup primitive (CDC) at token granularity: a token opens
    * a new chunk iff its md5-derived 32-bit value ≡ 0 (mod
    * `modBoundary`), so chunk boundaries follow CONTENT, not offsets —
    * an insertion re-chunks only the two chunks it touches, where
    * q180's fixed 8-token grid shifts every segment after the edit.
    * Expected chunk length ≈ `modBoundary` tokens. Output: one row per
    * doc — chunk count, how many of its chunks also occur verbatim in
    * at least one OTHER doc, and that share in ppm (integer floor) —
    * the shift-robust boilerplate signal.
    *
    * Scale shape mirrors `segmentDedup`: chunk text never leaves its
    * doc's rows (corpus frequency runs on md5 fingerprints, one
    * distinct + one partial-combining count), the shared-fp set joins
    * back on fp (shuffle join, AQE demotes to broadcast when small),
    * and assembly buffers one doc's tokens at a time. The chunk-id
    * window is per-doc (partitioned, never global). */
  def cdcChunkShares(df: DataFrame, idCol: String, textCol: String,
                     modBoundary: Int = 8): DataFrame = {
    require(modBoundary > 0, s"need a positive boundary modulus, got $modBoundary")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(Long.MinValue, 0)
    val toks = df
      .select(col(idCol), posexplode(Text.tokens(col(textCol)))
        .as(Seq("__p", "__t")))
      .repartition(col(idCol))
      .withColumn("__b",
        (Sampling.hashLong(col("__t")) % modBoundary === 0).cast("long"))
      .withColumn("__chunk", sum(col("__b")).over(w))
    val chunks = toks.groupBy(col(idCol), col("__chunk"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("__p"), col("__t")))),
          x => x.getField("__t")), " ").as("__ctext"))
      .select(col(idCol), col("__chunk"), md5(col("__ctext")).as("__fp"))
    val shared = chunks.select(col(idCol), col("__fp")).distinct()
      .groupBy("__fp").agg(count(lit(1)).as("__m"))
      .where(col("__m") > 1).select("__fp")
    val marked = chunks.join(shared.withColumn("__hit", lit(1)),
        Seq("__fp"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_shared"))
    df.select(col(idCol)).join(marked, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("shared_ppm",
        expr("(n_shared * 1000000) div greatest(n_chunks, 1)"))
  }

  /** WINNOWING fingerprint selection (Schleimer/Wilkerson/Aiken, the
    * MOSS algorithm): over each doc's sequence of `shingleN`-token
    * shingle hashes, every window of `w` consecutive hashes selects
    * its minimum (rightmost position on ties), and the doc's
    * fingerprint set is the distinct selected (hash, position) pairs.
    * The guarantee: any verbatim overlap of at least w + shingleN − 1
    * tokens between two docs shares at least one SELECTED fingerprint
    * — detection density ~2/(w+1) of all shingles with a hard
    * worst-case floor, unlike mod-p sampling (q245's boundary rule)
    * which can miss arbitrarily long matches.
    *
    * The min-with-rightmost-tie is ONE integer window-min: each
    * position packs to hash·2²⁰ + (2²⁰−1−pos), so the numeric minimum
    * is exactly (min hash, max pos) — no struct comparators, and the
    * identical BIGINT arithmetic replays in any engine (q252).
    * Positions are capped at 2²⁰−1 (a million shingles ≈ guard for
    * absurd docs; overflowing rows are dropped, counted by the
    * caller's totals if needed).
    *
    * Output per doc: n_shingles, n_windows (full windows only),
    * n_selected, n_shared_selected (selected fingerprints also
    * SELECTED by some other doc — the MOSS match signal), and
    * density_ppm. Scale shape: per-doc window (partitioned, never
    * global), cross-doc sharing on md5-derived hashes via one
    * distinct + count (the `cdcChunkShares` discipline). */
  def winnowedFingerprints(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 4, w: Int = 4): DataFrame = {
    require(shingleN > 0 && w > 0, s"need positive shingleN/w, got $shingleN/$w")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__p")).rowsBetween(0, w - 1)
    val sh = df
      // tokens in their own projection: inlined into the generator,
      // every slice in the shingle lambda re-runs the regexp
      // tokenization per shingle index (measured 20x on q430)
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode(wordShingles(col("__toks"), shingleN))
          .as(Seq("__p", "__sh")))
      .where(col("__p") < (1 << 20) - 1)
      .repartition(col(idCol))
      .withColumn("__packed",
        Sampling.hashLong(col("__sh")) * (1L << 20) +
          (lit((1 << 20) - 1) - col("__p")))
    val counts = sh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"))
    val selected = sh
      .withColumn("__min", min(col("__packed")).over(win))
      // only FULL windows select (the last w−1 frames are partial)
      .withColumn("__nw",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol))))
      .where(col("__p") <= col("__nw") - w)
      .select(col(idCol),
        expr("__min div 1048576").as("__h"),
        (lit((1 << 20) - 1) - pmod(col("__min"), lit(1L << 20))).as("__pos"))
      .distinct()
    val shared = selected.select(col(idCol), col("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__m"))
      .where(col("__m") > 1).select("__h")
    val perDoc = selected
      .join(shared.withColumn("__hit", lit(1)), Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_selected"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L))
          .as("n_shared_selected"))
    df.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        greatest(coalesce(col("n_shingles"), lit(0L)) - (w - 1), lit(0L))
          .as("n_windows"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("n_shared_selected"), lit(0L)).as("n_shared_selected"))
      .withColumn("density_ppm",
        expr("(n_selected * 1000000) div greatest(n_shingles, 1)"))
  }

  /** Duplicate GROUPS from candidate pairs via iterative label
    * propagation (connected components): every id starts as its own
    * label; each round, a node adopts the minimum label among itself
    * and its neighbors; converged when no label changes. Each round is
    * two equi-joins + a hash-agg — the standard scale formulation (no
    * driver-side union-find, no graph library). Diameter of near-dup
    * clusters is small in practice, so `maxIter` rounds suffice; the
    * loop exits early on convergence. */
  def duplicateGroups(pairs: DataFrame, maxIter: Int = 10): DataFrame =
      Checkpoints.scoped { pin =>
    // the sum(label) fixpoint test below needs integral ids — for
    // string/uuid ids, map to a surrogate long id first (sum over
    // strings would null out and fake instant convergence)
    Seq("id_a", "id_b").foreach { c =>
      val t = pairs.schema(c).dataType
      require(t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType ||
        t == org.apache.spark.sql.types.ShortType,
        s"duplicateGroups requires integral ids; $c is ${t.sql}")
    }
    // localCheckpoint (not persist): an iterative plan over cached
    // frames still nests each round's InMemoryRelation inside the
    // next, so analysis cost grows quadratically with iterations;
    // checkpointing truncates the lineage to the materialized
    // partitions each round. Memory held: ≤ maxIter label tables,
    // each O(docs inside dup clusters) — tiny relative to the corpus.
    // The symmetric closure is one explode per pair, so `pairs` is
    // computed exactly once. id_a < id_b on input, so the two
    // orientations are disjoint and duplicate-free — no distinct (and
    // min() over an edge list is duplicate-insensitive anyway). edges
    // and labels checkpoint LAZILY: the first sum action below
    // materializes both in one job (eager would cost a job each).
    val edges = pin.keep(pairs
      .select(explode(array(
        struct(col("id_a"), col("id_b")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b")))).as("__e"))
      .select("__e.id_a", "__e.id_b")
      .localCheckpoint(false))
    // labels only ever decrease, so an unchanged sum(label) proves a
    // fixpoint — one cheap agg action per round instead of a
    // self-join + isEmpty
    def labelSum(l: DataFrame): Long =
      l.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
    val (labels0, sum0) = Checkpoints.ckptCount(
      edges.select(col("id_a").as("id")).distinct()
        .withColumn("label", col("id")), labelSum)
    val (labels, _) = Checkpoints.iterate(labels0, sum0, maxIter,
        measure = labelSum, exitWhen = _ == _) { (labels, _) =>
      val neighborMin = edges
        .join(labels.select(col("id").as("id_b"), col("label")), Seq("id_b"))
        .groupBy(col("id_a").as("id"))
        .agg(min(col("label")).as("nmin"))
      labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nmin"), col("label")))
          .as("label"))
    }
    labels.withColumnRenamed("label", "group_id")
  }

  /** Exact connected components of a canonically-oriented `(a, b)`
    * edge frame in ONE task: a narrow `coalesce(1)` (no shuffle — the
    * single task reads the checkpointed edge partitions directly) into
    * an in-memory union-find with min-root unions and path
    * compression, so labels come out as component minima — the same
    * contract the star loop converges to. Only called under
    * [[duplicateGroupsStar]]'s `smallGraph` bound, where the edge set
    * is broadcast-sized and fits a single task's memory. */
  private def singleTaskComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val idType = edges.schema("a").dataType
    edges.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path-compress: every non-root on the chain has an entry
          while (c != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        // snapshot keys before the final find()s re-compress the map
        parent.keys.toArray.iterator.map(k => (k, find(k)))
      }
      .toDF("id", "label")
      .select(col("id").cast(idType).as("id"),
        col("label").cast(idType).as("label"))
  }

  /** Duplicate groups via alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the provably-bounded variant of
    * [[duplicateGroups]]: O(log² n) rounds worst-case versus label
    * propagation's O(component diameter), which matters at corpus
    * scale when a skewed mega-cluster (boilerplate chains) forms a
    * long path. Each round is two neighborhood aggregations; the edge
    * frame only ever holds O(dup-cluster edges).
    *
    *  - large-star: every node links its LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself) — doubles the reach
    *    of small labels without growing the edge count beyond 2|E|;
    *  - small-star: every node links its smaller-or-equal neighbors
    *    and itself to that minimum — flattens local chains into stars.
    *
    * The fixpoint is a star forest whose centers are the component
    * minima, so labels read directly off the final edges. Convergence
    * is detected by edge-set equality, counted in the round's own
    * materializing job. Output matches [[duplicateGroups]] exactly:
    * (id, group_id = component-min id), one row per node in `pairs`.
    *
    * Small-graph fast path: when the canonical edge count (already an
    * action the loop needs for convergence tracking, so the decision
    * is free) is at most `smallGraph`, the components are solved by
    * union-find in ONE narrow single-task `mapPartitions` pass instead
    * of the loop. Same decision rule as a broadcast hash join: below
    * the bound the whole graph fits in one task's memory (16 bytes per
    * edge → ≤16 MB at the default bound) and a distributed loop would
    * pay ~10 scheduled shuffle jobs of round latency for zero
    * parallelism benefit (measured ~4 s on a 3-edge input at
    * local[32]). Dup-pair graphs hold only O(dup-cluster edges), not
    * the corpus, so the fast path covers most real runs; above the
    * bound the star-contraction loop runs unchanged as the scale path.
    * `smallGraph = 0` forces the loop (spec-pinned equal results). */
  def duplicateGroupsStar(pairs: DataFrame, maxIter: Int = 20,
      smallGraph: Long = 1000000L): DataFrame = Checkpoints.scoped { pin =>
    Seq("id_a", "id_b").foreach { c =>
      val t = pairs.schema(c).dataType
      require(t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType ||
        t == org.apache.spark.sql.types.ShortType,
        s"duplicateGroupsStar requires integral ids; $c is ${t.sql}")
    }
    // eager checkpoint of the INPUT (the duplicateGroups discipline):
    // nodes and the canonical edge set below both derive from `pairs`,
    // and without this the caller's whole upstream pipeline (LSH /
    // shingle fingerprinting — the expensive part) re-executes once
    // per consumer (measured 2x the pair-build cost on q172's shape)
    val p = pin(pairs.select(col("id_a"), col("id_b")))
    val nodes = pin.keep(p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
      .localCheckpoint(false))
    // canonical orientation a > b ("points down"), no self-loops;
    // localCheckpoint each round truncates the iterative lineage
    // (same rationale as duplicateGroups)
    val (edges0, edgeCount) = pin.counted(p
      .select(greatest(col("id_a"), col("id_b")).as("a"),
        least(col("id_a"), col("id_b")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .withColumn("__new", lit(true)))
    // checkpointed so the scaffolding's blocks are freed when the call
    // returns (the label table is O(nodes-in-pairs) — the dedup
    // working set)
    if (edgeCount <= smallGraph) {
      // labels are unique per id; nodes absent from the canonical edge
      // set (self-loop-only inputs) label themselves via the coalesce
      pin(nodes
        .join(singleTaskComponents(edges0), Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("group_id")))
    } else {
      // The round frame is the new canonical edge set OUTER-joined with
      // the previous one, a flag per side: its measure — edges on one
      // side only — is 0 exactly when the edge set stopped changing, the
      // star-forest fixpoint (stable under both phases). Only `__new`
      // rows feed the next round.
      val (edges, _) = Checkpoints.iterate(edges0, edgeCount, maxIter,
          measure = e => Checkpoints.rows(e.where(col("__new").isNull ||
            col("__old").isNull)),
          exitWhen = (_, n) => n == 0) { (cur, _) =>
        val edges = cur.where(col("__new")).select("a", "b")
        // one symmetric adjacency per round, reused by both phases of
        // the round's neighborhood mins
        def neighborhoodMin(e: DataFrame): DataFrame = e
          .select(col("a").as("u"), col("b").as("v"))
          .union(e.select(col("b").as("u"), col("a").as("v")))
          .groupBy("u").agg(min(col("v")).as("nmin"))
          .select(col("u"), least(col("u"), col("nmin")).as("m"))
        // large-star: (v, m(u)) for v ∈ Γ(u), v > u
        val lsMin = neighborhoodMin(edges)
        val large = edges
          .select(col("a").as("u"), col("b").as("v"))
          .union(edges.select(col("b").as("u"), col("a").as("v")))
          .join(lsMin, Seq("u"))
          .where(col("v") > col("u"))
          .select(col("v").as("a"), col("m").as("b"))
          .where(col("a") =!= col("b"))
          .union( // keep (u, m) so u itself stays attached
            lsMin.where(col("u") =!= col("m"))
              .select(col("u").as("a"), col("m").as("b")))
          .distinct()
        // small-star over the canonical orientation: per larger endpoint
        // u, m = min of its down-neighbors; link every down-neighbor and
        // u itself to m
        val ssMin = large
          .groupBy(col("a").as("u")).agg(min(col("b")).as("m"))
        val smallEdges = large.select(col("a").as("u"), col("b").as("v"))
          .join(ssMin, Seq("u"))
          .select(col("v").as("a"), col("m").as("b"))
          .where(col("a") =!= col("b"))
          .union(ssMin.where(col("u") =!= col("m"))
            .select(col("u").as("a"), col("m").as("b")))
          .distinct()
        smallEdges.withColumn("__new", lit(true))
          .join(edges.withColumn("__old", lit(true)), Seq("a", "b"), "full_outer")
      }
      // star forest: child -> center (component min); centers and any
      // node not appearing as a child label themselves
      pin(nodes.join(edges.where(col("__new"))
          .select(col("a").as("id"), col("b").as("label")), Seq("id"), "left")
        .groupBy("id").agg(min(coalesce(col("label"), col("id"))).as("group_id")))
    }
  }

  /** Near-dup survivor selection: drop every group member except the
    * representative (min id). Docs that were never candidates survive
    * untouched — one anti-join against the non-representative set. */
  def dedupSurvivors(df: DataFrame, idCol: String, groups: DataFrame): DataFrame = {
    val losers = groups.where(col("id") =!= col("group_id")).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** QUALITY-AWARE survivor selection: per duplicate group keep the
    * member with the highest `preferCol` (ties -> smallest id), not
    * the smallest id — the survivorship policy real curation uses
    * ("keep the longest/cleanest copy", not "keep whichever sorted
    * first"). One join to attach the preference, one argmax hash-agg
    * per group (max over (pref, -id) structs — partial-combining, no
    * window), one broadcast-friendly anti-join of the losers. */
  def dedupSurvivorsBy(df: DataFrame, idCol: String, groups: DataFrame,
                       preferCol: String): DataFrame = {
    val members = groups.join(
      df.select(col(idCol).as("id"), col(preferCol).cast("long").as("__p")),
      "id")
    val reps = members.groupBy("group_id")
      .agg(max(struct(col("__p").as("p"), (-col("id")).as("ni"))).as("__b"))
      .select(col("group_id"), (-col("__b").getField("ni")).as("__rep"))
    val losers = members.join(reps, "group_id")
      .where(col("id") =!= col("__rep"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash (16-bit, md5-backed): per token take the first 4 hex
    * nibbles of md5(token); each of the 16 bits votes +1/-1; the sign
    * of each bit-sum forms the fingerprint. Near-dups differ in few
    * bits (Hamming distance). 16 bits keeps the expression tree — and
    * the oracle SQL — tractable. */
  def simhash16(toks: Column): Column = {
    val hexVal: Column => Column = ch =>
      (instr(lit("0123456789abcdef"), ch) - 1).cast("int")
    val bitSums = (0 until 16).map { i =>
      val nibbleIdx = i / 4 + 1        // 1-based hex char position
      val shift = 3 - (i % 4)
      val bitOf: Column => Column = tok => {
        val nib = hexVal(substring(md5(tok), nibbleIdx, 1))
        shiftright(nib, shift).bitwiseAND(lit(1))
      }
      aggregate(toks, lit(0), (acc, tok) => acc + (bitOf(tok) * 2 - 1))
    }
    bitSums.zipWithIndex.map { case (s, i) =>
      when(s > 0, lit(1L << (15 - i))).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Hamming distance between two simhash fingerprints (bit_count of
    * the xor — width-agnostic, works for 16- and 64-bit variants). */
  def hamming16(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, via
    * band blocking: the 64-bit fingerprint splits into 4 16-bit bands;
    * by pigeonhole, any pair within Hamming distance 3 agrees on at
    * least one band, so blocking on (band#, band value) is EXACT for
    * maxHamming <= 3 — an equi-join on band keys, never an all-pairs
    * scan. 64 bits matter at scale: a 16-bit fingerprint has only 64
    * coarse buckets, so band blocks grow O(corpus) and the self-join
    * goes quadratic; 16-bit bands keep blocks near-singleton.
    * Candidates sharing several bands dedup via distinct. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3,
                          maxBlock: Int = 100000): DataFrame = Checkpoints.scoped { pin =>
    require(maxHamming <= 3,
      s"4-band blocking is exact only for maxHamming <= 3, got $maxHamming")
    val fp = pin.keep(simhash(df, idCol, textCol, nBits = 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bandedAll = fp.select(col(idCol), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          // arithmetic >> then mask: the mask keeps exactly the band's
          // 16 bits, so sign extension from bit 63 never leaks in
          shiftright(col("simhash"), 16 * b).bitwiseAND(lit(65535L)).as("nib"))): _*))
        .as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band"), col("bk.nib"))
    // degenerate-block guard (same trade as lshCandidatePairs'
    // maxBucket): a corpus heavy with EXACT duplicates or boilerplate
    // puts m identical fingerprints in one block and the self-join
    // materializes m² — cap via a broadcast anti-join on the (rare,
    // usually empty) over-cap block list. Exact dupes belong to
    // exactDedup upstream; disabled when maxBlock <= 0.
    val banded =
      if (maxBlock <= 0) bandedAll
      else {
        val big = bandedAll.groupBy("band", "nib")
          .agg(count(lit(1)).as("__m")).where(col("__m") > maxBlock)
          .select("band", "nib")
        bandedAll.join(broadcast(big), Seq("band", "nib"), "left_anti")
      }
    val a = banded.select(col("band"), col("nib"),
      col(idCol).as("id_a"), col("simhash").as("__fa"))
    val b = banded.select(col("band"), col("nib"),
      col(idCol).as("id_b"), col("simhash").as("__fb"))
    a.join(b, Seq("band", "nib"))
      .where(col("id_a") < col("id_b") &&
        hamming16(col("__fa"), col("__fb")) <= maxHamming)
      .select(col("id_a"), col("id_b"),
        hamming16(col("__fa"), col("__fb")).as("hamming"))
      .distinct()
  }

  /** Prefix-duplicate pairs: (a, b) where a's token array is a PROPER
    * prefix of b's (len_a < len_b, len_a >= minPrefix) — the truncated
    * re-crawl / cut-off-mirror shape that n-gram Jaccard scores low
    * (a 10% fragment of a long page shares few shingles with it) and
    * exact dedup misses entirely. Complete by construction: a prefix
    * pair agrees on the first minPrefix tokens, so the equi-join on
    * the first-minPrefix-token fingerprint finds every pair; slice
    * equality verifies. Same degenerate-block cap as the other pair
    * joins (boilerplate identical openings put m docs in one block).
    * Equal-length identical docs are [[exactDedup]]'s domain, not
    * this operator's. */
  def prefixDupPairs(df: DataFrame, idCol: String, toksCol: String,
                     minPrefix: Int = 8,
                     maxBlock: Int = 100000): DataFrame = {
    val base = df.select(col(idCol), col(toksCol).as("__t"))
      .withColumn("__n", size(col("__t")).cast("long"))
      .where(col("__n") >= minPrefix)
      .withColumn("__fp",
        md5(concat_ws(" ", slice(col("__t"), 1, minPrefix))))
    val capped =
      if (maxBlock <= 0) base
      else {
        val big = base.groupBy("__fp")
          .agg(count(lit(1)).as("__m")).where(col("__m") > maxBlock)
          .select("__fp")
        base.join(broadcast(big), Seq("__fp"), "left_anti")
      }
    val a = capped.select(col("__fp"), col(idCol).as("id_a"),
      col("__t").as("__ta"), col("__n").as("len_a"))
    val b = capped.select(col("__fp"), col(idCol).as("id_b"),
      col("__t").as("__tb"), col("__n").as("len_b"))
    a.join(b, Seq("__fp"))
      .where(col("len_a") < col("len_b") &&
        slice(col("__tb"), lit(1), col("len_a").cast("int")) === col("__ta"))
      .select(col("id_a"), col("id_b"), col("len_a"), col("len_b"))
  }

  /** Hamming distance between two 64-bit fingerprints carried as
    * signed-safe 32-bit halves (the [[graft.ops.Multimodal.averageHash]]
    * layout). */
  def hamming64(hiA: Column, loA: Column, hiB: Column, loB: Column): Column =
    bit_count(hiA.bitwiseXOR(hiB)) + bit_count(loA.bitwiseXOR(loB))

  /** Near-dup pairs over any 64-bit fingerprint (hi/lo 32-bit halves
    * — image aHash, 64-bit SimHash, …) with Hamming distance <=
    * maxHamming, via 8-bit band blocking: the 64 bits split into 8
    * bands; by pigeonhole any pair within Hamming distance 7 agrees
    * on at least one band, so the (band#, band value) equi-join is
    * EXACT for maxHamming <= 7 — never an all-pairs scan. Same
    * degenerate-block cap as [[simhashNearDupPairs]] (exact-duplicate
    * fingerprints belong to a groupBy upstream, not to the pair
    * join). */
  def hammingNearDupPairs64(df: DataFrame, idCol: String,
                            hiCol: String, loCol: String,
                            maxHamming: Int = 7,
                            maxBlock: Int = 100000): DataFrame = {
    require(maxHamming <= 7,
      s"8-band blocking is exact only for maxHamming <= 7, got $maxHamming")
    val bandedAll = df.select(col(idCol), col(hiCol).as("__hi"),
      col(loCol).as("__lo"),
      explode(array((0 until 8).map { b =>
        val half = if (b < 4) col(loCol) else col(hiCol)
        struct(lit(b).as("band"),
          shiftright(half, 8 * (b % 4)).bitwiseAND(lit(255L)).as("nib"))
      }: _*)).as("bk"))
      .select(col(idCol), col("__hi"), col("__lo"),
        col("bk.band"), col("bk.nib"))
    val banded =
      if (maxBlock <= 0) bandedAll
      else {
        val big = bandedAll.groupBy("band", "nib")
          .agg(count(lit(1)).as("__m")).where(col("__m") > maxBlock)
          .select("band", "nib")
        bandedAll.join(broadcast(big), Seq("band", "nib"), "left_anti")
      }
    val a = banded.select(col("band"), col("nib"), col(idCol).as("id_a"),
      col("__hi").as("__ha"), col("__lo").as("__la"))
    val b = banded.select(col("band"), col("nib"), col(idCol).as("id_b"),
      col("__hi").as("__hb"), col("__lo").as("__lb"))
    a.join(b, Seq("band", "nib"))
      .where(col("id_a") < col("id_b") &&
        hamming64(col("__ha"), col("__la"), col("__hb"), col("__lb"))
          <= maxHamming)
      .select(col("id_a"), col("id_b"),
        hamming64(col("__ha"), col("__la"), col("__hb"), col("__lb"))
          .as("hamming"))
      .distinct()
  }

  /** Triangle count over an undirected edge list (id_a < id_b): two
    * equi-joins — e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) — each triangle counted
    * once because every edge is stored in canonical orientation. The
    * standard distributed formulation (no adjacency matrices, no
    * driver-side graph); at scale the joins shuffle on node ids and
    * skew on hub nodes is the thing to watch (cap degrees upstream,
    * as lshCandidatePairs does with maxBucket). */
  def triangleCount(pairs: DataFrame): DataFrame = {
    val e1 = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
    val e2 = pairs.select(col("id_a").as("b"), col("id_b").as("c"))
    val e3 = pairs.select(col("id_a").as("a"), col("id_b").as("c"))
    e1.join(e2, Seq("b")).join(e3, Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Fuzzy string-match pairs: block on equality columns (brand, size,
    * …), then verify candidates with Levenshtein edit distance <=
    * maxDist. The blocking keeps the candidate set linear in block
    * sizes — the classic entity-resolution shape (never LIKE-join or
    * cross-join at scale). */
  def fuzzyPairsBlocked(df: DataFrame, idCol: String, nameCol: String,
                        blockCols: Seq[String], maxDist: Int): DataFrame = {
    val a = df.select(blockCols.map(col) :+
      col(idCol).as("id_a") :+ col(nameCol).as("__na"): _*)
    val b = df.select(blockCols.map(col) :+
      col(idCol).as("id_b") :+ col(nameCol).as("__nb"): _*)
    // thresholded levenshtein (returns -1 past maxDist): the dynamic
    // program early-exits once a row of the edit matrix exceeds the
    // bound — at corpus scale most candidates are far apart, so this
    // is the difference between O(len²) and O(len·maxDist) per pair
    val d = levenshtein(col("__na"), col("__nb"), maxDist)
    a.join(b, blockCols)
      .where(col("id_a") < col("id_b") && d >= 0 && d <= maxDist)
      .select(col("id_a"), col("id_b"), d.as("distance"))
  }

  /** SimHash as a DataFrame aggregate: explode tokens, count set bits
    * per position with lane-packed longs (16 sums of 4x16-bit lanes
    * instead of 64 per-bit sums), then take each position's majority
    * vote (2*cnt > n ⟺ the ±1 bit-sum is positive). Same math as
    * simhash16 but scales: the only shuffle is the repartition/groupBy
    * on the id, carrying 17 longs per doc. `nBits` up to 64 (bits come
    * from the first nBits/4 hex chars of md5). Packed-sum headroom
    * bounds docs at 32766 tokens — enforced with raise_error post-agg
    * (try_sum keeps the overflow from throwing mid-aggregation). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              nBits: Int = 16): DataFrame = {
    require(nBits > 0 && nBits <= 64 && nBits % 4 == 0,
      s"nBits must be a multiple of 4 in (0, 64], got $nBits")
    // the first 16 hex chars of md5(token) as one 64-bit value (two
    // 8-char conv()s — 32-bit halves fit a long exactly), computed
    // BEFORE the repartition: the exchange is a hard projection
    // barrier, so the hash runs once per token and the shuffle carries
    // (id, long) instead of (id, token). Bit i of the fingerprint is
    // bit (63 - i) of this big-endian prefix — identical to reading
    // hex char i/4+1 nibble-wise — so each vote below is a shift+mask
    // of a long, keeping the 64-vote projection small enough for
    // whole-stage codegen (a per-bit string chain knocked the whole
    // aggregate subtree into interpreted mode).
    val hex = md5(col("token"))
    val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
    // repartition the DOCS (tiny rows) before tokenize+explode, never
    // the exploded tokens: each doc's tokens stay partition-local, so
    // the partial aggregate emits one row per doc and the groupBy
    // shuffle carries O(docs × nBits/4) — not O(tokens) — bytes
    val tokenRows = df
      .select(col(idCol), col(textCol)).repartition(col(idCol))
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("token"))
      .select(col(idCol), (shiftleft(hi, 32) + lo).as("__v"))
    // Lane-packed bit counting: (v >> j) & 0x0001000100010001 picks the
    // four bits {j, j+16, j+32, j+48} into four 16-bit lanes of ONE
    // long — 16 shift+mask ops and 16 aggregate slots per token where
    // the per-bit formulation needed 64 of each (measured 4x on the
    // projection+partial-agg stage, the dominant cost of 64-bit
    // simhash). With all four lanes set the packed sum reaches
    // Long.MaxValue at 32767 tokens, so docs are bounded at 32766
    // tokens: try_sum turns a would-be ANSI overflow into NULL instead
    // of an exception mid-aggregation, and the post-agg guard (one
    // check per DOC) raises a descriptive error rather than silently
    // wrapping; chunk longer docs upstream.
    val laneMask = lit(0x0001000100010001L)
    val contribs = (0 until 16).map { j =>
      shiftright(col("__v"), j).bitwiseAND(laneMask).as(s"__c$j")
    }
    val sums = tokenRows.select(col(idCol) +: contribs: _*)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"),
        (0 until 16).map(j => expr(s"try_sum(__c$j)").as(s"__S$j")): _*)
    // set-bit count for fingerprint index i (bit p = 63-i of __v):
    // lane (p >> 4) of long (p & 15)
    val cnts = array((0 until nBits).map { i =>
      val p = 63 - i
      shiftright(col(s"__S${p & 15}"), 16 * (p >> 4)).bitwiseAND(lit(0xFFFFL))
    }: _*)
    // fingerprint as an array fold (acc*2 + majority bit, MSB-first) —
    // a flat 64-term when/add chain made Janino compilation of the
    // projection pathologically slow (~7 s at 64 bits); the fold's
    // expression tree is O(1) and the 64 interpreted lambda steps per
    // ROW (docs, not tokens) are negligible. Majority vote 2*cnt > n is
    // exactly the ±1 bit-sum sign (ties -> 0, as before).
    val fingerprint = aggregate(cnts, lit(0L),
      (acc, c) => shiftleft(acc, 1) +
        when(c * 2 > col("__n"), lit(1L)).otherwise(lit(0L)))
    val guarded = when(col("__n") > 32766,
      expr("raise_error('simhash: document exceeds 32766 tokens (lane overflow); chunk upstream')")
        .cast("bigint"))
      .otherwise(fingerprint)
    // keep docs with no tokens (null sums -> all-zero fingerprint)
    df.select(col(idCol)).join(sums, Seq(idCol), "left")
      .select(col(idCol), guarded.as("simhash"))
  }

  /** EXACT all-pairs set-similarity self-join via prefix filtering —
    * the AllPairs/PPJoin family (Bayardo et al. WWW'07, Xiao et al.
    * ICDE'08). Token sets are word-level (Text.tokens, distinct);
    * output is every unordered pair whose Jaccard >= num/den, with the
    * exact intersection/size/jaccard columns of `Dedup.jaccard`. The
    * threshold comparison is integer cross-multiplication
    * (den*inter >= num*union), so membership is bit-exact and the
    * DuckDB oracle can verify via brute force (q210): prefix filtering
    * is COMPLETE — a pair at Jaccard >= t must share a token within
    * each side's (|s| - ceil(t*|s|) + 1)-token prefix in the global
    * rarity order — so the candidate pruning never changes the answer,
    * unlike MinHash-LSH's probabilistic recall (q42).
    *
    * Scale shape: tokens are ordered by ASCENDING corpus frequency
    * (ties by token text), so prefixes hold each document's RAREST
    * tokens and the candidate equi-join's key skew is self-limiting —
    * a token with document frequency m can only reach a prefix when it
    * is among a doc's rarest, and contributes at most m' <= m pairs per
    * bucket. The rarity order needs NO global rank: per-doc windows
    * (partitioned by id) sort each document's tokens against the
    * broadcast-joined vocabulary counts. Verification joins run only
    * over candidates (never doc x doc), reusing the persisted token
    * frame; all intermediates are freed when the call returns. */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                               num: Int, den: Int,
                               shingleN: Int = 0): DataFrame = Checkpoints.scoped { pin =>
    require(num > 0 && den > 0 && num <= den,
      s"threshold must be a fraction in (0,1], got $num/$den")
    // element universe: distinct words (shingleN <= 0) or distinct
    // n-token shingles carried as md5 fingerprints (narrow 32-byte
    // join keys; fingerprint equality == shingle equality, so the
    // exactness claim is unchanged). Word sets barely discriminate on
    // template-heavy corpora — shingle sets are the document setting.
    val tok = pin.keep((if (shingleN <= 0)
        df.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__toks"))
          .repartition(col("id"))
          .select(col("id"), explode(array_distinct(col("__toks"))).as("t"))
      else
        shingleRows(df, idCol, textCol, shingleN)
          .select(col(idCol).as("id"), md5(col("shingle")).as("t")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val vocab = tok.groupBy("t").agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("__df").asc, col("t").asc)
    val ranked = tok.join(broadcast(vocab), "t")
      .select(col("id"), col("t"),
        row_number().over(w).as("__rn"),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("id"))
          .as("__sz"))
    // prefix length p = sz - ceil(num*sz/den) + 1, integer ceiling.
    // The prefix frame is consumed by BOTH sides of the candidate
    // self-join: checkpoint it once (O(prefix) rows — a (1-t) sliver
    // of the elements) so the rank window isn't computed twice.
    val prefix = pin(ranked
      .where(col("__rn") <=
        col("__sz") - expr(s"(${num}L * __sz + ${den - 1}L) div ${den}L") + 1)
      .select(col("t"), col("id")))
    // candidates are consumed twice (id scope + intersection join):
    // materialize once, sized in candidate pairs, not corpus
    val cand = pin(prefix.select(col("t"), col("id").as("id_a"))
      .join(prefix.select(col("t"), col("id").as("id_b")), Seq("t"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct())
    val sz = tok.groupBy("id").agg(count(lit(1)).as("sz"))
    // verification touches only candidate documents: semi-join the
    // element frame down to ids that appear in a candidate pair before
    // the intersection join — candidates are rare, so this turns two
    // full-corpus shuffles into joins over a sliver of the elements
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val tokC = tok.join(broadcast(candIds), Seq("id"), "left_semi")
    val inter = cand
      .join(tokC.select(col("id").as("id_a"), col("t")), Seq("id_a"))
      .join(tokC.select(col("id").as("id_b"), col("t")), Seq("id_b", "t"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    pin(inter
      .join(sz.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .where(lit(den.toLong) * col("n_inter") >=
        lit(num.toLong) * (col("sz_a") + col("sz_b") - col("n_inter")))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        col("sz_a"), col("sz_b"),
        round(col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter")), 6).as("jaccard")))
  }

  /** Two-level GLOBAL DENSE RANK over a BIGINT key, computed DIRECTLY
    * on the input (no distinct-keys detour): rows bucket into coarse
    * `keyCol div coarseWidth` ranges, the within-bucket dense rank is
    * a PARTITIONED `dense_rank()` window, and each bucket's offset is
    * an exclusive prefix sum over the per-bucket DISTINCT-KEY counts
    * (a global window over one row per OCCUPIED bucket — never rows),
    * joined back broadcast. Identical output to ranking the distinct
    * key set and joining back (the pre-r12 form, pinned in DedupSpec),
    * at one pass over `df` instead of two plus a keyed join-back —
    * the two consumers (window + per-bucket histogram) hash-partition
    * by the same `__g`, so the exchange is planned once and reused
    * (measured: the SA build's per-round cost dropped ~40%).
    * `coarseWidth` sizes the offset frame — keep occupied buckets in
    * the low thousands. */
  def twoLevelDenseRank(df: DataFrame, keyCol: String, outCol: String,
                        coarseWidth: Long): DataFrame = {
    require(coarseWidth >= 1, s"coarseWidth must be positive, got $coarseWidth")
    val W = org.apache.spark.sql.expressions.Window
    val hg = df.withColumn("__g", expr(s"$keyCol div ${coarseWidth}L"))
    val wIn = W.partitionBy("__g").orderBy(keyCol)
    val within = hg.withColumn("__dr", dense_rank().over(wIn).cast("long"))
    val wPre = W.orderBy("__g")
      .rowsBetween(W.unboundedPreceding, -1)
    // per-bucket distinct-key count == the bucket's MAX within-bucket
    // dense rank, read off `within` itself: the histogram then needs
    // no second aggregation pipeline over `df` (whose partial agg
    // below its exchange would defeat exchange reuse) — both consumers
    // share the one hashpartitioning(__g) exchange, and the agg runs
    // exchange-free on the already-partitioned window output
    val offsets = within.groupBy("__g").agg(max("__dr").as("__gd"))
      .select(col("__g"), coalesce(sum("__gd").over(wPre), lit(0L)).as("__off"))
    within.join(broadcast(offsets), "__g")
      .withColumn(outCol, col("__dr") + col("__off"))
      .drop("__g", "__dr", "__off")
  }

  /** Global DENSE RANK over the COMPOSITE key `(aCol, bCol)` in
    * lexicographic order — no packing of the two components into one
    * integer, so there is NO width ceiling (the r11 suffix-array fold
    * packed `a * 2^20 + b` and hard-stopped at 2^20 distinct ranks;
    * this replaces it). Decomposition over the DISTINCT pair set:
    *
    *   rank(a, b) = #{distinct pairs with first component < a}   (offset)
    *              + position of b among a's own distinct pairs   (within)
    *
    * The offset is an exclusive [[Relational.twoLevelCumSum]] over the
    * per-`a` distinct-pair histogram (one row per distinct `a` — never
    * the pairs themselves), and the within-position is a
    * [[Relational.twoLevelRowNumberBy]] partitioned by `a` — two-level
    * on BOTH axes, so even the adversarial corpus where one `a` holds
    * millions of distinct continuations (every doc sharing one h-char
    * prefix) never serializes a group through one task. Both columns
    * must be non-negative BIGINTs (dense ranks are). */
  def compositeDenseRank(df: DataFrame, aCol: String, bCol: String,
                         outCol: String, aWidth: Long,
                         bWidth: Long): DataFrame = {
    val keys = df.select(col(aCol), col(bCol)).distinct()
    val within = Relational.twoLevelRowNumberBy(keys, aCol, bCol, bWidth,
      "__within")
    val hist = keys.groupBy(col(aCol)).agg(count(lit(1)).as("__c"))
    val offs = Relational.twoLevelCumSum(hist, aCol, "__c", aWidth)
      .select(col(aCol), (col("cum") - col("__c")).as("__off"))
    val ranked = within.join(offs, Seq(aCol))
      .withColumn(outCol, col("__within") + col("__off"))
      .drop("__within", "__off")
    df.join(ranked, Seq(aCol, bCol))
  }

  /** Suffix-array RANKS by prefix doubling — the index under
    * suffix-array exact-substring dedup (the Lee et al. family; the
    * n-gram-window lanes approximate what this computes exactly).
    * Every suffix of every document's first `maxLen` characters gets
    * its GLOBAL dense rank in suffix-sort order, in ceil(log2(maxLen))
    * bounded rounds:
    *
    *   rank_8(i)  = dense rank of the 8-char prefix at i (folded into
    *                one 63-bit integer key — see the base-case note
    *                in the body)
    *   rank_2h(i) = dense rank of the pair (rank_h(i), rank_h(i+h)),
    *                missing second half → 0 (a shorter suffix is a
    *                prefix of the longer and sorts FIRST)
    *
    * Each round is one equi-join (the h-shift) plus one two-level
    * dense rank — never a corpus×corpus comparison, never a global
    * sort; per-round frames localCheckpoint (the loop discipline: the
    * next round references its input twice). Equal (capped) suffixes
    * — exact duplicate tails across documents — share a rank in both
    * engines, which is exactly the dedup signal. The pair rank has NO
    * suffix-count ceiling (the r11 form packed `rank * 2^20 + rank2`
    * into one BIGINT and ABORTED past 2^20 positions): each round
    * ranks the pair `(rank, rank2)` either by packing it into one
    * BIGINT at the EXACT width `n+1` (collision-free and
    * order-preserving because rank ≤ n and rank2 ≤ n — valid while
    * `(n+1)² < 2^63`, i.e. up to ~3.0 BILLION distinct ranks), or —
    * past that — by [[compositeDenseRank]] over the two-column key,
    * which packs nothing and has no bound at all. The switch is
    * per-round and automatic; both representations produce identical
    * ranks (pinned in DedupSpec), so nothing ever aborts — SCALING.md
    * carries the sf1 rows (3.2M positions, where the r11 gate threw)
    * for BOTH paths. At 100 TB the round count grows log(maxLen) and
    * each round is one shuffle of O(total suffix positions) short
    * rows — the standard distributed SA construction cost.
    *
    * Base case uses `ascii()` (each character's numeric value): exact
    * for the single-byte range, where codepoint order == UTF-8 byte
    * order == both engines' binary string collation. A codepoint above
    * 127 would silently overflow its byte lane in the 8-char fold and
    * MIS-RANK, so the fold raises a named per-row error instead —
    * multibyte corpora fail loudly, never wrong (a codepoint-safe base
    * rank is the extension point; the doubling above the base is
    * encoding-agnostic). */
  def suffixArrayRanks(df: DataFrame, idCol: String, textCol: String,
                       maxLen: Int, forceComposite: Boolean = false)
      : DataFrame = Checkpoints.scoped { _ =>
    // empty texts contribute no suffixes — and MUST be filtered before
    // the explode: Spark's sequence(1, 0) is [1, 0] (step defaults to
    // -1 when start > stop), which would fabricate two phantom
    // positions per empty doc and shift every dense rank above them
    // single-byte gate, priced per DOC not per position: a codepoint
    // past 127 would overflow its byte lane in the 8-char base fold
    // and silently corrupt every rank above it, so raise the named
    // error row-local here (one regex pass over ≤ maxLen chars per
    // doc — guarding inside the per-position fold itself was measured
    // 34% slower at sf0.1)
    val t = df.select(col(idCol).as("doc_id"),
      substring(col(textCol), 1, maxLen).as("__t"))
      .where(length(col("__t")) > 0)
      .withColumn("__t", when(col("__t").rlike("[^\\x00-\\x7F]"),
        raise_error(concat(lit("suffixArrayRanks: non-ASCII codepoint in "),
          col("doc_id").cast("string"),
          lit(" — the 8-char base fold is single-byte only")))
          .cast("string"))
        .otherwise(col("__t")))
    // base case covers EIGHT chars, not one: the first 8 single-byte
    // chars fold into one 63-bit key (char i weighted 2^(8·(7−i));
    // positions past the end contribute ascii('') = 0, so a shorter
    // suffix zero-pads and sorts first — the same sentinel rule the
    // doubling uses). Order of the fold == lexicographic order of the
    // 8-char prefix, so the dense rank is identical to 3 rounds of
    // 1-char doubling at a third of the shuffles (measured 7.6 s →
    // see SCALING.md). Single-byte text only, per the note below.
    val baseKey = (0 until 8).map(i =>
        ascii(expr(s"substring(__t, pos + $i, 1)")).cast("long") *
          (1L << (8 * (7 - i))))
      .reduce(_ + _)
    // each round's measure is its distinct-rank count (== max: ranks
    // are dense, 1-based) — the partial-agg job that materializes the
    // round also picks the next round's ARITY and pair-rank
    // representation. `h` is the prefix length the ranks cover; the
    // loop ends once it reaches maxLen.
    def rankCount(r: DataFrame): Long = r.agg(max(col("r"))).head.getLong(0)
    var h = 8L
    val (ranks0, n0) = Checkpoints.scoped { pin =>
      // materialize the keyed frame BEFORE the dense rank: the rank
      // helper consumes its input twice (distinct pass + join-back), and
      // without this each pass re-runs the scan + explode + 8-char fold
      // (measured 3.2 -> 1.4 s at sf0.1 for the base stage; same
      // discipline per doubling round below). Freed once the first
      // ranks are materialized.
      val based = pin(t
        .select(col("doc_id"), col("__t"),
          explode(expr("sequence(1, length(__t))")).as("pos"))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          baseKey.as("__key")))
      Checkpoints.ckptCount(
        twoLevelDenseRank(based, "__key", "r", 1L << 44).select("doc_id", "pos", "r"),
        if (h < maxLen) rankCount else Checkpoints.rows)
    }
    val (ranks, _) = Checkpoints.iterate(ranks0, n0,
        if (h < maxLen) Int.MaxValue else 0, rankCount,
        exitWhen = (_, _) => h >= maxLen) { (ranks, nRanks) =>
      // (n+1)² < 2^63 ⇔ n ≤ 3 037 000 498: the exact-width pack is
      // collision-free and order-preserving up to ~3.0e9 distinct
      // ranks per round; past it the composite two-column rank packs
      // nothing and is unbounded. Identical ranks either way (pinned
      // in DedupSpec) — the representation switches, nothing aborts.
      // When FOUR ranks fit one 63-bit key — (n+1)⁴ < 2^63 ⇔
      // n ≤ 55 107 — the round QUADRUPLES instead of doubling
      // (rank_4h = dense rank of the 4-tuple (r_h(i), r_h(i+h),
      // r_h(i+2h), r_h(i+3h)), missing → the same 0 sentinel):
      // lexicographic 4-tuple order is the 4h-prefix suffix order, so
      // one ranking pass covers two doublings and the round count
      // drops (measured 6.4 → ~5 s at sf0.1 where the 8-char base has
      // 18.7k distinct ranks; overshooting maxLen is sound — every
      // suffix is capped, so positions past the cap compare equal via
      // the sentinel). Arity is chosen per round from the measured
      // nRanks, never assumed — a corpus whose base pass exceeds 55k
      // ranks falls back to doubling automatically (quad vs doubling
      // equality pinned in DedupSpec).
      val packed = !forceComposite && nRanks <= 3037000498L
      val quad = packed && nRanks <= 55107L
      val w = nRanks + 1L
      def shift(k: Long, as: String) = ranks.select(col("doc_id"),
        (col("pos") - k).as("pos"), col("r").as(as))
      val next = (if (quad) {
        // 3 shifted joins, all on (doc_id, pos): the first join fixes
        // the partitioning and the later two reuse it, so the extra
        // shifts cost one exchange each, not a re-shuffle of the frame
        val paired = ranks
          .join(shift(h, "__r2"), Seq("doc_id", "pos"), "left")
          .join(shift(2 * h, "__r3"), Seq("doc_id", "pos"), "left")
          .join(shift(3 * h, "__r4"), Seq("doc_id", "pos"), "left")
          .select(col("doc_id"), col("pos"),
            (((col("r") * w + coalesce(col("__r2"), lit(0L))) * w
              + coalesce(col("__r3"), lit(0L))) * w
              + coalesce(col("__r4"), lit(0L))).as("__key"))
        // coarse buckets sized off the ≤ w⁴ key domain (w⁴ < 2^63 by
        // the quad gate) so the offset frame stays ~2k rows
        val coarse = math.max(1L, w * w * w * w / 2048L)
        twoLevelDenseRank(paired, "__key", "__nr", coarse)
      } else {
        // NOT materialized (unlike the base frame): both of the rank
        // helper's passes over `paired` re-join two already-
        // checkpointed frames — measured cheaper than paying a third
        // materialization
        val paired = ranks
          .join(shift(h, "__r2"), Seq("doc_id", "pos"), "left")
          .withColumn("__r2", coalesce(col("__r2"), lit(0L)))
        if (packed) {
          // coarse buckets sized off the occupied key domain (≤ n·(n+2))
          // so the offset frame stays ~2k rows at any corpus size
          val coarse = math.max(1L, nRanks * (nRanks + 2L) / 2048L)
          twoLevelDenseRank(
            paired.withColumn("__key", col("r") * w + col("__r2")),
            "__key", "__nr", coarse)
        } else {
          // ranks are dense in [1, n] (and __r2 in [0, n]): 2^13-wide
          // buckets keep both offset frames in the low thousands
          // through ~10M distinct ranks and degrade gracefully (bigger
          // offset frames, never a wider-than-bucket task) beyond
          compositeDenseRank(paired, "r", "__r2", "__nr",
            aWidth = 1L << 13, bWidth = 1L << 13)
        }
      }).select(col("doc_id"), col("pos"), col("__nr").as("r"))
      h *= (if (quad) 4 else 2)
      next
    }
    ranks.select(col("doc_id"), col("pos"), col("r").as("suffix_rank"))
  }

  /** Longest-common-prefix of two string columns as a codegen fold,
    * TWO-LEVEL: count leading equal 8-char BLOCKS first (a block
    * counts only when both slices match at full 8-char width), then
    * scan the ≤ 8 chars of the first unequal block — ~24 substring
    * probes per pair instead of the flat fold's 2·maxLen (measured
    * ~0.9 s off q582's 271k-pair fold at sf0.1). Exact same value as
    * the flat char-wise fold (pinned in DedupSpec): LCP counts chars
    * that are equal and within both strings. `maxLen` must be a
    * multiple of 8. */
  def lcpFold(saCol: String, sbCol: String, maxLen: Int)
      : org.apache.spark.sql.Column = {
    require(maxLen % 8 == 0, s"maxLen $maxLen not a multiple of 8")
    val blocks = maxLen / 8
    expr(s"""8 * aggregate(sequence(0, ${blocks - 1}), 0,
      |(acc, b) -> CASE WHEN acc = b
      |  AND length(substring($saCol, b * 8 + 1, 8)) = 8
      |  AND substring($saCol, b * 8 + 1, 8) = substring($sbCol, b * 8 + 1, 8)
      |THEN b + 1 ELSE acc END)""".stripMargin)
  }

  /** The within-block remainder of [[lcpFold]]: leading equal chars
    * starting after `bCol` (the block-fold output) — add the two for
    * the full LCP. Split into two expressions so the block count can
    * be computed once into a column and referenced here. */
  def lcpWithin(saCol: String, sbCol: String, bCol: String)
      : org.apache.spark.sql.Column =
    expr(s"""aggregate(sequence(1, 8), 0,
      |(acc, k) -> CASE WHEN acc = k - 1
      |  AND substring($saCol, $bCol + k, 1) != ''
      |  AND substring($saCol, $bCol + k, 1) = substring($sbCol, $bCol + k, 1)
      |THEN k ELSE acc END)""".stripMargin)

  /** The EXACT Lee et al. substring dedup, end to end: strike every
    * span of `minRepeat`+ characters that occurs MORE THAN ONCE in the
    * corpus (anywhere — other docs or overlapping in the same doc),
    * reassemble each document's remainder in order. The n-gram-window
    * lanes (q170/q172) and the fixed-grid segment strike (q180)
    * approximate this; here the repeated-span inventory comes from the
    * suffix-array index itself ([[suffixArrayRanks]] + the LCP of
    * SA-ADJACENT suffixes), so the strike is exact over each doc's
    * first `maxLen` chars:
    *
    *   rep(i) = longest prefix of suffix i occurring elsewhere
    *          = max(LCP with SA-prev, LCP with SA-next,
    *                full capped length when the rank is shared)
    *
    * — the standard SA identity: all occurrences of a repeated prefix
    * are CONTIGUOUS in suffix order, so only the two neighbors matter,
    * and the neighbor join is `rank = rank + 1` (dense ranks — no sort,
    * no row_number pass). A position j is struck iff some i ≤ j <
    * i + rep(i) with rep(i) ≥ `minRepeat` covers it; the cover explode
    * is bounded by `maxLen` per position and collapses via distinct.
    * Reassembly is a per-doc fold over ≤ `maxLen` chars (array_sort +
    * concat — bounded by the cap, never a global sort). Every stage is
    * O(positions) rows shuffled on (doc, pos) or rank keys — the
    * whole pipeline inherits the SA construction's scale posture.
    *
    * Returns one row per non-empty doc: (doc_id, kept_text, n_kept,
    * n_struck). */
  def saStrikeReassemble(df: DataFrame, idCol: String, textCol: String,
                         maxLen: Int, minRepeat: Int): DataFrame = Checkpoints.scoped { pin =>
    require(minRepeat >= 2 && minRepeat <= maxLen,
      s"minRepeat $minRepeat outside 2..$maxLen")
    val docs = pin(df.select(col(idCol).as("doc_id"), // exploded three ways below
        substring(col(textCol), 1, maxLen).as("__t"))
      .where(length(col("__t")) > 0)) // sequence(1,0)=[1,0] hazard
    val ranks = suffixArrayRanks(df, idCol, textCol, maxLen)
    val sfx = docs
      .select(col("doc_id"),
        explode(expr("sequence(1, length(__t))")).as("p"), col("__t"))
      .select(col("doc_id"), col("p").cast("long").as("pos"),
        expr(s"substring(__t, p, $maxLen)").as("sfx"),
        (length(col("__t")) - col("p") + 1).cast("long").as("slen"))
    // materialized: consumed by the reps extraction AND the rep-length
    // join below — without this the sfx explode + join runs twice
    val rs = pin(ranks.join(sfx, Seq("doc_id", "pos")))
    // one representative string per rank (rank ↔ capped suffix is a
    // bijection), consumed by BOTH sides of the neighbor join
    val repsFr = pin(rs.select(col("suffix_rank").as("r"), col("sfx"))
      .dropDuplicates("r"))
    val lcpNext = repsFr.select(col("r"), col("sfx").as("sa"))
      .join(repsFr.select((col("r") - 1).as("r"), col("sfx").as("sb")),
        Seq("r"))
      .withColumn("__b", lcpFold("sa", "sb", maxLen))
      .withColumn("lcp",
        (col("__b") + lcpWithin("sa", "sb", "__b")).cast("long"))
      .select(col("r"), col("lcp"))
    val dupCnt = ranks.groupBy(col("suffix_rank"))
      .agg(count(lit(1)).as("__c"))
    val rep = rs
      .join(lcpNext.withColumnRenamed("r", "suffix_rank")
        .withColumnRenamed("lcp", "__ln"), Seq("suffix_rank"), "left")
      .join(lcpNext.select((col("r") + 1).as("suffix_rank"),
        col("lcp").as("__lp")), Seq("suffix_rank"), "left")
      .join(dupCnt, Seq("suffix_rank"))
      .withColumn("replen", greatest(
        coalesce(col("__ln"), lit(0L)), coalesce(col("__lp"), lit(0L)),
        when(col("__c") > 1, col("slen")).otherwise(lit(0L))))
    // struck coverage: bounded explode (replen <= maxLen), distinct
    val cov = rep.where(col("replen") >= minRepeat)
      .select(col("doc_id"),
        explode(expr("sequence(pos, pos + replen - 1)")).as("j"))
      .distinct()
    val chars = docs
      .select(col("doc_id"),
        explode(expr("sequence(1, length(__t))")).as("p"), col("__t"))
      .select(col("doc_id"), col("p").cast("long").as("j"),
        expr("substring(__t, p, 1)").as("ch"))
    val rebuilt = chars.join(cov, Seq("doc_id", "j"), "left_anti")
      .groupBy("doc_id")
      .agg(concat_ws("", expr(
          "transform(array_sort(collect_list(struct(j, ch))), x -> x.ch)"))
          .as("kept_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"), length(col("__t")).cast("long").as("__n"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_text"), lit("")).as("kept_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_struck"))
  }
}
