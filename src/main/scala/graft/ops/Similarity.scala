package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k for a bounded query set —
  * broadcast the queries, stream the corpus once, per-partition top-k
  * via window rank. Scale path: sign-random-projection LSH buckets
  * (deterministic hyperplanes) so the corpus join becomes bucket-local.
  *
  * The inner loop uses graft_dot, a native codegen'd Catalyst
  * expression (graft.functions.DotProduct); the zip_with/aggregate
  * formulations are kept as the portable reference semantics. Norms
  * are precomputed per side before any join so each candidate pair
  * costs exactly one dot product.
  */
object Similarity {

  /** Dot product via built-in higher-order functions — the reference
    * semantics (interpreted; use dotNative in hot paths). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Codegen'd variants: the session needs graft's functions, which
    * `graft.Harness.session` and `graft.SparkEntry` install. */
  def dotNative(a: Column, b: Column): Column = GraftFunctions.dotNative(a, b)
  def normNative(a: Column): Column = sqrt(dotNative(a, a))
  def cosineNative(a: Column, b: Column): Column =
    dotNative(a, b) / (normNative(a) * normNative(b))

  /** Brute-force top-k cosine neighbors for each query vector.
    * `queries` must be small (it is broadcast); the corpus is streamed
    * exactly once — at 100 TB this is the map-side-only plan you want
    * for a bounded query batch. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      normNative(col(vecCol)).as("__qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      normNative(col(vecCol)).as("__cn"))
    val scored = c.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dotNative(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** Hard-negative mining for contrastive training: for each probe,
    * the top-k most-similar corpus vectors carrying a DIFFERENT label
    * — the "close but wrong" examples a contrastive or reranker
    * objective needs. Same plan skeleton as [[bruteForceTopK]] (probes
    * broadcast with their labels, corpus streamed once, map-side
    * label-mismatch filter, per-probe top-k) — the label filter costs
    * nothing extra because it rides the broadcast join condition. For
    * unbounded probe sets, bucket first (lshTopK) and label-filter the
    * candidates the same way. */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val q = broadcast(probes.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"), col(vecCol).as("__qv"),
      normNative(col(vecCol)).as("__qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"), col(vecCol).as("__cv"),
      normNative(col(vecCol)).as("__cn"))
    val scored = c.join(q, col("neighbor_label") =!= col("__ql"))
      .withColumn("cosine",
        round(dotNative(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select("query_id", "neighbor_id", "neighbor_label", "cosine")
  }

  /** Deterministic pseudo-random hyperplane matrix: `nPlanes` x `dim`,
    * components in [-1, 1). md5-derived (component (i,j) comes from the
    * first 32 bits of md5("seed:i:j")) rather than a PRNG stream, so
    * ANY engine can recompute the exact planes from the seed — that is
    * what makes the SRP bucketing oracle-verifiable in SQL. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (i, j) =>
      val hex = mdig.digest(s"$seed:$i:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) / 4294967296.0) * 2 - 1
    }
  }

  /** Plane count for an SRP bucketing sized to the corpus: the
    * smallest p in [minPlanes, maxPlanes] with targetOcc · 2^p ≥ n,
    * i.e. buckets ≈ n / target-occupancy. A FIXED plane count is the
    * classic LSH scale trap: bucket occupancy grows linearly with the
    * corpus and a bucket self-join degenerates to O(n²/2^p) — deriving
    * p from n keeps per-bucket work constant as the corpus grows
    * (occupancy ≈ targetOcc until the maxPlanes clamp). Pure integer
    * arithmetic so any engine (the DuckDB oracle's CASE cascade)
    * reproduces the exact same p. Planes are prefix-stable
    * ([[hyperplanes]] component (i,j) ignores nPlanes), so a p-plane
    * bucket id equals the maxPlanes-plane id mod 2^p — what makes the
    * derivation oracle-verifiable with a static plane expansion. */
  def planesForCorpus(n: Long, targetOcc: Long = 32L,
                      minPlanes: Int = 3, maxPlanes: Int = 12): Int = {
    var p = minPlanes
    while (p < maxPlanes && (targetOcc << p) < n) p += 1
    p
  }

  /** Beam width for a FLAT navigable-small-world search over a corpus
    * of `n` vectors: max(floor, ceil(√n)), capped. A fixed beam that
    * is right at one corpus size starves at 10× (measured: beam 12 =
    * 10/12 recall@3 at 200 vectors but 3/12 at 2000 — the beam fills
    * with near-duplicates of the entry region before reaching the
    * target's); √n growth restores it (beam 45 → 9-10/12 at 2000).
    * The cap is the honesty bound of a SINGLE-LAYER graph: past it,
    * recall needs the hierarchical extension (HNSW's log-n layers),
    * not a wider beam — the public design this family re-expresses.
    * ceil(sqrt) is IEEE-correctly-rounded in both engines, so the
    * DuckDB oracle replays the derivation exactly. */
  def beamForCorpus(n: Long, floor: Int = 12, cap: Int = 128): Int =
    math.min(cap, math.max(floor, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** Sign-random-projection bucket id: one bit per hyperplane.
    * (Plane literals are float arrays so graft_dot applies.) */
  def srpBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(v => lit(v.toFloat)): _*)
      when(dotNative(vec, planeLit) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed approximate top-k: corpus and queries are hashed to
    * SRP buckets; candidates are bucket-colocated (equi-join — shuffle
    * on bucket id, no cross join). Recall grows with fewer planes /
    * multiple tables; this single-table variant is the scale skeleton. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = 8, seed: Long = 42, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim > 0, "dim must match the embedding dimension — hyperplanes " +
      "shorter than the vectors silently ignore the remaining components")
    val planes = hyperplanes(nPlanes, dim, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      normNative(col(vecCol)).as("__cn"), srpBucket(col(vecCol), planes).as("__bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      normNative(col(vecCol)).as("__qn"), srpBucket(col(vecCol), planes).as("__bucket"))
    val scored = c.join(broadcast(q), Seq("__bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dotNative(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** OR-amplified LSH top-k: `nTables` independent SRP bucketings
    * (seeds seed, seed+1, …); a corpus vector is a candidate for a
    * query if they share a bucket in ANY table, which raises recall
    * from p^L-per-table misses to (1-(1-p^nPlanes)^nTables) — the
    * standard multi-table amplification. Plan shape: each side is
    * scanned once producing all nTables bucket ids (posexplode), the
    * candidate join is an equi-join on (table, bucket), and pairs
    * found by several tables dedup through a (query, neighbor) hash
    * aggregate BEFORE the top-k window — so the shuffle stays linear
    * in candidates and nothing is ever all-pairs. */
  def lshTopKMulti(corpus: DataFrame, queries: DataFrame, k: Int,
                   nPlanes: Int = 8, nTables: Int = 4, seed: Long = 42,
                   dim: Int = 64, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(nTables >= 1, "nTables must be >= 1")
    val buckets: Column = array((0 until nTables).map { t =>
      srpBucket(col(vecCol), hyperplanes(nPlanes, dim, seed + t))
    }: _*)
    def withBuckets(df: DataFrame, side: String): DataFrame = df
      .select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"__${side}v"),
        normNative(col(vecCol)).as(s"__${side}n"), buckets.as("__bks"))
      .select(col(s"${side}_id"), col(s"__${side}v"), col(s"__${side}n"),
        posexplode(col("__bks")).as(Seq("__t", "__bucket")))
    val c = withBuckets(corpus, "neighbor")
    val q = withBuckets(queries, "query")
    val scored = c.join(broadcast(q), Seq("__t", "__bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dotNative(col("__queryv"), col("__neighborv")) /
          (col("__queryn") * col("__neighborn")), 4))
      // dedup multi-table hits (cosine identical per pair — max is a
      // plain combinable agg, cheaper than distinct over the vectors)
      .groupBy("query_id", "neighbor_id").agg(max(col("cosine")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** Multi-PROBE LSH top-k (Lv et al., VLDB 2007): the memory-lean
    * alternative to multi-table amplification. The corpus is hashed
    * ONCE (one bucket index — lshTopKMulti keeps nTables copies);
    * each QUERY probes its own bucket plus every bucket at Hamming
    * distance 1 (nPlanes single-bit flips) — vectors near a
    * hyperplane land just across it, and those are exactly the
    * buckets one bit away. Only the tiny probe side fans out
    * (nPlanes+1 keys per query); the candidate join stays an
    * equi-join on the bucket id, and a candidate pair matches via
    * exactly one probe key (the corpus vector's bucket), so no dedup
    * aggregate is needed. Index memory of ONE table buys most of the
    * recall of many — see RECALL.md for the measured trade. */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int,
                        nPlanes: Int = 8, seed: Long = 42, dim: Int = 64,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(nPlanes, dim, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      normNative(col(vecCol)).as("__cn"),
      srpBucket(col(vecCol), planes).as("__bucket"))
    val probeSet: Column = array(
      (col("__b0") +: (0 until nPlanes).map(i =>
        col("__b0").bitwiseXOR(lit(1L << i)))): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        normNative(col(vecCol)).as("__qn"),
        srpBucket(col(vecCol), planes).as("__b0"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        explode(probeSet).as("__bucket"))
    val scored = c.join(broadcast(q), Seq("__bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dotNative(col("__qv"), col("__cv")) /
          (col("__qn") * col("__cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** IVF (inverted-file) approximate top-k — the other classic ANN
    * scale path. The corpus is partitioned into `nCells` Voronoi cells
    * around centroids (deterministic seed pick + one Lloyd refinement,
    * both as DataFrame ops); each query probes only its `nProbe`
    * nearest cells, so scoring cost drops by ~nCells/nProbe and the
    * candidate join is an equi-join on the cell id. Centroids are
    * driver-collected — they are O(nCells * dim), the same size class
    * as a broadcast dim table. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // consumed by count, seed pick, Lloyd step and final assignment —
    // persist once instead of recomputing the scan lineage each time.
    // CALLER CONTRACT: the returned plan reads this persisted frame
    // (so it cannot be released here); after materializing the result,
    // drop it with sparkContext.getPersistentRDDs/unpersist or
    // catalog.clearCache (every IVF query does; Round10Spec pins that
    // no blocks linger after the q54 lane + block sweep).
    val corp = corpus.select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ivfTopKWith(corp, queries, k, trainCentroids(corp, nCells, idCol, vecCol),
      nProbe, idCol, vecCol)
  }

  // `nrm` is the row's precomputed vector norm: computing it inside
  // the per-cell struct would run it nCells times per row, and the
  // centroid norms are Scala constants (graft_dot is not foldable,
  // so norm(centroidLiteral) would otherwise be evaluated per row).
  // Sequential double accumulation matches graft_dot bit-for-bit.
  private def cellScores(vec: Column, nrm: Column,
                         cents: Array[(Int, Array[Float])]): Column =
    array(cents.map { case (cid, c) =>
      val cLit = array(c.map(lit): _*)
      val cn = math.sqrt(c.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      struct((dotNative(vec, cLit) / (nrm * lit(cn))).as("cos"),
        lit(cid).as("cell"))
    }: _*)
  private def nearestCell(vec: Column, nrm: Column,
                          cents: Array[(Int, Array[Float])]): Column =
    array_max(cellScores(vec, nrm, cents)).getField("cell")

  /** Train IVF centroids (deterministic seed pick + one Lloyd
    * refinement). The result is the FROZEN index: persist it (it is
    * O(nCells × dim) — a config-file-sized artifact) and reuse it for
    * every subsequent ingest increment with `ivfTopKWith`, so a new
    * batch never retrains or reshuffles the existing corpus — the
    * same incremental pattern as Dedup.bandIndex. */
  /** `exactMeans = true` (default) computes Lloyd means as an ordered
    * fold — reproducible across engines and cluster layouts, but the
    * per-(cell,pos) aggregation buffers that cell's values (O(cell
    * size) memory). At corpus scales where a cell's column no longer
    * fits an aggregation buffer, pass false for constant-memory avg()
    * partials — centroid low bits then depend on partition order,
    * which only perturbs cell boundaries, not search correctness. */
  def trainCentroids(corpusIn: DataFrame, nCells: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     exactMeans: Boolean = true,
                     maxIter: Int = 1): Array[(Int, Array[Float])] = {
    // consumed by count, seed collect, and the Lloyd collect — persist
    // so direct callers don't re-scan the corpus three times (when the
    // caller already persisted the same plan, the cache manager
    // dedupes and this is a no-op). Training is self-contained (the
    // result is a driver-side array; no returned plan references this
    // frame), so the persist is released in the finally below — the
    // q452 lesson: an op that persists must unpersist on every path,
    // not rely on callers remembering to.
    val corpus = corpusIn.select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // seed centroids: deterministic hash-spread pick — a scan + limit,
    // never a global row_number window (which would funnel the whole
    // corpus through one task). Seed quality only affects the Lloyd
    // step's starting point.
    val n = corpus.count()
    val step = math.max(n / nCells, 1L)
    // md5-derived spread (Sampling.hashLong), not Murmur3 hash(): any
    // engine can recompute the seed pick, which is what lets the IVF
    // pipeline be oracle-verified end to end
    val seeds = corpus
      .where(Sampling.hashLong(col(idCol)) % step === 0)
      .orderBy(col(idCol))
      .limit(nCells)
      .collect()
      .zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Float](1).toArray }
    require(seeds.nonEmpty, "corpus produced no IVF seed centroids")

    // Lloyd refinement loop (`maxIter` rounds, default 1 — the r3
    // behavior): assign, then per-cell mean via posexplode. Each round
    // is one pass over the persisted corpus plus an O(nCells × dim)
    // driver collect — iteration count never touches shuffle volume.
    // The mean is an ORDERED fold (values summed in ascending id
    // order): plain avg() accumulates doubles in partition order, so
    // its low bits vary with parallelism AND between engines. The
    // ordered fold makes the refined centroids a deterministic
    // function of the data at EVERY iteration — reproducible and
    // oracle-verifiable. (Decimal sums would not work here: Spark
    // casts float->decimal via the shortest decimal string, other
    // engines via the exact binary value — they disagree.)
    def lloydStep(cents: Array[(Int, Array[Float])]): Array[(Int, Array[Float])] = {
      val assigned = corpus
        .select(col(idCol).as("__vid"), col(vecCol), normNative(col(vecCol)).as("__n"))
        .select(col("__vid"), col(vecCol),
          nearestCell(col(vecCol), col("__n"), cents).as("__cell"))
      val meanAgg =
        if (exactMeans)
          (aggregate(
            transform(sort_array(collect_list(struct(col("__vid"), col("__v")))),
              s => s("__v").cast("double")),
            lit(0.0), (a, x) => a + x) / count(lit(1))).as("__m")
        else avg(col("__v")).as("__m")
      assigned
        .select(col("__cell"), col("__vid"),
          posexplode(col(vecCol)).as(Seq("__pos", "__v")))
        .groupBy("__cell", "__pos")
        .agg(meanAgg)
        .groupBy("__cell")
        .agg(transform(sort_array(collect_list(struct(col("__pos"), col("__m")))),
          s => s("__m").cast("float")).as("__centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
    }
    (0 until math.max(maxIter, 0)).foldLeft(seeds)((c, _) => lloydStep(c))
    } finally corpus.unpersist(false)
  }

  /** Product-quantization codebooks: one deterministic codebook per
    * contiguous `width`-dim subspace, each trained with the exact
    * [[trainCentroids]] machinery (md5-derived seed pick + one
    * ordered-fold Lloyd round) on the sliced corpus — so the whole PQ
    * index is a pure function of the data and every training step
    * replays in the oracle (the q54 discipline, per subspace). */
  def pqTrain(corpus: DataFrame, nSub: Int, width: Int, nCodes: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Array[(Int, Array[Float])]] =
    (0 until nSub).map { sp =>
      trainCentroids(corpus.select(col(idCol),
        slice(col(vecCol), sp * width + 1, width).as(vecCol)),
        nCodes, idCol, vecCol)
    }

  /** PQ encode + ADC (asymmetric distance computation) top-k — the
    * memory-tier below SQ8: each corpus vector compresses to `nSub`
    * small codes (nSub·log2(nCodes) bits, here 4 codes vs 64 floats),
    * queries stay exact, and the approximate inner product is the sum
    * over subspaces of dot(query-slice, codeword) — at 100 TB the
    * corpus read shrinks ~50× and the scoring work is nSub small dots
    * against broadcast codebooks. Encoding is a map-side argmax per
    * subspace over codeword literals (no shuffle); the codeword
    * LOOKUP is nSub broadcast equi-joins on the code id; the ADC sum
    * adds the nSub partial dots in FIXED subspace order (p0+p1+p2+p3 —
    * a float hash-agg sum over subspaces would be partition-order
    * nondeterministic), and ranking happens on the floor-micro INTEGER
    * score, so the whole search replays bit-for-bit in the oracle.
    * `queries` must be a bounded probe batch (it is broadcast). */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame,
                books: Seq[Array[(Int, Array[Float])]], width: Int, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val nSub = books.size
    var docs = corpus.select(col(idCol).as("neighbor_id"), col(vecCol))
    (0 until nSub).foreach { sp =>
      docs = docs
        .withColumn("__v", slice(col(vecCol), sp * width + 1, width))
        .withColumn("__n", normNative(col("__v")))
        .withColumn(s"code_$sp", nearestCell(col("__v"), col("__n"), books(sp)))
        .drop("__v", "__n")
      val cb = books(sp).toSeq.map { case (c, cv) => (c, cv.toSeq) }
        .toDF(s"code_$sp", s"cv_$sp")
      docs = docs.join(broadcast(cb), Seq(s"code_$sp"))
    }
    val qs = queries.select(col(idCol).as("query_id") +:
      (0 until nSub).map(sp =>
        slice(col(vecCol), sp * width + 1, width).as(s"qv_$sp")): _*)
    val adc = (0 until nSub)
      .map(sp => dotNative(col(s"qv_$sp"), col(s"cv_$sp")))
      .reduce(_ + _)
    val scored = docs.crossJoin(broadcast(qs))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_micro",
        floor(adc * lit(1000000.0) + lit(0.5)).cast("long"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_micro").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(wq))
      .where(col("__rn") <= k)
      .select("query_id", "neighbor_id", "adc_micro")
  }

  /** Exact-cosine rerank of a candidate pair relation — the second
    * tier of every cascade (PQ/LSH/IVF recall a candidate pool, exact
    * scoring reorders it): two equi-joins fetch the vectors, one
    * codegen dot per pair, a per-query window keeps the top k. Cost is
    * O(candidates), never corpus × queries. */
  def rerankExact(corpus: DataFrame, candidates: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = corpus.select(col(idCol), col(vecCol),
      normNative(col(vecCol)).as("__n"))
    val scored = candidates
      .join(v.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        col("__n").as("__qn")), Seq("query_id"))
      .join(v.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        col("__n").as("__cn")), Seq("neighbor_id"))
      .withColumn("cosine",
        round(dotNative(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 4))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(wq))
      .where(col("__rn") <= k)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** Persistable form of a trained IVF index: one row per centroid,
    * (cell INT, centroid ARRAY<FLOAT>). Write it once with
    * `.write.parquet(...)`, then search any number of times — across
    * sessions and ingest increments — with [[ivfTopKFromIndex]],
    * never retraining (the q285 write→read layout lifecycle applied
    * to the vector index). */
  def centroidIndexDF(spark: org.apache.spark.sql.SparkSession,
                      cents: Array[(Int, Array[Float])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.map { case (cell, cv) => (cell, cv.toSeq) }
      .toDF("cell", "centroid")
  }

  /** IVF search against a LOADED centroid index table (the
    * [[centroidIndexDF]] schema) — the search half of the
    * train-once / write / load / search lifecycle. The O(nCells×dim)
    * index folds into ONE row of (cell, centroid, norm) structs and
    * broadcasts into both the corpus assignment and the query probes,
    * so cell assignment is a map-side array_max over the broadcast
    * structs: no Lloyd, no seed scan, no corpus shuffle — the plan
    * contains a scan of the index table and nothing recomputed.
    * Scores are bit-equal to [[ivfTopKWith]] on the same centroids:
    * graft_dot is the same sequential double fold whether the centroid
    * arrives as a literal or a table column, and the struct (cos,
    * cell) max/sort tie-breaks match cellScores'. */
  def ivfTopKFromIndex(corpus: DataFrame, queries: DataFrame, k: Int,
                       index: DataFrame, nProbe: Int = 4,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centArr = index
      .select(struct(col("cell").cast("int").as("cell"), col("centroid"),
        normNative(col("centroid")).as("cn")).as("__c"))
      .agg(sort_array(collect_list(col("__c"))).as("__cents"))
    def scores(vec: Column, nrm: Column): Column =
      transform(col("__cents"), c =>
        struct((dotNative(vec, c.getField("centroid")) /
          (nrm * c.getField("cn"))).as("cos"),
          c.getField("cell").as("cell")))
    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        normNative(col(vecCol)).as("__cn"))
      .crossJoin(broadcast(centArr))
      .select(col("neighbor_id"), col("__cv"), col("__cn"),
        array_max(scores(col("__cv"), col("__cn"))).getField("cell").as("__cell"))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        normNative(col(vecCol)).as("__qn"))
      .crossJoin(broadcast(centArr))
      .select(col("query_id"), col("__qv"), col("__qn"),
        slice(reverse(array_sort(scores(col("__qv"), col("__qn")))),
          1, nProbe).as("__probes"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        explode(col("__probes")).as("__probe"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        col("__probe.cell").as("__cell"))
    val scored = c.join(broadcast(q), Seq("__cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dotNative(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 4))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(wq))
      .where(col("__rn") <= k)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** IVF search against a frozen centroid index (see trainCentroids). */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, k: Int,
                  refined: Array[(Int, Array[Float])], nProbe: Int = 4,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        normNative(col(vecCol)).as("__cn"))
      .select(col("neighbor_id"), col("__cv"), col("__cn"),
        nearestCell(col("__cv"), col("__cn"), refined).as("__cell"))
    // queries probe their nProbe closest cells
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        normNative(col(vecCol)).as("__qn"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        slice(reverse(array_sort(cellScores(col("__qv"), col("__qn"), refined))),
          1, nProbe).as("__probes"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        explode(col("__probes")).as("__probe"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        col("__probe.cell").as("__cell"))
    val scored = c.join(broadcast(q), Seq("__cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dotNative(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 4))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(wq))
      .where(col("__rn") <= k)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** Exact embedding near-duplicate pairs: all pairs above a cosine
    * threshold. Norms precomputed per side; each pair costs one dot.
    * (At scale prefer cosineNearDupPairsLsh.) */
  def cosineNearDupPairsExact(df: DataFrame, threshold: Double,
                              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // repartition the streamed side: the nested-loop join inherits the
    // scan's partitioning, and a single-file parquet table scans as
    // ONE partition — the whole O(n²) dot-product loop would run on
    // one core. The broadcast (b) side needs no spread.
    val a = df.repartition(col(idCol))
      .select(col(idCol).as("id_a"), col(vecCol).as("__va"),
        normNative(col(vecCol)).as("__na"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
      normNative(col(vecCol)).as("__nb"))
    // the full predicate lives in the join condition, cheap conjunct
    // first: And short-circuits, so the 64-dim dot runs only for the
    // id_a < id_b half of the n² pairs (a post-join .where() gets
    // merged into the condition with the expensive conjunct first).
    // Survivors are few, so re-projecting cosine afterwards is free.
    val cosine =
      round(dotNative(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 4)
    a.join(b, col("id_a") < col("id_b") && cosine >= threshold)
      .select(col("id_a"), col("id_b"), cosine.as("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs, SRP-bucketed: the
    * self-join is bucket-local (equi-join on bucket id — linear
    * shuffle, no cross join). Approximate: pairs split by a hyperplane
    * are missed; use multiple tables (seeds) to raise recall. */
  def cosineNearDupPairs(df: DataFrame, threshold: Double,
                         nPlanes: Int = 6, seed: Long = 42, dim: Int = 64,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(nPlanes, dim, seed)
    val h = df.select(col(idCol), col(vecCol),
      normNative(col(vecCol)).as("__n"), srpBucket(col(vecCol), planes).as("__bucket"))
    val a = h.select(col("__bucket"), col(idCol).as("id_a"), col(vecCol).as("__va"), col("__n").as("__na"))
    val b = h.select(col("__bucket"), col(idCol).as("id_b"), col(vecCol).as("__vb"), col("__n").as("__nb"))
    a.join(b, Seq("__bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(dotNative(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 4))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      .distinct()
  }

  /** Per-label centroid components: mean of each vector dimension
    * within a label, from EXACT decimal sums (order-free — float
    * partial-sum order would otherwise drift between runs/engines,
    * see QueriesStats q70). posexplode + hash-aggregate: the shuffle
    * carries (label, dim, decimal sum) partials — O(labels × dim),
    * independent of corpus size. `dims` bounds the output width. */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String,
                     dims: Int): DataFrame =
    df.select(col(labelCol), posexplode(slice(col(vecCol), 1, dims)))
      .groupBy(col(labelCol), (col("pos") + 1).as("dim"))
      .agg(count(lit(1)).as("n"),
        round((sum(col("col").cast("double").cast("decimal(28,8)"))
          .cast("double") / count(lit(1))), 6).as("mean"))

  // ---- SQ8 scalar quantization --------------------------------------

  /** Per-vector symmetric int8 quantization: scale = max |component|,
    * q_i = round(x_i / scale * 127) ∈ [-127, 127]. Returned as
    * array<float> (small integers are float-exact) so the codegen'd
    * graft_dot drives the quantized inner loop too. The id column
    * rides along; `__qn2` is the quantized squared norm — an exact
    * integer (|q|≤127, dim≤64 ⇒ every product and partial sum < 2^24,
    * exact in ANY float/double accumulation order).
    *
    * The projection after the scale is exchange-separated
    * (`repartition`) from the scale computation: CollapseProject would
    * otherwise inline the array_max scale INTO the per-element
    * quantization lambda and recompute it dim times per row (the
    * lambda-CSE hazard, DESIGN.md). */
  def sq8Quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val scale = greatest(
      array_max(transform(col(vecCol), x => abs(x.cast("double")))),
      lit(1e-30))
    df.select(col(idCol), col(vecCol).as("__v"), scale.as("__s"))
      .repartition(col(idCol))
      .select(col(idCol),
        transform(col("__v"),
          x => round(x.cast("double") / col("__s") * 127.0, 0)
            .cast("int").cast("float")).as("__q"))
      .select(col(idCol), col("__q"),
        dotNative(col("__q"), col("__q")).as("__qn2"))
  }

  /** Brute-force top-k in SQ8 space: the memory-bandwidth scale path.
    * At 100 TB the quantized corpus is 4x smaller than float32 — the
    * scan, the broadcast, and the cache working set all shrink by 4x
    * while the dot products stay exact INTEGER arithmetic (so results
    * are bit-stable across engines and partition orders, unlike
    * float32 dots whose sums drift with accumulation order — that is
    * what makes an approximate-representation index oracle-verifiable,
    * q147). In a persisted deployment `sq8Quantize` runs once at write
    * time and the scan reads int8 arrays; here it runs in-plan.
    * Ranking uses the quantized cosine (q_a·q_b / (|q_a||q_b|)) —
    * recall vs exact cosine is measured in SimilaritySpec. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = sq8Quantize(corpus, idCol, vecCol)
      .withColumnsRenamed(Map(idCol -> "neighbor_id", "__q" -> "__cq", "__qn2" -> "__cn2"))
    val q = broadcast(sq8Quantize(queries, idCol, vecCol)
      .withColumnsRenamed(Map(idCol -> "query_id", "__q" -> "__qq", "__qn2" -> "__qn2")))
    val scored = c.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_q8",
        round(dotNative(col("__cq"), col("__qq")) /
          sqrt(col("__cn2") * col("__qn2")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_q8").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select("query_id", "neighbor_id", "cosine_q8")
  }

  /** Dominant direction of the corpus' uncentered second-moment (Gram)
    * matrix via bounded-round power iteration — the 1-component PCA a
    * curation pipeline uses to find (and project out, or audit) the
    * "rogue dimension" that dominates embedding similarity. All
    * arithmetic is integer-exact: components quantize to millis (the
    * q147/q201/q226 round-parity discipline), Gram entries are BIGINT
    * sums of milli-products, and each round rescales the iterate to
    * max-abs 1000 with an explicit floor division written as
    * (x − pmod(x, m)) div m — identical on any engine for signed x and
    * positive m, because the numerator is an exact multiple of m. The
    * whole computation is partition-order-independent, so an oracle
    * replays every round as chained CTEs (q242).
    *
    * Scale posture: the corpus is scanned ONCE (each row expands to
    * dims² (i, j, q_i·q_j) terms, map-side-combined straight down to
    * the dims×dims Gram frame — never a row×row join); every
    * iteration then runs on the O(dims²) frame with the O(dims)
    * iterate broadcast. Overflow headroom: |q| ≤ ~2000 millis, so a
    * Gram entry is ≤ 4·10⁶·n rows and the rescaled iterate keeps
    * every product under 10¹⁸ for corpora to ~10¹⁰ rows.
    *
    * Returns (pos 1-based, v) — the iterate after `rounds` rounds,
    * scaled to max |v| = 1000. */
  def gramPowerIteration(emb: DataFrame, vecCol: String = "embedding",
                         dims: Int = 64, rounds: Int = 2): DataFrame = {
    require(rounds >= 1, "gramPowerIteration needs at least one round")
    val qv = transform(slice(col(vecCol), 1, dims),
      x => round(x.cast("double") * 1000, 0).cast("long"))
    val pairTerms = flatten(transform(col("__q"), (xi, i) =>
      transform(col("__q"), (xj, j) =>
        struct((i + 1).cast("long").as("i"), (j + 1).cast("long").as("j"),
          (xi * xj).as("p")))))
    // the corpus may arrive in a handful of input splits (a small
    // parquet is ONE partition) while the dims²-per-row expansion is
    // pure CPU — spread it across the session's parallelism first
    val shufflePartitions = emb.sparkSession.sessionState.conf.numShufflePartitions
    val gram = emb.select(qv.as("__q"))
      .repartition(shufflePartitions)
      .select(explode(pairTerms).as("e"))
      .groupBy(col("e.i").as("i"), col("e.j").as("j"))
      .agg(sum("e.p").as("g"))
      .localCheckpoint()
    var v = gram.select(col("j").as("pos")).distinct()
      .withColumn("v", lit(1000L)).localCheckpoint()
    for (_ <- 1 to rounds) {
      val w = gram.join(broadcast(v.withColumnRenamed("pos", "j")), "j")
        .groupBy(col("i").as("pos"))
        .agg(sum(col("g") * col("v")).as("w"))
      val m = w.agg(greatest(max(abs(col("w"))), lit(1L)).as("m"))
      val old = v
      v = w.crossJoin(broadcast(m))
        .withColumn("__wm", col("w") * 1000)
        // BIGINT floor division for signed x, positive m: subtract the
        // non-negative remainder, then `div` (exact-multiple quotient)
        .select(col("pos"),
          expr("(__wm - pmod(__wm, m)) div m").cast("long").as("v"))
        .localCheckpoint()
      Checkpoints.free(old)
    }
    Checkpoints.free(gram)
    v
  }

  /** SQL fragments packing the sign bits of a millis-quantized vector
    * column `v` (array<long>, 64 dims) into two 32-bit halves — two
    * halves so neither engine's BIGINT sign bit is ever touched.
    * Shared by q446 and [[binarySignTopK]]. */
  val signPackLoSql: String = "aggregate(transform(sequence(0, 31), " +
    "i -> IF(element_at(v, i + 1) >= 0L, shiftleft(1L, i), 0L)), " +
    "0L, (a, x) -> a + x)"
  val signPackHiSql: String = "aggregate(transform(sequence(0, 31), " +
    "i -> IF(element_at(v, i + 33) >= 0L, shiftleft(1L, i), 0L)), " +
    "0L, (a, x) -> a + x)"

  /** Binary-sign (1-bit) quantization search — the coarsest cascade
    * tier under SQ8 (8 bits/dim) and PQ (sub-byte/vec): each 64-dim
    * vector collapses to ONE 64-bit signature and candidate scoring
    * is two XOR+popcounts. At 100 TB the signature table is 64x
    * smaller than float32 — it lives in memory when nothing else
    * does, which is why real systems run Hamming as the first filter
    * and rerank survivors exactly (measured in RECALL.md next to the
    * PQ cascade). Signatures are a pure projection; queries broadcast;
    * ties break by neighbor id. */
  def binarySignTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    def sigs(df: DataFrame, outId: String, lo: String, hi: String) = df
      .select(col(idCol).as(outId),
        transform(col(vecCol),
          x => round(x.cast("double") * 1000, 0).cast("long")).as("v"))
      .select(col(outId), expr(signPackLoSql).as(lo),
        expr(signPackHiSql).as(hi))
    val c = sigs(corpus, "neighbor_id", "lo", "hi")
    val q = broadcast(sigs(queries, "query_id", "qlo", "qhi"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    c.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("hamming",
        expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)").cast("long"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select("query_id", "neighbor_id", "hamming")
  }
}
