package graft.queries

import graft.Tables._
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Embedding similarity-search queries (north-star operators):
  * brute-force cosine top-k (oracle-checked with explicit double
  * math), exact threshold near-dup pairs, per-label norm stats, and
  * the SRP-LSH approximate variant (rows-only — the scale path).
  */
object QueriesSimilarity {

  private[queries] val Dim = 64

  /** Mirror of Similarity.hyperplanes component (i, j-1) for a SQL
    * lambda variable `j` (1-based): first 32 bits of md5("seed:i:j-1")
    * scaled to [-1, 1), snapped to FLOAT exactly as the Spark side's
    * plane literals are. */
  private[queries] def srpPlaneW(seed: Long, i: Int): String = {
    val h = DuckSql.hashLong(s"'$seed:$i:' || (j - 1)")
    s"CAST(CAST((($h / 4294967296.0) * 2 - 1) AS FLOAT) AS DOUBLE)"
  }

  /** Projection of `vec` onto plane i — sequential double accumulation,
    * same order as graft_dot, so the >= 0 sign test is bit-identical. */
  private[queries] def srpProj(vec: String, seed: Long, i: Int): String =
    s"list_sum(list_transform(generate_series(1, $Dim), " +
      s"j -> CAST($vec[j] AS DOUBLE) * ${srpPlaneW(seed, i)}))"

  /** Mirror of Similarity.srpBucket. */
  private[queries] def srpBucketSql(vec: String, seed: Long, nPlanes: Int): String =
    (0 until nPlanes).map { i =>
      s"(CASE WHEN ${srpProj(vec, seed, i)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  val defs: Seq[QueryDef] = Seq(

    // ---- q50: brute-force cosine top-k for a bounded query set ------
    QueryDef("q50_cosine_topk",
      (s, d) => {
        val emb = embeddings(s, d)
        Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 20), k = 5)
          .orderBy("query_id", "neighbor_id")
      },
      Some {
        val cos = DuckSql.cosine("q.embedding", "c.embedding", Dim)
        s"""SELECT query_id, neighbor_id, cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round($cos, 4) + 0 AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round($cos, 4) DESC, c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id < 20)
        |WHERE rn <= 5 ORDER BY query_id, neighbor_id""".stripMargin
      }),

    // ---- q51: exact embedding near-dup pairs above threshold --------
    QueryDef("q51_cosine_neardup",
      (s, d) => Similarity.cosineNearDupPairsExact(embeddings(s, d), 0.4)
        .orderBy("id_a", "id_b"),
      Some {
        val cos = DuckSql.cosine("a.embedding", "b.embedding", Dim)
        s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cos, 4) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round($cos, 4) >= 0.4
        |ORDER BY 1, 2""".stripMargin
      }),

    // ---- q52: per-label embedding norm statistics -------------------
    QueryDef("q52_embedding_stats",
      (s, d) => {
        embeddings(s, d)
          .withColumn("nrm", Similarity.normNative(col("embedding")))
        .groupBy(col("label").cast("bigint").as("label"))
        .agg(count(lit(1)).as("n"),
          // order-insensitive: snap each norm to decimal(18,6) before the
          // sum so partial-agg merge order can't move the 4th decimal
          round(sum(col("nrm").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 4).as("avg_norm"),
          round(min(col("nrm")), 4).as("min_norm"),
          round(max(col("nrm")), 4).as("max_norm"))
        .orderBy("label")
      },
      Some {
        val nrm = s"sqrt(${DuckSql.dot("embedding", "embedding", Dim)})"
        s"""SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
        |  round(CAST(sum(CAST($nrm AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_norm,
        |  round(min($nrm), 4) AS min_norm,
        |  round(max($nrm), 4) AS max_norm
        |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ---- q53: SRP-LSH approximate top-k (the 100 TB scale path) -----
    // Bucketed equi-join instead of a cross join. The hyperplanes are
    // md5-derived from the seed, so the oracle recomputes the exact
    // bucketing — the approximate path is verified end to end.
    QueryDef("q53_lsh_topk",
      (s, d) => {
        val emb = embeddings(s, d)
        Similarity.lshTopK(emb, emb.where(col("vec_id") < 20), k = 5, nPlanes = 4)
          .orderBy("query_id", "neighbor_id")
      },
      Some {
        val cos = s"round(${DuckSql.dot("q.embedding", "c.embedding", Dim)} / (q.nrm * c.nrm), 4)"
        s"""WITH bk AS (SELECT vec_id, embedding,
        |    sqrt(${DuckSql.dot("embedding", "embedding", Dim)}) AS nrm,
        |    ${srpBucketSql("embedding", 42L, 4)} AS bucket
        |  FROM embeddings)
        |SELECT query_id, neighbor_id, cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cos + 0 AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY $cos DESC, c.vec_id) AS rn
        |  FROM bk q JOIN bk c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
        |  WHERE q.vec_id < 20)
        |WHERE rn <= 5 ORDER BY query_id, neighbor_id""".stripMargin
      }),

    // ---- q141: OR-amplified multi-table LSH top-k -------------------
    // The recall-raising variant of q53: nTables independent SRP
    // bucketings (seeds 42, 43, 44); a pair is a candidate when ANY
    // table buckets it together. The oracle recomputes all three
    // bucketings and the candidate-distinct/top-k exactly; measured
    // recall vs brute force is asserted in SimilaritySpec.
    QueryDef("q141_lsh_topk_multi",
      (s, d) => {
        val emb = embeddings(s, d)
        Similarity.lshTopKMulti(emb, emb.where(col("vec_id") < 20), k = 5,
          nPlanes = 6, nTables = 3)
          .orderBy("query_id", "neighbor_id")
      },
      Some {
        val cos = s"round(${DuckSql.dot("q.embedding", "c.embedding", Dim)} / (q.nrm * c.nrm), 4)"
        val bks = (0 until 3).map(t =>
          s"${srpBucketSql("embedding", 42L + t, 6)} AS b$t").mkString(",\n|    ")
        val anyShared = (0 until 3).map(t => s"q.b$t = c.b$t").mkString(" OR ")
        s"""WITH bk AS (SELECT vec_id, embedding,
        |    sqrt(${DuckSql.dot("embedding", "embedding", Dim)}) AS nrm,
        |    $bks
        |  FROM embeddings),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM bk q JOIN bk c ON c.vec_id != q.vec_id AND ($anyShared)
        |  WHERE q.vec_id < 20)
        |SELECT query_id, neighbor_id, cosine FROM (
        |  SELECT cand.query_id, cand.neighbor_id, $cos + 0 AS cosine,
        |    row_number() OVER (PARTITION BY cand.query_id
        |      ORDER BY $cos DESC, cand.neighbor_id) AS rn
        |  FROM cand JOIN bk q ON q.vec_id = cand.query_id
        |    JOIN bk c ON c.vec_id = cand.neighbor_id)
        |WHERE rn <= 5 ORDER BY query_id, neighbor_id""".stripMargin
      }),

    // ---- q97: SRP-bucketed embedding near-dup pairs — the scale path
    // for q51's exact all-pairs; same md5-derived planes as q53, so
    // the whole approximate pipeline is oracle-verified ---------------
    QueryDef("q97_cosine_neardup_lsh",
      (s, d) => Similarity.cosineNearDupPairs(embeddings(s, d), 0.4, nPlanes = 4)
        .orderBy("id_a", "id_b"),
      Some {
        val cos = s"round(${DuckSql.dot("a.embedding", "b.embedding", Dim)} / (a.nrm * b.nrm), 4)"
        s"""WITH bk AS (SELECT vec_id, embedding,
        |    sqrt(${DuckSql.dot("embedding", "embedding", Dim)}) AS nrm,
        |    ${srpBucketSql("embedding", 42L, 4)} AS bucket
        |  FROM embeddings)
        |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, $cos AS cosine
        |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE $cos >= 0.4
        |ORDER BY 1, 2""".stripMargin
      }),

    // ---- q54: IVF approximate top-k — fully oracle-verified: the
    // seed pick is md5-derived, the Lloyd mean is an ordered fold, and
    // every cosine is a sequential double dot, so DuckDB recomputes
    // the exact centroids, cell assignments, probes, and top-k -------
    QueryDef("q54_ivf_topk",
      (s, d) => {
        val emb = embeddings(s, d)
        Similarity.ivfTopK(emb, emb.where(col("vec_id") < 20), k = 5)
          .orderBy("query_id", "neighbor_id")
      },
      Some {
        def dotD(a: String, b: String) =
          s"list_sum(list_transform(generate_series(1, $Dim), " +
            s"j -> CAST($a[j] AS DOUBLE) * $b))"
        val dotEmb = DuckSql.dot("e.embedding", "s.embedding", Dim)
        s"""WITH emb AS (SELECT vec_id, embedding,
        |    sqrt(${DuckSql.dot("embedding", "embedding", Dim)}) AS nrm FROM embeddings),
        |c AS (SELECT count(*) AS n FROM emb),
        |seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
        |    embedding
        |  FROM (SELECT vec_id, embedding FROM emb, c
        |        WHERE ${DuckSql.hashLong("vec_id")} % greatest(n // 16, 1) = 0
        |        ORDER BY vec_id LIMIT 16)),
        |sn AS (SELECT cell, embedding,
        |    sqrt(${DuckSql.dot("embedding", "embedding", Dim)}) AS cn FROM seeds),
        |a0 AS (SELECT e.vec_id,
        |    (max(struct_pack(c := $dotEmb / (e.nrm * s.cn), cell := s.cell))).cell AS cell
        |  FROM emb e CROSS JOIN sn s GROUP BY e.vec_id),
        |mean AS (SELECT a0.cell, p.i AS pos,
        |    list_sum(list(CAST(e.embedding[p.i] AS DOUBLE) ORDER BY e.vec_id)) / count(*) AS m
        |  FROM emb e JOIN a0 USING (vec_id)
        |  CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS i) p
        |  GROUP BY 1, 2),
        |cent AS (SELECT cell, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY pos) AS cv
        |  FROM mean GROUP BY 1),
        |cn AS (SELECT cell, cv,
        |    sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn FROM cent),
        |a1 AS (SELECT e.vec_id,
        |    (max(struct_pack(c := ${dotD("e.embedding", "cn.cv[j]")} / (e.nrm * cn.cn),
        |      cell := cn.cell))).cell AS cell
        |  FROM emb e CROSS JOIN cn GROUP BY e.vec_id),
        |pr AS (SELECT q.vec_id AS query_id, cn.cell,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY ${dotD("q.embedding", "cn.cv[j]")} / (q.nrm * cn.cn) DESC,
        |        cn.cell DESC) AS pr_rn
        |  FROM emb q CROSS JOIN cn WHERE q.vec_id < 20),
        |cand AS (SELECT p.query_id, a1.vec_id AS neighbor_id,
        |    round(${DuckSql.dot("qe.embedding", "ce.embedding", Dim)} / (qe.nrm * ce.nrm), 4) + 0 AS cosine
        |  FROM pr p
        |  JOIN a1 ON a1.cell = p.cell AND p.pr_rn <= 4
        |  JOIN emb ce ON ce.vec_id = a1.vec_id
        |  JOIN emb qe ON qe.vec_id = p.query_id
        |  WHERE a1.vec_id != p.query_id)
        |SELECT query_id, neighbor_id, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS rn FROM cand)
        |WHERE rn <= 5 ORDER BY query_id, neighbor_id""".stripMargin
      }),

    // ---- q147: SQ8 scalar-quantized top-k — the memory-bandwidth
    // scale path (int8 corpus is 4x smaller than float32). Every
    // quantized dot is exact INTEGER arithmetic (|q| <= 127, dim 64:
    // all partials < 2^24), so the approximate-representation search
    // is bit-reproducible and the oracle recomputes quantization,
    // norms, and ranking exactly. Recall vs exact cosine is measured
    // in SimilaritySpec. -----------------------------------------------
    QueryDef("q147_sq8_topk",
      (s, d) => {
        val emb = embeddings(s, d)
        Similarity.sq8TopK(emb, emb.where(col("vec_id") < 20), k = 5)
          .orderBy("query_id", "neighbor_id")
      },
      Some {
        val qdot = s"list_sum(list_transform(generate_series(1, $Dim), " +
          "i -> c.q[i] * q2.q[i]))"
        val cos = s"round($qdot / sqrt(c.n2 * q2.n2), 4)"
        s"""WITH sc AS (SELECT vec_id, embedding,
        |    greatest(list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS s
        |  FROM embeddings),
        |qz AS (SELECT vec_id, list_transform(generate_series(1, $Dim),
        |    i -> round(CAST(embedding[i] AS DOUBLE) / s * 127.0, 0)) AS q
        |  FROM sc),
        |qn AS (SELECT vec_id, q,
        |    list_sum(list_transform(q, x -> x * x)) AS n2 FROM qz)
        |SELECT query_id, neighbor_id, cosine_q8 FROM (
        |  SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    $cos + 0 AS cosine_q8,
        |    row_number() OVER (PARTITION BY q2.vec_id
        |      ORDER BY $cos DESC, c.vec_id) AS rn
        |  FROM qn c JOIN qn q2 ON c.vec_id != q2.vec_id
        |  WHERE q2.vec_id < 20)
        |WHERE rn <= 5 ORDER BY query_id, neighbor_id""".stripMargin
      }),

    // ---- q184: SemDeDup — embedding-space dedup end-to-end -----------
    // The Abbas et al. 2023 pipeline: SRP-bucketed cosine near-dup
    // pairs (q97's operator), connected components via large-star/
    // small-star contraction, min-id survivor per semantic cluster.
    // Third dedup family the engine runs end-to-end, after MinHash
    // (q91) and exact-substring (q172) — this one catches paraphrases
    // that share no verbatim n-gram. Every stage rides verified pieces;
    // the oracle replays buckets, cosines, and the transitive closure.
    QueryDef("q184_semdedup",
      (s, d) => {
        val emb = embeddings(s, d)
        val pairs = graft.ops.Similarity
          .cosineNearDupPairs(emb, 0.4, nPlanes = 4)
          .select(col("id_a"), col("id_b"))
        val groups = graft.ops.Dedup.duplicateGroupsStar(pairs, maxIter = 20)
        graft.ops.Dedup.dedupSurvivors(emb, "vec_id", groups)
          .select(col("vec_id"), col("label").cast("bigint").as("label"))
          .orderBy("vec_id")
      },
      Some {
        val cos = s"round(${DuckSql.dot("a.embedding", "b.embedding", Dim)} / (a.nrm * b.nrm), 4)"
        s"""WITH RECURSIVE bk AS (SELECT vec_id, embedding,
        |    sqrt(${DuckSql.dot("embedding", "embedding", Dim)}) AS nrm,
        |    ${srpBucketSql("embedding", 42L, 4)} AS bucket
        |  FROM embeddings),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE $cos >= 0.4),
        |${DuckSql.ccGroupCtes}
        |SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM grp WHERE id != group_id)
        |ORDER BY vec_id""".stripMargin
      }),

    // ---- q232: multi-PROBE LSH top-k ---------------------------------
    // The memory-lean recall amplification (Lv et al., VLDB 2007):
    // ONE bucket index (q141 keeps nTables copies); each query probes
    // its bucket plus all nPlanes Hamming-distance-1 buckets. The
    // probe set {b, b⊕1, b⊕2, …} is EXACTLY the buckets with
    // bit_count(xor) <= 1, which is how the oracle states the
    // candidate condition; a pair matches via one probe key only, so
    // no dedup stage exists in either engine.
    QueryDef("q232_lsh_multiprobe",
      (s, d) => {
        val emb = embeddings(s, d)
        Similarity.lshTopKMultiProbe(emb, emb.where(col("vec_id") < 20),
            k = 5, nPlanes = 6)
          .orderBy("query_id", "neighbor_id")
      },
      Some {
        val cos = s"round(${DuckSql.dot("q.embedding", "c.embedding", Dim)} / (q.nrm * c.nrm), 4)"
        s"""WITH bk AS (SELECT vec_id, embedding,
        |    sqrt(${DuckSql.dot("embedding", "embedding", Dim)}) AS nrm,
        |    ${srpBucketSql("embedding", 42L, 6)} AS bucket
        |  FROM embeddings)
        |SELECT query_id, neighbor_id, cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    $cos + 0 AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY $cos DESC, c.vec_id) AS rn
        |  FROM bk q JOIN bk c ON c.vec_id != q.vec_id
        |    AND bit_count(xor(c.bucket, q.bucket)) <= 1
        |  WHERE q.vec_id < 20)
        |WHERE rn <= 5 ORDER BY query_id, neighbor_id""".stripMargin
      }))
}
