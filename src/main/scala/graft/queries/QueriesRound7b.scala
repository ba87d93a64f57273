package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup, Sampling, Text}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 second batch: SFT loss masking (the per-token span
  * computation every instruction-tuning pipeline runs), the Bloom
  * dedup gate running AT INGEST (streaming twin of q292, stateless
  * stream-static joins), and frequent event transitions (the
  * sequence-mining readout next to the funnel family).
  */
object QueriesRound7b {

  val defs: Seq[QueryDef] = Seq(

    // ---- q294: SFT loss-mask spans -------------------------------------
    // Instruction tuning computes loss only on assistant tokens; the
    // mask is a pure function of the chat structure. Turns here are
    // content-derived (a token whose md5 value ≡ 0 mod 5 OPENS a new
    // turn — the CDC convention, so an edit re-masks only its
    // neighborhood) and roles alternate user/assistant by turn parity.
    // Output per doc: tokens, turns, loss tokens, loss share (ppm) and
    // the positional checksum of masked positions — the exact integers
    // a trainer's collator needs to agree on. Per-doc windows only
    // (partitioned running sum); one corpus shuffle.
    QueryDef("q294_sft_loss_mask",
      (s, d) => {
        val w = Window.partitionBy(col("doc_id")).orderBy(col("__p"))
          .rowsBetween(Long.MinValue, 0)
        val toks = documents(s, d)
          .select(col("doc_id"), posexplode(Text.tokens(col("text")))
            .as(Seq("__p", "__t")))
          .repartition(col("doc_id"))
          .withColumn("__b",
            (Sampling.hashLong(col("__t")) % 5 === 0).cast("long"))
          .withColumn("__turn", sum("__b").over(w))
        val agg = toks.groupBy("doc_id").agg(
          count(lit(1)).as("n_tokens"),
          countDistinct(col("__turn")).as("n_turns"),
          sum(when(col("__turn") % 2 === 1, 1L).otherwise(0L))
            .as("n_loss_tokens"),
          sum(when(col("__turn") % 2 === 1, col("__p").cast("long"))
            .otherwise(0L)).as("loss_checksum"))
        documents(s, d).select(col("doc_id")).join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
            coalesce(col("n_turns"), lit(0L)).as("n_turns"),
            coalesce(col("n_loss_tokens"), lit(0L)).as("n_loss_tokens"),
            coalesce(col("loss_checksum"), lit(0L)).as("loss_checksum"))
          .withColumn("loss_ppm",
            expr("(n_loss_tokens * 1000000) div greatest(n_tokens, 1)"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS toks
        |  FROM documents),
        |px AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS p,
        |    toks FROM t),
        |tok AS (SELECT doc_id, p, toks[p] AS tok FROM px),
        |tb AS (SELECT doc_id, p,
        |    CASE WHEN ${DuckSql.hashLong("tok")} % 5 = 0 THEN 1 ELSE 0 END AS nb
        |  FROM tok),
        |tw AS (SELECT doc_id, p, sum(nb) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS UNBOUNDED PRECEDING) AS turn FROM tb),
        |agg AS (SELECT doc_id, count(*) AS n_tokens,
        |    count(DISTINCT turn) AS n_turns,
        |    sum(CASE WHEN turn % 2 = 1 THEN 1 ELSE 0 END) AS n_loss_tokens,
        |    sum(CASE WHEN turn % 2 = 1 THEN p - 1 ELSE 0 END) AS loss_checksum
        |  FROM tw GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(n_turns, 0) AS BIGINT) AS n_turns,
        |  CAST(coalesce(n_loss_tokens, 0) AS BIGINT) AS n_loss_tokens,
        |  CAST(coalesce(loss_checksum, 0) AS BIGINT) AS loss_checksum,
        |  CAST((coalesce(n_loss_tokens, 0) * 1000000)
        |    // greatest(coalesce(n_tokens, 0), 1) AS BIGINT) AS loss_ppm
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- q295: STREAMING Bloom dedup gate ------------------------------
    // q292's gate AT INGEST: the existing corpus's position table is
    // static; each arriving record computes its k=4 positions and
    // probes the table through four stateless stream-static broadcast
    // left joins (no aggregation, no state store — per-row claimed
    // flags on the live stream). The full per-doc output hash-matches
    // the batch oracle, pinning batch/stream identity for the Bloom
    // lane the way q284 did for normalization.
    QueryDef("q295_streaming_bloom_gate",
      (s, d) => Checkpoints.scoped { pin =>
        val m = 1 << 15
        val kh = 4
        def pos(f: Column, j: Int): Column =
          Sampling.hashLong(concat(f, lit("#bl"), lit(j.toString))) % m
        val bits = pin.keep(documents(s, d).where(col("doc_id") % 10 =!= 0)
          .select(md5(Text.normText(col("text"))).as("fp")).distinct()
          .select(explode(array((0 until kh).map(j => pos(col("fp"), j)): _*))
            .as("__p"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        import org.apache.spark.sql.types._
        val sch = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
          globFilter = Some("documents.parquet"),
          outputMode = "append",
          transform = st => {
            var cur = st.where(col("doc_id") % 10 === 0)
              .select(col("doc_id"), md5(Text.normText(col("text"))).as("fp"))
            (0 until kh).foreach { j =>
              cur = cur.join(
                broadcast(bits.select(col("__p").as(s"__p$j"),
                  lit(1).as(s"__h$j"))),
                pos(col("fp"), j) === col(s"__p$j"), "left")
                .drop(s"__p$j")
            }
            cur.select(col("doc_id"),
              (0 until kh).map(j => col(s"__h$j").isNotNull)
                .reduce(_ && _).as("claimed"))
          }).orderBy("doc_id")
      },
      Some {
        val m = 1 << 15
        def posSql(fpExpr: String) =
          s"${DuckSql.hashLong(s"$fpExpr || '#bl' || j")} % $m"
        s"""WITH a AS (SELECT doc_id, md5(${DuckSql.norm("text")}) AS fp
        |  FROM documents),
        |ex AS (SELECT DISTINCT fp FROM a WHERE doc_id % 10 <> 0),
        |inc AS (SELECT doc_id, fp FROM a WHERE doc_id % 10 = 0),
        |js AS (SELECT unnest(generate_series(0, 3)) AS j),
        |bits AS (SELECT DISTINCT ${posSql("fp")} AS p FROM ex, js),
        |ip AS (SELECT doc_id, ${posSql("fp")} AS p FROM inc, js),
        |hits AS (SELECT ip.doc_id, count(*) AS nhit
        |  FROM ip JOIN bits USING (p) GROUP BY 1)
        |SELECT inc.doc_id, coalesce(hits.nhit, 0) = 4 AS claimed
        |FROM inc LEFT JOIN hits ON inc.doc_id = hits.doc_id
        |ORDER BY inc.doc_id""".stripMargin
      }),

    // ---- q296: frequent event transitions ------------------------------
    // The sequence-mining readout next to the funnel family: adjacent
    // event-type transitions per user (ordered by ts with event_id
    // tie-break — a total order, so lead() replays identically), pair
    // support, and lift in integer micro-units, staged as
    // ((support·10⁶ div out)·total) div in: support ≤ out bounds the
    // first factor at 10⁶, so nothing overflows BIGINT until total
    // exceeds ~9·10¹² transitions (support·total·10⁶ in one product
    // would wrap silently in Spark and ERROR in DuckDB at ~3·10⁶ —
    // a scale-dependent engine divergence). Top 20 by support.
    // Per-user windows; three map-side-combined aggs.
    QueryDef("q296_event_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val tr = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("__next", lead("event_type", 1).over(w))
          .where(col("__next").isNotNull)
          .select(col("event_type").as("src"), col("__next").as("dst"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sup = tr.groupBy("src", "dst").agg(count(lit(1)).as("support"))
        val outN = tr.groupBy("src").agg(count(lit(1)).as("out_n"))
        val inN = tr.groupBy("dst").agg(count(lit(1)).as("in_n"))
        val tot = tr.agg(count(lit(1)).as("total"))
        sup.join(outN, "src").join(inN, "dst")
          .crossJoin(broadcast(tot))
          .select(col("src"), col("dst"), col("support"), col("out_n"),
            col("in_n"),
            expr("((support * 1000000 div out_n) * total) div in_n")
              .as("lift_micro"))
          .orderBy(col("support").desc, col("src"), col("dst"))
          .limit(20)
      },
      Some("""WITH tr AS (SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS dst
        |  FROM events),
        |t2 AS (SELECT src, dst FROM tr WHERE dst IS NOT NULL),
        |sup AS (SELECT src, dst, count(*) AS support FROM t2 GROUP BY 1, 2),
        |o AS (SELECT src, count(*) AS out_n FROM t2 GROUP BY 1),
        |i AS (SELECT dst, count(*) AS in_n FROM t2 GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM t2)
        |SELECT src, dst, CAST(support AS BIGINT) AS support,
        |  CAST(out_n AS BIGINT) AS out_n, CAST(in_n AS BIGINT) AS in_n,
        |  CAST(((support * 1000000 // out_n) * total) // in_n AS BIGINT)
        |    AS lift_micro
        |FROM sup JOIN o USING (src) JOIN i USING (dst), tot
        |ORDER BY support DESC, src, dst LIMIT 20""".stripMargin)),

    // ---- q297: product quantization + ADC top-k ------------------------
    // The memory tier below SQ8 (q147): each 64-dim vector compresses
    // to FOUR codebook codes (one per 16-dim subspace, 8 codewords
    // each — trained with the exact q54 machinery per subspace), and
    // search scores approximate inner products as the fixed-order sum
    // of per-subspace dot(query-slice, codeword) — asymmetric distance
    // computation. Ranking on the floor-micro INTEGER score; the
    // oracle replays all four trainings, the encodings, and the ADC
    // ranking end to end. Completes the quantization lane:
    // float32 → int8 (SQ8) → 4-code PQ.
    QueryDef("q297_pq_adc_topk",
      (s, d) => {
        val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val books = graft.ops.Similarity.pqTrain(emb, nSub = 4, width = 16,
          nCodes = 8)
        graft.ops.Similarity.pqAdcTopK(emb, emb.where(col("vec_id") < 10),
          books, width = 16, k = 5)
          .orderBy("query_id", "neighbor_id")
      },
      Some {
        val dot16 = (a: String, b: String) => DuckSql.dot(a, b, 16)
        def dotD(a: String, b: String) =
          s"list_sum(list_transform(generate_series(1, 16), " +
            s"j -> CAST($a[j] AS DOUBLE) * $b))"
        def sub(sp: Int): String = {
          val lo = sp * 16 + 1; val hi = sp * 16 + 16
          s"""es$sp AS (SELECT vec_id, embedding[$lo:$hi] AS v,
          |    sqrt(${dot16(s"embedding[$lo:$hi]", s"embedding[$lo:$hi]")}) AS nrm
          |  FROM embeddings),
          |sd$sp AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v
          |  FROM (SELECT vec_id, v FROM es$sp, c
          |        WHERE ${DuckSql.hashLong("vec_id")} % greatest(n // 8, 1) = 0
          |        ORDER BY vec_id LIMIT 8)),
          |sn$sp AS (SELECT cell, v, sqrt(${dot16("v", "v")}) AS cn FROM sd$sp),
          |a$sp AS (SELECT e.vec_id,
          |    (max(struct_pack(c := ${dot16("e.v", "s.v")} / (e.nrm * s.cn),
          |      cell := s.cell))).cell AS cell
          |  FROM es$sp e CROSS JOIN sn$sp s GROUP BY e.vec_id),
          |mn$sp AS (SELECT a.cell, p.i AS pos,
          |    list_sum(list(CAST(e.v[p.i] AS DOUBLE) ORDER BY e.vec_id)) / count(*) AS m
          |  FROM es$sp e JOIN a$sp a USING (vec_id)
          |  CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS i) p
          |  GROUP BY 1, 2),
          |ct$sp AS (SELECT cell, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY pos) AS cv
          |  FROM mn$sp GROUP BY 1),
          |cw$sp AS (SELECT cell, cv,
          |    sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn FROM ct$sp),
          |cd$sp AS (SELECT e.vec_id,
          |    (max(struct_pack(c := ${dotD("e.v", s"cw.cv[j]")} / (e.nrm * cw.cn),
          |      cell := cw.cell))).cell AS cell
          |  FROM es$sp e CROSS JOIN cw$sp cw GROUP BY e.vec_id),
          |p$sp AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
          |    ${dotD("q.v", s"ct.cv[j]")} AS p
          |  FROM es$sp q, cd$sp d JOIN cw$sp ct ON d.cell = ct.cell
          |  WHERE q.vec_id < 10 AND d.vec_id != q.vec_id)""".stripMargin
        }
        s"""WITH c AS (SELECT count(*) AS n FROM embeddings),
        |${(0 until 4).map(sub).mkString(",\n")},
        |adc AS (SELECT p0.query_id, p0.neighbor_id,
        |    CAST(floor((p0.p + p1.p + p2.p + p3.p) * 1000000 + 0.5) AS BIGINT)
        |      AS adc_micro
        |  FROM p0 JOIN p1 USING (query_id, neighbor_id)
        |  JOIN p2 USING (query_id, neighbor_id)
        |  JOIN p3 USING (query_id, neighbor_id))
        |SELECT query_id, neighbor_id, adc_micro FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_micro DESC, neighbor_id) AS rn FROM adc)
        |WHERE rn <= 5 ORDER BY query_id, neighbor_id""".stripMargin
      })
  )
}
