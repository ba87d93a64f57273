package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Multimodal, Text}
import org.apache.spark.sql.functions._

/** Round-9 tenth batch: prefix-cache scheduling (the inference-serving
  * cost planner) and magic-byte format dispatch (the mixed-binary
  * ingest router).
  */
object QueriesRound9j {

  val defs: Seq[QueryDef] = Seq(

    // ---- q510: prefix-cache savings planner --------------------------------
    // Inference servers reuse the KV cache of a shared token PREFIX
    // between consecutive prompts — so WITHIN each serving batch the
    // prompt ORDER decides how many tokens are recomputed. This
    // planner prices it: per 64-prompt batch (doc_id div 64 — batches
    // are bounded, so every window below is per-batch, never global),
    // adjacent-prompt LCP under arrival order vs sorted order, summed
    // into the cache-hit ledger: saved tokens and ppm of total under
    // both schedules, plus the sorting uplift. Exact integers; the
    // oracle replays both schedules' lag windows.
    QueryDef("q510_prefix_cache_plan",
      (s, d) => Checkpoints.scoped { pin =>
        // two schedule windows below
        val tk = pin(documents(s, d)
          .select(col("doc_id"), Text.tokens(col("text")).as("t"))
          .repartition(col("doc_id"))
          .withColumn("batch", expr("doc_id div 64"))
          .withColumn("key", concat_ws(" ", col("t"))))
        def lcpWith(prevCol: String): org.apache.spark.sql.Column =
          expr(s"""CASE WHEN $prevCol IS NULL THEN 0 ELSE
            coalesce(array_min(filter(transform(
              sequence(1, greatest(least(size(t), size($prevCol)), 1)),
              i -> IF(least(size(t), size($prevCol)) >= 1 AND
                element_at(t, i) != element_at($prevCol, i), i, NULL)),
              z -> z IS NOT NULL)) - 1,
            least(size(t), size($prevCol))) END""")
        val wArr = org.apache.spark.sql.expressions.Window
          .partitionBy("batch").orderBy("doc_id")
        val wSrt = org.apache.spark.sql.expressions.Window
          .partitionBy("batch").orderBy(col("key"), col("doc_id"))
        val scored = tk
          .withColumn("pa", lag(col("t"), 1).over(wArr))
          .withColumn("ps", lag(col("t"), 1).over(wSrt))
          .select(size(col("t")).cast("long").as("n"),
            lcpWith("pa").cast("long").as("sa"),
            lcpWith("ps").cast("long").as("ss"))
        scored.agg(count(lit(1)).as("n_docs"),
            sum("n").as("total_tokens"),
            sum("sa").as("saved_arrival"),
            sum("ss").as("saved_sorted"))
          .select(col("n_docs"), col("total_tokens"),
            col("saved_arrival"), col("saved_sorted"),
            expr("(saved_arrival * 1000000) div total_tokens")
              .as("arrival_ppm"),
            expr("(saved_sorted * 1000000) div total_tokens")
              .as("sorted_ppm"),
            expr("((saved_sorted - saved_arrival) * 1000000)"
              + " div total_tokens").as("uplift_ppm"))
      },
      Some(s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS tks
        |    FROM documents),
        |o AS (SELECT doc_id, tks, doc_id // 64 AS batch,
        |    array_to_string(tks, ' ') AS key FROM t),
        |l AS (SELECT doc_id, tks,
        |    lag(tks) OVER (PARTITION BY batch ORDER BY doc_id) AS pa,
        |    lag(tks) OVER (PARTITION BY batch ORDER BY key, doc_id)
        |      AS ps
        |  FROM o),
        |sc AS (SELECT CAST(len(tks) AS BIGINT) AS n,
        |    CASE WHEN pa IS NULL THEN 0 ELSE
        |      coalesce(list_min(list_filter(
        |        generate_series(1, least(len(tks), len(pa))),
        |        i -> tks[i] <> pa[i])) - 1,
        |      least(len(tks), len(pa))) END AS sa,
        |    CASE WHEN ps IS NULL THEN 0 ELSE
        |      coalesce(list_min(list_filter(
        |        generate_series(1, least(len(tks), len(ps))),
        |        i -> tks[i] <> ps[i])) - 1,
        |      least(len(tks), len(ps))) END AS ss
        |  FROM l)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS total_tokens,
        |  CAST(sum(sa) AS BIGINT) AS saved_arrival,
        |  CAST(sum(ss) AS BIGINT) AS saved_sorted,
        |  CAST((sum(sa) * 1000000) // sum(n) AS BIGINT) AS arrival_ppm,
        |  CAST((sum(ss) * 1000000) // sum(n) AS BIGINT) AS sorted_ppm,
        |  CAST(((sum(ss) - sum(sa)) * 1000000) // sum(n) AS BIGINT)
        |    AS uplift_ppm
        |FROM sc""".stripMargin)),

    // ---- q511: magic-byte format dispatch ----------------------------------
    // The mixed-binary ingest router: one pass over an opaque binary
    // column classifies each blob by its magic bytes and routes it to
    // the RIGHT parser (RIFF→WAV walk, else the PNG/BMP/JPEG image
    // walk), unparseable bytes quarantined as data (the corrupt-
    // record posture, never a task failure). Blobs synthesize by
    // doc_id % 5 (PNG/BMP/JPEG/WAV/garbage), every 13th truncated to
    // 6 bytes; the oracle mirrors the synthesis arithmetic per
    // branch, so detection AND the parsed fields sit under the hash.
    QueryDef("q511_format_dispatch",
      (s, d) => {
        val mk = udf { (id: Long) =>
          val w = 8 + (id % 24).toInt; val h = 8 + (id % 16).toInt
          val full = (id % 5) match {
            case 0 => Multimodal.makePngHeader(w, h)
            case 1 => Multimodal.makeBmp(w, 1, Array.fill(w)((id % 200).toInt))
            case 2 => Multimodal.makeJpegHeader(w, h)
            case 3 => Multimodal.makeWav(8000, 1,
              new Array[Short]((id % 50).toInt + 10))
            case _ => s"plain text payload $id".getBytes("UTF-8")
          }
          if (id % 13 == 0) full.take(6) else full
        }
        val blobs = documents(s, d)
          .select(col("doc_id"), mk(col("doc_id")).as("b"))
        val sniffed = blobs.withColumn("sniff",
          when(expr("substring(b, 1, 4) = CAST('RIFF' AS BINARY)"), "wav")
            .otherwise("image"))
        val routed = sniffed
          .withColumn("wm", when(col("sniff") === "wav",
            Multimodal.wavMetadata(col("b"))))
          .withColumn("im", when(col("sniff") === "image",
            Multimodal.imageMetadata(col("b"))))
          .select(col("doc_id"),
            when(col("sniff") === "wav", lit("wav"))
              .when(col("im.valid") || col("im.format") =!= "",
                col("im.format"))
              .otherwise(lit("unknown")).as("format"),
            coalesce(when(col("sniff") === "wav", col("wm.valid"))
              .otherwise(col("im.valid")), lit(false)).as("ok"),
            when(col("sniff") === "wav",
              col("wm.n_samples").cast("long"))
              .otherwise(col("im.width").cast("long")).as("dim1"))
        routed
          .withColumn("format",
            when(col("format") === "", "unknown").otherwise(col("format")))
          .groupBy("format", "ok")
          .agg(count(lit(1)).as("n"), sum("dim1").as("sum_dim1"))
          .orderBy("format", "ok")
      },
      Some("""WITH b AS (SELECT doc_id, doc_id % 5 AS kind,
        |    doc_id % 13 = 0 AS trunc,
        |    8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h,
        |    doc_id % 50 + 10 AS ns
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    -- truncated to 6 bytes: PNG loses its signature (needs
        |    -- 8 + IHDR), BMP's 'BM' survives but the 30-byte header
        |    -- guard rejects the branch entirely (-> unknown), JPEG's
        |    -- 2-byte SOI keeps the tag (invalid), WAV's 'RIFF' prefix
        |    -- keeps the route (invalid), garbage stays unknown
        |    CASE
        |      WHEN kind = 3 THEN 'wav'
        |      WHEN trunc THEN (CASE WHEN kind = 2 THEN 'jpeg'
        |        ELSE 'unknown' END)
        |      WHEN kind = 0 THEN 'png' WHEN kind = 1 THEN 'bmp'
        |      WHEN kind = 2 THEN 'jpeg' ELSE 'unknown' END AS format,
        |    CASE WHEN trunc THEN false ELSE kind IN (0, 1, 2, 3) END
        |      AS ok,
        |    CASE WHEN trunc THEN 0
        |      WHEN kind = 3 THEN ns
        |      WHEN kind IN (0, 2) THEN w
        |      WHEN kind = 1 THEN w ELSE 0 END AS dim1
        |  FROM b)
        |SELECT format, ok, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(dim1) AS BIGINT) AS sum_dim1
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  )
}
