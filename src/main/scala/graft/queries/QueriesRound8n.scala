package graft.queries

import graft.Tables._
import graft.ops.{Multimodal, Sampling}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-8 fourteenth batch: an ANN index cost planner (q476), an
  * adaptive recrawl scheduler (q477), JPEG header parsing joining the
  * PNG/BMP multimodal lane (q478), and streaming embedding-index
  * preprocessing — lane #26 (q479).
  */
object QueriesRound8n {

  val defs: Seq[QueryDef] = Seq(

    // ---- q476: ANN index cost planner ------------------------------------
    // The planner-family readout (q400 encodings, q441 skew, q473
    // postings) for the similarity stack: for each candidate IVF
    // nlist, the per-query dot-product bill = centroid scan (nlist)
    // + probed-cell scan (nProbe·ceil(N/nlist)) at 25% probe
    // fraction, all closed-form integers from ONE corpus count; the
    // per-vector byte cost of each quantization tier rides alongside
    // (float32 256 B, SQ8 64 B, binary 8 B — the measured-recall tiers
    // of RECALL.md). Winner = min dots, flagged by numeric argmin.
    QueryDef("q476_index_cost_planner",
      (s, d) => {
        val n = broadcast(embeddings(s, d)
          .agg(count(lit(1)).as("n_vec")))
        val cand = s.range(2, 7)
          .select(expr("shiftleft(1L, CAST(id AS INT))").as("nlist"))
        cand.crossJoin(n)
          .withColumn("n_probe", greatest(lit(1L), expr("nlist div 4")))
          .withColumn("cell_rows",
            expr("(n_vec + nlist - 1) div nlist"))
          .withColumn("dots_per_query",
            expr("(nlist + n_probe * cell_rows) * 64"))
          .withColumn("bytes_f32", col("n_vec") * 256)
          .withColumn("bytes_sq8", col("n_vec") * 64)
          .withColumn("bytes_binary", col("n_vec") * 8)
          .withColumn("chosen", col("dots_per_query") ===
            min("dots_per_query").over(Window.partitionBy()))
          .orderBy("nlist")
      },
      Some("""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_vec
        |  FROM embeddings),
        |c AS (SELECT CAST(1::BIGINT << CAST(id AS INTEGER) AS BIGINT)
        |    AS nlist
        |  FROM (SELECT unnest(generate_series(2, 6)) AS id)),
        |p AS (SELECT nlist, n_vec,
        |    greatest(1, nlist // 4) AS n_probe,
        |    (n_vec + nlist - 1) // nlist AS cell_rows
        |  FROM c, n),
        |q AS (SELECT nlist, n_vec, n_probe, cell_rows,
        |    (nlist + n_probe * cell_rows) * 64 AS dots_per_query,
        |    n_vec * 256 AS bytes_f32, n_vec * 64 AS bytes_sq8,
        |    n_vec * 8 AS bytes_binary
        |  FROM p)
        |SELECT nlist, n_vec, n_probe, cell_rows,
        |  CAST(dots_per_query AS BIGINT) AS dots_per_query,
        |  CAST(bytes_f32 AS BIGINT) AS bytes_f32,
        |  CAST(bytes_sq8 AS BIGINT) AS bytes_sq8,
        |  CAST(bytes_binary AS BIGINT) AS bytes_binary,
        |  dots_per_query = (SELECT min(dots_per_query) FROM q) AS chosen
        |FROM q ORDER BY nlist""".stripMargin)),

    // ---- q477: adaptive recrawl scheduler ---------------------------------
    // The crawl-ops lane's missing piece (q263 canonicalize → q453
    // robots → q370 redirects → THIS): revisit intervals adapt to
    // observed change rates (frequently-changing pages recrawl sooner
    // — the classic adaptive revisit policy), next-due day =
    // last_crawl + 30 div (1 + changes), and each source's crawl
    // budget takes its 5 most-overdue URLs by (due day, doc_id) rank.
    // Synthesis is md5-deterministic; all windows are per-source over
    // the candidate frame.
    QueryDef("q477_recrawl_scheduler",
      (s, d) => {
        val lastDay = (Sampling.hashLong(concat(lit("lc:"),
          col("doc_id").cast("string"))) % 30).as("last_crawl_day")
        val changes = (Sampling.hashLong(concat(lit("ch:"),
          col("doc_id").cast("string"))) % 8).as("n_changes")
        val due = documents(s, d)
          .select(col("doc_id"), col("source"), lastDay, changes)
          .withColumn("interval_days",
            expr("30 div (1 + n_changes)"))
          .withColumn("due_day",
            col("last_crawl_day") + col("interval_days"))
        val ws = Window.partitionBy("source")
          .orderBy(col("due_day"), col("doc_id"))
        due.withColumn("crawl_rank", row_number().over(ws).cast("long"))
          .where(col("crawl_rank") <= 5)
          .select(col("source"), col("crawl_rank"), col("doc_id"),
            col("last_crawl_day"), col("n_changes"),
            col("interval_days"), col("due_day"))
          .orderBy("source", "crawl_rank")
      },
      Some {
        val lc = DuckSql.hashLong("'lc:' || CAST(doc_id AS VARCHAR)")
        val ch = DuckSql.hashLong("'ch:' || CAST(doc_id AS VARCHAR)")
        s"""WITH c AS (SELECT doc_id, source,
        |    $lc % 30 AS last_crawl_day, $ch % 8 AS n_changes
        |  FROM documents),
        |i AS (SELECT *, 30 // (1 + n_changes) AS interval_days FROM c),
        |dd AS (SELECT *, last_crawl_day + interval_days AS due_day
        |  FROM i),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY due_day, doc_id) AS BIGINT) AS crawl_rank FROM dd)
        |SELECT source, crawl_rank, doc_id,
        |  CAST(last_crawl_day AS BIGINT) AS last_crawl_day,
        |  CAST(n_changes AS BIGINT) AS n_changes,
        |  CAST(interval_days AS BIGINT) AS interval_days,
        |  CAST(due_day AS BIGINT) AS due_day
        |FROM r WHERE crawl_rank <= 5
        |ORDER BY source, crawl_rank""".stripMargin
      }),

    // ---- q478: JPEG header parsing (multimodal lane) ----------------------
    // The marker-walk format joins PNG's chunk walk (q134) and BMP's
    // fixed header (q135): SOI → segment lengths → SOF0 frame header
    // gives precision/height/width, with the same errors-as-data
    // contract (truncated bytes → valid = false, never a task
    // failure). One synthesized image per doc — PNG, BMP, or JPEG by
    // doc_id mod 3, every 17th truncated — parsed by the REAL byte
    // walk; the oracle mirrors the synthesis arithmetic, so parse
    // results are hash-verified field by field.
    QueryDef("q478_jpeg_metadata",
      (s, d) => {
        val mk = udf((id: Long) => {
          val w = 16 + (id % 64).toInt; val h = 16 + (id % 48).toInt
          val full = (id % 3) match {
            case 0 => Multimodal.makePngHeader(w, h)
            case 1 => Multimodal.makeBmp(w, 1,
              Array.fill(w)(((id % 251).toInt)))
            case _ => Multimodal.makeJpegHeader(w, h)
          }
          if (id % 17 == 0) full.take(9) else full
        })
        documents(s, d)
          .select(col("doc_id"), mk(col("doc_id")).as("__img"))
          .withColumn("m", Multimodal.imageMetadata(col("__img")))
          .select(col("doc_id"), col("m.format").as("format"),
            col("m.width").cast("long").as("width"),
            col("m.height").cast("long").as("height"),
            col("m.bit_depth").cast("long").as("bit_depth"),
            col("m.valid").as("valid"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  -- a truncated JPEG keeps its tag: the 2-byte SOI signature
        |  -- survives 9 bytes where PNG/BMP length guards reject it
        |  CASE WHEN doc_id % 17 = 0 THEN
        |      (CASE WHEN doc_id % 3 = 2 THEN 'jpeg' ELSE '' END)
        |    WHEN doc_id % 3 = 0 THEN 'png'
        |    WHEN doc_id % 3 = 1 THEN 'bmp' ELSE 'jpeg' END AS format,
        |  CASE WHEN doc_id % 17 = 0 THEN 0
        |    ELSE 16 + doc_id % 64 END AS width,
        |  CASE WHEN doc_id % 17 = 0 THEN 0
        |    WHEN doc_id % 3 = 1 THEN 1
        |    ELSE 16 + doc_id % 48 END AS height,
        |  CASE WHEN doc_id % 17 = 0 THEN 0
        |    WHEN doc_id % 3 = 0 THEN 8
        |    WHEN doc_id % 3 = 1 THEN 24 ELSE 8 END AS bit_depth,
        |  doc_id % 17 != 0 AS valid
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- q479: STREAMING index preprocessing (lane #26) -------------------
    // The embedding-side ingest stage: vectors arrive on a readStream
    // and leave ready for every index tier in ONE stateless pass —
    // millis quantization, the q446 binary signature, the q462 JL
    // projection — with per-label integrity sums folded in a single
    // streaming aggregation and hash-matched to the batch oracle.
    // At 100 TB this is the pipeline that makes the signature and
    // reduced-dim tables exist WITHOUT a second corpus scan.
    QueryDef("q479_streaming_index_prep",
      (s, d) => {
        val proj = s"transform(sequence(1, 16), j -> " +
          s"aggregate(zip_with(v, element_at(" +
          s"${QueriesRound8k.jlSparkLit}, j), " +
          s"(x, s) -> x * s), 0L, (a, x) -> a + x))"
        graft.streaming.Sessions.runStreamToBatch(s, d,
          embeddings(s, d).schema,
          globFilter = Some("embeddings.parquet"),
          transform = st => st
            .select(col("label"), transform(col("embedding"),
              x => round(x.cast("double") * 1000, 0).cast("long")).as("v"))
            .withColumn("lo",
              expr(graft.ops.Similarity.signPackLoSql))
            .withColumn("hi",
              expr(graft.ops.Similarity.signPackHiSql))
            .withColumn("y", expr(proj))
            .groupBy("label")
            .agg(count(lit(1)).as("n_vectors"),
              sum("lo").as("sum_lo"), sum("hi").as("sum_hi"),
              sum(element_at(col("y"), 1)).as("sum_y1"),
              sum(element_at(col("y"), 16)).as("sum_y16")))
          .orderBy("label")
      },
      Some(s"""WITH e AS (SELECT label, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v
        |  FROM embeddings),
        |p AS (SELECT label,
        |    CAST(list_sum(list_transform(generate_series(1, 32),
        |      i -> CASE WHEN v[i] >= 0 THEN 1::BIGINT << (i - 1)
        |           ELSE 0 END)) AS BIGINT) AS lo,
        |    CAST(list_sum(list_transform(generate_series(1, 32),
        |      i -> CASE WHEN v[i + 32] >= 0 THEN 1::BIGINT << (i - 1)
        |           ELSE 0 END)) AS BIGINT) AS hi,
        |    CAST(list_sum(list_transform(generate_series(1, 64),
        |      i -> v[i] * (${QueriesRound8k.jlDuckLit})[1][i]))
        |      AS BIGINT) AS y1,
        |    CAST(list_sum(list_transform(generate_series(1, 64),
        |      i -> v[i] * (${QueriesRound8k.jlDuckLit})[16][i]))
        |      AS BIGINT) AS y16
        |  FROM e)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(lo) AS BIGINT) AS sum_lo,
        |  CAST(sum(hi) AS BIGINT) AS sum_hi,
        |  CAST(sum(y1) AS BIGINT) AS sum_y1,
        |  CAST(sum(y16) AS BIGINT) AS sum_y16
        |FROM p GROUP BY 1 ORDER BY label""".stripMargin))
  )
}
