package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Sampling, Text}
import org.apache.spark.sql.functions._

/** Round-7 twenty-second batch: DSIR-style importance weighting, the
  * Hilbert-curve layout readout, seasonal-naive forecast error (MASE),
  * and the BERT-style MLM masking plan.
  */
object QueriesRound7v {

  /** One level of the Wikipedia xy2d Hilbert walk (quadrant term +
    * flip/rotate), emitted as (x', y', d') expression strings over
    * columns hx/hy/hd — the same text compiles in Spark SQL (divOp =
    * "div") and DuckDB (divOp = "//"), so both engines run the
    * IDENTICAL arithmetic by construction. Coordinates stay full-width
    * (0..n−1) through every level, so the rx=1,ry=0 reflection flips
    * against the FULL grid (n−1 − coord), not the level size — the
    * later levels only ever test bits below s, which the full flip
    * complements identically (Round7vSpec pins bijectivity AND the
    * unit-step walk over the whole 256×256 grid; the s−1 variant
    * fails both, going negative on upper-half points). */
  private[graft] def hilbertLevel(s: Int, n: Int, divOp: String): (String, String, String) = {
    val rx = s"((hx $divOp $s) % 2)"
    val ry = s"((hy $divOp $s) % 2)"
    val term = s"(CASE WHEN $rx = 0 AND $ry = 0 THEN 0" +
      s" WHEN $rx = 0 THEN 1 WHEN $ry = 0 THEN 3 ELSE 2 END)"
    val d2 = s"(hd + ${s.toLong * s} * $term)"
    val x2 = s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1" +
      s" THEN ${n - 1} - hy ELSE hy END) ELSE hx END)"
    val y2 = s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1" +
      s" THEN ${n - 1} - hx ELSE hx END) ELSE hy END)"
    (x2, y2, d2)
  }
  private[graft] val hilbertLevels = Seq(128, 64, 32, 16, 8, 4, 2, 1)

  val defs: Seq[QueryDef] = Seq(

    // ---- q371: DSIR-style importance weights ---------------------------
    // Data Selection via Importance Resampling (Xie et al. 2023): score
    // each raw document by how much more likely its tokens are under a
    // TARGET distribution (here: the English slice) than under the raw
    // corpus — log p_t(doc) − log p_r(doc) over hashed unigram
    // features. Both likelihoods use the q336 integer-log discipline:
    // per 64-way hashed bucket, bits = bitlength(N div c) − 1, target
    // side add-one smoothed (empty buckets must score, not crash), so
    // the per-doc weight is an EXACT integer bit count — positive
    // means target-like. One token shuffle to the O(64) bucket frame;
    // both bucket stats broadcast back.
    QueryDef("q371_dsir_importance",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(Text.tokens(col("text"))).as("tok"))
          .withColumn("b", Sampling.hashLong(col("tok")) % 64)
        val buckets = toks.groupBy("b")
          .agg(count(lit(1)).as("cr"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
        val tot = broadcast(buckets.agg(sum("cr").as("nr"),
          sum("ct").as("nt")))
        val weights = broadcast(buckets.crossJoin(tot)
          .select(col("b"),
            ((length(bin(expr("nr div cr"))) - 1) -
              (length(bin(expr("(nt + 64) div (ct + 1)"))) - 1))
              .cast("long").as("w_bits")))
        toks.join(weights, Seq("b"))
          .groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("n_tokens"),
            sum("w_bits").as("score_bits"))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("score_bits"),
            expr("(score_bits * 1000) div n_tokens")
              .as("milli_bits_per_token"))
          .orderBy("doc_id")
      },
      Some {
        val h = DuckSql.hashLong("tok")
        s"""WITH t AS (SELECT doc_id, lang,
        |    unnest(${DuckSql.toks("text")}) AS tok FROM documents),
        |tb AS (SELECT doc_id, lang, ($h) % 64 AS b FROM t),
        |bk AS (SELECT b, count(*) AS cr,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
        |  FROM tb GROUP BY 1),
        |n AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bk),
        |w AS (SELECT b,
        |    (length(format('{:b}', CAST(n.nr // bk.cr AS BIGINT))) - 1)
        |    - (length(format('{:b}',
        |        CAST((n.nt + 64) // (bk.ct + 1) AS BIGINT))) - 1)
        |      AS w_bits
        |  FROM bk, n)
        |SELECT tb.doc_id, tb.lang,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(w.w_bits) AS BIGINT) AS score_bits,
        |  CAST((sum(w.w_bits) * 1000) // count(*) AS BIGINT)
        |    AS milli_bits_per_token
        |FROM tb JOIN w USING (b)
        |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
      }),

    // ---- q372: Hilbert-curve layout pruning readout ---------------------
    // q291's lakehouse-clustering readout completed with the curve
    // that actually wins at scale: the Hilbert walk never takes the
    // long diagonal jumps Z-order does, so same-file points stay
    // closer in BOTH dims and min/max footer stats prune tighter. The
    // 8-level xy2d walk (quadrant term + flip/rotate per level) is
    // unrolled into integer CASE arithmetic — the SAME expression text
    // runs in Spark and DuckDB, and a spec pins bijectivity against a
    // driver d2xy round-trip over the full 256×256 grid. Readout:
    // files/rows scanned for the q291 box under zorder vs hilbert,
    // same file count, same box, same stats model.
    QueryDef("q372_hilbert_pruning",
      (s, d) => {
        import org.apache.spark.sql.{Column, DataFrame}
        val ext = lineitem(s, d).agg(
          max(col("l_partkey")).cast("long").as("mx"),
          max(col("l_suppkey")).cast("long").as("my"))
        var b: DataFrame = lineitem(s, d)
          .select(col("l_partkey").cast("long").as("x"),
            col("l_suppkey").cast("long").as("y"))
          .crossJoin(broadcast(ext))
          .withColumn("hx", expr("x * 256 div (mx + 1)"))
          .withColumn("hy", expr("y * 256 div (my + 1)"))
          .withColumn("z", (0 until 8).map { i =>
            shiftleft(shiftright(col("hx"), i).bitwiseAND(lit(1L)), 2 * i + 1) +
              shiftleft(shiftright(col("hy"), i).bitwiseAND(lit(1L)), 2 * i)
          }.reduce(_ + _))
          .withColumn("hd", lit(0L))
          .withColumn("xlo", expr("(mx + 1) div 5"))
          .withColumn("xhi", expr("(mx + 1) * 3 div 10"))
          .withColumn("ylo", expr("(my + 1) div 5"))
          .withColumn("yhi", expr("(my + 1) * 3 div 10"))
        for (lv <- hilbertLevels) {
          val (x2, y2, d2) = hilbertLevel(lv, 256, "div")
          b = b.select(col("x"), col("y"), col("z"),
            col("xlo"), col("xhi"), col("ylo"), col("yhi"),
            expr(x2).as("hx"), expr(y2).as("hy"), expr(d2).as("hd"))
        }
        val h = b.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val scanCond = col("min_x") <= col("xhi") && col("max_x") >= col("xlo") &&
          col("min_y") <= col("yhi") && col("max_y") >= col("ylo")
        def layout(name: String, fileCol: Column): DataFrame =
          h.withColumn("__f", fileCol)
            .groupBy("__f")
            .agg(min("x").as("min_x"), max("x").as("max_x"),
              min("y").as("min_y"), max("y").as("max_y"),
              count(lit(1)).as("n_rows"),
              first("xlo").as("xlo"), first("xhi").as("xhi"),
              first("ylo").as("ylo"), first("yhi").as("yhi"))
            .agg(count(lit(1)).as("n_files"),
              sum(when(scanCond, 1L).otherwise(0L)).as("files_scanned"),
              sum(when(scanCond, col("n_rows")).otherwise(0L))
                .as("rows_scanned"))
            .withColumn("layout", lit(name))
        val matched = h.where(col("x") >= col("xlo") && col("x") <= col("xhi") &&
            col("y") >= col("ylo") && col("y") <= col("yhi"))
          .agg(count(lit(1)).as("rows_matched"))
        layout("hilbert", expr("hd div 256"))
          .unionByName(layout("zorder", expr("z div 256")))
          .crossJoin(broadcast(matched))
          .select("layout", "n_files", "files_scanned", "rows_scanned",
            "rows_matched")
          .orderBy("layout")
      },
      Some {
        val zSql = (0 until 8).map(i =>
          s"(((hx >> $i) & 1) << ${2 * i + 1}) + (((hy >> $i) & 1) << ${2 * i})")
          .mkString(" + ")
        val chain = hilbertLevels.zipWithIndex.map { case (lv, k) =>
          val (x2, y2, d2) = hilbertLevel(lv, 256, "//")
          s"h${k + 1} AS (SELECT x, y, z, $x2 AS hx, $y2 AS hy, $d2 AS hd" +
            s" FROM h$k)"
        }.mkString(",\n")
        def layoutSql(name: String, fileExpr: String) =
          s"""SELECT '$name' AS layout, count(*) AS n_files,
             |  sum(CASE WHEN mn_x <= xhi AND mx_x >= xlo
             |    AND mn_y <= yhi AND mx_y >= ylo THEN 1 ELSE 0 END)
             |    AS files_scanned,
             |  sum(CASE WHEN mn_x <= xhi AND mx_x >= xlo
             |    AND mn_y <= yhi AND mx_y >= ylo THEN n ELSE 0 END)
             |    AS rows_scanned
             |FROM (SELECT $fileExpr AS f, min(x) AS mn_x, max(x) AS mx_x,
             |    min(y) AS mn_y, max(y) AS mx_y, count(*) AS n
             |  FROM h8 GROUP BY 1), box""".stripMargin
        s"""WITH ext AS (SELECT CAST(max(l_partkey) AS BIGINT) AS mx,
        |    CAST(max(l_suppkey) AS BIGINT) AS my FROM lineitem),
        |b AS (SELECT CAST(l_partkey AS BIGINT) AS x,
        |    CAST(l_suppkey AS BIGINT) AS y,
        |    (CAST(l_partkey AS BIGINT) * 256) // (mx + 1) AS hx,
        |    (CAST(l_suppkey AS BIGINT) * 256) // (my + 1) AS hy
        |  FROM lineitem, ext),
        |h0 AS (SELECT x, y, $zSql AS z, hx, hy, 0 AS hd FROM b),
        |$chain,
        |box AS (SELECT (mx + 1) // 5 AS xlo, ((mx + 1) * 3) // 10 AS xhi,
        |    (my + 1) // 5 AS ylo, ((my + 1) * 3) // 10 AS yhi FROM ext),
        |m AS (SELECT count(*) AS rows_matched FROM h8, box
        |  WHERE x BETWEEN xlo AND xhi AND y BETWEEN ylo AND yhi),
        |l1 AS (${layoutSql("hilbert", "hd // 256")}),
        |l2 AS (${layoutSql("zorder", "z // 256")})
        |SELECT layout, CAST(n_files AS BIGINT) AS n_files,
        |  CAST(files_scanned AS BIGINT) AS files_scanned,
        |  CAST(rows_scanned AS BIGINT) AS rows_scanned,
        |  CAST(rows_matched AS BIGINT) AS rows_matched
        |FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2), m
        |ORDER BY layout""".stripMargin
      }),

    // ---- q373: seasonal-naive forecast error (MASE) ---------------------
    // "Is last-day-same-hour a good forecast?" — the scale-free
    // Hyndman MASE readout per event type: the seasonal-naive error
    // (|y_t − y_{t−24h}| over hourly counts) scaled by the one-step
    // naive error (|y_t − y_{t−1h}|), both as EXACT integer sums, the
    // ratio cross-multiplied into ppm so no float division ever runs.
    // MASE < 10⁶ means daily seasonality is real signal. Hour pairing
    // is an equi-join on the epoch-hour key (never a window over the
    // corpus); the hourly frame is O(types × hours).
    QueryDef("q373_mase_forecast",
      (s, d) => Checkpoints.scoped { pin =>
        val hc = pin(events(s, d)
          .select(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("h"))
          .groupBy("event_type", "h").agg(count(lit(1)).as("c")))
        def lagAbs(lag: Int, nCol: String, sCol: String) =
          hc.select(col("event_type"), col("h"), col("c").as("__ca"))
            .join(hc.select(col("event_type"), (col("h") + lag).as("h"),
              col("c").as("__cb")), Seq("event_type", "h"))
            .groupBy("event_type")
            .agg(count(lit(1)).as(nCol),
              sum(abs(col("__ca") - col("__cb"))).as(sCol))
        lagAbs(24, "n_seas", "sum_seas")
          .join(lagAbs(1, "n_naive", "sum_naive"), Seq("event_type"))
          .select(col("event_type"), col("n_seas"), col("sum_seas"),
            col("n_naive"), col("sum_naive"),
            when(col("sum_naive") > 0,
              expr("(sum_seas * n_naive * 1000000)" +
                " div (sum_naive * n_seas)")).as("mase_ppm"))
          .orderBy("event_type")
      },
      Some("""WITH hc AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS h, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |seas AS (SELECT a.event_type, count(*) AS n_seas,
        |    sum(abs(a.c - b.c)) AS sum_seas
        |  FROM hc a JOIN hc b ON b.event_type = a.event_type
        |    AND a.h = b.h + 24 GROUP BY 1),
        |nv AS (SELECT a.event_type, count(*) AS n_naive,
        |    sum(abs(a.c - b.c)) AS sum_naive
        |  FROM hc a JOIN hc b ON b.event_type = a.event_type
        |    AND a.h = b.h + 1 GROUP BY 1)
        |SELECT event_type, CAST(n_seas AS BIGINT) AS n_seas,
        |  CAST(sum_seas AS BIGINT) AS sum_seas,
        |  CAST(n_naive AS BIGINT) AS n_naive,
        |  CAST(sum_naive AS BIGINT) AS sum_naive,
        |  CASE WHEN sum_naive > 0 THEN
        |    CAST((sum_seas * n_naive * 1000000)
        |      // (sum_naive * n_seas) AS BIGINT) END AS mase_ppm
        |FROM seas JOIN nv USING (event_type)
        |ORDER BY event_type""".stripMargin)),

    // ---- q374: MLM masking plan (BERT data prep) ------------------------
    // The masked-LM collator contract next to q294's SFT loss mask:
    // 15% of token positions select for prediction (md5 draw per
    // (doc, position) — reproducible "dynamic" masking), and selected
    // positions split 80/10/10 into [MASK] / random-token / keep-
    // original by a second independent draw. Per doc: the exact
    // counts the collator must produce plus a positional checksum
    // (Σ of selected 1-based positions) so engines agree on WHICH
    // positions, not just how many. Pure per-row map + one doc agg.
    QueryDef("q374_mlm_masking_plan",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"),
            posexplode(Text.tokens(col("text"))).as(Seq("p", "tok")))
          .select(col("doc_id"), (col("p") + 1).as("pos"))
        val drawn = toks
          .withColumn("__sel",
            Sampling.hashLong(concat(col("doc_id").cast("string"),
              lit("#m"), col("pos").cast("string"))) % 100 < 15)
          .withColumn("__role",
            Sampling.hashLong(concat(col("doc_id").cast("string"),
              lit("#r"), col("pos").cast("string"))) % 10)
        drawn.groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("__sel"), 1L).otherwise(0L)).as("n_selected"),
            sum(when(col("__sel") && col("__role") < 8, 1L).otherwise(0L))
              .as("n_mask"),
            sum(when(col("__sel") && col("__role") === 8, 1L).otherwise(0L))
              .as("n_random"),
            sum(when(col("__sel") && col("__role") === 9, 1L).otherwise(0L))
              .as("n_keep"),
            sum(when(col("__sel"), col("pos")).otherwise(0L))
              .as("pos_checksum"))
          .orderBy("doc_id")
      },
      Some {
        val hm = DuckSql.hashLong(
          "CAST(doc_id AS VARCHAR) || '#m' || CAST(pos AS VARCHAR)")
        val hr = DuckSql.hashLong(
          "CAST(doc_id AS VARCHAR) || '#r' || CAST(pos AS VARCHAR)")
        s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS toks
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(toks)))
        |    AS pos FROM t WHERE len(toks) > 0),
        |d AS (SELECT doc_id, pos,
        |    ($hm) % 100 < 15 AS sel, ($hr) % 10 AS role FROM p)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_selected,
        |  CAST(sum(CASE WHEN sel AND role < 8 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_mask,
        |  CAST(sum(CASE WHEN sel AND role = 8 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_random,
        |  CAST(sum(CASE WHEN sel AND role = 9 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_keep,
        |  CAST(sum(CASE WHEN sel THEN pos ELSE 0 END) AS BIGINT)
        |    AS pos_checksum
        |FROM d GROUP BY 1 ORDER BY doc_id""".stripMargin
      }))
}
