package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Relational, Sampling, Text}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 fourth batch: session attribution, cross-validation fold
  * stability, contrastive negative mining, dedup-aware loss
  * weighting, and multi-epoch order mixing — the training-loop
  * bookkeeping around the corpus.
  */
object QueriesRound8d {

  val defs: Seq[QueryDef] = Seq(

    // ---- q434: session conversion attribution ----------------------------
    // First-touch / last-touch attribution over 30-minute sessions
    // (the gaps-and-islands machinery feeding a marketing-style
    // readout): per purchase, the session's first event type and the
    // immediately preceding event type ('direct' when the purchase
    // opens its session), revenue folded decimal-exact. Every window
    // partitions by user (or user+session) — nothing global.
    QueryDef("q434_session_attribution",
      (s, d) => {
        val ev = events(s, d)
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("tus"),
            col("event_id"), col("event_type"), col("value"))
        val wu = Window.partitionBy("user_id").orderBy("tus", "event_id")
        val sess = ev
          .withColumn("__new", when(col("tus") -
            coalesce(lag("tus", 1).over(wu), lit(Long.MinValue / 2))
            > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess", sum("__new").over(
            Window.partitionBy("user_id").orderBy("tus", "event_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val ws = Window.partitionBy("user_id", "sess")
          .orderBy("tus", "event_id")
        sess
          .withColumn("first_type", first("event_type").over(
            ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("prev_type",
            coalesce(lag("event_type", 1).over(ws), lit("direct")))
          .where(col("event_type") === "purchase")
          .groupBy("first_type", "prev_type")
          .agg(count(lit(1)).as("n_conversions"),
            Relational.sumExact(col("value"), 2).as("revenue"))
          .orderBy("first_type", "prev_type")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    event_type, value FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |sn AS (SELECT *, CASE WHEN tus - coalesce(lag(tus) OVER
        |      (PARTITION BY user_id ORDER BY tus, event_id),
        |      -4611686018427387904) > 1800000000 THEN 1 ELSE 0 END
        |    AS nw FROM ev),
        |si AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM sn),
        |at AS (SELECT *,
        |    first_value(event_type) OVER (PARTITION BY user_id, sess
        |      ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING)
        |      AS first_type,
        |    coalesce(lag(event_type) OVER (PARTITION BY user_id, sess
        |      ORDER BY tus, event_id), 'direct') AS prev_type
        |  FROM si)
        |SELECT first_type, prev_type,
        |  CAST(count(*) AS BIGINT) AS n_conversions,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM at WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- q435: cross-validation fold stability ---------------------------
    // The fold-assignment sanity gate before any CV experiment: 5
    // md5-hash folds (membership a pure function of doc_id — the
    // Sampling.hashSplit discipline), per-fold doc count and mean
    // document length in exact micro units, and each fold's absolute
    // deviation from the pooled mean — unbalanced folds or a
    // length-skewed fold shows up as a large dev_micro before any GPU
    // time is spent. One aggregation + a broadcast of the one-row
    // pooled frame.
    QueryDef("q435_fold_stability",
      (s, d) => {
        val f = documents(s, d)
          .select((Sampling.hashLong(concat(col("doc_id").cast("string"),
            lit("#fold"))) % 5).as("fold"), col("n_chars"))
        val folds = f.groupBy("fold")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sc"))
          .withColumn("mean_chars_micro", expr("(sc * 1000000) div n_docs"))
        val pooled = broadcast(f.agg(sum("n_chars").as("tc"),
          count(lit(1)).as("tn")))
        folds.crossJoin(pooled)
          .select(col("fold"), col("n_docs"), col("mean_chars_micro"),
            abs(col("mean_chars_micro") - expr("(tc * 1000000) div tn"))
              .as("dev_micro"))
          .orderBy("fold")
      },
      Some {
        val h = DuckSql.hashLong("CAST(doc_id AS VARCHAR) || '#fold'")
        s"""WITH f AS (SELECT ($h) % 5 AS fold, n_chars FROM documents),
        |fd AS (SELECT fold, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sc FROM f GROUP BY 1),
        |p AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tc,
        |    count(*) AS tn FROM f)
        |SELECT CAST(fold AS BIGINT) AS fold,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST((sc * 1000000) // n_docs AS BIGINT) AS mean_chars_micro,
        |  CAST(abs((sc * 1000000) // n_docs - (tc * 1000000) // tn)
        |    AS BIGINT) AS dev_micro
        |FROM fd, p ORDER BY fold""".stripMargin
      }),

    // ---- q436: contrastive negative sampling ----------------------------
    // The in-batch-negatives prep for contrastive training: each
    // anchor (doc_id % 10 = 0) draws 4 same-language negatives by
    // md5 over the language's rank space — deterministic, so the
    // SAME pairs regenerate on any engine/cluster, and a self-draw
    // wraps to the next rank instead of being silently kept or
    // dropped. The rank windows partition by lang (bounded here;
    // swap in twoLevelRowNumber when one language is corpus-sized);
    // the draw is two equi-joins against the ranked frame — never a
    // per-anchor scan.
    QueryDef("q436_negative_sampling",
      (s, d) => Checkpoints.scoped { pin =>
        // counts + two draw joins
        val ranked = pin(documents(s, d)
          .select(col("doc_id"), col("lang"))
          .withColumn("r", row_number().over(
            Window.partitionBy("lang").orderBy("doc_id")).cast("long")))
        val nl = ranked.groupBy("lang").agg(count(lit(1)).as("n"))
        val draws = ranked.where(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("anchor_id"), col("lang"))
          .crossJoin(broadcast(s.range(4).select(col("id").as("j"))))
          .join(broadcast(nl), Seq("lang"))
          .withColumn("r0", Sampling.hashLong(concat(
            col("anchor_id").cast("string"), lit("#neg"),
            col("j").cast("string"))) % col("n") + 1)
          .withColumn("r1", col("r0") % col("n") + 1)
        draws
          .join(ranked.select(col("lang"), col("r").as("r0"),
            col("doc_id").as("pick0")), Seq("lang", "r0"))
          .join(ranked.select(col("lang"), col("r").as("r1"),
            col("doc_id").as("pick1")), Seq("lang", "r1"))
          .select(col("anchor_id"), col("j"),
            when(col("pick0") === col("anchor_id"), col("pick1"))
              .otherwise(col("pick0")).as("neg_id"))
          .orderBy("anchor_id", "j")
      },
      Some {
        val h = DuckSql.hashLong(
          "CAST(anchor_id AS VARCHAR) || '#neg' || CAST(j AS VARCHAR)")
        s"""WITH rk AS (SELECT doc_id, lang, CAST(row_number() OVER
        |      (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS r
        |  FROM documents),
        |nl AS (SELECT lang, count(*) AS n FROM rk GROUP BY 1),
        |dr AS (SELECT rk.doc_id AS anchor_id, rk.lang, j, n,
        |    ($h) % n + 1 AS r0
        |  FROM rk CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) jj
        |  JOIN nl ON nl.lang = rk.lang
        |  WHERE rk.doc_id % 10 = 0),
        |d2 AS (SELECT anchor_id, lang, j, r0, r0 % n + 1 AS r1 FROM dr)
        |SELECT anchor_id, CAST(j AS BIGINT) AS j,
        |  CASE WHEN a.doc_id = anchor_id THEN b.doc_id
        |    ELSE a.doc_id END AS neg_id
        |FROM d2
        |JOIN rk a ON a.lang = d2.lang AND a.r = d2.r0
        |JOIN rk b ON b.lang = d2.lang AND b.r = d2.r1
        |ORDER BY anchor_id, j""".stripMargin
      }),

    // ---- q437: dedup-aware loss weighting --------------------------------
    // "Don't delete duplicates, downweight them": every doc keeps a
    // training weight 10⁶ div |its exact-dup cluster| (the Text
    // .fingerprint groups), so each distinct CONTENT contributes one
    // unit of loss mass regardless of copy count. Per source: docs,
    // distinct contents, weight mass, and the exact floor-rounding
    // shortfall vs one-per-content — the readout that shows how much
    // of a source's apparent volume is duplicated mass. One
    // fingerprint aggregation + one broadcast-size join back.
    QueryDef("q437_dedup_loss_weight",
      (s, d) => {
        val fp = documents(s, d)
          .select(col("doc_id"), col("source"),
            Text.fingerprint(col("text")).as("fp"))
        val sz = fp.groupBy("fp").agg(count(lit(1)).as("csz"))
        fp.join(sz, Seq("fp"))
          .withColumn("w_micro", expr("1000000 div csz"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("fp").as("n_contents"),
            sum("w_micro").as("mass_micro"))
          .select(col("source"), col("n_docs"), col("n_contents"),
            col("mass_micro"),
            (col("n_contents") * 1000000L - col("mass_micro"))
              .as("rounding_gap_micro"))
          .orderBy("source")
      },
      Some {
        val fp = s"md5(${DuckSql.norm("text")})"
        s"""WITH f AS (SELECT doc_id, source, $fp AS fp FROM documents),
        |sz AS (SELECT fp, count(*) AS csz FROM f GROUP BY 1),
        |w AS (SELECT source, f.fp, 1000000 // csz AS w_micro
        |  FROM f JOIN sz ON sz.fp = f.fp)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS n_contents,
        |  CAST(sum(w_micro) AS BIGINT) AS mass_micro,
        |  CAST(count(DISTINCT fp) * 1000000 - sum(w_micro) AS BIGINT)
        |    AS rounding_gap_micro
        |FROM w GROUP BY source ORDER BY source""".stripMargin
      }),

    // ---- q438: multi-epoch order mixing audit ----------------------------
    // Epoch shuffles must DECORRELATE (an epoch that replays the
    // previous order re-teaches the same gradient neighborhoods):
    // each epoch orders docs by md5(doc_id # epoch); the audit
    // buckets both epochs' key spaces into 16 ranges and counts the
    // 16×16 transition cells — a replayed order would put every doc
    // on the diagonal, an independent shuffle spreads n/256 per cell.
    // Bucketing needs NO global sort (the hash value IS the position
    // surrogate), so the audit is one aggregation at any corpus
    // size. Output: per epoch-0 bucket, min/max cell mass and the
    // diagonal cell, with the uniform expectation alongside.
    QueryDef("q438_epoch_mixing",
      (s, d) => {
        val b = documents(s, d)
          .select(
            Sampling.hashLong(concat(col("doc_id").cast("string"),
              lit("#e0"))).as("h0"),
            Sampling.hashLong(concat(col("doc_id").cast("string"),
              lit("#e1"))).as("h1"))
          .selectExpr("(h0 * 16) div 4294967296 AS b0",
            "(h1 * 16) div 4294967296 AS b1")
        val cells = b.groupBy("b0", "b1").agg(count(lit(1)).as("m"))
        val tot = broadcast(b.agg(count(lit(1)).as("n")))
        cells.groupBy("b0")
          .agg(sum("m").as("row_mass"),
            min("m").as("min_cell"), max("m").as("max_cell"),
            max(when(col("b1") === col("b0"), col("m"))).as("diag_cell"),
            count(lit(1)).as("n_occupied"))
          .crossJoin(tot)
          .select(col("b0"), col("row_mass"), col("n_occupied"),
            col("min_cell"), col("max_cell"),
            coalesce(col("diag_cell"), lit(0L)).as("diag_cell"),
            expr("n div 256").as("expect_cell"))
          .orderBy("b0")
      },
      Some {
        def h(sfx: String) = DuckSql.hashLong(s"CAST(doc_id AS VARCHAR) || '#$sfx'")
        s"""WITH b AS (SELECT (${h("e0")}) * 16 // 4294967296 AS b0,
        |    (${h("e1")}) * 16 // 4294967296 AS b1 FROM documents),
        |c AS (SELECT b0, b1, count(*) AS m FROM b GROUP BY 1, 2),
        |t AS (SELECT count(*) AS n FROM b)
        |SELECT CAST(b0 AS BIGINT) AS b0,
        |  CAST(sum(m) AS BIGINT) AS row_mass,
        |  CAST(count(*) AS BIGINT) AS n_occupied,
        |  CAST(min(m) AS BIGINT) AS min_cell,
        |  CAST(max(m) AS BIGINT) AS max_cell,
        |  CAST(coalesce(max(CASE WHEN b1 = b0 THEN m END), 0) AS BIGINT)
        |    AS diag_cell,
        |  CAST(n // 256 AS BIGINT) AS expect_cell
        |FROM c, t GROUP BY b0, n ORDER BY b0""".stripMargin
      }))
}
