package graft.queries

import graft.Tables._
import graft.ops.{Dedup, Text, TxnLog}
import graft.ops.TxnLog.Action
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 fourth batch: table-format lifecycle completion (schema
  * evolution q554, vacuum planning q555), calendar seasonality
  * (q556), Kneser–Ney smoothing — the LM-data industry's default —
  * in exact micro-units (q557), and streaming zone-map maintenance
  * (q558, lane #34).
  */
object QueriesRound10d {

  private def reset(s: SparkSession, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q554: schema evolution across commits -------------------------------------
    // Segments written before a column existed must stay readable
    // forever — the read path resolves the UNION schema and
    // null-fills the old segments (mergeSchema, exactly how public
    // table formats read mixed-schema manifests). Segment 1 is
    // (okey, status, cents); segment 2 adds `priority`. The live-set
    // read goes through the real commit log; n_with_priority counts
    // exactly the rows from the evolved segment, so the hash gate
    // proves both the union-schema resolution AND that null-fill hit
    // only the old rows.
    QueryDef("q554_txn_schema_evolution",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q554"
        reset(s, root)
        val base = orders(s, d).select(col("o_orderkey"),
          col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderpriority"))
        val v1 = s"$root/seg_v1"
        base.where(col("o_orderkey") % 3 === 0)
          .drop("o_orderpriority") // written before the column existed
          .coalesce(1).write.parquet(v1)
        require(TxnLog.tryCommit(s, root, 1L, "ingest", Seq(Action("add", v1))))
        val v2 = s"$root/seg_v2"
        base.where(col("o_orderkey") % 3 === 1)
          .withColumnRenamed("o_orderpriority", "priority")
          .coalesce(1).write.parquet(v2)
        require(TxnLog.tryCommit(s, root, 2L, "ingest", Seq(Action("add", v2))))
        val files = TxnLog.liveFiles(TxnLog.commits(s, root))
        val snap = s.read.option("mergeSchema", "true").parquet(files: _*)
        snap.groupBy("status").agg(
          count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          sum(col("priority").isNotNull.cast("long")).as("n_with_priority"))
          .orderBy("status")
      },
      Some("""SELECT o_orderstatus AS status,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_with_priority
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q555: vacuum planner --------------------------------------------------------
    // Retired segments cannot be physically deleted while ANY
    // retained version still references them (time travel q539 is the
    // reader they would break). The planner: with retention horizon
    // v ≥ 3, a segment is removable iff it appears in NO live set of
    // versions ≥ 3. On the shared 4-commit history that is exactly
    // {seg_a, seg_b} (compacted away at v3); {seg_c, seg_d} stay. The
    // lane reads the REMOVABLE segments' rows back (the reclaim bill)
    // and the retained snapshot, both oracle-verified by membership
    // predicates.
    QueryDef("q555_vacuum_planner",
      (s, d) => {
        val root = Scratch.dir(s, d) + "/txn_q555"
        QueriesRound10.buildHistory(s, d, root)
        val cs = TxnLog.commits(s, root)
        val horizon = 3L
        // the real planner (TxnLog.vacuum executes this same plan):
        // removable = latest action is a remove at version <= horizon —
        // one O(actions) pass, never a per-version live-set fold
        val removable = TxnLog.vacuumPlan(cs, horizon)
        val everAdded = cs.flatMap(_.actions).filter(_.kind == "add")
          .map(_.path).distinct
        val retained = everAdded.filterNot(removable.toSet)
        val reclaimRows = s.read.parquet(removable: _*)
          .agg(count(lit(1)).as("rows_reclaimed"))
        val (snap, _, _) = TxnLog.snapshot(s, root)
        snap.agg(count(lit(1)).as("rows_live"))
          .crossJoin(reclaimRows)
          .select(lit(removable.size).as("n_removable"),
            lit(retained.size).as("n_retained"),
            col("rows_reclaimed"), col("rows_live"),
            lit(horizon).as("horizon"))
      },
      // removable = the pre-compaction segments a (keys≡0) and b (≡1):
      // their rows double-count the compacted survivors — that IS the
      // storage the vacuum reclaims
      Some("""SELECT CAST(2 AS INTEGER) AS n_removable,
        |  CAST(2 AS INTEGER) AS n_retained,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 4 IN (0, 1)) AS rows_reclaimed,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey % 4 IN (0, 1, 2)) AS rows_live,
        |  CAST(3 AS BIGINT) AS horizon""".stripMargin)),

    // ---- q556: hour-of-day seasonal index ---------------------------------------------
    // The seasonality readout the q543 CUSUM monitor needs as its
    // denominator model: per (event_type, hour-of-day), the slot's
    // mean over the type's overall mean in ppm. Deliberately NOT the
    // single cross-multiplied fraction (sum_h·n_all·10⁶ overflows
    // BIGINT past sf ≈ 0.3): both engines floor each MEAN to
    // micro-cents first (means are SF-independent ≈ 2.5·10¹⁰ micro,
    // so mean·10⁶ ≈ 2.5·10¹⁶ stays in BIGINT at ANY corpus size) and
    // then floor the ratio — two floors, identical order, identical
    // hash. 24×5 value-domain rows at any corpus size.
    QueryDef("q556_seasonal_index",
      (s, d) => {
        val ev = events(s, d).select(col("event_type"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hod"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        val wAll = "OVER (PARTITION BY event_type)"
        ev.groupBy("event_type", "hod")
          .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
          .withColumn("idx_ppm",
            expr(s"(((sc * 1000000) div n) * 1000000)" +
              s" div ((sum(sc) $wAll * 1000000) div sum(n) $wAll)"))
          .orderBy("event_type", "hod")
      },
      Some("""WITH b AS (SELECT event_type,
        |    (epoch_us(ts) // 3600000000) % 24 AS hod,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, hod, n, sc,
        |  (((sc * 1000000) // n) * 1000000)
        |    // ((CAST(sum(sc) OVER (PARTITION BY event_type) AS BIGINT)
        |        * 1000000)
        |      // CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT))
        |    AS idx_ppm
        |FROM b ORDER BY 1, 2""".stripMargin)),

    // ---- q557: Kneser–Ney smoothed bigram LM -------------------------------------------
    // The smoothing the LM-data industry actually defaults to, beside
    // q445's add-one surprisal: absolute discount d = 3/4 in exact
    // quarter-units, continuation probabilities from bigram-TYPE
    // counts (the KN insight: "Francisco" is frequent but follows
    // only "San"). P(w2|w1) = max(4c₁₂−3, 0)/(4c₁) +
    // 3·N₁₊(w1·)/(4c₁) · N₁₊(·w2)/N₁₊(··), all folded to micro-units
    // with both engines flooring in the identical order. Top-20 by
    // probability with full lexicographic tiebreak.
    QueryDef("q557_kneser_ney",
      (s, d) => {
        val tk = documents(s, d)
          .select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
          .repartition(col("doc_id")) // the q430/q523 CollapseProject barrier
        val big = tk
          .select(explode(Dedup.wordShingles(col("__toks"), 2)).as("bg"))
          .groupBy("bg").agg(count(lit(1)).as("c12"))
          .select(expr("split(bg, ' ')[0]").as("w1"),
            expr("split(bg, ' ')[1]").as("w2"), col("c12"))
        val left = big.groupBy("w1")
          .agg(sum("c12").as("c1"), count(lit(1)).as("n1p"))
        val cont = big.groupBy("w2").agg(count(lit(1)).as("ncont"))
        val tot = big.agg(count(lit(1)).as("ntot"))
        big.join(left, Seq("w1")).join(cont, Seq("w2"))
          .crossJoin(broadcast(tot))
          .select(col("w1"), col("w2"), col("c12"),
            expr("(greatest(4 * c12 - 3, 0L) * 1000000) div (4 * c1)" +
              " + (3 * n1p * ((ncont * 1000000) div ntot)) div (4 * c1)")
              .as("p_micro"))
          .orderBy(desc("p_micro"), col("w1"), col("w2"))
          .limit(20)
      },
      Some(s"""WITH tk AS (SELECT doc_id, ${DuckSql.toks("text")} AS t
        |  FROM documents),
        |occ AS (SELECT unnest(${DuckSql.shingles("t", 2)}) AS bg FROM tk),
        |big AS (SELECT split_part(bg, ' ', 1) AS w1,
        |    split_part(bg, ' ', 2) AS w2,
        |    CAST(count(*) AS BIGINT) AS c12
        |  FROM occ GROUP BY 1, 2),
        |lf AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |    CAST(count(*) AS BIGINT) AS n1p FROM big GROUP BY 1),
        |ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncont
        |  FROM big GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM big)
        |SELECT w1, w2, c12,
        |  (greatest(4 * c12 - 3, 0) * 1000000) // (4 * c1)
        |    + (3 * n1p * ((ncont * 1000000) // ntot)) // (4 * c1)
        |    AS p_micro
        |FROM big JOIN lf USING (w1) JOIN ct USING (w2), tt
        |ORDER BY p_micro DESC, w1, w2 LIMIT 20""".stripMargin)),

    // ---- q558: STREAMING zone-map maintenance (lane #34) --------------------------------
    // Zone maps are only useful if they stay current as data lands;
    // min/max/count are streamable folds, so a streaming aggregation
    // maintains the per-(type, day-segment) value zone maps
    // incrementally — and the skip-plan readout (which segments a
    // cents-range predicate must scan) finishes batch-side from the
    // streamed map (the q467/q544 pattern, now for the STORAGE
    // planner's metadata). Hash ≡ the batch-built map.
    QueryDef("q558_streaming_zone_maps",
      (s, d) => {
        val zm = graft.streaming.Sessions.runStreamToBatch(s, d,
          eventsStreamSchema(s, d),
          globFilter = Some("events.parquet"),
          transform = st => normalizeEventTs(st)
            .select(col("event_type"),
              expr("unix_micros(ts) div 86400000000").as("dayseg"),
              expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
            .groupBy("event_type", "dayseg")
            .agg(min("cents").as("mn"), max("cents").as("mx"),
              count(lit(1)).as("n")))
        val lo = 10000L; val hi = 20000L
        zm.withColumn("touched",
          (col("mn") <= hi && col("mx") >= lo).cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_segments"),
            sum("touched").as("n_touched"),
            sum(expr("touched * n")).as("rows_scanned"),
            sum("n").as("total"))
          .select(col("event_type"), col("n_segments"), col("n_touched"),
            col("rows_scanned"),
            expr("(total - rows_scanned) * 1000000 div total")
              .as("skip_ppm"))
          .orderBy("event_type")
      },
      Some("""WITH zm AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS dayseg,
        |    CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mn,
        |    CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mx,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type,
        |    CASE WHEN mn <= 20000 AND mx >= 10000 THEN 1 ELSE 0 END
        |      AS touched, n
        |  FROM zm)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(touched) AS BIGINT) AS n_touched,
        |  CAST(sum(touched * n) AS BIGINT) AS rows_scanned,
        |  (CAST(sum(n) AS BIGINT) - CAST(sum(touched * n) AS BIGINT))
        |    * 1000000 // CAST(sum(n) AS BIGINT) AS skip_ppm
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
