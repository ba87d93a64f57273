package graft.queries

import graft.Tables._
import graft.ops.{Relational, Sampling}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 second batch: storage-layout planning (zone-map skipping,
  * z-order clustering, deletion vectors — the read-side physics every
  * 100 TB table lives or dies by), sequential drift monitoring (CUSUM,
  * batch + streaming, and Mann–Kendall trend), a second
  * inter-annotator statistic (Krippendorff's alpha beside q521's
  * Fleiss kappa), and the packing waste curve (the capacity-planning
  * readout behind q84's concat-and-chunk packer).
  */
object QueriesRound10b {

  // months-since-year-0 of 1995-01 / 1996-01 (mo = year*12 + month - 1)
  private val Mo1995 = 1995 * 12
  private val Mo1996 = 1996 * 12

  /** Bit-interleave (Morton/z-order) of two `bits`-wide non-negative
    * ints as engine-neutral integer arithmetic; `divOp` is `div`
    * (Spark) or `//` (DuckDB). */
  private def zExpr(xc: String, yc: String, bits: Int, divOp: String): String =
    (0 until bits).map { b =>
      val p = 1L << b
      s"((($xc) $divOp $p) % 2) * ${1L << (2 * b)}" +
        s" + ((($yc) $divOp $p) % 2) * ${1L << (2 * b + 1)}"
    }.mkString("(", " + ", ")")

  /** Hourly (event_type, bucket) cent-sums — the monitored series for
    * the CUSUM/Mann-Kendall lanes. Value-domain sized: the events
    * window is 30 days = ~720 buckets per type at ANY corpus scale. */
  private def hourlyBuckets(ev: DataFrame): DataFrame = ev
    .select(col("event_type"),
      expr("unix_micros(ts) div 3600000000").as("b"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    .groupBy("event_type", "b")
    .agg(sum("cents").as("sc"), count(lit(1)).as("n"))

  /** CUSUM finish over the bucket series: S_t = max(0, S_{t-1} + d_t)
    * via the prefix-sum identity S_t = P_t − min(0, min_{j≤t} P_j)
    * (P = cumsum of drift) — one window scan, no recursion. Drift is
    * d_t = sum_t − ref·n_t with ref = floor(total_sum / total_n) so everything
    * stays exact BIGINT. The alarm threshold is data-derived:
    * h = 3·Σ|d| div B. */
  private def finishCusum(bkt: DataFrame): DataFrame = {
    // join-free: ref/h are whole-partition windows over the
    // value-domain-sized bucket frame (≤ ~720 rows per type at ANY
    // corpus SF) — one partition-by-type exchange serves every step,
    // and there is no self-join to trip attribute dedup on memory-sink
    // tables (the q544 streaming path reads one)
    val wAll = "OVER (PARTITION BY event_type)"
    val w = Window.partitionBy("event_type").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bkt
      .withColumn("ref", expr(s"sum(sc) $wAll div sum(n) $wAll"))
      .withColumn("d", expr("sc - ref * n"))
      .withColumn("h", expr(s"(3 * sum(abs(d)) $wAll) div count(1) $wAll"))
      .withColumn("p", sum("d").over(w))
      .withColumn("s", expr("p - least(0L, min(p) OVER (PARTITION BY" +
        " event_type ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND" +
        " CURRENT ROW))"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_buckets"),
        max("ref").as("ref_cents"), max("h").as("h"),
        sum(expr("CAST(s > h AS BIGINT)")).as("n_alarms"),
        max("s").as("max_s"),
        coalesce(min(when(col("s") > col("h"), col("b"))), lit(-1L))
          .as("first_alarm_b"))
      .orderBy("event_type")
  }

  private val CusumSql =
    """WITH bkt AS (SELECT event_type, epoch_us(ts) // 3600000000 AS b,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |refs AS (SELECT event_type,
      |    CAST(sum(sc) AS BIGINT) // CAST(sum(n) AS BIGINT) AS ref
      |  FROM bkt GROUP BY 1),
      |dr AS (SELECT bkt.event_type, b, sc - ref * n AS d
      |  FROM bkt JOIN refs ON bkt.event_type = refs.event_type),
      |hs AS (SELECT event_type,
      |    (3 * CAST(sum(abs(d)) AS BIGINT)) // CAST(count(*) AS BIGINT)
      |      AS h
      |  FROM dr GROUP BY 1),
      |cs AS (SELECT dr.event_type, b, h,
      |    sum(d) OVER (PARTITION BY dr.event_type ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |  FROM dr JOIN hs ON dr.event_type = hs.event_type),
      |st AS (SELECT event_type, b, h,
      |    p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
      |  FROM cs)
      |SELECT st.event_type, CAST(count(*) AS BIGINT) AS n_buckets,
      |  max(ref) AS ref_cents, max(st.h) AS h,
      |  CAST(sum(CASE WHEN s > st.h THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_alarms,
      |  CAST(max(s) AS BIGINT) AS max_s,
      |  coalesce(min(CASE WHEN s > st.h THEN b END), -1) AS first_alarm_b
      |FROM st JOIN refs ON st.event_type = refs.event_type
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- q541: zone-map file skipping ------------------------------------------
    // The read-side half of the q538 table protocol: per-segment
    // min/max "zone maps" decide which segments a range predicate
    // must scan. Two physical layouts of the SAME lineitem rows —
    // key-clustered (segments by orderkey range: every segment spans
    // every month, zone maps prune NOTHING) vs date-clustered
    // (segments = months: the 3-month predicate reads exactly 3
    // segments) — and the skip ratio each achieves, in one frame. The
    // plan-level truth behind "cluster by what you filter by": at
    // 100 TB the skip_ppm column IS the scan bill. Segments are
    // value-domain buckets so both engines name them identically.
    QueryDef("q541_zone_map_skip",
      (s, d) => {
        val li = lineitem(s, d).select(
          expr("l_orderkey div 8192").as("kseg"),
          expr("year(l_shipdate) * 12 + month(l_shipdate) - 1").as("mo"))
          .select(col("kseg"), col("mo"),
            col("mo").between(Mo1996, Mo1996 + 2).cast("long").as("m"))
        def stats(name: String, seg: Column) = li
          .groupBy(seg.as("seg"))
          .agg(count(lit(1)).as("rows"), min("mo").as("lo"),
            max("mo").as("hi"), sum("m").as("mm"))
          .withColumn("touched",
            (col("lo") <= Mo1996 + 2 && col("hi") >= Mo1996).cast("long"))
          .agg(count(lit(1)).as("n_segments"),
            sum("touched").as("n_touched"),
            sum(expr("touched * rows")).as("rows_scanned"),
            sum("mm").as("n_match"), sum("rows").as("total"))
          .select(lit(name).as("layout"), col("n_segments"),
            col("n_touched"), col("rows_scanned"), col("n_match"),
            expr("(total - rows_scanned) * 1000000 div total").as("skip_ppm"))
        stats("by_key", col("kseg")).unionAll(stats("by_date", col("mo")))
          .orderBy("layout")
      },
      Some(s"""WITH li AS (SELECT l_orderkey // 8192 AS kseg,
        |    year(l_shipdate) * 12 + month(l_shipdate) - 1 AS mo,
        |    CASE WHEN year(l_shipdate) * 12 + month(l_shipdate) - 1
        |      BETWEEN $Mo1996 AND ${Mo1996 + 2} THEN 1 ELSE 0 END AS m
        |  FROM lineitem),
        |g AS (SELECT layout,
        |    CASE layout WHEN 'by_key' THEN kseg ELSE mo END AS seg,
        |    CAST(count(*) AS BIGINT) AS rows_, min(mo) AS lo, max(mo) AS hi,
        |    CAST(sum(m) AS BIGINT) AS mm
        |  FROM li CROSS JOIN (VALUES ('by_key'), ('by_date')) AS t(layout)
        |  GROUP BY 1, 2),
        |tg AS (SELECT *, CASE WHEN lo <= ${Mo1996 + 2} AND hi >= $Mo1996
        |    THEN 1 ELSE 0 END AS touched FROM g)
        |SELECT layout, CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(touched) AS BIGINT) AS n_touched,
        |  CAST(sum(touched * rows_) AS BIGINT) AS rows_scanned,
        |  CAST(sum(mm) AS BIGINT) AS n_match,
        |  (CAST(sum(rows_) AS BIGINT) - CAST(sum(touched * rows_) AS BIGINT))
        |    * 1000000 // CAST(sum(rows_) AS BIGINT) AS skip_ppm
        |FROM tg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q542: deletion-vector read path (merge-on-read) -------------------------
    // The third lakehouse leg beside the q538 log and q541 zone maps:
    // deletes land as a DELETION VECTOR (row-identity list) instead of
    // rewriting segments, and every read anti-joins the DV — the
    // merge-on-read contract Delta/Iceberg document publicly. The DV
    // here is a deterministic membership function (md5 of the row
    // identity), the read path is a genuine hash anti-join on
    // (orderkey, linenumber), and the oracle recomputes the same
    // survivors by predicate — a hash match proves the DV application
    // dropped EXACTLY the deleted identities.
    QueryDef("q542_deletion_vectors",
      (s, d) => {
        val li = lineitem(s, d).select(col("l_orderkey"),
          col("l_linenumber"), col("l_linestatus"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          Sampling.hashLong(
            concat_ws("_", col("l_orderkey"), col("l_linenumber")))
            .as("__h"))
        // oracle twin: CAST(l_orderkey AS VARCHAR) || '_' || CAST(...)
        val dv = li.where(col("__h") % 37 === 0)
          .select(col("l_orderkey"), col("l_linenumber"))
        val live = li.join(dv, Seq("l_orderkey", "l_linenumber"), "left_anti")
        val dead = li.where(col("__h") % 37 === 0)
          .groupBy("l_linestatus").agg(count(lit(1)).as("n_deleted"))
        live.groupBy("l_linestatus")
          .agg(count(lit(1)).as("n_live"), sum("cents").as("sum_cents_live"))
          .join(dead, Seq("l_linestatus"), "left")
          .select(col("l_linestatus"), col("n_live"), col("sum_cents_live"),
            coalesce(col("n_deleted"), lit(0L)).as("n_deleted"))
          .orderBy("l_linestatus")
      },
      Some(s"""WITH li AS (SELECT l_linestatus,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    ${DuckSql.hashLong(
             "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)")} % 37 = 0
        |      AS deleted
        |  FROM lineitem)
        |SELECT l_linestatus,
        |  CAST(sum(CASE WHEN NOT deleted THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_live,
        |  CAST(sum(CASE WHEN NOT deleted THEN cents ELSE 0 END) AS BIGINT)
        |    AS sum_cents_live,
        |  CAST(sum(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_deleted
        |FROM li GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q543: CUSUM drift detection --------------------------------------------
    // Sequential change detection beside the DISTRIBUTIONAL drift
    // family (PSI q496, KS q455): CUSUM accumulates per-bucket
    // deviation from the series mean and alarms when the positive
    // excursion S_t = max(0, S_{t-1} + d_t) crosses h. The recursion
    // is the prefix-sum identity S_t = P_t − min(0, min_{j≤t} P_j) —
    // ONE window scan over the value-domain-sized hourly series (720
    // buckets per type regardless of corpus SF), all exact BIGINT
    // cents.
    QueryDef("q543_cusum_drift",
      (s, d) => finishCusum(hourlyBuckets(events(s, d))),
      Some(CusumSql)),

    // ---- q544: STREAMING CUSUM maintenance (lane #32) ----------------------------
    // The q467 pattern for drift monitoring: the stateful half (the
    // per-(type, hour) cent-sums CUSUM reads) is maintained by a
    // genuine streaming aggregation — events arrive on a readStream,
    // state is one row per (type, bucket) — and the CUSUM scan
    // finishes batch-side from the streamed table. Same oracle as
    // q543: the hash gate proves the streaming execution path
    // maintains the series bit-identically to batch.
    QueryDef("q544_streaming_cusum",
      (s, d) => {
        val bkt = graft.streaming.Sessions.runStreamToBatch(s, d,
          eventsStreamSchema(s, d),
          globFilter = Some("events.parquet"),
          transform = st => normalizeEventTs(st)
            .select(col("event_type"),
              expr("unix_micros(ts) div 3600000000").as("b"),
              expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
            .groupBy("event_type", "b")
            .agg(sum("cents").as("sc"), count(lit(1)).as("n")))
        finishCusum(bkt)
      },
      Some(CusumSql)),

    // ---- q545: Krippendorff's alpha (nominal) ------------------------------------
    // The second inter-annotator statistic beside q521's Fleiss kappa:
    // alpha differs by the small-sample (n−1) coincidence correction —
    // for 3 raters per item, alpha = 1 − (9N−S)(n−1) / (2(n²−C)) with
    // S = Σ_u Σ_c n_uc², C = Σ_c n_c², n = 3N. Entirely BIGINT-exact:
    // |num|·10⁶ ≤ 2·9N²·10⁶ stays under 2⁶³ while N ≲ 7·10⁵ docs
    // (sf ≈ 14 at 50k docs/SF); past that the ppm readout lifts to
    // DECIMAL(38) like q455. The numerator goes negative below chance
    // agreement, so the sign rides outside the floor div (the q521
    // discipline from day one).
    QueryDef("q545_krippendorff_alpha",
      (s, d) => {
        val toks = graft.ops.Text.tokens(col("text"))
        val rated = documents(s, d).select(
          when(col("n_chars") < 200, 0).when(col("n_chars") < 400, 1)
            .otherwise(2).as("r1"),
          when(size(toks) < 30, 0).when(size(toks) < 70, 1)
            .otherwise(2).as("r2"),
          when(length(col("text")) < 220, 0)
            .when(length(col("text")) < 380, 1).otherwise(2).as("r3"))
        val withS = rated.select((0 to 2).map(j =>
          ((col("r1") === j).cast("long") + (col("r2") === j).cast("long") +
            (col("r3") === j).cast("long")).as(s"n$j")): _*)
        val agg = withS.agg(count(lit(1)).as("nn"),
          sum(expr("n0*n0 + n1*n1 + n2*n2")).as("s"),
          sum("n0").as("c0"), sum("n1").as("c1"), sum("n2").as("c2"))
        agg.select(col("nn").as("n_items"), col("s"),
          expr("c0*c0 + c1*c1 + c2*c2").as("sum_c2"),
          expr("CAST(signum(2 * (9*nn*nn - (c0*c0 + c1*c1 + c2*c2))" +
            " - (9*nn - s) * (3*nn - 1)) AS BIGINT)" +
            " * (abs(2 * (9*nn*nn - (c0*c0 + c1*c1 + c2*c2))" +
            " - (9*nn - s) * (3*nn - 1)) * 1000000" +
            " div (2 * (9*nn*nn - (c0*c0 + c1*c1 + c2*c2))))")
            .as("alpha_ppm"))
      },
      Some(s"""WITH rated AS (SELECT
        |    CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1
        |      ELSE 2 END AS r1,
        |    CASE WHEN len(${DuckSql.toks("text")}) < 30 THEN 0
        |      WHEN len(${DuckSql.toks("text")}) < 70 THEN 1
        |      ELSE 2 END AS r2,
        |    CASE WHEN length(text) < 220 THEN 0
        |      WHEN length(text) < 380 THEN 1 ELSE 2 END AS r3
        |  FROM documents),
        |grid AS (SELECT
        |    CAST((r1 = 0) AS BIGINT) + CAST((r2 = 0) AS BIGINT)
        |      + CAST((r3 = 0) AS BIGINT) AS n0,
        |    CAST((r1 = 1) AS BIGINT) + CAST((r2 = 1) AS BIGINT)
        |      + CAST((r3 = 1) AS BIGINT) AS n1,
        |    CAST((r1 = 2) AS BIGINT) + CAST((r2 = 2) AS BIGINT)
        |      + CAST((r3 = 2) AS BIGINT) AS n2
        |  FROM rated),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |    CAST(sum(n0*n0 + n1*n1 + n2*n2) AS BIGINT) AS s,
        |    CAST(sum(n0) AS BIGINT) AS c0, CAST(sum(n1) AS BIGINT) AS c1,
        |    CAST(sum(n2) AS BIGINT) AS c2
        |  FROM grid)
        |SELECT nn AS n_items, s, c0*c0 + c1*c1 + c2*c2 AS sum_c2,
        |  CAST(sign(2 * (9*nn*nn - (c0*c0 + c1*c1 + c2*c2))
        |      - (9*nn - s) * (3*nn - 1)) AS BIGINT)
        |    * (abs(2 * (9*nn*nn - (c0*c0 + c1*c1 + c2*c2))
        |      - (9*nn - s) * (3*nn - 1)) * 1000000
        |      // (2 * (9*nn*nn - (c0*c0 + c1*c1 + c2*c2)))) AS alpha_ppm
        |FROM a""".stripMargin)),

    // ---- q546: z-order clustering effectiveness ----------------------------------
    // WHY zone maps need the right layout, quantified: the same orders
    // rows under three physical sort orders — date-major linear,
    // customer-major linear, and Morton z-order interleave of both
    // 7-bit dims — segmented into 64 equal value ranges each, probed
    // with a 2-D square predicate (16×16 in a 128×128 space). Linear
    // layouts scan every segment the major dim admits; z-order bounds
    // the touched segments near the square's area. The interleave is
    // plain integer arithmetic (div/mod/×) so both engines compute the
    // identical curve. At 100 TB this column IS the argument for
    // OPTIMIZE ZORDER BY before an interactive workload.
    QueryDef("q546_zorder_layout",
      (s, d) => {
        val base = orders(s, d).select(
          expr("o_custkey % 128").as("cb"),
          expr(s"year(o_orderdate) * 12 + month(o_orderdate) - 1 - $Mo1995")
            .as("db"))
          .select(col("cb"), col("db"),
            (col("cb").between(32, 47) && col("db").between(24, 39))
              .cast("long").as("m"),
            expr(zExpr("cb", "db", 7, "div")).as("z"))
        base.select(col("m"), explode(array(
          struct(lit("linear_cust").as("layout"),
            expr("(cb * 128 + db) div 256").as("seg")),
          struct(lit("linear_date").as("layout"),
            expr("(db * 128 + cb) div 256").as("seg")),
          struct(lit("zorder").as("layout"),
            expr("z div 256").as("seg")))).as("ls"))
          .select(col("ls.layout").as("layout"), col("ls.seg").as("seg"),
            col("m"))
          .groupBy("layout", "seg")
          .agg(count(lit(1)).as("rows"), sum("m").as("mm"),
            max("m").as("touched"))
          .groupBy("layout")
          .agg(count(lit(1)).as("n_segments"),
            sum("touched").as("n_touched"),
            sum(expr("touched * rows")).as("rows_scanned"),
            sum("mm").as("n_match"), sum("rows").as("total"))
          .select(col("layout"), col("n_segments"), col("n_touched"),
            col("rows_scanned"), col("n_match"),
            expr("(total - rows_scanned) * 1000000 div total").as("skip_ppm"))
          .orderBy("layout")
      },
      Some {
        val z = zExpr("cb", "db", 7, "//")
        s"""WITH base AS (SELECT o_custkey % 128 AS cb,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 - $Mo1995 AS db
        |  FROM orders),
        |b2 AS (SELECT cb, db, $z AS z,
        |    CASE WHEN cb BETWEEN 32 AND 47 AND db BETWEEN 24 AND 39
        |      THEN 1 ELSE 0 END AS m
        |  FROM base),
        |l AS (SELECT layout,
        |    CASE layout WHEN 'linear_cust' THEN (cb * 128 + db) // 256
        |      WHEN 'linear_date' THEN (db * 128 + cb) // 256
        |      ELSE z // 256 END AS seg, m
        |  FROM b2 CROSS JOIN
        |    (VALUES ('linear_cust'), ('linear_date'), ('zorder')) AS t(layout)),
        |g AS (SELECT layout, seg, CAST(count(*) AS BIGINT) AS rows_,
        |    CAST(sum(m) AS BIGINT) AS mm, max(m) AS touched
        |  FROM l GROUP BY 1, 2)
        |SELECT layout, CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(touched) AS BIGINT) AS n_touched,
        |  CAST(sum(touched * rows_) AS BIGINT) AS rows_scanned,
        |  CAST(sum(mm) AS BIGINT) AS n_match,
        |  (CAST(sum(rows_) AS BIGINT) - CAST(sum(touched * rows_) AS BIGINT))
        |    * 1000000 // CAST(sum(rows_) AS BIGINT) AS skip_ppm
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ---- q547: Mann–Kendall trend test -------------------------------------------
    // The monotone-trend complement to q543's changepoint CUSUM on the
    // same hourly series: S = Σ_{i<j} sgn(x_j − x_i), plus the exact
    // tie-corrected variance numerator n(n−1)(2n+5) − Σ_t t(t−1)(2t+5).
    // The pair join is bucket×bucket WITHIN a type — value-domain
    // sized (~720² = 260k pairs per type at ANY corpus SF), never
    // corpus×corpus. All integers.
    QueryDef("q547_mann_kendall",
      (s, d) => {
        val bkt = hourlyBuckets(events(s, d)).select(
          col("event_type"), col("b"), col("sc"))
        val a = bkt.select(col("event_type"), col("b").as("bi"),
          col("sc").as("xi"))
        val bb = bkt.select(col("event_type"), col("b").as("bj"),
          col("sc").as("xj"))
        val pairs = a.join(bb, Seq("event_type")).where(col("bi") < col("bj"))
          .groupBy("event_type")
          .agg(sum(signum(col("xj") - col("xi")).cast("long")).as("s_stat"))
        val ties = bkt.groupBy("event_type", "sc")
          .agg(count(lit(1)).as("t"))
          .groupBy("event_type")
          .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"),
            sum("t").as("nb"))
        pairs.join(ties, Seq("event_type"))
          .select(col("event_type"), col("nb").as("n_buckets"),
            col("s_stat"), signum(col("s_stat")).cast("long").as("direction"),
            expr("nb * (nb - 1) * (2 * nb + 5) - tie_term").as("var_num"))
          .orderBy("event_type")
      },
      Some("""WITH bkt AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS b,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |    CAST(sum(CASE WHEN b2.sc > a.sc THEN 1
        |      WHEN b2.sc < a.sc THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM bkt a JOIN bkt b2 ON a.event_type = b2.event_type
        |    AND a.b < b2.b
        |  GROUP BY 1),
        |tt AS (SELECT event_type,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
        |    CAST(sum(t) AS BIGINT) AS nb
        |  FROM (SELECT event_type, sc, CAST(count(*) AS BIGINT) AS t
        |    FROM bkt GROUP BY 1, 2) GROUP BY 1)
        |SELECT p.event_type, nb AS n_buckets, s_stat,
        |  CAST(sign(s_stat) AS BIGINT) AS direction,
        |  nb * (nb - 1) * (2 * nb + 5) - tie_term AS var_num
        |FROM p JOIN tt ON p.event_type = tt.event_type
        |ORDER BY 1""".stripMargin)),

    // ---- q548: packing waste curve ------------------------------------------------
    // The capacity-planning readout behind q84's concat-and-chunk
    // packer: for context budgets {1k, 2k, 4k, 8k}, how many documents
    // get SPLIT across a sequence boundary (context loss) and how much
    // tail padding each shard pays — the two costs a packing budget
    // trades. Offsets are budget-independent (one prefix-sum pass);
    // the four budget rows are conditional aggregates over the same
    // frame, so the whole curve costs one window scan.
    QueryDef("q548_packing_waste",
      (s, d) => {
        val docs = documents(s, d).select(col("doc_id"),
          greatest(col("n_chars"), lit(1L)).as("cost"),
          (Sampling.hashLong(col("doc_id")) % 8).as("shard"))
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val off = docs.withColumn("off",
          coalesce(sum("cost").over(w), lit(0L)))
        val shardTot = docs.groupBy("shard").agg(sum("cost").as("tot"))
        val budgets = Seq(1024L, 2048L, 4096L, 8192L)
        val perB = off.select(col("off"), col("cost"),
          explode(array(budgets.map(lit): _*)).as("budget"))
          .groupBy("budget")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("CAST(off div budget != (off + cost - 1) div budget" +
              " AS BIGINT)")).as("n_split"))
        val tails = shardTot.select(
          explode(array(budgets.map(lit): _*)).as("budget"), col("tot"))
          .groupBy("budget")
          .agg(sum(expr("(budget - tot % budget) % budget")).as("tail_waste"))
        perB.join(tails, Seq("budget"))
          .select(col("budget"), col("n_docs"), col("n_split"),
            expr("n_split * 1000000 div n_docs").as("split_ppm"),
            col("tail_waste"))
          .orderBy("budget")
      },
      Some(s"""WITH docs AS (SELECT doc_id, greatest(n_chars, 1) AS cost,
        |    ${DuckSql.hashLong("doc_id")} % 8 AS shard FROM documents),
        |o AS (SELECT doc_id, cost, shard,
        |    CAST(coalesce(sum(cost) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS off
        |  FROM docs),
        |b AS (SELECT CAST(budget AS BIGINT) AS budget FROM
        |  (VALUES (1024), (2048), (4096), (8192)) AS t(budget)),
        |sp AS (SELECT budget, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN off // budget != (off + cost - 1) // budget
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_split
        |  FROM o CROSS JOIN b GROUP BY 1),
        |st AS (SELECT shard, CAST(sum(cost) AS BIGINT) AS tot
        |  FROM docs GROUP BY 1),
        |tl AS (SELECT budget,
        |    CAST(sum((budget - tot % budget) % budget) AS BIGINT)
        |      AS tail_waste
        |  FROM st CROSS JOIN b GROUP BY 1)
        |SELECT sp.budget, n_docs, n_split,
        |  n_split * 1000000 // n_docs AS split_ppm, tail_waste
        |FROM sp JOIN tl ON sp.budget = tl.budget
        |ORDER BY sp.budget""".stripMargin))
  )
}
