package graft.queries

import graft.Tables
import graft.Tables._
import graft.ops.Relational._
import org.apache.spark.sql.functions._

/** Statistical aggregates: dispersion, correlation, exact percentiles,
  * struct-ordered argmax, grouping sets, and the HLL approximate
  * distinct (rows-only — sketch parameters differ across engines; its
  * accuracy bound is asserted in StatsSpec instead).
  */
object QueriesStats {

  val defs: Seq[QueryDef] = Seq(

    // ---- q70: dispersion + correlation ------------------------------
    // Moments from EXACT decimal sums, then pure double arithmetic
    // (same pattern as q96_outliers): engine-native stddev/corr/covar
    // accumulate doubles in partition order, so a 1-ulp drift between
    // engines can flip a 6-dp rounding boundary. Exact sums make every
    // statistic a deterministic, order-free function of the data.
    QueryDef("q70_stats",
      (s, d) => {
        val q  = col("l_quantity").cast("decimal(18,2)")
        val p  = col("l_extendedprice").cast("decimal(18,2)")
        val dc = col("l_discount").cast("decimal(18,2)")
        val tx = col("l_tax").cast("decimal(18,2)")
        val m = lineitem(s, d).groupBy("l_returnflag").agg(
          count(lit(1)).cast("double").as("n"),
          sum(q).cast("double").as("sq"),
          sum(q * q).cast("double").as("sqq"),
          sum(p).cast("double").as("sp"),
          sum(p * p).cast("double").as("spp"),
          sum(q * p).cast("double").as("sqp"),
          sum(dc).cast("double").as("sdc"),
          sum(tx).cast("double").as("stx"),
          sum(dc * tx).cast("double").as("sdt"))
        val n = col("n")
        val varQty = (col("sqq") - col("sq") * col("sq") / n) / (n - lit(1.0))
        val corrQP = (n * col("sqp") - col("sq") * col("sp")) /
          (sqrt(n * col("sqq") - col("sq") * col("sq")) *
           sqrt(n * col("spp") - col("sp") * col("sp")))
        val covDT = (col("sdt") - col("sdc") * col("stx") / n) / (n - lit(1.0))
        m.select(col("l_returnflag"),
            round(sqrt(varQty), 6).as("sd_qty"),
            round(varQty, 6).as("var_qty"),
            round(corrQP, 6).as("corr_qty_price"),
            round(covDT, 6).as("covar_disc_tax"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (SELECT l_returnflag,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sqq,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spp,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sqp,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sdc,
        |  CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS stx,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sdt
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag,
        |  round(sqrt((sqq - sq * sq / n) / (n - 1.0)), 6) + 0 AS sd_qty,
        |  round((sqq - sq * sq / n) / (n - 1.0), 6) + 0 AS var_qty,
        |  round((n * sqp - sq * sp) / (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 6) + 0 AS corr_qty_price,
        |  round((sdt - sdc * stx / n) / (n - 1.0), 6) + 0 AS covar_disc_tax
        |FROM m ORDER BY 1""".stripMargin)),
    // ^ `+ 0`: DuckDB round(-1e-7, 6) returns IEEE -0.0; Spark's round
    // (BigDecimal) has no signed zero, so the driver's byte-level hash
    // split on 0.0 vs -0.0 (r02's only mismatch) while `==` passed.
    // -0.0 + 0 = +0.0 normalizes the oracle side.

    // ---- q71: exact percentiles (linear interpolation both engines) -
    QueryDef("q71_percentiles",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(median(col("l_quantity")), 4).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25_price"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75_price"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |  round(CAST(median(l_quantity) AS DOUBLE), 4) AS median_qty,
        |  round(CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE), 4) AS p25_price,
        |  round(CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE), 4) AS p75_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q72: argmax via struct-ordered max (max_by family) ---------
    QueryDef("q72_argmax_struct",
      (s, d) => orders(s, d)
        .groupBy("o_custkey")
        .agg(max(struct(col("o_totalprice").as("p"), col("o_orderkey").as("k")))
          .getField("k").as("top_orderkey"),
          max(col("o_totalprice")).as("top_price"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
        |  (max({'p': o_totalprice, 'k': o_orderkey})).k AS top_orderkey,
        |  max(o_totalprice) AS top_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q73: GROUPING SETS (SQL text = oracle text) ----------------
    QueryDef("q73_grouping_sets", {
      val sql = """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        |ORDER BY 1, 2""".stripMargin
      (s, d) => {
        Tables.table(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(sql)
      }
    },
      Some("""SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        |ORDER BY 1, 2""".stripMargin)),

    // ---- q74: KMV approximate distinct (hash-verified sketch) -------
    // The custom TypedImperativeAggregate (functions/KmvDistinct) in
    // its SQL-reproducible mode: the input is the md5-derived 32-bit
    // Sampling.hashLong, the buffer carries the k smallest hashes
    // (O(k) per group, map-side combinable — the 100 TB distinct-count
    // shape), and the estimate floor((k-1)/u_k) is pure arithmetic on
    // the k-th minimum, so the DuckDB oracle recomputes it exactly via
    // an ordered-rank window over the distinct hashes. Spark's
    // engine-native HLL (approx_count_distinct) stays covered by
    // StatsSpec's accuracy bounds — its sketch is engine-internal and
    // can never hash-match another engine; this query pins the sketch
    // path that CAN be verified end to end.
    QueryDef("q74_approx_distinct",
      (s, d) => {
        lineitem(s, d)
          .select(col("l_returnflag"), col("l_partkey"),
            graft.ops.Sampling.hashLong(col("l_partkey")).as("h"))
          .groupBy("l_returnflag")
          .agg(expr("graft_kmv_distinct(h, 256, 32)").as("kmv_parts"),
            countDistinct(col("l_partkey")).as("exact_parts"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH dh AS (SELECT DISTINCT l_returnflag,
        |    ${DuckSql.hashLong("l_partkey")} AS h FROM lineitem),
        |r AS (SELECT l_returnflag, h,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS nd FROM dh),
        |kmv AS (SELECT l_returnflag,
        |    CASE WHEN nd < 256 THEN CAST(nd AS BIGINT)
        |      ELSE CAST(floor(255.0 / (CAST(h AS DOUBLE) / 4294967296.0)) AS BIGINT)
        |    END AS kmv_parts
        |  FROM r WHERE rn = CASE WHEN nd < 256 THEN nd ELSE 256 END),
        |ex AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
        |  FROM lineitem GROUP BY 1)
        |SELECT kmv.l_returnflag, kmv.kmv_parts, ex.exact_parts
        |FROM kmv JOIN ex USING (l_returnflag) ORDER BY 1""".stripMargin)),

    // ---- q90: approximate percentiles via deterministic sampling ----
    // The 100 TB percentile path that stays hash-verifiable: a pure
    // md5-membership sample (1/16 of rows — the threshold prefix is
    // the knob; at larger scale use more nibbles so the sample stays
    // ~1e6 rows) feeds an exact interpolated percentile whose memory
    // is bounded by the SAMPLE, not the table. Both engines select the
    // identical sample and run the identical interpolation (q71
    // precedent), so the approximation itself — not just a bound on it
    // — is oracle-checked. Spark's engine-native quantile sketch
    // (approx_percentile) stays covered by StatsSpec's error-bound
    // asserts; its GK summary is merge-order-dependent and can never
    // hash-match another engine.
    QueryDef("q90_approx_percentile",
      (s, d) => lineitem(s, d)
        .where(substring(md5(concat_ws(":",
          col("l_orderkey"), col("l_linenumber"))), 1, 1) === "0")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_sample"),
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("ap25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("ap50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("ap75"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS n_sample,
        |  round(CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE), 4) AS ap25,
        |  round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS ap50,
        |  round(CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE), 4) AS ap75
        |FROM lineitem
        |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
        |    CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q144: mode + discrete percentiles off ONE histogram --------
    // percentile_disc and mode both read off the same domain-bounded
    // integer-cent histogram (the q136 pattern): the groupBy's
    // cardinality is capped by the value range — never the row count —
    // so unlike engine-native percentile_disc (an ObjectHashAggregate
    // buffering every value) this shape survives a 100x scale-up. The
    // discrete quantile picks an ACTUAL value at rank ceil(p*n) and
    // mode is an arg-max with a smallest-value tie-break, so there is
    // no floating-point interpolation anywhere — bit-exact across
    // engines by construction.
    QueryDef("q144_mode_percentile_disc",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hist = lineitem(s, d)
          .select(col("l_returnflag"),
            expr("CAST(round(l_quantity * 100) AS BIGINT)").as("c"))
          .groupBy("l_returnflag", "c").agg(count(lit(1)).as("cnt"))
        val wMode = Window.partitionBy("l_returnflag")
          .orderBy(col("cnt").desc, col("c").asc)
        val mode = hist
          .withColumn("rn", row_number().over(wMode)).where(col("rn") === 1)
          .select(col("l_returnflag"), (col("c").cast("double") / 100.0).as("mode_qty"))
        val wCum = Window.partitionBy("l_returnflag").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = hist.select(col("l_returnflag"), col("c"), col("cnt"),
          sum("cnt").over(wCum).as("cum"),
          sum("cnt").over(Window.partitionBy("l_returnflag")).as("n"))
        def disc(p: Double) = min(when(
          col("cum") >= ceil(lit(p) * col("n").cast("double")), col("c")))
        val qs = cum.groupBy("l_returnflag")
          .agg(max(col("n")).as("n"),
            (disc(0.25).cast("double") / 100.0).as("p25_qty"),
            (disc(0.5).cast("double") / 100.0).as("p50_qty"),
            (disc(0.9).cast("double") / 100.0).as("p90_qty"))
        mode.join(qs, "l_returnflag").orderBy("l_returnflag")
      },
      Some("""WITH h AS (SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS c, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT l_returnflag, CAST(c AS DOUBLE) / 100.0 AS mode_qty FROM
        |  (SELECT l_returnflag, c, row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY cnt DESC, c ASC) AS rn FROM h) WHERE rn = 1),
        |cm AS (SELECT l_returnflag, c, cnt,
        |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY c
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n FROM h),
        |q AS (SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |    CAST(min(CASE WHEN cum >= ceil(0.25 * CAST(n AS DOUBLE)) THEN c END) AS DOUBLE) / 100.0 AS p25_qty,
        |    CAST(min(CASE WHEN cum >= ceil(0.5 * CAST(n AS DOUBLE)) THEN c END) AS DOUBLE) / 100.0 AS p50_qty,
        |    CAST(min(CASE WHEN cum >= ceil(0.9 * CAST(n AS DOUBLE)) THEN c END) AS DOUBLE) / 100.0 AS p90_qty
        |  FROM cm GROUP BY 1)
        |SELECT m.l_returnflag, m.mode_qty, q.n, q.p25_qty, q.p50_qty, q.p90_qty
        |FROM m JOIN q USING (l_returnflag) ORDER BY 1""".stripMargin)))
}
