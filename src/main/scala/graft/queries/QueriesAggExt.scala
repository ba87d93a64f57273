package graft.queries

import graft.Tables._
import graft.ops.Relational
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregate/window/array surface extensions: FILTER-clause
  * conditional aggregates, arg_min/arg_max + boolean aggregates,
  * nth_value/cume_dist windows, median-absolute-deviation robust
  * stats, the array-function family, regexp_extract_all, and
  * order-free skewness/kurtosis — each oracle-checked.
  *
  * Scale notes: every query here is a single hash-aggregate or window
  * over a pre-pruned projection; the MAD query's second pass joins a
  * broadcast group-median table (one row per return flag), never a
  * shuffle of the fact table against itself.
  */
object QueriesAggExt {

  val defs: Seq[QueryDef] = Seq(

    // ---- q121: conditional aggregates (FILTER-clause semantics) -----
    // count(when(c, 1)) counts non-nulls = COUNT FILTER; the sum uses
    // exact decimals so conditional and total sums stay order-free.
    QueryDef("q121_filtered_agg",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_all"),
          count(when(col("l_discount") > 0.05, lit(1))).as("n_disc"),
          Relational.sumExact(when(col("l_discount") > 0.05, col("l_extendedprice"))
            .otherwise(lit(0.0))).as("disc_revenue"),
          count(when(col("l_quantity") >= 30, lit(1))).as("n_heavy"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS n_all,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        |  CAST(sum(CAST(CASE WHEN l_discount > 0.05 THEN l_extendedprice
        |    ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS disc_revenue,
        |  count(*) FILTER (WHERE l_quantity >= 30) AS n_heavy
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q122: arg_max/arg_min + boolean aggregates -----------------
    // The ordering key l_orderkey*10 + l_linenumber is globally unique
    // (linenumber <= 7), so arg extremes are deterministic without a
    // struct tie-break.
    QueryDef("q122_argminmax",
      (s, d) => {
        val ord = (col("l_orderkey") * 10 + col("l_linenumber")).cast("bigint")
        lineitem(s, d)
          .groupBy("l_suppkey")
          .agg(
            count(lit(1)).as("n"),
            max_by(col("l_returnflag"), ord).as("last_flag"),
            min_by(col("l_linestatus"), ord).as("first_status"),
            bool_and(col("l_quantity") > 0.0).as("all_pos"),
            bool_or(col("l_discount") > 0.08).as("any_big_disc"))
          .orderBy("l_suppkey")
      },
      Some("""SELECT l_suppkey, count(*) AS n,
        |  arg_max(l_returnflag, l_orderkey*10 + l_linenumber) AS last_flag,
        |  arg_min(l_linestatus, l_orderkey*10 + l_linenumber) AS first_status,
        |  bool_and(l_quantity > 0.0) AS all_pos,
        |  bool_or(l_discount > 0.08) AS any_big_disc
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q123: nth_value over a full frame + cume_dist --------------
    // Both windows use the o_orderkey tie-break for a total order, so
    // nth_value and cume_dist are deterministic across engines.
    QueryDef("q123_nth_cume",
      (s, d) => {
        val wT = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val wF = wT.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        orders(s, d)
          .where(col("o_custkey") < 20)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            nth_value(col("o_totalprice"), 2).over(wF).as("second_price"),
            round(cume_dist().over(wT), 6).as("cd"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
        |  nth_value(o_totalprice, 2) OVER wf AS second_price,
        |  round(cume_dist() OVER wt, 6) AS cd
        |FROM orders WHERE o_custkey < 20
        |WINDOW wt AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---- q124: median absolute deviation (robust dispersion) --------
    // Two-pass: group medians (3 rows) broadcast back onto the fact
    // table, then a median of absolute deviations. Linear-interpolated
    // medians are IEEE-identical across engines; the oracle spells the
    // same two passes rather than relying on an engine mad() whose
    // scaling convention may differ.
    QueryDef("q124_mad",
      (s, d) => {
        val li = lineitem(s, d).select("l_returnflag", "l_quantity")
        val med = li.groupBy("l_returnflag")
          .agg(median(col("l_quantity")).as("med"))
        li.join(broadcast(med), "l_returnflag")
          .groupBy("l_returnflag", "med")
          .agg(median(abs(col("l_quantity") - col("med"))).as("mad_raw"))
          .select(col("l_returnflag"),
            round(col("med"), 4).as("median_qty"),
            round(col("mad_raw"), 4).as("mad_qty"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (SELECT l_returnflag, median(l_quantity) AS med
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag,
        |  round(CAST(m.med AS DOUBLE), 4) AS median_qty,
        |  round(CAST(median(abs(l.l_quantity - m.med)) AS DOUBLE), 4) AS mad_qty
        |FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
        |GROUP BY l.l_returnflag, m.med ORDER BY 1""".stripMargin)),

    // ---- q125: array-function family over tokenized documents -------
    QueryDef("q125_array_funcs",
      (s, d) => documents(s, d)
        .where(col("doc_id") < 50)
        .select(col("doc_id"),
          split(trim(lower(col("text"))), "\\s+").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("bigint").as("n_distinct"),
          // pipe-joined, not a raw array: the driver's comparator sorts
          // rows by every column and array cells are unhashable there
          // (r02: q125/q126 err "unhashable type: numpy.ndarray")
          array_join(slice(array_sort(array_distinct(col("toks"))), 1, 5), "|").as("first5"),
          array_contains(col("toks"), "the").as("has_the"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  coalesce(array_to_string(list_slice(list_sort(list_distinct(toks)), 1, 5), '|'), '') AS first5,
        |  list_contains(toks, 'the') AS has_the
        |FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE doc_id < 50) ORDER BY doc_id""".stripMargin)),

    // ---- q126: regexp_extract_all (all matches, not just first) -----
    QueryDef("q126_regexp_extract",
      (s, d) => documents(s, d)
        .where(col("doc_id") < 100)
        .select(col("doc_id"),
          expr("regexp_extract_all(lower(text), '[a-z]{8,}', 0)").as("lw"))
        .select(col("doc_id"),
          size(col("lw")).cast("bigint").as("n_long"),
          // try_element_at: null past the end (ANSI element_at throws
          // on an empty match list), matching DuckDB's lw[1]
          expr("try_element_at(lw, 1)").as("first_long"),
          array_join(array_sort(array_distinct(col("lw"))), "|").as("uniq_long"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  CAST(len(lw) AS BIGINT) AS n_long,
        |  lw[1] AS first_long,
        |  coalesce(array_to_string(list_sort(list_distinct(lw)), '|'), '') AS uniq_long
        |  -- coalesce: DuckDB array_to_string([]) is NULL; Spark array_join([]) is ''
        |FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]{8,}') AS lw
        |  FROM documents WHERE doc_id < 100) ORDER BY doc_id""".stripMargin)),

    // ---- q127: skewness/kurtosis from exact integer-cent sums -------
    // Same order-free pattern as q70/q96: quantities are 2-dp, so
    // round(q*100) is an exact BIGINT; power sums up to x^4 accumulate
    // in DECIMAL(38,0) (qc^4 <= 6.25e14 fits a long per-row), and the
    // moments come out in pure double arithmetic with an identical
    // operation order on both engines — deterministic to the bit.
    QueryDef("q127_skew_kurt",
      (s, d) => {
        val qc = expr("CAST(round(l_quantity * 100) AS BIGINT)")
        val agg = lineitem(s, d)
          .select(col("l_returnflag"), qc.as("qc"))
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(col("qc").cast("decimal(38,0)")).cast("double").as("s1d"),
            sum((col("qc") * col("qc")).cast("decimal(38,0)")).cast("double").as("s2d"),
            sum((col("qc") * col("qc") * col("qc")).cast("decimal(38,0)"))
              .cast("double").as("s3d"),
            sum((col("qc") * col("qc") * col("qc") * col("qc")).cast("decimal(38,0)"))
              .cast("double").as("s4d"))
        val n = col("n")
        val a1 = col("s1d") / n / 100.0
        val a2 = col("s2d") / n / 10000.0
        val a3 = col("s3d") / n / 1000000.0
        val a4 = col("s4d") / n / 100000000.0
        val m2 = a2 - a1 * a1
        val m3 = a3 - lit(3.0) * a1 * a2 + lit(2.0) * a1 * a1 * a1
        val m4 = a4 - lit(4.0) * a1 * a3 + lit(6.0) * a1 * a1 * a2 -
          lit(3.0) * a1 * a1 * a1 * a1
        agg.select(col("l_returnflag"),
            round(m3 / (m2 * sqrt(m2)), 6).as("skew_qty"),
            round(m4 / (m2 * m2) - lit(3.0), 6).as("kurt_qty"))
          .orderBy("l_returnflag")
      },
      Some("""WITH b AS (SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qc FROM lineitem),
        |m AS (SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(qc AS DECIMAL(38,0))) AS DOUBLE) AS s1d,
        |  CAST(sum(CAST(qc*qc AS DECIMAL(38,0))) AS DOUBLE) AS s2d,
        |  CAST(sum(CAST(qc*qc*qc AS DECIMAL(38,0))) AS DOUBLE) AS s3d,
        |  CAST(sum(CAST(qc*qc*qc*qc AS DECIMAL(38,0))) AS DOUBLE) AS s4d
        |  FROM b GROUP BY 1),
        |t AS (SELECT l_returnflag,
        |  s1d/n/100.0 AS a1, s2d/n/10000.0 AS a2,
        |  s3d/n/1000000.0 AS a3, s4d/n/100000000.0 AS a4 FROM m)
        |SELECT l_returnflag,
        |  round((a3 - 3.0*a1*a2 + 2.0*a1*a1*a1) /
        |    ((a2 - a1*a1) * sqrt(a2 - a1*a1)), 6) + 0 AS skew_qty,
        |  round((a4 - 4.0*a1*a3 + 6.0*a1*a1*a2 - 3.0*a1*a1*a1*a1) /
        |    ((a2 - a1*a1) * (a2 - a1*a1)) - 3.0, 6) + 0 AS kurt_qty
        |FROM t ORDER BY 1""".stripMargin)),

    // ---- q128: null-aware NOT IN (anti join with three-valued logic)
    // NOT IN against a subquery is NOT a plain anti join: one NULL in
    // the subquery makes every non-matching row UNKNOWN, so the result
    // is empty. Spark plans this as a null-aware anti join
    // (BroadcastNestedLoop / NAAJ); both variants pinned in one query.
    // SQL text doubles as the oracle (q73 pattern).
    QueryDef("q128_notin_nullaware", {
      val sql = """SELECT 'no_null' AS variant, count(*) AS n FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |UNION ALL
        |SELECT 'with_null' AS variant, count(*) AS n FROM customer
        |WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders)
        |ORDER BY variant""".stripMargin
      (s, d) => graft.Tables.sqlOver(s, d, "customer", "orders")(sql)
    },
      Some("""SELECT 'no_null' AS variant, count(*) AS n FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |UNION ALL
        |SELECT 'with_null' AS variant, count(*) AS n FROM customer
        |WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders)
        |ORDER BY variant""".stripMargin)),

    // ---- q129: EWMA per user (chunked two-level ordered fold) --------
    // Recursive smoothing is not expressible as a window aggregate, and
    // the r5 formulation buffered each key's FULL history in one
    // collect_list — the unbounded-value-buffering scale-killer. The
    // fix is the twoLevelCumSum discipline: number events per key (one
    // window pass), fold each 256-event CHUNK independently into a
    // summary pair (g = chunk fold from a zero seed; f = 0.7^m, the
    // factor the chunk applies to incoming state), then fold the
    // O(n/256) summaries in chunk order: acc' = g + f*acc. Buffers are
    // bounded at 256 values (level 1) and n/256 summaries (level 2) —
    // a 1M-event key holds 4k summaries, not 1M doubles; truly
    // unbounded keys belong to the streaming twin
    // (Sessions.streamingEwma, O(1) state).
    //
    // Chunking re-associates IEEE arithmetic, so this is a DIFFERENT
    // (equally valid) smoothing definition in the last bits; the
    // oracle replays the identical chunked fold — same seeds, same
    // left-to-right op order via list_reduce — so every value is
    // bit-deterministic across engines, not merely close.
    QueryDef("q129_ewma",
      (s, d) => {
        val C = 256
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val chunked = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("value").cast("double").as("v"))
          .withColumn("__rn", row_number().over(w).cast("long") - 1)
          .withColumn("__c", expr(s"__rn div $C"))
          .drop("__rn")
        // level 1: per (user, chunk) ordered fold. HashPartitioning
        // (user_id) from the window already clusters (user_id, __c) —
        // no second exchange (pinned in PlanSpec).
        val vals = sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("v"))))
        val sums = chunked
          .groupBy("user_id", "__c")
          .agg(transform(vals, e => e.getField("v")).as("vs"))
          .select(col("user_id"), col("__c"),
            size(col("vs")).cast("bigint").as("m"),
            // chunk 0 seeds with its first value (the EWMA base case);
            // later chunks fold from 0.0 and hand the incoming state
            // through f = 0.7^m (left-to-right product, init 1.0)
            when(col("__c") === 0L,
              aggregate(slice(col("vs"), lit(2), size(col("vs")) - 1),
                element_at(col("vs"), 1),
                (acc, x) => lit(0.3) * x + lit(0.7) * acc))
              .otherwise(aggregate(col("vs"), lit(0.0),
                (acc, x) => lit(0.3) * x + lit(0.7) * acc)).as("g"),
            aggregate(col("vs"), lit(1.0), (acc, _) => acc * lit(0.7)).as("f"))
        // level 2: fold the chunk summaries in chunk order
        val arr = sort_array(collect_list(struct(col("__c"), col("g"), col("f"))))
        sums.groupBy("user_id")
          .agg(sum("m").as("n"), arr.as("ch"))
          .select(col("user_id"), col("n"),
            round(aggregate(
              slice(col("ch"), lit(2), size(col("ch")) - 1),
              element_at(col("ch"), 1).getField("g"),
              (acc, x) => x.getField("g") + x.getField("f") * acc), 6)
              .as("ewma"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(value AS DOUBLE) AS v,
        |    (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - 1) // 256 AS c,
        |    ts, event_id
        |  FROM events),
        |ck AS (SELECT user_id, c, list(v ORDER BY ts, event_id) AS vs
        |  FROM ev GROUP BY 1, 2),
        |sm AS (SELECT user_id, c, len(vs) AS m,
        |    CASE WHEN c = 0 THEN list_reduce(vs, (acc, x) -> 0.3*x + 0.7*acc)
        |      ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
        |        (acc, x) -> 0.3*x + 0.7*acc) END AS g,
        |    list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |      list_transform(vs, x -> CAST(0.7 AS DOUBLE))),
        |      (acc, x) -> acc * x) AS f
        |  FROM ck),
        |fold AS (SELECT user_id, CAST(sum(m) AS BIGINT) AS n,
        |    list_reduce(list(struct_pack(g := g, f := f) ORDER BY c),
        |      (acc, x) -> struct_pack(g := x.g + x.f * acc.g,
        |        f := CAST(1.0 AS DOUBLE))) AS fin
        |  FROM sm GROUP BY 1)
        |SELECT user_id, n, round(fin.g, 6) + 0 AS ewma
        |FROM fold ORDER BY user_id""".stripMargin)),

    // ---- q130: bitwise aggregates (event-type presence bitmaps) -----
    // The compact distinct-set encoding for low-cardinality categories:
    // OR-fold a per-event bit, count set bits — at scale this is one
    // map-side-combinable hash aggregate carrying a single long per
    // key, where collect_set would carry strings.
    QueryDef("q130_bit_agg",
      (s, d) => events(s, d)
        .select(col("user_id"),
          when(col("event_type") === "click", 1)
            .when(col("event_type") === "view", 2)
            .when(col("event_type") === "purchase", 4)
            .when(col("event_type") === "signup", 8)
            .otherwise(16).as("mask"))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n"),
          expr("CAST(bit_or(mask) AS BIGINT)").as("type_bits"),
          expr("CAST(bit_xor(mask) AS BIGINT)").as("xor_bits"),
          expr("CAST(bit_count(bit_or(mask)) AS BIGINT)").as("n_types"))
        .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS n,
        |  CAST(bit_or(mask) AS BIGINT) AS type_bits,
        |  CAST(bit_xor(mask) AS BIGINT) AS xor_bits,
        |  CAST(bit_count(CAST(bit_or(mask) AS BIGINT)) AS BIGINT) AS n_types
        |FROM (SELECT user_id,
        |    CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |      WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END AS mask
        |  FROM events) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q136: equi-depth histogram (boundaries broadcast) ----------
    // The scalable shape for quantile bucketing: decile boundaries
    // broadcast onto the fact table, bucket = how many boundaries the
    // value exceeds — never a global-order ntile (a single-partition
    // window at scale). The boundaries come from a DOMAIN-BOUNDED cent
    // histogram rather than exact percentile(): prices are 2-dp, so
    // groupBy integer cents has at most range/0.01 distinct keys
    // (~1e7 for TPC-H prices) REGARDLESS of row count — a distributed
    // hash-agg, not an ObjectHashAggregate buffering every value (the
    // one 100×-scale OOM in the r3 inventory, now gone). The decile
    // value at fractional rank pos = p*(n-1) is recovered by linear
    // interpolation between the cents covering ranks k+1 and k+2 in
    // the cumulative histogram — bit-identical arithmetic to the
    // oracle, which spells the same computation, so quantile_cont
    // semantics are reproduced EXACTLY with bounded memory. The
    // cumulative sum is TWO-LEVEL (Relational.twoLevelCumSum): a
    // partitioned window inside 10k-cent coarse ranges plus a
    // broadcast prefix of the ~1k range totals — no global-order
    // exchange ever sees the histogram itself, so the largest
    // single-task structure is the range-offsets frame, never the
    // value domain.
    QueryDef("q136_equidepth",
      (s, d) => {
        val hist = lineitem(s, d)
          .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
          .groupBy("c").agg(count(lit(1)).as("cnt"))
        val cum = Relational.twoLevelCumSum(hist, "c", "cnt", 10000L)
          .select(col("c"), col("cnt"), col("cum"))
        val n = hist.agg(sum("cnt").as("n")) // single row
        // rank of decile p: pos = p*(n-1) (0-based), k = floor(pos);
        // value at 1-based rank r is the cent c with cum-cnt < r <= cum
        val deciles = s.range(1, 10)
          .select((col("id").cast("double") / 10.0).as("p"))
          .crossJoin(broadcast(n))
          .select(col("p"), (col("p") * (col("n") - 1).cast("double")).as("pos"))
          .select(col("p"), floor(col("pos")).as("kk"),
            (col("pos") - floor(col("pos"))).as("frac"))
        val lo = cum.join(broadcast(deciles),
            col("kk") + 1 > col("cum") - col("cnt") && col("kk") + 1 <= col("cum"))
          .select(col("p"), col("frac"), col("c").as("lc"))
        val hi = cum.join(broadcast(deciles.select(col("p").as("p2"), col("kk"))),
            col("kk") + 2 > col("cum") - col("cnt") && col("kk") + 2 <= col("cum"))
          .select(col("p2"), col("c").as("hc"))
        val bounds = lo.join(hi, col("p") === col("p2"))
          .select((col("lc").cast("double") +
            col("frac") * (col("hc") - col("lc")).cast("double")).as("bc"))
          .agg(sort_array(collect_list(col("bc"))).as("bs"))
        lineitem(s, d)
          .select(col("l_extendedprice").as("x"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").cast("double").as("xc"))
          .crossJoin(broadcast(bounds))
          .select(size(filter(col("bs"), b => col("xc") > b))
            .cast("bigint").as("bucket"), col("x"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            round(min(col("x")), 2).as("lo"),
            round(max(col("x")), 2).as("hi"))
          .orderBy("bucket")
      },
      Some("""WITH h AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
        |    count(*) AS cnt FROM lineitem GROUP BY 1),
        |ch AS (SELECT c, cnt,
        |  sum(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum FROM h),
        |nn AS (SELECT sum(cnt) AS n FROM h),
        |dec AS (SELECT p, floor(pos) AS kk, pos - floor(pos) AS frac FROM
        |  (SELECT p, p * CAST(n - 1 AS DOUBLE) AS pos FROM
        |    (SELECT CAST(unnest(generate_series(1, 9)) AS DOUBLE) / 10.0 AS p), nn)),
        |lov AS (SELECT p, frac, c AS lc FROM dec JOIN ch
        |  ON kk + 1 > cum - cnt AND kk + 1 <= cum),
        |hiv AS (SELECT p, c AS hc FROM dec JOIN ch
        |  ON kk + 2 > cum - cnt AND kk + 2 <= cum),
        |b AS (SELECT list_sort(list(CAST(lc AS DOUBLE) +
        |    frac * CAST(hc - lc AS DOUBLE))) AS bs
        |  FROM lov JOIN hiv USING (p))
        |SELECT CAST(len(list_filter(b.bs,
        |    v -> CAST(CAST(round(l.l_extendedprice * 100) AS BIGINT) AS DOUBLE) > v))
        |    AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  round(min(l.l_extendedprice), 2) AS lo,
        |  round(max(l.l_extendedprice), 2) AS hi
        |FROM lineitem l, b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q137: deterministic per-group exemplars --------------------
    // "Show me 3 examples per language" without collect or RNG: rank
    // by md5(id) inside each group — a pure function of the data, so
    // the same exemplars come back on any cluster size or rerun (the
    // inspection twin of the q81 hash split).
    QueryDef("q137_group_exemplars",
      (s, d) => {
        val w = Window.partitionBy(col("lang")).orderBy(md5(col("doc_id").cast("string")))
        documents(s, d)
          .select(col("lang"), col("doc_id"),
            row_number().over(w).cast("bigint").as("rk"))
          .where(col("rk") <= 3)
          .orderBy("lang", "rk")
      },
      Some("""SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS rk
        |  FROM documents) WHERE rk <= 3 ORDER BY lang, rk""".stripMargin)),

    // ---- q138: IGNORE NULLS window navigation (sparse forward fill) -
    // last(x, ignoreNulls) over a running frame is the standard
    // forward-fill for sparse columns (the windowed cousin of q88's
    // LOCF) — here filling order dates across the sparse subset of
    // urgent orders per customer.
    QueryDef("q138_ignore_nulls",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        orders(s, d)
          .where(col("o_custkey") < 50)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            when(col("o_orderpriority") === "1-URGENT",
              date_format(col("o_orderdate"), "yyyy-MM-dd")).as("urgent_date"))
          .withColumn("last_urgent_date",
            last(col("urgent_date"), ignoreNulls = true).over(w))
          .drop("o_orderdate")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, urgent_date,
        |  last_value(urgent_date IGNORE NULLS) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_urgent_date
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |    CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN strftime(o_orderdate, '%Y-%m-%d') END AS urgent_date
        |  FROM orders WHERE o_custkey < 50)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---- q139: regex capture-group rewriting ------------------------
    // Backreference syntax differs by engine (Spark $1, DuckDB/PCRE
    // \1) but the rewrite semantics must match — pinned here on the
    // source tag inversion plus a token-boundary rewrite on text.
    QueryDef("q139_regex_rewrite",
      (s, d) => documents(s, d)
        .where(col("doc_id") < 100)
        .select(col("doc_id"),
          regexp_replace(col("source"), "^src([0-9]+)$", "$1-src").as("tag"),
          regexp_replace(col("text"), "\\b(table|row)\\b", "<$1>").as("marked"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  regexp_replace(source, '^src([0-9]+)$', '\1-src') AS tag,
        |  regexp_replace(text, '\b(table|row)\b', '<\1>', 'g') AS marked
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin)))
}
