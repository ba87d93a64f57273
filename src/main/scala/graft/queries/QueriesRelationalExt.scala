package graft.queries

import graft.Tables
import graft.Tables._
import graft.ops.Relational._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Second relational batch: the SQL string interface, multiset set
  * ops, JSON/map/array functions, date parts, and scalar math — each
  * oracle-checked.
  */
object QueriesRelationalExt {

  val defs: Seq[QueryDef] = Seq(

    // ---- q26: SQL interface (spark.sql over registered views) -------
    // TPC-H Q4 flavor; the ORACLE IS THE SAME TEXT — one SQL dialect
    // parsed by both engines.
    QueryDef("q26_sql_interface", {
      val sql = """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_quantity > 40)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
      (s, d) => Tables.sqlOver(s, d, "orders", "lineitem")(sql)
    },
      Some("""SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_quantity > 40)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---- q27: multiset set operations (ALL variants) ----------------
    QueryDef("q27_set_ops_all",
      (s, d) => {
        val o = orders(s, d)
        val f = o.where(col("o_orderstatus") === "F").select("o_custkey")
        val p = o.where(col("o_orderstatus") === "P").select("o_custkey")
        f.exceptAll(p).orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY o_custkey""".stripMargin)),

    // ---- q28: JSON -> map -> array function chain -------------------
    QueryDef("q28_json_map_keys",
      (s, d) => events(s, d)
        .select(array_join(array_sort(map_keys(
          from_json(col("props"), MapType(StringType, StringType)))), ",").as("prop_keys"))
        .groupBy("prop_keys")
        .agg(count(lit(1)).as("n"))
        .orderBy("prop_keys"),
      Some("""SELECT array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q29: date parts ---------------------------------------------
    QueryDef("q29_date_parts",
      (s, d) => orders(s, d)
        .groupBy(year(col("o_orderdate")).cast("bigint").as("yr"),
          quarter(col("o_orderdate")).cast("bigint").as("qtr"))
        .agg(count(lit(1)).as("n_orders"),
          sumExact(col("o_totalprice")).as("revenue"))
        .orderBy("yr", "qtr"),
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- q29b: scalar math functions --------------------------------
    QueryDef("q29b_math_funcs",
      (s, d) => lineitem(s, d)
        .where(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber").cast("bigint").as("l_linenumber"),
          floor(col("l_extendedprice")).as("price_floor"),
          ceil(col("l_extendedprice")).as("price_ceil"),
          round(sqrt(col("l_quantity")), 6).as("qty_sqrt"),
          round(abs(col("l_tax") - col("l_discount")), 6).as("tax_disc_gap"),
          signum(col("l_discount") - 0.05).as("disc_sign"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  round(sqrt(l_quantity), 6) AS qty_sqrt,
        |  round(abs(l_tax - l_discount), 6) AS tax_disc_gap,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- q92: changelog (CDC) apply ---------------------------------
    // Fold deterministic upsert/delete changes into the customer
    // snapshot: deletes (key%10=0), balance upserts (key%10=1), a
    // LATER upsert that overrides a delete (key%20=0, seq 2), and
    // brand-new keys (key%10=2, shifted by 1e6). Latest change per key
    // wins; untouched rows pass through.
    QueryDef("q92_apply_changelog",
      (s, d) => {
        val base = customer(s, d).select("c_custkey", "c_name", "c_acctbal")
        val k = col("c_custkey")
        val changes = base.where(k % 10 === 0)
          .select(k, lit("delete").as("op"), lit(1L).as("seq"),
            col("c_name"), col("c_acctbal"))
          .unionAll(base.where(k % 10 === 1)
            .select(k, lit("upsert").as("op"), lit(1L).as("seq"),
              col("c_name"), (col("c_acctbal") + 100).as("c_acctbal")))
          .unionAll(base.where(k % 20 === 0)
            .select(k, lit("upsert").as("op"), lit(2L).as("seq"),
              concat(col("c_name"), lit("_r")).as("c_name"), col("c_acctbal")))
          .unionAll(base.where(k % 10 === 2)
            .select((k + 1000000).as("c_custkey"), lit("upsert").as("op"),
              lit(1L).as("seq"), col("c_name"), col("c_acctbal")))
        graft.ops.Relational.applyChangelog(base, changes,
            "c_custkey", "op", "seq")
          .orderBy("c_custkey")
      },
      Some("""WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |ch AS (
        |  SELECT c_custkey, 'delete' AS op, 1 AS seq, c_name, c_acctbal
        |    FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL SELECT c_custkey, 'upsert', 1, c_name, c_acctbal + 100
        |    FROM base WHERE c_custkey % 10 = 1
        |  UNION ALL SELECT c_custkey, 'upsert', 2, c_name || '_r', c_acctbal
        |    FROM base WHERE c_custkey % 20 = 0
        |  UNION ALL SELECT c_custkey + 1000000, 'upsert', 1, c_name, c_acctbal
        |    FROM base WHERE c_custkey % 10 = 2),
        |latest AS (SELECT * FROM (SELECT ch.*, row_number() OVER
        |  (PARTITION BY c_custkey ORDER BY seq DESC, op DESC) AS rn FROM ch) WHERE rn = 1)
        |SELECT c_custkey,
        |  CASE WHEN l.op = 'upsert' THEN l.c_name ELSE b.c_name END AS c_name,
        |  CASE WHEN l.op = 'upsert' THEN l.c_acctbal ELSE b.c_acctbal END AS c_acctbal
        |FROM base b FULL OUTER JOIN latest l USING (c_custkey)
        |WHERE l.op IS NULL OR l.op != 'delete'
        |ORDER BY c_custkey""".stripMargin)),

    // ---- q93: null-safe equality join (<=> / IS NOT DISTINCT FROM) --
    // plain equality would silently drop the NULL key group
    QueryDef("q93_null_safe_join",
      (s, d) => {
        val o = orders(s, d).select(
          when(col("o_orderstatus") === "P", lit(null).cast("string"))
            .otherwise(col("o_orderstatus")).as("status_n"))
        val agg = o.groupBy("status_n").agg(count(lit(1)).as("n_status"))
          .withColumnRenamed("status_n", "k")
        o.join(agg, o("status_n") <=> agg("k"))
          .groupBy("status_n", "n_status")
          .agg(count(lit(1)).as("n_rows"))
          .orderBy("status_n")
      },
      Some("""WITH o AS (SELECT nullif(o_orderstatus, 'P') AS status_n FROM orders),
        |a AS (SELECT status_n AS k, count(*) AS n_status FROM o GROUP BY 1)
        |SELECT status_n, n_status, count(*) AS n_rows
        |FROM o JOIN a ON o.status_n IS NOT DISTINCT FROM a.k
        |GROUP BY 1, 2 ORDER BY 1 NULLS FIRST""".stripMargin)),

    // ---- q98: calendar functions (add_months, last_day, day-of-week) -
    QueryDef("q98_calendar",
      (s, d) => orders(s, d)
        .where(col("o_orderkey") % 200 === 0)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("d_plus_3m"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          // Spark dayofweek: 1=Sunday..7; DuckDB dayofweek: 0=Sunday..6
          dayofweek(col("o_orderdate")).cast("bigint").as("dow"),
          weekofyear(col("o_orderdate")).cast("bigint").as("iso_week"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d,
        |  strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS d_plus_3m,
        |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        |  dayofweek(o_orderdate) + 1 AS dow,
        |  weekofyear(o_orderdate) AS iso_week
        |FROM orders WHERE o_orderkey % 200 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- q146: explicit Bloom-filter runtime pre-filter -------------
    // The user-level runtime-filter pattern: the dimension-side keys
    // condense into a 2048-bit md5-derived Bloom filter broadcast as
    // ONE row; the fact scan drops rows map-side BEFORE any shuffle;
    // the exact semi join afterwards removes the (measured) false
    // positives. Hash-verified end to end — the oracle rebuilds every
    // lane bit and replays the membership tests, so n_bloom_pass (the
    // sketch's actual behavior) and fp_rate are under the hash check,
    // not just the exact result.
    QueryDef("q146_bloom_join", {
      val (mBits, kHashes) = (2048, 3)
      (s, d) => {
        val keys = orders(s, d)
          .where(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
          .select("o_orderkey")
        val lanes = bloomLanes(keys, "o_orderkey", mBits, kHashes)
        val passed = lineitem(s, d)
          .select("l_orderkey", "l_extendedprice")
          .crossJoin(broadcast(lanes))
          .where(bloomMightContain(col("bloom_lanes"), col("l_orderkey"),
            mBits, kHashes))
        passed
          .join(broadcast(keys.withColumnRenamed("o_orderkey", "l_orderkey")
            .withColumn("__hit", lit(1))), Seq("l_orderkey"), "left")
          .agg(count(lit(1)).as("n_bloom_pass"),
            count(col("__hit")).as("n_exact"),
            round(sum(when(col("__hit").isNotNull,
              col("l_extendedprice").cast("decimal(18,2)"))).cast("double"), 2)
              .as("revenue_exact"),
            round((count(lit(1)) - count(col("__hit"))).cast("double") /
              count(lit(1)), 4).as("fp_rate"))
      }
    },
      Some {
        val (mBits, kHashes) = (2048, 3)
        val nLanes = mBits / 32
        def pos(key: String, i: Int) =
          s"${DuckSql.hashLong(s"$key || '#$i'")} % $mBits"
        val laneAggs = (0 until nLanes).map(j =>
          s"coalesce(bit_or(CASE WHEN lane = $j THEN mask END), 0) AS b$j")
          .mkString(",\n|    ")
        val laneList = (0 until nLanes).map(j => s"b$j").mkString(", ")
        val posUnion = (0 until kHashes).map(i =>
          s"SELECT ${pos("key", i)} AS pos FROM ks").mkString("\n|  UNION ALL ")
        def test(p: String) =
          s"(lanes.lanes[$p // 32 + 1] & (CAST(1 AS BIGINT) << ($p % 32))) != 0"
        s"""WITH ks AS (SELECT o_orderkey AS key FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |    AND o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1995-02-01'),
        |ps AS ($posUnion),
        |pm AS (SELECT pos // 32 AS lane,
        |    (CAST(1 AS BIGINT) << (pos % 32)) AS mask FROM ps),
        |lv AS (SELECT $laneAggs
        |  FROM pm),
        |lanes AS (SELECT list_value($laneList) AS lanes FROM lv),
        |pp AS (SELECT l_orderkey, l_extendedprice,
        |    ${pos("l_orderkey", 0)} AS p0,
        |    ${pos("l_orderkey", 1)} AS p1,
        |    ${pos("l_orderkey", 2)} AS p2
        |  FROM lineitem),
        |flt AS (SELECT p.l_orderkey, p.l_extendedprice FROM pp p, lanes
        |  WHERE ${test("p.p0")}
        |    AND ${test("p.p1")}
        |    AND ${test("p.p2")}),
        |fx AS (SELECT f.l_extendedprice, k.key IS NOT NULL AS hit
        |  FROM flt f LEFT JOIN ks k ON f.l_orderkey = k.key)
        |SELECT count(*) AS n_bloom_pass,
        |  count(CASE WHEN hit THEN 1 END) AS n_exact,
        |  round(CAST(sum(CASE WHEN hit
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE), 2)
        |    AS revenue_exact,
        |  round(CAST(count(*) - count(CASE WHEN hit THEN 1 END) AS DOUBLE)
        |    / count(*), 4) AS fp_rate
        |FROM fx""".stripMargin
      }))
}
