package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, FixedPoint}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 sixth batch: the pre-join skew ledger and exact-integer
  * mutual-information feature ranking.
  */
object QueriesRound8f {

  val defs: Seq[QueryDef] = Seq(

    // ---- q441: join-key skew ledger ---------------------------------------
    // The diagnosis you run BEFORE choosing between a plain shuffle
    // join, salting, and hybridSkewJoin (q265): per candidate join
    // key, the key count, the heaviest key's frequency, the mean in
    // exact micro units, the p99 frequency (from the FREQUENCY
    // HISTOGRAM — the only ordered window runs over O(distinct
    // frequencies) rows, the q429 discipline), and the max/mean skew
    // ratio. A ratio near 10⁶ means uniform keys (broadcast/shuffle
    // at will); orders of magnitude above means the hot-key row
    // count is the reducer bound and the skew weapons pay for
    // themselves.
    QueryDef("q441_join_skew_ledger",
      (s, d) => {
        val li = lineitem(s, d)
        def ledger(keyCol: String): DataFrame = {
          val freq = li.groupBy(col(keyCol)).agg(count(lit(1)).as("f"))
          val hist = freq.groupBy("f").agg(count(lit(1)).as("nk"))
          val w = org.apache.spark.sql.expressions.Window.orderBy("f")
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)
          val cum = hist.withColumn("ck", sum("nk").over(w))
          val tot = broadcast(freq.agg(count(lit(1)).as("n_keys"),
            sum("f").as("n_rows"), max("f").as("max_f")))
          val p99 = cum.crossJoin(tot)
            .where(col("ck") * 100 >= col("n_keys") * 99)
            .agg(min("f").as("p99_f"))
          tot.crossJoin(broadcast(p99))
            .select(lit(keyCol).as("key_col"), col("n_keys"),
              col("n_rows"), col("max_f"), col("p99_f"),
              expr("(n_rows * 1000000) div n_keys").as("mean_micro"),
              expr("(max_f * 1000000 * n_keys) div n_rows")
                .as("skew_ratio_micro"))
        }
        ledger("l_orderkey")
          .unionByName(ledger("l_partkey"))
          .unionByName(ledger("l_suppkey"))
          .orderBy("key_col")
      },
      Some {
        def one(k: String) =
          s"""SELECT '$k' AS key_col, n_keys, n_rows, max_f, p99_f,
          |  (n_rows * 1000000) // n_keys AS mean_micro,
          |  (max_f * 1000000 * n_keys) // n_rows AS skew_ratio_micro
          |FROM (SELECT CAST(count(*) AS BIGINT) AS n_keys,
          |    CAST(sum(f) AS BIGINT) AS n_rows,
          |    CAST(max(f) AS BIGINT) AS max_f
          |  FROM (SELECT $k, count(*) AS f FROM lineitem GROUP BY 1)),
          |  (SELECT CAST(min(f) AS BIGINT) AS p99_f FROM (
          |    SELECT f, sum(nk) OVER (ORDER BY f ROWS UNBOUNDED
          |      PRECEDING) AS ck,
          |      (SELECT count(*) FROM (SELECT $k, count(*) AS f
          |        FROM lineitem GROUP BY 1)) AS n_keys
          |    FROM (SELECT f, count(*) AS nk FROM (SELECT $k,
          |        count(*) AS f FROM lineitem GROUP BY 1) GROUP BY 1))
          |  WHERE ck * 100 >= n_keys * 99)""".stripMargin
        s"""SELECT * FROM (${one("l_orderkey")}
        |UNION ALL ${one("l_partkey")}
        |UNION ALL ${one("l_suppkey")})
        |ORDER BY key_col""".stripMargin
      }),

    // ---- q442: mutual-information feature ranking -------------------------
    // Which cheap features PREDICT the label (the feature-selection
    // gate before training a router/quality model), in EXACT
    // micro-nats: MI(label; feature) = H(label) − H(label | feature),
    // where every entropy term is Σ c·ln(ratio) with ratio ≥ 1 by
    // construction — H(label) = (1/N)·Σ c_l·ln(N/c_l), H(label|F) =
    // (1/N)·Σ_{b,l} c_bl·ln(c_b/c_bl) — so the FixedPoint table log
    // applies directly with no sign split and the division by N
    // floors once at the end. Features: source, a 200-char length
    // bucket, and doc_id parity (a known-useless control that must
    // rank last); label: lang. One aggregation per feature, O(cells)
    // frames after it.
    QueryDef("q442_mutual_information",
      (s, d) => Checkpoints.scoped { pin =>
        val docs = pin(documents(s, d)
          .select(col("lang").as("y"), col("source").as("f_source"),
            expr("(n_chars div 200) * 200").cast("string").as("f_lenb"),
            (col("doc_id") % 2).cast("string").as("f_parity")))
        val tot = broadcast(docs.agg(count(lit(1)).as("nn")))
        val hy = broadcast(docs.groupBy("y").agg(count(lit(1)).as("cl"))
          .crossJoin(tot)
          .agg(sum(expr("cl * " +
            FixedPoint.sparkLnMicroFp20(
              FixedPoint.sparkRatioFp20("(nn - cl)", "cl"))))
            .as("hs"))
          .crossJoin(tot)
          .select(expr("hs div nn").as("h_label_micro")))
        def condH(fcol: String): DataFrame = {
          val cbl = docs.groupBy(col(fcol).as("b"), col("y"))
            .agg(count(lit(1)).as("cbl"))
          val cb = cbl.groupBy("b").agg(sum("cbl").as("cb"))
          cbl.join(cb, Seq("b")).crossJoin(tot)
            .agg(sum(expr("cbl * " +
              FixedPoint.sparkLnMicroFp20(
                FixedPoint.sparkRatioFp20("(cb - cbl)", "cbl"))))
              .as("hs"))
            .crossJoin(tot)
            .select(lit(fcol).as("feature"),
              expr("hs div nn").as("h_cond_micro"))
        }
        condH("f_source").unionByName(condH("f_lenb"))
          .unionByName(condH("f_parity"))
          .crossJoin(hy)
          .select(col("feature"), col("h_label_micro"),
            col("h_cond_micro"),
            (col("h_label_micro") - col("h_cond_micro")).as("mi_micro"))
          .orderBy("feature")
      },
      Some {
        def ln(n: String, dn: String) = FixedPoint.duckLnMicroFp20(
          FixedPoint.duckRatioFp20(n, dn))
        s"""WITH docs AS (SELECT lang AS y, source AS f_source,
        |    CAST((n_chars // 200) * 200 AS VARCHAR) AS f_lenb,
        |    CAST(doc_id % 2 AS VARCHAR) AS f_parity FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
        |hy AS (SELECT CAST(sum(cl * (${ln("(nn - cl)", "cl")}))
        |      AS BIGINT) // max(nn) AS h_label_micro
        |  FROM (SELECT y, CAST(count(*) AS BIGINT) AS cl FROM docs
        |    GROUP BY 1), tot),
        |hc AS (
        |  SELECT feature, CAST(sum(cbl * (${ln("(cb - cbl)", "cbl")}))
        |      AS BIGINT) // max(nn) AS h_cond_micro
        |  FROM (
        |    SELECT 'f_source' AS feature, f_source AS b, y,
        |      CAST(count(*) AS BIGINT) AS cbl FROM docs GROUP BY 1,2,3
        |    UNION ALL
        |    SELECT 'f_lenb', f_lenb, y, count(*) FROM docs GROUP BY 1,2,3
        |    UNION ALL
        |    SELECT 'f_parity', f_parity, y, count(*) FROM docs
        |    GROUP BY 1,2,3) c
        |  JOIN (
        |    SELECT feature AS f2, b AS b2, CAST(sum(cbl2) AS BIGINT)
        |        AS cb FROM (
        |      SELECT 'f_source' AS feature, f_source AS b, y,
        |        count(*) AS cbl2 FROM docs GROUP BY 1,2,3
        |      UNION ALL
        |      SELECT 'f_lenb', f_lenb, y, count(*) FROM docs GROUP BY 1,2,3
        |      UNION ALL
        |      SELECT 'f_parity', f_parity, y, count(*) FROM docs
        |      GROUP BY 1,2,3) GROUP BY 1, 2) g
        |    ON g.f2 = c.feature AND g.b2 = c.b, tot
        |  GROUP BY feature)
        |SELECT feature, h_label_micro, h_cond_micro,
        |  h_label_micro - h_cond_micro AS mi_micro
        |FROM hc, hy ORDER BY feature""".stripMargin
      }))
}
