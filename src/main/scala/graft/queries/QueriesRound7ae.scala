package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Sampling}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-7 thirty-first batch: deterministic random-walk corpus
  * generation, the exact-integer Gini decision stump, and the
  * cross-format fidelity matrix.
  */
object QueriesRound7ae {

  val defs: Seq[QueryDef] = Seq(

    // ---- q401: deterministic random-walk corpus (DeepWalk prep) ---------
    // The graph-embedding data-prep step (Perozzi et al. DeepWalk,
    // node2vec): walks over the co-purchase part graph, 4 walks × 6
    // steps per seed, the "random" transition at each step being
    // nbrs[md5(seed, walk, step, cur) % degree] over the node's SORTED
    // neighbor array — fully deterministic, so both engines and any
    // partitioning generate the identical corpus. The neighbor-array
    // frame is built once (DEGREE-CAPPED at the 64 smallest neighbors
    // — a power-law hub can't put its whole adjacency in one row; the
    // oracle mirrors the cap and q424 audits the trim) and the
    // 6 steps are 6 keyed joins against it — at 100 TB this is
    // walks×steps join work, never a per-step global sort. Output:
    // per (seed, walk) the final node and a position-weighted path
    // checksum so engines must agree on EVERY step, not just the end.
    QueryDef("q401_random_walks",
      (s, d) => Checkpoints.scoped { pin =>
        val li = lineitem(s, d).select("l_orderkey", "l_partkey")
        val e = li.withColumnRenamed("l_partkey", "src")
          .join(li.withColumnRenamed("l_partkey", "dst"), "l_orderkey")
          .where(col("src") =!= col("dst"))
          .select(col("src").cast("long").as("src"),
            col("dst").cast("long").as("dst")).distinct()
        // Degree cap (the lshCandidatePairs maxBucket discipline): keep
        // only the 64 SMALLEST neighbors per node — deterministic, the
        // oracle mirrors it, every node stays present so no walk is
        // dropped, and a power-law hub at web scale can't put its whole
        // adjacency in one row. The cap is DEGREE-SPLIT: nodes at or
        // under the cap skip straight to the (bounded-buffer) list agg;
        // only the hub slice pays a row_number sort — on a power-law
        // graph that slice is a vanishing fraction of E, so the cap
        // never costs a global edge sort. q424 audits the trim.
        val deg = e.groupBy("src").agg(count(lit(1)).as("__deg"))
        val ed = pin(e.join(deg, Seq("src")))
        val capped = ed.where(col("__deg") <= 64).select("src", "dst")
          .unionByName(ed.where(col("__deg") > 64)
            .withColumn("__rn",
              row_number().over(org.apache.spark.sql.expressions.Window
                .partitionBy("src").orderBy("dst")))
            .where(col("__rn") <= 64).select("src", "dst"))
        // consumed once per step
        val nbrs = pin(capped.groupBy("src")
          .agg(sort_array(collect_list("dst")).as("nb")))
        var walk = nbrs.where(col("src") % 25 === 0)
          .select(col("src").as("seed"),
            explode(sequence(lit(0), lit(3))).as("w"))
          .select(col("seed"), col("w"), col("seed").as("cur"),
            col("seed").as("ck"))
        for (t <- 1 to 6) {
          walk = walk
            .join(nbrs.withColumnRenamed("src", "cur"), Seq("cur"))
            .select(col("seed"), col("w"),
              element_at(col("nb"),
                (Sampling.hashLong(concat_ws("#",
                  col("seed").cast("string"), col("w").cast("string"),
                  lit(t.toString), col("cur").cast("string")))
                  % size(col("nb")) + 1).cast("int")).as("cur"),
              col("ck"))
            .select(col("seed"), col("w"), col("cur"),
              (col("ck") + col("cur") * (t + 1)).as("ck"))
        }
        walk.select(col("seed"), col("w"), col("cur").as("final_node"),
          col("ck").as("path_checksum"))
          .orderBy("seed", "w")
      },
      Some {
        def h(t: Int) = DuckSql.hashLong(
          "CAST(seed AS VARCHAR) || '#' || CAST(w AS VARCHAR) || '#' ||" +
            s" '$t' || '#' || CAST(cur AS VARCHAR)")
        val steps = (1 to 6).map { t =>
          s"""w$t AS (SELECT seed, w,
             |    nb[CAST((${h(t)}) % len(nb) + 1 AS INTEGER)] AS cur,
             |    ck + nb[CAST((${h(t)}) % len(nb) + 1 AS INTEGER)]
             |      * ${t + 1} AS ck
             |  FROM w${t - 1} JOIN nbrs ON nbrs.src = w${t - 1}.cur)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src,
        |    b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey != b.l_partkey),
        |nbrs AS (SELECT src, list_sort(list(dst))[1:64] AS nb
        |  FROM e GROUP BY 1),
        |w0 AS (SELECT src AS seed, w, src AS cur, src AS ck
        |  FROM nbrs, (SELECT unnest(generate_series(0, 3)) AS w)
        |  WHERE src % 25 = 0),
        |$steps
        |SELECT seed, w, CAST(cur AS BIGINT) AS final_node,
        |  CAST(ck AS BIGINT) AS path_checksum
        |FROM w6 ORDER BY seed, w""".stripMargin
      }),

    // ---- q402: exact-integer Gini decision stump ------------------------
    // The AutoML primitive under every tree learner: the best single
    // threshold on n_chars for predicting lang = 'en', chosen by
    // minimum weighted Gini impurity — equivalently maximum purity
    // score (pL²+qL²)·10⁶ div nL + (pR²+qR²)·10⁶ div nR, micro-scaled
    // floor division so both engines fold the identical integers.
    // Candidate thresholds are the distinct feature values; left
    // counts come from ONE running-count pass over the value
    // histogram (the q182 machinery — never a per-candidate rescan);
    // the winner falls out of a numeric max key with smallest-
    // threshold tie-break. Output: the chosen stump and its confusion
    // counts.
    QueryDef("q402_gini_stump",
      (s, d) => {
        val pts = documents(s, d).select(col("n_chars").as("x"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        val tot = broadcast(pts.agg(count(lit(1)).as("n"),
          sum("y").as("p")))
        val hist = pts.groupBy("x")
          .agg(count(lit(1)).as("c"), sum("y").as("pc"))
        val wCum = org.apache.spark.sql.expressions.Window
          .orderBy("x").rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val cand = hist
          .withColumn("nl", sum("c").over(wCum))
          .withColumn("pl", sum("pc").over(wCum))
          .crossJoin(tot)
          .where(col("nl") < col("n")) // a split must leave a right side
          .select(col("x"), col("nl"), col("pl"),
            (col("n") - col("nl")).as("nr"),
            (col("p") - col("pl")).as("pr"))
          // greatest() guards only rows the nl < n filter later drops
          // (ANSI div-by-zero fires during codegen even on them);
          // surviving rows divide by the true nl/nr ≥ 1, so the
          // oracle's unguarded mirror is value-identical
          .withColumn("score", expr(
            "((pl * pl + (nl - pl) * (nl - pl)) * 1000000)" +
              " div greatest(nl, 1) + " +
              "((pr * pr + (nr - pr) * (nr - pr)) * 1000000)" +
              " div greatest(nr, 1)"))
        val best = broadcast(cand.agg(
          max(col("score") * 1048576L + (lit(1048575L) - col("x")))
            .as("bk")))
        cand.crossJoin(best)
          .where(col("score") * 1048576L + (lit(1048575L) - col("x"))
            === col("bk"))
          .select(col("x").as("threshold"), col("nl"), col("pl"),
            col("nr"), col("pr"), col("score").as("purity_micro"))
      },
      Some("""WITH pts AS (SELECT n_chars AS x,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |tot AS (SELECT count(*) AS n, sum(y) AS p FROM pts),
        |hist AS (SELECT x, count(*) AS c, sum(y) AS pc
        |  FROM pts GROUP BY 1),
        |cum AS (SELECT x, sum(c) OVER w AS nl, sum(pc) OVER w AS pl
        |  FROM hist WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
        |cand AS (SELECT x, nl, pl, n - nl AS nr, p - pl AS pr,
        |    ((pl * pl + (nl - pl) * (nl - pl)) * 1000000) // nl +
        |    (((p - pl) * (p - pl) + ((n - nl) - (p - pl))
        |      * ((n - nl) - (p - pl))) * 1000000) // (n - nl) AS score
        |  FROM cum, tot WHERE nl < n),
        |best AS (SELECT max(score * 1048576 + (1048575 - x)) AS bk
        |  FROM cand)
        |SELECT CAST(x AS BIGINT) AS threshold, CAST(nl AS BIGINT) AS nl,
        |  CAST(pl AS BIGINT) AS pl, CAST(nr AS BIGINT) AS nr,
        |  CAST(pr AS BIGINT) AS pr,
        |  CAST(score AS BIGINT) AS purity_micro
        |FROM cand, best
        |WHERE score * 1048576 + (1048575 - x) = bk""".stripMargin)),

    // ---- q403: cross-format fidelity matrix -----------------------------
    // Every sink round-trip in one self-proving ledger: the safe
    // column subset of orders (ints + strings — nothing whose textual
    // form is lossy) written to parquet/orc/json/csv scratch and read
    // back, each compared to the source by the q360 order-independent
    // fingerprint (count + bit_xor + decimal sum of row hashes). The
    // `match` column IS the claim "this format preserves the data";
    // the oracle pins the row counts and the all-true column. Scratch
    // is app-id-keyed (concurrent sessions never race).
    QueryDef("q403_format_fidelity",
      (s, d) => {
        val src = orders(s, d).select(col("o_orderkey"),
          col("o_orderstatus"), col("o_orderpriority"))
        def fp(df: DataFrame) = df.select(
            Sampling.hashLong(concat_ws("|",
              col("o_orderkey").cast("string"), col("o_orderstatus"),
              col("o_orderpriority"))).as("__h"))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(__h)").as("fx"),
            expr("cast(sum(cast(__h as decimal(38,0))) as string)")
              .as("fs"))
        val base = broadcast(fp(src).select(col("n_rows").as("bn"),
          col("fx").as("bx"), col("fs").as("bs")))
        val dir = Scratch.dir(s, d)
        val rows = Seq("parquet", "orc", "json", "csv").map { f =>
          val path = s"$dir/q403_$f"
          val w = src.write.mode("overwrite").format(f)
          (if (f == "csv") w.option("header", "true") else w).save(path)
          val r = s.read.format(f)
          val back = (if (f == "csv") r.option("header", "true") else r)
            .schema(src.schema).load(path)
          fp(back).select(lit(f).as("format"), col("n_rows"),
            col("fx"), col("fs"))
        }
        rows.reduce(_ unionByName _)
          .crossJoin(base)
          .select(col("format"), col("n_rows"),
            (col("n_rows") === col("bn") && col("fx") === col("bx") &&
              col("fs") === col("bs")).as("match"))
          .orderBy("format")
      },
      Some("""SELECT format, CAST(count(*) AS BIGINT) AS n_rows,
        |  true AS "match"
        |FROM orders, (SELECT unnest(['csv', 'json', 'orc', 'parquet'])
        |  AS format)
        |GROUP BY 1 ORDER BY 1""".stripMargin)))
}
