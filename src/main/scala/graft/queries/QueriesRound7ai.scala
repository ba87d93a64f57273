package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Relational}
import org.apache.spark.sql.functions._

/** Round-7 thirty-fifth batch: the learned-index error readout. */
object QueriesRound7ai {

  val defs: Seq[QueryDef] = Seq(

    // ---- q410: learned-index segment fit + max-error bound --------------
    // The RMI/learned-index idea (Kraska et al.) as a measurable
    // artifact: model key → sorted position with 16 per-range linear
    // segments and report each segment's MAX position error — the
    // number that sizes the lookup's binary-search window (the whole
    // point of a learned index). Positions come from the two-level
    // rank (never a single-partition window over the key space);
    // per-segment OLS uses exact decimal sums cast to double at the
    // boundary (the q155 discipline — order-free, engine-identical);
    // the 16 fitted models broadcast back for the error pass. A
    // segment's max_err vs its key count is the build/probe tradeoff
    // read straight off the data.
    QueryDef("q410_learned_index",
      (s, d) => Checkpoints.scoped { pin =>
        val keys = orders(s, d).select(col("o_orderkey").as("k"))
        val ext = broadcast(keys.agg(min("k").as("lo"), max("k").as("hi")))
        // the fit pass and the error pass
        val ranked = pin(Relational.twoLevelRankDesc(
            keys.withColumn("__s", -col("k")), "__s", "k",
            idWidth = 4096L, outCol = "pos")
          .crossJoin(ext)
          .select(col("k"), col("pos"),
            expr("((k - lo) * 16) div (hi - lo + 1)").as("seg")))
        val x = col("k").cast("decimal(18,0)")
        val y = col("pos").cast("decimal(18,0)")
        val fits = broadcast(ranked.groupBy("seg").agg(
            count(lit(1)).cast("double").as("n"),
            sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
            sum(x * x).cast("double").as("sxx"),
            sum(x * y).cast("double").as("sxy"))
          .select(col("seg"), col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")))
              .as("slope"),
            ((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx"))
              / col("n")).as("icept")))
        ranked.join(fits, Seq("seg"))
          .groupBy("seg")
          .agg(count(lit(1)).as("n_keys"),
            round(max("slope"), 6).as("slope"),
            round(max("icept"), 4).as("intercept"),
            round(max(abs(col("pos").cast("double") -
              (col("slope") * col("k").cast("double") + col("icept")))), 4)
              .as("max_err"))
          .orderBy("seg")
      },
      Some("""WITH keys AS (SELECT o_orderkey AS k FROM orders),
        |ext AS (SELECT min(k) AS lo, max(k) AS hi FROM keys),
        |rk AS (SELECT k, row_number() OVER (ORDER BY k) AS pos,
        |    ((k - lo) * 16) // (hi - lo + 1) AS seg FROM keys, ext),
        |fits AS (SELECT seg, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(k AS DECIMAL(18,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(pos AS DECIMAL(18,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(k AS DECIMAL(18,0)) * CAST(k AS DECIMAL(18,0)))
        |      AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(k AS DECIMAL(18,0)) * CAST(pos AS DECIMAL(18,0)))
        |      AS DOUBLE) AS sxy
        |  FROM rk GROUP BY 1),
        |m AS (SELECT seg, n,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |    (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
        |      AS icept
        |  FROM fits)
        |SELECT CAST(rk.seg AS BIGINT) AS seg,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  round(max(m.slope), 6) + 0 AS slope,
        |  round(max(m.icept), 4) + 0 AS intercept,
        |  round(max(abs(CAST(pos AS DOUBLE)
        |    - (m.slope * CAST(k AS DOUBLE) + m.icept))), 4) + 0
        |    AS max_err
        |FROM rk JOIN m ON m.seg = rk.seg
        |GROUP BY rk.seg ORDER BY rk.seg""".stripMargin)))
}
