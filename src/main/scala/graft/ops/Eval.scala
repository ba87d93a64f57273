package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation operators for the curation pipeline's learned
  * filters (the q201 linear-probe family): once a quality classifier
  * scores documents, these measure how good the scores are — exactly,
  * so the numbers are reproducible across engines and runs.
  */
object Eval {

  /** Exact ROC AUC in parts-per-million, via the Mann–Whitney
    * rank-sum identity: AUC = P(score⁺ > score⁻) + ½·P(tie). Computed
    * without ranks or floats — one hash-agg to per-distinct-score
    * (n_pos, n_neg) counts, a cumulative window over that O(distinct
    * scores) frame (never over the corpus), then
    *
    *   U2 = Σ_s  2·n_pos(s)·cumneg_below(s) + n_pos(s)·n_neg(s)
    *
    * (pairs won counted twice plus ties counted once), so
    * auc_ppm = U2·10⁶ div (2·P·N) is a single integer division at the
    * end. The corpus shuffles once (the score-count agg is map-side
    * combining); everything after runs on the distinct-score frame.
    * Returns one row: n_pos, n_neg, u2, auc_ppm.
    *
    * Labels are anything boolean; scores any integral column. Ties
    * across classes are handled exactly — the ½ credit is the U2
    * doubling, not a float. */
  def aucPpm(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val byScore = df
      .groupBy(col(scoreCol).cast("long").as("score"))
      .agg(
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("n_neg"))
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cumneg_below",
        coalesce(sum("n_neg").over(w), lit(0L)))
      .agg(
        sum("n_pos").as("n_pos"),
        sum("n_neg").as("n_neg"),
        sum(col("n_pos") * (col("cumneg_below") * 2 + col("n_neg")))
          .as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        expr("(u2 * 1000000L) div (n_pos * n_neg * 2L)").as("auc_ppm"))
  }

  /** Isotonic regression (pool-adjacent-violators) over an ordered
    * bin frame — the monotone calibration fit that turns q308-style
    * reliability bins into a non-decreasing calibration map.
    *
    * Mechanics: each pass dissolves EVERY boundary whose left group
    * mean exceeds its right group mean (compared by cross-multiplied
    * integers, `sp_l·w_r > sp_r·w_l` — no division) and re-pools.
    * Pooling violators in any order reaches the same unique isotonic
    * solution, and each pass with a violation reduces the group count
    * by ≥ 1, so `passes = bins − 1` always reaches the fixed point
    * (EvalSpec pins this against the classic sequential stack PAV on
    * random inputs).
    *
    * Scale shape: the corpus is already reduced to the O(bins) frame
    * before this runs; every window here orders that tiny frame (10
    * rows for decile bins), never the corpus — the passes cost
    * nothing at any corpus size.
    *
    * Input: one row per bin with (binCol, nCol weight, posCol
    * positive count). Output: bin, n, pos, grp (min bin of the pooled
    * group), cal_ppm (pooled rate, floor micro) — non-decreasing in
    * bin by construction. */
  def pavPool(df: DataFrame, binCol: String, nCol: String,
              posCol: String, passes: Int): DataFrame = {
    // a checkpoint per pass (`Checkpoints.iterate`, which frees each
    // superseded pass): `cur` feeds BOTH the group agg and the re-join,
    // so an unmaterialized loop doubles the plan every pass —
    // 2^passes corpus scans (measured: 86 s at sf0.1 for 9 passes over
    // TEN rows). Materializing cuts each pass to two O(bins) jobs and
    // evaluates the upstream corpus aggregation exactly once.
    val (init, bins) = Checkpoints.ckptCount(
      df.select(col(binCol).cast("long").as("bin"),
        col(nCol).cast("long").as("n"), col(posCol).cast("long").as("pos"))
      .withColumn("__g", col("bin")))
    val wo = Window.orderBy("__g")
    val (cur, _) = Checkpoints.iterate(init, bins, passes) { (cur, _) =>
      val mapped = cur.groupBy("__g")
        .agg(sum("n").as("__w"), sum("pos").as("__sp"))
        .withColumn("__pw", lag("__w", 1).over(wo))
        .withColumn("__psp", lag("__sp", 1).over(wo))
        .withColumn("__start", (col("__pw").isNull ||
          !(col("__psp") * col("__w") > col("__sp") * col("__pw")))
          .cast("long"))
        .withColumn("__idx", sum("__start")
          .over(wo.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("__ng", min("__g").over(Window.partitionBy("__idx")))
        .select(col("__g").as("__og"), col("__ng"))
      cur.join(mapped, col("__g") === col("__og"))
        .select(col("bin"), col("n"), col("pos"), col("__ng").as("__g"))
    }
    val pooled = cur.groupBy("__g")
      .agg(sum("n").as("__w"), sum("pos").as("__sp"))
    cur.join(pooled, "__g")
      .select(col("bin"), col("n"), col("pos"), col("__g").as("grp"),
        expr("(__sp * 1000000L) div __w").as("cal_ppm"))
  }
}
