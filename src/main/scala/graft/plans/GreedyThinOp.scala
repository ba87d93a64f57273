package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute

/** Public entry for the greedy temporal-thinning operator (see
  * [[GreedyThin]]). Resolves the named columns against the frame,
  * wraps its analyzed plan in the custom logical node, and hands the
  * result back as a DataFrame so it composes with everything else. */
object GreedyThinOp {

  /** Keep, per `keyCols` group in (tsCol, tieCols) order, only rows
    * >= `gapMicros` after the previously KEPT row. `tsCol` must be a
    * timestamp or epoch-micros long; rows with null ts/keys must be
    * filtered upstream. */
  def thin(df: DataFrame, keyCols: Seq[String], tsCol: String,
           tieCols: Seq[String], gapMicros: Long): DataFrame = {
    require(gapMicros > 0, "greedyThin needs a positive gap")
    thinWith(df, keyCols, tsCol, tieCols,
      org.apache.spark.sql.catalyst.expressions.Literal(gapMicros,
        org.apache.spark.sql.types.LongType))
  }

  /** Per-key ADAPTIVE gap: `gapCol` is an epoch-micros long column
    * (typically joined in from a policy dimension — "news domains
    * every 6 h, archives every 30 d"), evaluated on each candidate
    * row. Rows with a null/non-positive gap must be filtered
    * upstream, like null keys/ts. */
  def thinAdaptive(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   tieCols: Seq[String], gapCol: String): DataFrame = {
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    val resolver = spark.sessionState.conf.resolver
    val g = child.output.find(a => resolver(a.name, gapCol)).getOrElse(
      throw new IllegalArgumentException(s"greedyThin: no column '$gapCol'"))
    thinWith(df, keyCols, tsCol, tieCols, g)
  }

  private def thinWith(df: DataFrame, keyCols: Seq[String], tsCol: String,
                       tieCols: Seq[String],
                       gap: org.apache.spark.sql.catalyst.expressions.Expression): DataFrame = {
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    val resolver = spark.sessionState.conf.resolver
    def attr(n: String): Attribute =
      child.output.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(
          s"greedyThin: no column '$n' in [${child.output.map(_.name).mkString(", ")}]"))
    org.apache.spark.sql.graftglue.GraftPlanApi.ofRows(spark,
      GreedyThin(keyCols.map(attr), attr(tsCol), tieCols.map(attr),
        gap, child))
  }
}
