package graft

import graft.functions.GraftFunctions
import graft.ops.{Sampling, Sketches}
import graft.queries.Registry
import org.apache.spark.sql.functions._

/** Laws of the HLL TypedImperativeAggregate: partition-count
  * invariance (merge correctness), duplicate invariance, and exact
  * agreement with the relational register pipeline.
  */
class HllSpec extends SparkSpec {

  private def estimate(df: org.apache.spark.sql.DataFrame): Long = {
    df.select(Sampling.hashLong(col("v")).as("__h"))
      .agg(GraftFunctions.hllDistinct(col("__h")))
      .collect().head.getLong(0)
  }

  test("hllDistinct: partition-count and duplicate invariance") {
    import spark.implicits._
    val vals = (1 to 2500).map(i => s"item$i")
    val one = estimate(vals.toDF("v").repartition(1))
    val many = estimate(vals.toDF("v").repartition(13))
    assert(one === many, "merge path changed the estimate")
    val dup = estimate((vals ++ vals ++ vals).toDF("v").repartition(7))
    assert(dup === one, "duplicates moved a max-register sketch")
    // 3 sigma for m=64 is ~39%
    assert(one > 1500 && one < 3500, s"est=$one for true 2500")
  }

  test("hllDistinct agrees exactly with Sketches.hllEstimate") {
    import spark.implicits._
    val df = (1 to 900).map(i => (s"g${i % 3}", s"tok${i % 407}"))
      .toDF("grp", "v").repartition(5)
    val agg = df.select(col("grp"), Sampling.hashLong(col("v")).as("__h"))
      .groupBy("grp").agg(GraftFunctions.hllDistinct(col("__h")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rel = Sketches.hllEstimate(df, "grp", "v")
      .select(col("grp"), col("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg === rel)
  }

  test("out-of-contract input never crashes: values are masked to 32 bits") {
    // graft_hll_distinct is in the SQL registry, so a user can feed it
    // raw longs instead of Sampling.hashLong output — negative or
    // >= 2^32 values must land in a valid register (errors-as-data),
    // and a masked value must behave exactly like its low 32 bits
    import spark.implicits._
    val raw = Seq(-1L, -987654321L, Long.MinValue, Long.MaxValue,
      (1L << 40) + 12345L, 0L, 42L)
    val est = raw.toDF("v").repartition(3)
      .agg(GraftFunctions.hllDistinct(col("v")).as("e"))
      .collect().head.getLong(0)
    val masked = raw.map(_ & 0xFFFFFFFFL).distinct.toDF("v")
      .agg(GraftFunctions.hllDistinct(col("v")).as("e"))
      .collect().head.getLong(0)
    assert(est === masked)
  }

  test("q474 dead-dimension law: exactly the planted dims flag") {
    val out = Registry.byName("q474_dead_dimension_audit").fn(spark, sf)
      .collect()
    val dead = out.filter(_.getAs[Boolean]("dead"))
      .map(_.getAs[Number]("dim").longValue).sorted
    assert(dead === Seq(61L, 62L, 63L, 64L), s"dead=$dead")
  }
}
