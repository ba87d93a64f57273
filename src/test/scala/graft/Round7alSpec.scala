package graft

import org.apache.spark.sql.functions._

/** Round-7al pin: the streaming KMV sketch equals its batch twin and
  * obeys the small-regime exactness law. */
class Round7alSpec extends SparkSpec {

  test("streaming: q414 KMV sketch matches the batch twin row-for-row") {
    val batch = Tables.documents(spark, sf)
      .select(col("lang"),
        explode(graft.ops.Text.tokens(col("text"))).as("tok"))
      .select(col("lang"), graft.ops.Sampling.hashLong(col("tok")).as("h"))
      .dropDuplicates("lang", "h")
      .groupBy("lang")
      .agg(expr("graft_kmv_distinct(h, 256, 32)").as("kmv"),
        count(lit(1)).as("exact"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val stream = graft.queries.Registry.byName("q414_streaming_kmv")
      .fn(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stream == batch && stream.nonEmpty)
    // small-regime law: under 256 distinct hashes the sketch IS exact
    stream.values.foreach { case (kmv, exact) =>
      if (exact < 256) assert(kmv == exact, "small-regime KMV must be exact")
    }
  }
}
