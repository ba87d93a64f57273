package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chaos coverage for STATEFUL streaming (r9 verdict #4): ChaosSpec
  * pins batch task-kill retry and SourceV2Spec pins checkpoint
  * restart, but neither kills a task MID-MICRO-BATCH inside a
  * stateful streaming aggregation. Here the q467-shape lane (HLL
  * register maintenance: a (source, bucket) max-fold — genuinely
  * stateful, complete-mode) takes an injected task death after the
  * state-store aggregation, inside the same micro-batch; Spark must
  * retry the task (the shared session runs `local[4, 2]`), the state
  * store must serve the retry from its last COMMITTED version (never
  * a torn partial), and the final table must hash-match both a clean
  * streaming run and the straight batch computation.
  */
object StreamChaos {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  val sawRetry = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class StreamingChaosSpec extends SparkSpec {

  // q467's register-maintenance shape: tokens → 64-bucket HLL ranks,
  // max-folded per (source, bucket) — the canonical "maintain the
  // sketch, never re-scan the corpus" stateful aggregation
  private def registers(st: DataFrame): DataFrame = st
    .select(col("source"),
      explode(graft.ops.Text.tokens(col("text"))).as("__t"))
    .select(col("source"), graft.ops.Sampling.hashLong(col("__t")).as("__h"))
    .select(col("source"), expr("__h div 67108864").as("bucket"),
      expr("__h % 67108864").as("__rest"))
    .withColumn("rank", when(col("__rest") === 0, lit(27L))
      .otherwise(lit(27L) - length(bin(col("__rest"))).cast("long")))
    .groupBy("source", "bucket").agg(max("rank").as("m"))

  private def runLane(kill: Boolean): Seq[(String, Long, Long)] = {
    val killer = udf { (m: Long) =>
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() > 0) StreamChaos.sawRetry.set(true)
      if (!StreamChaos.fired.getAndSet(true))
        throw new RuntimeException("chaos: killed mid-micro-batch after the stateful agg")
      m
    }
    val out = graft.streaming.Sessions.runStreamToBatch(spark, sf,
      Tables.documents(spark, sf).schema,
      globFilter = Some("documents.parquet"),
      transform = st => {
        val regs = registers(st)
        // the kill lands AFTER the state-store max-fold, in the same
        // micro-batch's output projection — the retried task must
        // replay against the store's committed version, not a partial
        if (kill) regs.select(col("source"), col("bucket"),
          killer(col("m")).as("m"))
        else regs
      })
    out.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
  }

  test("a task killed mid-micro-batch in a stateful streaming agg stays exactly-once") {
    val batch = registers(Tables.documents(spark, sf)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    StreamChaos.fired.set(true) // clean run: disarm
    val clean = runLane(kill = false)
    StreamChaos.fired.set(false) // arm the kill
    StreamChaos.sawRetry.set(false)
    val chaotic = runLane(kill = true)
    assert(StreamChaos.fired.get, "the chaos kill never fired")
    assert(StreamChaos.sawRetry.get,
      "Spark never re-attempted the killed streaming task")
    assert(clean == batch, "clean streaming run diverged from batch")
    assert(chaotic == batch && batch.nonEmpty,
      "post-chaos state diverged from the batch computation")
  }
}
