package graft.queries

import graft.Tables._
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Round-9 sixth batch: the bounded top-k aggregate maintained by a
  * STREAM — the leaderboard that never re-scans its history.
  */
object QueriesRound9f {

  val defs: Seq[QueryDef] = Seq(

    // ---- q504: STREAMING top-k maintenance (lane #29) -----------------------
    // q502's `graft_topk` run as a streaming aggregation: the state
    // store holds O(k) pairs per source (TypedImperativeAggregate
    // merge = bounded set union, so micro-batch order cannot change
    // the result — the same merge-law argument as the q414 KMV and
    // q467 HLL lanes), and the per-source leaderboard stays current
    // without ever re-scanning history. Hash-matched to the SAME
    // window-replay oracle as the batch lane: stream ≡ batch ≡
    // row_number()<=k, all under one gate.
    QueryDef("q504_streaming_topk",
      (s, d) => {
        val batch = documents(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, batch.schema,
            globFilter = Some("documents.parquet"),
            shufflePartitions = Some(4),
            transform = st => st
              .groupBy("source")
              .agg(GraftFunctions.topK(col("n_chars"), col("doc_id"), 5)
                .as("top")))
          .select(col("source"), posexplode(col("top")).as(Seq("r0", "t")))
          .select(col("source"), (col("r0") + 1).cast("long").as("rank"),
            col("t.key").as("n_chars"), col("t.id").as("doc_id"))
          .orderBy("source", "rank")
      },
      Some("""SELECT source, CAST(rn AS BIGINT) AS rank, n_chars, doc_id
        |FROM (SELECT source, n_chars, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, rank""".stripMargin))
  )
}
