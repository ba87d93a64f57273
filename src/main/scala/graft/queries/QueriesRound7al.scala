package graft.queries

import graft.Tables._
import graft.ops.{Sampling, Text}
import org.apache.spark.sql.functions._

/** Round-7 thirty-eighth batch: the KMV sketch aggregate running in a
  * streaming plan.
  */
object QueriesRound7al {

  val defs: Seq[QueryDef] = Seq(

    // ---- q414: STREAMING KMV distinct sketch ----------------------------
    // Streaming lane #17, and the q284 discipline applied to the
    // custom AGGREGATE: q74's `graft_kmv_distinct`
    // (TypedImperativeAggregate — serialized sketch state merged
    // across partitions AND micro-batches) runs inside a genuine
    // readStream aggregation, estimating per-language distinct token
    // counts at ingest; exact distinct rides alongside from the same
    // stream. Hash-matching the batch oracle proves the sketch's
    // batch/stream identity — merge order cannot change a KMV sketch,
    // and now that claim sits under the gate instead of in prose.
    QueryDef("q414_streaming_kmv",
      (s, d) => {
        val batch = documents(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, batch.schema,
            globFilter = Some("documents.parquet"),
            shufflePartitions = Some(4),
            // streaming aggs can't COUNT(DISTINCT); the stream dedups
            // (lang, h) first — the q119 streaming-dedup stage feeding
            // the sketch — then counts plainly
            transform = st => st
              .select(col("lang"),
                explode(Text.tokens(col("text"))).as("tok"))
              .select(col("lang"), Sampling.hashLong(col("tok")).as("h"))
              .dropDuplicates("lang", "h")
              .groupBy("lang")
              .agg(expr("graft_kmv_distinct(h, 256, 32)").as("kmv_tokens"),
                count(lit(1)).as("exact_hashes")))
          .select(col("lang"), col("kmv_tokens"), col("exact_hashes"))
          .orderBy("lang")
      },
      Some(s"""WITH t AS (SELECT lang,
        |    unnest(${DuckSql.toks("text")}) AS tok FROM documents),
        |dh AS (SELECT DISTINCT lang, ${DuckSql.hashLong("tok")} AS h
        |  FROM t),
        |r AS (SELECT lang, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS nd FROM dh),
        |kmv AS (SELECT lang,
        |    CASE WHEN nd < 256 THEN CAST(nd AS BIGINT)
        |      ELSE CAST(floor(255.0 / (CAST(h AS DOUBLE) / 4294967296.0))
        |        AS BIGINT) END AS kmv_tokens,
        |    CAST(nd AS BIGINT) AS exact_hashes
        |  FROM r WHERE rn = CASE WHEN nd < 256 THEN nd ELSE 256 END)
        |SELECT lang, kmv_tokens, exact_hashes FROM kmv
        |ORDER BY lang""".stripMargin)))
}
