package graft.queries

import graft.Tables._
import graft.ops.Sampling
import org.apache.spark.sql.functions._

/** Round-9 fifteenth batch: team-draft interleaving — the online
  * ranker-comparison eval (Radlinski et al., CIKM'08) as a
  * deterministic draft fold.
  */
object QueriesRound9o {

  val defs: Seq[QueryDef] = Seq(

    // ---- q518: team-draft interleaving ---------------------------------------
    // Which ranker wins in front of users, measured the way search
    // teams actually measure it: interleave ranker A (longest-first)
    // and ranker B (newest-first) per source by team-draft — when
    // team sizes are equal a deterministic md5 coin picks who drafts
    // first, otherwise the smaller team drafts its best unpicked
    // candidate — then credit deterministic clicks (doc_id % 3 = 0,
    // the relevance proxy) to the contributing team. The draft is a
    // 10-step sequential fold per source: a column-expression
    // `aggregate` with (picked, teamA, teamB) array state on the
    // Spark side, the SAME recurrence as a recursive CTE on the
    // oracle side — every pick, not just the final tally, feeds the
    // hash via the interleaved-list column. Candidate lists come from
    // `graft_topk` (O(k) state per source), never a corpus sort.
    QueryDef("q518_team_draft_interleave",
      (s, d) => {
        val base = documents(s, d).groupBy("source").agg(
          expr("transform(graft_topk(n_chars, doc_id, 10), t -> t.id)")
            .as("ra"),
          expr("transform(graft_topk(doc_id, doc_id, 10), t -> t.id)")
            .as("rb"))
          .withColumn("coins", array((0 to 4).map(j =>
            Sampling.hashLong(concat(col("source"), lit("#" + j))) % 2): _*))
        val aPicks = "(size(acc.ta) < size(acc.tb) OR (size(acc.ta) = size(acc.tb)" +
          " AND element_at(coins, size(acc.ta) + 1) = 0))"
        val pickA = "element_at(filter(ra, x -> NOT array_contains(acc.picked, x)), 1)"
        val pickB = "element_at(filter(rb, x -> NOT array_contains(acc.picked, x)), 1)"
        val useA = s"(($aPicks AND $pickA IS NOT NULL) OR " +
          s"(NOT $aPicks AND $pickB IS NULL AND $pickA IS NOT NULL))"
        val pk = s"(CASE WHEN $useA THEN $pickA ELSE $pickB END)"
        val drafted = base.withColumn("fin", expr(
          s"""aggregate(sequence(1, 10),
             |  named_struct('picked', CAST(array() AS ARRAY<BIGINT>),
             |    'ta', CAST(array() AS ARRAY<BIGINT>),
             |    'tb', CAST(array() AS ARRAY<BIGINT>)),
             |  (acc, k) -> CASE WHEN $pk IS NULL THEN acc ELSE named_struct(
             |    'picked', concat(acc.picked, array($pk)),
             |    'ta', CASE WHEN $useA THEN concat(acc.ta, array($pk))
             |      ELSE acc.ta END,
             |    'tb', CASE WHEN $useA THEN acc.tb
             |      ELSE concat(acc.tb, array($pk)) END) END)""".stripMargin))
        drafted.select(col("source"),
          concat_ws(",", expr("transform(fin.picked, x -> CAST(x AS STRING))"))
            .as("interleaved"),
          expr("CAST(size(filter(fin.ta, x -> x % 3 = 0)) AS BIGINT)")
            .as("clicks_a"),
          expr("CAST(size(filter(fin.tb, x -> x % 3 = 0)) AS BIGINT)")
            .as("clicks_b"))
          .withColumn("winner",
            when(col("clicks_a") > col("clicks_b"), "A")
              .when(col("clicks_b") > col("clicks_a"), "B")
              .otherwise("tie"))
          .orderBy("source")
      },
      Some {
        val coin = DuckSql.hexLong(
          "md5(source || '#' || CAST(j AS VARCHAR))")
        val aPicks = "(len(w.ta) < len(w.tb) OR (len(w.ta) = len(w.tb)" +
          " AND w.coins[len(w.ta) + 1] = 0))"
        val pickA = "list_filter(w.ra, x -> NOT list_contains(w.picked, x))[1]"
        val pickB = "list_filter(w.rb, x -> NOT list_contains(w.picked, x))[1]"
        val useA = s"(($aPicks AND $pickA IS NOT NULL) OR " +
          s"(NOT $aPicks AND $pickB IS NULL AND $pickA IS NOT NULL))"
        val pk = s"(CASE WHEN $useA THEN $pickA ELSE $pickB END)"
        s"""WITH RECURSIVE ra AS (SELECT source, list(doc_id ORDER BY rn) AS ra
        |  FROM (SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn FROM documents)
        |  WHERE rn <= 10 GROUP BY 1),
        |rb AS (SELECT source, list(doc_id ORDER BY rn) AS rb
        |  FROM (SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id DESC) AS rn FROM documents)
        |  WHERE rn <= 10 GROUP BY 1),
        |base AS (SELECT ra.source, ra.ra, rb.rb,
        |    (SELECT list($coin % 2 ORDER BY j)
        |     FROM (SELECT unnest(generate_series(0, 4)) AS j)) AS coins
        |  FROM ra JOIN rb USING (source)),
        |w AS (
        |  SELECT source, ra, rb, coins, 0 AS k,
        |    CAST([] AS BIGINT[]) AS picked, CAST([] AS BIGINT[]) AS ta,
        |    CAST([] AS BIGINT[]) AS tb
        |  FROM base
        |  UNION ALL
        |  SELECT w.source, w.ra, w.rb, w.coins, w.k + 1,
        |    CASE WHEN $pk IS NULL THEN w.picked
        |      ELSE list_append(w.picked, $pk) END,
        |    CASE WHEN $pk IS NULL OR NOT $useA THEN w.ta
        |      ELSE list_append(w.ta, $pk) END,
        |    CASE WHEN $pk IS NULL OR $useA THEN w.tb
        |      ELSE list_append(w.tb, $pk) END
        |  FROM w WHERE w.k < 10)
        |SELECT source,
        |  array_to_string(picked, ',') AS interleaved,
        |  CAST(len(list_filter(ta, x -> x % 3 = 0)) AS BIGINT) AS clicks_a,
        |  CAST(len(list_filter(tb, x -> x % 3 = 0)) AS BIGINT) AS clicks_b,
        |  CASE WHEN len(list_filter(ta, x -> x % 3 = 0))
        |      > len(list_filter(tb, x -> x % 3 = 0)) THEN 'A'
        |    WHEN len(list_filter(tb, x -> x % 3 = 0))
        |      > len(list_filter(ta, x -> x % 3 = 0)) THEN 'B'
        |    ELSE 'tie' END AS winner
        |FROM w WHERE k = 10 ORDER BY source""".stripMargin
      })
  )
}
