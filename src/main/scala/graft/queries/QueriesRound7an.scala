package graft.queries

import graft.Tables._
import graft.functions.GraftFunctions
import graft.ops.Text
import org.apache.spark.sql.functions._

/** Round-7 fortieth batch: boundary-overlap stitching detection and
  * the multi-pattern scan running at ingest.
  */
object QueriesRound7an {

  val defs: Seq[QueryDef] = Seq(

    // ---- q416: boundary-overlap stitching (pagination dedup) ------------
    // The crawl-cleanup case exact/fuzzy dedup both miss: page B
    // STARTS with the tokens page A ENDS with (pagination overlap,
    // "next page" stitching, feed windows). Candidate pairs come from
    // ONE boundary-keyed equi-join — each doc contributes its head
    // 2-token shingle and its tail 2-token shingle, and tails join
    // heads on the shingle STRING — never doc×doc. The segmentDedup
    // cap discipline guards the degenerate boundary ("the the" at web
    // scale): shingles occurring >64 times on either side are dropped
    // BEFORE the join (a frequency agg on the boundary frame, exactly
    // reproducible in the oracle), so one viral boundary cannot
    // quadratic-blow the pair frame. Output: (a_doc, b_doc, boundary)
    // ordered pairs of distinct docs.
    QueryDef("q416_overlap_stitching",
      (s, d) => {
        val tk = documents(s, d)
          .select(col("doc_id"), Text.tokens(col("text")).as("t"))
          .where(size(col("t")) >= 2)
        val heads = tk.select(col("doc_id").as("b_doc"),
          concat_ws(" ", slice(col("t"), 1, 2)).as("boundary"))
        val tails = tk.select(col("doc_id").as("a_doc"),
          concat_ws(" ", slice(col("t"), -2, 2)).as("boundary"))
        val okHead = heads.groupBy("boundary")
          .agg(count(lit(1)).as("__c")).where(col("__c") <= 64)
          .select("boundary")
        val okTail = tails.groupBy("boundary")
          .agg(count(lit(1)).as("__c")).where(col("__c") <= 64)
          .select("boundary")
        tails.join(okTail, Seq("boundary"))
          .join(heads.join(okHead, Seq("boundary")), Seq("boundary"))
          .where(col("a_doc") =!= col("b_doc"))
          .select(col("a_doc"), col("b_doc"), col("boundary"))
          .orderBy("a_doc", "b_doc")
      },
      Some {
        val t = DuckSql.toks("text")
        s"""WITH tk AS (SELECT doc_id, $t AS t FROM documents
        |  WHERE len($t) >= 2),
        |heads AS (SELECT doc_id AS b_doc,
        |    array_to_string(t[1:2], ' ') AS boundary FROM tk),
        |tails AS (SELECT doc_id AS a_doc,
        |    array_to_string(t[-2:], ' ') AS boundary FROM tk),
        |okh AS (SELECT boundary FROM heads GROUP BY 1
        |  HAVING count(*) <= 64),
        |okt AS (SELECT boundary FROM tails GROUP BY 1
        |  HAVING count(*) <= 64)
        |SELECT a_doc, b_doc, boundary
        |FROM tails JOIN okt USING (boundary)
        |JOIN heads USING (boundary) JOIN okh USING (boundary)
        |WHERE a_doc != b_doc
        |ORDER BY a_doc, b_doc""".stripMargin
      }),

    // ---- q417: STREAMING multi-pattern scan -----------------------------
    // Streaming lane #18, and the q284 discipline applied to the NEW
    // expression: `graft_multi_contains` compiles its Aho–Corasick
    // DFA at plan time and that plan runs inside a genuine readStream
    // micro-batch pipeline — per-pattern hit tallies over the
    // document stream, the "blocklist counters at ingest" shape. The
    // batch oracle recomputes the tallies via per-pattern `contains`,
    // so both the automaton AND its streaming execution sit under the
    // hash gate.
    QueryDef("q417_streaming_blocklist",
      (s, d) => {
        val pats = Seq("table", "able", "spark", "park", "row scan",
          "merge batch", "windowpane")
        val batch = documents(s, d)
        graft.streaming.Sessions.runStreamToBatch(s, d, batch.schema,
            globFilter = Some("documents.parquet"),
            transform = st => st
              .select(explode(GraftFunctions.multiContains(col("text"), pats))
                .as("pat_id"))
              .groupBy("pat_id")
              .agg(count(lit(1)).as("n_docs")))
          .select(col("pat_id"),
            element_at(array(pats.map(lit): _*),
              col("pat_id").cast("int")).as("pattern"),
            col("n_docs"))
          .orderBy("pat_id")
      },
      Some {
        val pats = Seq("table", "able", "spark", "park", "row scan",
          "merge batch", "windowpane")
        val values = pats.zipWithIndex
          .map { case (p, i) => s"(${i + 1}, '${p}')" }.mkString(", ")
        s"""SELECT CAST(p.pat_id AS BIGINT) AS pat_id, p.pattern,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents d
        |JOIN (VALUES $values) p(pat_id, pattern)
        |  ON contains(d.text, p.pattern)
        |GROUP BY 1, 2 ORDER BY pat_id""".stripMargin
      }))
}
