package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup}
import org.apache.spark.sql.functions._

/** Round-9 ninth batch: incremental connected components — cluster
  * maintenance without re-clustering the corpus.
  */
object QueriesRound9i {

  val defs: Seq[QueryDef] = Seq(

    // ---- q509: incremental connected components (quotient merge) ----------
    // The dup-cluster MAINTENANCE operator: when a crawl batch adds
    // documents (and match edges touching them), re-running CC over
    // the full edge set is an O(|E_all|) job every batch. The
    // incremental form runs CC once over the OLD edges, then
    // contracts: new edges map their endpoints through the old labels
    // (quotient graph — O(new edges) rows), CC runs on THAT, and the
    // final label is the composition. Because each operator labels a
    // component by its MIN id and every representative is <= its
    // members, the composed label is the GLOBAL component min — i.e.
    // bit-identical to full CC, proven here by hash: the oracle
    // computes full recursive-CTE CC over E_all, the engine computes
    // old + quotient + compose. Edges are synthesized chains/bridges
    // (i→i+3 on i%7, i→i+30 on i%11) so components merge across the
    // old/new doc boundary (new docs = doc_id % 5 == 0).
    QueryDef("q509_incremental_cc",
      (s, d) => Checkpoints.scoped { pin =>
        val ids = documents(s, d).select(col("doc_id"))
        val eAll = pin(ids.as("a").join(ids.as("b"),
            col("b.doc_id") === col("a.doc_id") + 3 &&
              col("a.doc_id") % 7 === 0)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .unionByName(ids.as("a").join(ids.as("b"),
              col("b.doc_id") === col("a.doc_id") + 30 &&
                col("a.doc_id") % 11 === 0)
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))))
        val isNew = (c: org.apache.spark.sql.Column) => c % 5 === 0
        val eOld = eAll.where(!isNew(col("id_a")) && !isNew(col("id_b")))
        val eNew = eAll.where(isNew(col("id_a")) || isNew(col("id_b")))
        // step 1: CC over the old edges only
        // both labelings are materialized, and the result reads them
        val lab1 = Dedup.duplicateGroups(eOld)
        // step 2: quotient — new edges through old representatives
        // (endpoints outside the old labeling represent themselves)
        def rep(side: String) = eNew
          .join(lab1.select(col("id").as(side),
            col("group_id").as(s"__r$side")), Seq(side), "left")
        val quotient = rep("id_a")
          .join(lab1.select(col("id").as("id_b"),
            col("group_id").as("__rid_b")), Seq("id_b"), "left")
          .select(coalesce(col("__rid_a"), col("id_a")).as("id_a"),
            coalesce(col("__rid_b"), col("id_b")).as("id_b"))
          .where(col("id_a") =!= col("id_b"))
        val lab2 = Dedup.duplicateGroups(quotient)
        // step 3: compose — old members re-map via their rep's new
        // label; quotient nodes (reps + raw new ids) take lab2
        val composed = lab1
          .join(lab2.select(col("id").as("group_id"),
            col("group_id").as("__g2")), Seq("group_id"), "left")
          .select(col("id"), coalesce(col("__g2"), col("group_id"))
            .as("group_id"))
        val newNodes = lab2.select(col("id"), col("group_id"))
          .join(lab1.select(col("id")), Seq("id"), "left_anti")
        composed.unionByName(newNodes)
          .orderBy("id")
      },
      Some(s"""WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ids a
        |  JOIN ids b ON b.doc_id = a.doc_id + 3 WHERE a.doc_id % 7 = 0
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id FROM ids a
        |  JOIN ids b ON b.doc_id = a.doc_id + 30 WHERE a.doc_id % 11 = 0),
        |${DuckSql.ccGroupCtes}
        |SELECT id, group_id FROM grp ORDER BY id""".stripMargin))
  )
}
