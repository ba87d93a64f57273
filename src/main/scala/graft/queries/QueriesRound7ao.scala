package graft.queries

import graft.Tables._
import org.apache.spark.sql.functions._

/** Round-7 forty-first batch: the blocklist-fusion optimizer rule
  * exercised through a naively-written contains-OR gate.
  */
object QueriesRound7ao {

  val defs: Seq[QueryDef] = Seq(

    // ---- q418: fused blocklist gate (optimizer-rule path) ---------------
    // Written the way a user writes it: a plain OR-chain of
    // `contains(text, term)` — and executed the way the engine should
    // run it: plans/FuseMultiContains rewrites the disjunction into
    // ONE Aho–Corasick pass (`size(graft_multi_contains(..)) > 0`)
    // during optimization, so the per-term scans never happen. The
    // plan assertion lives in Round7aoSpec; the ORACLE runs the
    // original OR-chain semantics in DuckDB, so the rewrite is
    // hash-verified equivalent. Survivor tally per (source, lang) —
    // the q94-style quality-gate readout.
    QueryDef("q418_fused_blocklist",
      (s, d) => {
        val terms = Seq("merge batch", "row scan", "windowpane",
          "slow filter", "big vector", "stream sort")
        val gate = terms.map(col("text").contains(_)).reduce(_ || _)
        documents(s, d).where(gate)
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_hit"))
          .orderBy("source", "lang")
      },
      Some {
        val terms = Seq("merge batch", "row scan", "windowpane",
          "slow filter", "big vector", "stream sort")
        val gate = terms.map(t => s"contains(text, '$t')").mkString(" OR ")
        s"""SELECT source, lang, CAST(count(*) AS BIGINT) AS n_hit
        |FROM documents WHERE $gate
        |GROUP BY 1, 2 ORDER BY source, lang""".stripMargin
      }))
}
