package graft.queries

import graft.Tables._
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Round-7 thirty-ninth batch: the one-pass multi-pattern scan.
  */
object QueriesRound7am {

  // Deliberately adversarial pattern set for the automaton: nested
  // ("able"⊂"table", "park"⊂"spark", "art"⊂"part", "can"⊂"scan",
  // "rea"⊂"stream"), cross-word phrases (matches must see spaces),
  // shared prefixes ("quer"/"query"), and two that never occur.
  private val pats: Seq[String] = Seq(
    "table", "able", "part", "art", "spark", "park", "scan", "can",
    "stream", "rea", "query", "quer", "row scan", "merge batch",
    "value table", "windowpane", "zzz")

  val defs: Seq[QueryDef] = Seq(

    // ---- q415: multi-pattern scan (Aho–Corasick blocklist) --------------
    // The at-scale form of the q193 blocklist gate: N fixed patterns
    // found in ONE pass over the text via the new `graft_multi_contains`
    // codegen Expression (functions/MultiPattern.scala) — the pattern
    // set compiles into a byte-level Aho–Corasick DFA shipped to
    // executors as a plan reference object, so the scan costs
    // O(bytes), not O(bytes × patterns), and nested/overlapping
    // patterns all surface through the output-closure links. The
    // ORACLE is an independent computation path: per-pattern
    // `contains` over the doc×pattern cross (bounded by the pattern
    // count), so the automaton's goto/fail/output construction is
    // hash-verified against the naive semantics it must equal.
    QueryDef("q415_multi_pattern_scan",
      (s, d) => {
        documents(s, d)
          .select(col("doc_id"),
            explode(GraftFunctions.multiContains(col("text"), pats))
              .as("pat_id"))
          .select(col("doc_id"), col("pat_id"),
            element_at(array(pats.map(lit): _*),
              col("pat_id").cast("int")).as("pattern"))
          .orderBy("doc_id", "pat_id")
      },
      Some {
        val values = pats.zipWithIndex
          .map { case (p, i) => s"(${i + 1}, '${p}')" }.mkString(", ")
        s"""SELECT d.doc_id, CAST(p.pat_id AS BIGINT) AS pat_id, p.pattern
        |FROM documents d
        |JOIN (VALUES $values) p(pat_id, pattern)
        |  ON contains(d.text, p.pattern)
        |ORDER BY doc_id, pat_id""".stripMargin
      }))
}
