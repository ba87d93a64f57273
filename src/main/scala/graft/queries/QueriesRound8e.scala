package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Graph, Text}
import org.apache.spark.sql.functions._

/** Round-8 fifth batch: stitched-document reassembly (the q416
  * boundary graph driven through the seeded BFS) and the KMV sketch
  * merge law as a self-proving query.
  */
object QueriesRound8e {

  val defs: Seq[QueryDef] = Seq(

    // ---- q439: stitched-document reassembly ------------------------------
    // q416 DETECTS pagination stitching; this lane REASSEMBLES the
    // chains into reading order: boundary edges (tail 2-shingle =
    // head 2-shingle, same >64 frequency caps) form a successor
    // graph; chain heads are docs with an outgoing boundary match but
    // no incoming one (anti-join); `Graph.seededBfs` walks 4 hops
    // from every head, so position-in-chain IS the hop distance —
    // the size-guarded frontier loop reused as a reassembly engine.
    // Oracle replays the rounds as chained CTEs (the q319
    // discipline). Output: (head_doc, position, doc) for every chain
    // of length ≥ 2, the order a downstream merge step consumes.
    QueryDef("q439_stitch_reassembly",
      (s, d) => Checkpoints.scoped { pin =>
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
        // heads anti-join + BFS layout
        val edges = pin(tails.join(okTail, Seq("boundary"))
          .join(heads.join(okHead, Seq("boundary")), Seq("boundary"))
          .where(col("a_doc") =!= col("b_doc"))
          .select(col("a_doc").as("src"), col("b_doc").as("dst")))
        val chainHeads = edges.select(col("src").as("id")).distinct()
          .join(edges.select(col("dst").as("id")).distinct(),
            Seq("id"), "left_anti")
        Graph.seededBfs(edges, "src", "dst", chainHeads, hops = 4)
          .select(col("seed").as("head_doc"), col("dist").as("position"),
            col("id").as("doc_id"))
          .orderBy("head_doc", "position", "doc_id")
      },
      Some {
        val t = DuckSql.toks("text")
        def round_(prev: String, curr: String) =
          s"""$curr AS (SELECT seed, id, min(dist) AS dist FROM (
          |    SELECT seed, id, dist FROM $prev
          |    UNION ALL
          |    SELECT $prev.seed, e.dst AS id, $prev.dist + 1 AS dist
          |    FROM e JOIN $prev ON $prev.id = e.src) GROUP BY 1, 2)"""
        s"""WITH tk AS (SELECT doc_id, $t AS tt FROM documents
        |  WHERE len($t) >= 2),
        |heads AS (SELECT doc_id AS b_doc,
        |    array_to_string(tt[1:2], ' ') AS boundary FROM tk),
        |tails AS (SELECT doc_id AS a_doc,
        |    array_to_string(tt[-2:], ' ') AS boundary FROM tk),
        |okh AS (SELECT boundary FROM heads GROUP BY 1
        |  HAVING count(*) <= 64),
        |okt AS (SELECT boundary FROM tails GROUP BY 1
        |  HAVING count(*) <= 64),
        |e AS (SELECT DISTINCT a_doc AS src, b_doc AS dst
        |  FROM tails JOIN okt USING (boundary)
        |  JOIN heads USING (boundary) JOIN okh USING (boundary)
        |  WHERE a_doc != b_doc),
        |d0 AS (SELECT src AS seed, src AS id, CAST(0 AS BIGINT) AS dist
        |  FROM (SELECT DISTINCT src FROM e
        |    WHERE src NOT IN (SELECT dst FROM e))),
        |${round_("d0", "d1")},
        |${round_("d1", "d2")},
        |${round_("d2", "d3")},
        |${round_("d3", "d4")}
        |SELECT seed AS head_doc, dist AS position, id AS doc_id
        |FROM d4 ORDER BY head_doc, position, doc_id""".stripMargin
      }),

    // ---- q440: KMV sketch merge law (self-proving) -----------------------
    // The mergeable-summaries law q430 RELIES on, proven IN a query
    // (the q398/q409 self-proving discipline): the corpus splits into
    // two halves by doc-id hash, each half builds its 128-minimum
    // sketch over distinct 3-gram shingles (the universe with ~16k
    // members — the token vocabulary is only 31 strings and would
    // degenerate to the trivial <k path), the halves MERGE (k
    // smallest of the union), and the direct whole-corpus sketch is
    // built alongside — `merge_equal` is the claim "sketch(A ∪ B) =
    // merge(sketch(A), sketch(B))", computed as a column and
    // hash-gated, plus both estimates. This is the property that
    // makes sketch maintenance incremental at 100 TB: a new ingest
    // slice never re-reads the corpus.
    QueryDef("q440_kmv_merge_law",
      (s, d) => Checkpoints.scoped { pin =>
        val k = 128
        // tokenize ONCE behind an exchange barrier (the shingleRows
        // discipline — CollapseProject otherwise re-runs the regexp
        // per shingle-slice lambda; measured 12 s vs 0.6 s at sf0.1)
        // half sketches + direct sketch
        val dh = pin(documents(s, d)
          .select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
          .repartition(col("doc_id"))
          .select(explode(graft.ops.Dedup.wordShingles(col("__toks"), 3))
              .as("tok"),
            (graft.ops.Sampling.hashLong(concat(col("doc_id").cast("string"),
              lit("#half"))) % 2).as("half"))
          .select(col("half"), graft.ops.Sampling.hashLong(col("tok")).as("h")))
        def sketch(df: org.apache.spark.sql.DataFrame) = df
          .select("h").distinct()
          .orderBy("h").limit(k)
        val skA = sketch(dh.where(col("half") === 0))
        val skB = sketch(dh.where(col("half") === 1))
        val merged = sketch(skA.unionByName(skB))
        val direct = sketch(dh)
        def fp(df: org.apache.spark.sql.DataFrame) = df
          .agg(count(lit(1)).as("m"), max("h").as("rk"),
            expr("bit_xor(h)").as("fx"))
        val m = fp(merged).select(col("m").as("mm"), col("rk").as("mrk"),
          col("fx").as("mfx"))
        val dir = fp(direct).select(col("m").as("dm"), col("rk").as("drk"),
          col("fx").as("dfx"))
        m.crossJoin(dir)
          .select(col("mm").as("k_merged"), col("dm").as("k_direct"),
            (col("mm") === col("dm") && col("mrk") === col("drk") &&
              col("mfx") === col("dfx")).as("merge_equal"),
            expr(s"CASE WHEN mm < $k THEN mm" +
              s" ELSE (($k - 1) * 4294967296) div mrk END").as("est_merged"),
            expr(s"CASE WHEN dm < $k THEN dm" +
              s" ELSE (($k - 1) * 4294967296) div drk END").as("est_direct"))
      },
      Some {
        val h = DuckSql.hashLong("tok")
        val hh = DuckSql.hashLong("CAST(doc_id AS VARCHAR) || '#half'")
        s"""WITH dh AS (SELECT ($hh) % 2 AS half, ($h) AS h FROM (
        |    SELECT doc_id,
        |      unnest(${DuckSql.shingles(DuckSql.toks("text"), 3)}) AS tok
        |    FROM documents)),
        |ska AS (SELECT DISTINCT h FROM dh WHERE half = 0
        |  ORDER BY h LIMIT 128),
        |skb AS (SELECT DISTINCT h FROM dh WHERE half = 1
        |  ORDER BY h LIMIT 128),
        |mg AS (SELECT DISTINCT h FROM (SELECT h FROM ska
        |    UNION ALL SELECT h FROM skb) ORDER BY h LIMIT 128),
        |dr AS (SELECT DISTINCT h FROM dh ORDER BY h LIMIT 128),
        |fm AS (SELECT count(*) AS mm, max(h) AS mrk, bit_xor(h) AS mfx
        |  FROM mg),
        |fd AS (SELECT count(*) AS dm, max(h) AS drk, bit_xor(h) AS dfx
        |  FROM dr)
        |SELECT CAST(mm AS BIGINT) AS k_merged,
        |  CAST(dm AS BIGINT) AS k_direct,
        |  (mm = dm AND mrk = drk AND mfx = dfx) AS merge_equal,
        |  CAST(CASE WHEN mm < 128 THEN mm
        |    ELSE (127 * 4294967296) // mrk END AS BIGINT) AS est_merged,
        |  CAST(CASE WHEN dm < 128 THEN dm
        |    ELSE (127 * 4294967296) // drk END AS BIGINT) AS est_direct
        |FROM fm, fd""".stripMargin
      }))
}
