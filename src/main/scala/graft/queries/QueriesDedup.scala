package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Dedup, Sampling, Text}
import org.apache.spark.sql.functions._

/** Deduplication queries (north-star operators): exact hash dedup,
  * MinHash signatures, LSH candidate pairs, exact n-gram Jaccard on
  * candidates, and SimHash fingerprints — every stage oracle-checked
  * via md5-portable hashing.
  */
object QueriesDedup {

  private[queries] val ShingleN = 3
  private[queries] val K = 8  // minhash signature length
  private[queries] val Bands = 4 // LSH bands (rows = K / Bands = 2)

  /** DuckDB CTEs: tokens -> shingles -> signature -> band keys,
    * over `src` (a table or prior CTE name). Shared with the round-6
    * audit queries (same relation, same constants). */
  private[queries] def lshCtes(src: String = "documents"): String = {
    val sig = (0 until K).map(j =>
      DuckSql.minhashComponent("shingles", j)).mkString("[", ", ", "]")
    val bands = (0 until Bands).map { b =>
      val rows = K / Bands
      val parts = (0 until rows).map(r => s"sig[${b * rows + r + 1}]").mkString(" || '|' || ")
      s"'$b:' || md5($parts)"
    }.mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, ${DuckSql.toks("text")} AS toks FROM $src),
       |sh AS (SELECT doc_id, list_distinct(${DuckSql.shingles("toks", ShingleN)}) AS shingles FROM t),
       |sig AS (SELECT doc_id, $sig AS sig FROM sh),
       |bands AS (SELECT doc_id, unnest($bands) AS band FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b USING (band) WHERE a.doc_id < b.doc_id)""".stripMargin
  }

  /** DuckDB recursive-CTE connected components over `cand` — shared by
    * q45/q46/q91 (and q172 in QueriesRound6 via DuckSql). */
  private val groupCtes: String = DuckSql.ccGroupCtes

  val defs: Seq[QueryDef] = Seq(

    // ---- q40: exact dedup on normalized-content hash ----------------
    QueryDef("q40_dedup_exact",
      (s, d) => Dedup.exactDedup(documents(s, d), "doc_id", "text")
        .orderBy("fp"),
      Some(s"""SELECT md5(${DuckSql.norm("text")}) AS fp, min(doc_id) AS doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q41: MinHash signatures ------------------------------------
    QueryDef("q41_minhash_sig",
      (s, d) => Dedup.minhashSignatures(documents(s, d), "doc_id", "text",
          ShingleN, K)
        .orderBy("doc_id"),
      Some {
        val comps = (0 until K).map(j =>
          s"${DuckSql.minhashComponent(DuckSql.shingles(DuckSql.toks("text"), ShingleN), j)} AS sig_$j")
        s"""SELECT doc_id, ${comps.mkString(",\n  ")}
        |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // ---- q42: LSH candidate pairs -----------------------------------
    QueryDef("q42_lsh_pairs",
      (s, d) => Dedup.lshCandidatePairs(documents(s, d), "doc_id", "text",
          ShingleN, K, Bands)
        .orderBy("id_a", "id_b"),
      Some(s"""${lshCtes()}
        |SELECT id_a, id_b FROM cand ORDER BY 1, 2""".stripMargin)),

    // ---- q43: exact n-gram Jaccard on LSH candidates ----------------
    QueryDef("q43_ngram_jaccard",
      (s, d) => {
        val docs = documents(s, d)
        val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", ShingleN, K, Bands)
          .withColumnRenamed("id_a", "id_a").withColumnRenamed("id_b", "id_b")
        Dedup.jaccard(
          pairs.select(col("id_a"), col("id_b")),
          docs, "doc_id", "text", ShingleN)
          .orderBy("id_a", "id_b")
      },
      Some(s"""${lshCtes()},
        |shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sz AS (SELECT doc_id, count(*) AS sz FROM shx GROUP BY 1),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
        |  FROM cand c JOIN shx a ON a.doc_id = c.id_a
        |  JOIN shx b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b, i.n_inter, za.sz AS sz_a, zb.sz AS sz_b,
        |  round(CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter), 6) AS jaccard
        |FROM inter i JOIN sz za ON za.doc_id = i.id_a
        |  JOIN sz zb ON zb.doc_id = i.id_b
        |ORDER BY 1, 2""".stripMargin)),

    // ---- q45: duplicate groups (connected components over LSH pairs)
    QueryDef("q45_duplicate_groups",
      (s, d) => Checkpoints.scoped { _ =>
        Dedup.duplicateGroupsStar(
            Dedup.lshCandidatePairs(documents(s, d), "doc_id", "text", ShingleN, K, Bands),
            maxIter = 20)
          .orderBy("id")
      },
      Some(s"""${lshCtes().replaceFirst("WITH ", "WITH RECURSIVE ")},
        |$groupCtes
        |SELECT id, group_id FROM grp ORDER BY id""".stripMargin)),

    // ---- q46: the end-to-end near-dedup operator: survivors only ----
    QueryDef("q46_dedup_survivors",
      (s, d) => Checkpoints.scoped { _ =>
        val docs = documents(s, d)
        val groups = Dedup.duplicateGroupsStar(
          Dedup.lshCandidatePairs(docs, "doc_id", "text", ShingleN, K, Bands),
          maxIter = 20)
        Dedup.dedupSurvivors(docs, "doc_id", groups)
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      Some(s"""${lshCtes().replaceFirst("WITH ", "WITH RECURSIVE ")},
        |$groupCtes
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM grp WHERE id != group_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- q44: SimHash fingerprints ----------------------------------
    QueryDef("q44_simhash",
      (s, d) => Dedup.simhash(documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, CAST(${DuckSql.simhash16(DuckSql.toks("text"))} AS BIGINT) AS simhash
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- q91: the end-to-end training-data prep pipeline -------------
    // language gate -> min-length gate -> LSH near-dedup (survivors)
    // -> deterministic train/val/test split. Every stage is an
    // already-verified operator; this pins their composition.
    QueryDef("q91_training_prep",
      (s, d) => Checkpoints.scoped { _ =>
        val base = documents(s, d)
          .where(col("lang").isin("en", "de") &&
            size(Text.tokens(col("text"))) >= 20)
        val groups = Dedup.duplicateGroupsStar(
          Dedup.lshCandidatePairs(base, "doc_id", "text", ShingleN, K, Bands),
          maxIter = 20)
        Sampling.hashSplit(Dedup.dedupSurvivors(base, "doc_id", groups),
            "doc_id", 80, 10)
          .select("doc_id", "lang", "split")
          .orderBy("doc_id")
      },
      Some {
        val body = lshCtes("base").replaceFirst("WITH ", "")
        s"""WITH RECURSIVE base AS (SELECT * FROM documents
        |  WHERE lang IN ('en', 'de') AND len(${DuckSql.toks("text")}) >= 20),
        |$body,
        |$groupCtes
        |SELECT doc_id, lang,
        |  CASE WHEN ${DuckSql.hashLong("doc_id")} % 100 < 80 THEN 'train'
        |       WHEN ${DuckSql.hashLong("doc_id")} % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM base
        |WHERE doc_id NOT IN (SELECT id FROM grp WHERE id != group_id)
        |ORDER BY doc_id""".stripMargin
      }),

    // ---- q186: eval-set leakage exclusion ----------------------------
    // The train/eval decontamination gate (the Pile / GPT-3 practice):
    // after an 80/20 hash split, any eval doc with a FUZZY near-dup
    // (LSH candidate at Jaccard >= 0.5) on the other side of the split
    // is excluded — evaluating on a paraphrase of a training doc
    // inflates the score without verbatim overlap (which q167's exact
    // 8-gram gate would catch). Pairs come from the verified LSH
    // machinery; only the candidate set is ever scored, never train x
    // eval.
    QueryDef("q186_eval_leak_exclusion",
      (s, d) => {
        val docs = documents(s, d)
        val split = Sampling.hashSplit(docs, "doc_id", 80, 0)
          .select(col("doc_id"), col("split"))
        val cand = Dedup.lshCandidatePairs(docs, "doc_id", "text",
          ShingleN, K, Bands)
        val near = Dedup.jaccard(cand.select("id_a", "id_b"),
            docs, "doc_id", "text", ShingleN)
          .where(col("jaccard") >= 0.5)
        val sa = split.select(col("doc_id").as("id_a"), col("split").as("split_a"))
        val sb = split.select(col("doc_id").as("id_b"), col("split").as("split_b"))
        val leaked = near.join(sa, "id_a").join(sb, "id_b")
          .where(col("split_a") =!= col("split_b"))
          .select(when(col("split_a") === "test", col("id_a"))
            .otherwise(col("id_b")).as("doc_id"))
          .distinct()
        split.where(col("split") === "test")
          .join(leaked, Seq("doc_id"), "left_anti")
          .select("doc_id")
          .orderBy("doc_id")
      },
      Some(s"""${lshCtes()},
        |shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sz AS (SELECT doc_id, count(*) AS sz FROM shx GROUP BY 1),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
        |  FROM cand c JOIN shx a ON a.doc_id = c.id_a
        |  JOIN shx b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2),
        |near AS (SELECT i.id_a, i.id_b FROM inter i
        |  JOIN sz za ON za.doc_id = i.id_a JOIN sz zb ON zb.doc_id = i.id_b
        |  WHERE round(CAST(i.n_inter AS DOUBLE)
        |    / (za.sz + zb.sz - i.n_inter), 6) >= 0.5),
        |sp AS (SELECT doc_id,
        |  CASE WHEN ${DuckSql.hashLong("doc_id")} % 100 < 80 THEN 'train'
        |       ELSE 'test' END AS split FROM documents),
        |leak AS (SELECT CASE WHEN sa.split = 'test' THEN n.id_a ELSE n.id_b
        |    END AS doc_id
        |  FROM near n JOIN sp sa ON sa.doc_id = n.id_a
        |  JOIN sp sb ON sb.doc_id = n.id_b WHERE sa.split != sb.split)
        |SELECT doc_id FROM sp WHERE split = 'test'
        |  AND doc_id NOT IN (SELECT doc_id FROM leak)
        |ORDER BY doc_id""".stripMargin)))
}
