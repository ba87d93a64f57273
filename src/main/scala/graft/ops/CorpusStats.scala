package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistics operators for data curation: PMI collocation
  * extraction, code-switching segmentation, and bigram-LM surprisal
  * scoring (the statistical-LM quality filter — score text by how
  * surprising it is under a cheap corpus model, the CCNet pattern).
  *
  * All scores are exact-integer (the [[FixedPoint]] log), so results
  * hash-verify against any engine. Every operator takes an already-
  * materialized token-ARRAY column: callers tokenize in their own
  * projection (behind an exchange barrier when the source is a small
  * file scan) — inlining the tokenizer into the generator re-runs it
  * per slice index (the Dedup.shingleRows recompute trap).
  *
  * Scale posture: token/bigram explodes shuffle to count frames
  * bounded by the VOCABULARY, occurrence→count equi-joins on word
  * keys (AQE broadcasts the small side), per-doc windows only. Count
  * frames are mergeable summaries — a 100 TB corpus computes them
  * per-shard and merges by sum.
  */
object CorpusStats {

  /** Adjacent-token bigram PMI: pmi(w1,w2) = ln(p(w1,w2) /
    * (p(w1)·p(w2))) in exact micro-nats, gated to `minCount`
    * occurrences and strictly positive PMI (which keeps the log input
    * ≥ 1 by algebra: a = c12·N², b = B·c1·c2, ratio (1 + (a−b)/b)).
    * Top `topK` by (pmi desc, w1, w2) — a total order, so the cut is
    * deterministic. BIGINT headroom: a ≤ c12·N² needs N ≲ 10⁹ tokens
    * per readout; beyond that run per-shard and merge count frames. */
  def pmiCollocations(df: DataFrame, toksCol: String,
                      minCount: Int = 3, topK: Int = 50): DataFrame = Checkpoints.scoped { pin =>
    val tk = pin(df.select(col(toksCol).as("__toks")))
    val uni = tk.select(explode(col("__toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = broadcast(uni.agg(sum("c").as("nn")))
    val big = tk.select(explode(Dedup.wordShingles(col("__toks"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
    val totB = broadcast(big.agg(sum("c12").as("bb")))
    big
      .withColumn("w1", expr("split_part(bg, ' ', 1)"))
      .withColumn("w2", expr("split_part(bg, ' ', 2)"))
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(tot).crossJoin(totB)
      .where(col("c12") >= minCount &&
        expr("c12 * nn * nn > bb * c1 * c2"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        expr(FixedPoint.sparkLnMicroFp20(FixedPoint.sparkRatioFp20(
          "(c12 * nn * nn - bb * c1 * c2)", "(bb * c1 * c2)")))
          .as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Language-evidence segmentation per row: each token is classified
    * by the first stopword-list match in sorted-language order
    * (deterministic on ambiguous markers like "que"), consecutive
    * evidence tokens of one language collapse into segments. Returns
    * one row per input row that carries ≥ 1 evidence token:
    * `idCol :: keep :: n_ev :: n_seg`. A row with n_seg ≥ 2 is
    * code-switched. Windows are per-row-id only (bounded by doc
    * length, never global). */
  def codeSwitchSegments(df: DataFrame, idCol: String, toksCol: String,
                         keep: Seq[String] = Nil): DataFrame = {
    val keepCols = keep.map(col)
    val tok = df.select(col(idCol) +: keepCols :+
      posexplode(col(toksCol)).as(Seq("p", "tok")): _*)
    val lgExpr = Text.stopwords.toSeq.sortBy(_._1)
      .foldRight(lit(null).cast("string")) { case ((lg, words), acc) =>
        when(col("tok").isin(words: _*), lit(lg)).otherwise(acc)
      }
    val ev = tok.withColumn("lg", lgExpr).where(col("lg").isNotNull)
    val w = Window.partitionBy(idCol).orderBy("p")
    ev.withColumn("prev", lag("lg", 1).over(w))
      .withColumn("st",
        when(!(col("prev") <=> col("lg")), lit(1L)).otherwise(lit(0L)))
      .groupBy(col(idCol) +: keepCols: _*)
      .agg(count(lit(1)).as("n_ev"), sum("st").as("n_seg"))
  }

  /** Mean per-token surprisal under an add-one-smoothed corpus bigram
    * model, in exact micro-nats: each adjacent pair (w1, w2) costs
    * ln((c1 + V) / (c12 + 1)) — c12 ≤ c1 keeps the ratio ≥ 1 by
    * algebra. Returns one row per input row with ≥ 1 bigram:
    * `idCol :: keep :: doc_sup_micro`. Low surprisal ≈ fluent/common
    * text; high ≈ boilerplate or noise — the LM quality filter. */
  def bigramSurprisal(df: DataFrame, idCol: String, toksCol: String,
                      keep: Seq[String] = Nil): DataFrame = Checkpoints.scoped { pin =>
    val keepCols = keep.map(col)
    // read twice: unigram counts + bigram occurrences
    val tk = pin(df.select(col(idCol) +: keepCols :+ col(toksCol).as("__toks"): _*))
    val uni = tk.select(explode(col("__toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val vsz = broadcast(uni.agg(count(lit(1)).as("vv")))
    val occ = tk.select(col(idCol) +: keepCols :+
      explode(Dedup.wordShingles(col("__toks"), 2)).as("bg"): _*)
    val big = occ.groupBy("bg").agg(count(lit(1)).as("c12"))
    occ
      .join(big, Seq("bg"))
      .withColumn("w1", expr("split_part(bg, ' ', 1)"))
      .join(uni.select(col("w").as("w1"), col("c1")), Seq("w1"))
      .crossJoin(vsz)
      .select(col(idCol) +: keepCols :+
        expr(FixedPoint.sparkLnMicroFp20(FixedPoint.sparkRatioFp20(
          "(c1 + vv - c12 - 1)", "(c12 + 1)"))).as("sup"): _*)
      .groupBy(col(idCol) +: keepCols: _*)
      .agg(count(lit(1)).as("tt"), sum("sup").as("ssum"))
      .select(col(idCol) +: keepCols :+
        expr("ssum div tt").as("doc_sup_micro"): _*)
  }
}
