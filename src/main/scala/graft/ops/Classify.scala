package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained-classifier operators. Everything scores in EXACT integer
  * surprisal bits (the q336 discipline — bitlength of the smoothed
  * inverse probability), so results are bit-identical on any engine
  * and any partitioning: no float log ever runs.
  */
object Classify {

  /** Multinomial Naive Bayes over hashed token buckets: train on the
    * `trainPct` hash split of `docs` (columns: id, label, text), apply
    * to the held-out rest, return the confusion matrix
    * (true_label, pred_label, n_docs).
    *
    * Scale shape: one token shuffle for the per-(label, bucket)
    * counts; the full labels×buckets grid (zero-count buckets must
    * score via add-one smoothing) and the prior frame broadcast —
    * both O(labels·buckets), never data-sized. Prediction is one
    * hash-agg over (doc, candidate) partial scores; argmin uses a
    * numeric composite key (bits·(maxLabels+1) + label rank — the q363
    * engine-portable discipline, no struct-ordering reliance).
    * Tokenless docs can't be scored and are out of scope.
    *
    * Statistical contract (pinned in Round7wSpec): with
    * class-specific vocabulary the matrix goes diagonal; with
    * features independent of the label it collapses to the train
    * prior's argmax — both are the CORRECT NB outcome, not artifacts.
    */
  def naiveBayesConfusion(docs: DataFrame, idCol: String, labelCol: String,
                          textCol: String, trainPct: Int = 75,
                          buckets: Int = 64,
                          maxLabels: Int = 8): DataFrame = {
    val s = docs.sparkSession
    val split = Sampling.hashSplit(
        docs.select(col(idCol).as("id"), col(labelCol).as("label"),
          col(textCol).as("text")), "id", trainPct, 0)
    val toks = split.select(col("id"), col("label"), col("split"),
        explode(Text.tokens(col("text"))).as("tok"))
      .withColumn("b", Sampling.hashLong(col("tok")) % buckets)
    val train = toks.where(col("split") === "train")
    val labels = train.select("label").distinct()
    val numLabels = labels.count()
    require(numLabels <= maxLabels,
      s"naiveBayesConfusion: $numLabels distinct labels exceed " +
        s"maxLabels=$maxLabels — raise maxLabels so the argmin " +
        "composite key stays decodable")
    val labelIdx = broadcast(labels
      .withColumn("idx",
        row_number().over(Window.orderBy("label")).cast("long")))
    val counts = train.groupBy(col("label").as("clabel"), col("b"))
      .agg(count(lit(1)).as("c"))
    val totals = train.groupBy(col("label").as("clabel"))
      .agg(count(lit(1)).as("t"))
    val grid = broadcast(labelIdx.select(col("label").as("clabel"))
      .crossJoin(s.range(buckets).select(col("id").as("b")))
      .join(totals, Seq("clabel"))
      .join(counts, Seq("clabel", "b"), "left")
      .select(col("clabel"), col("b"),
        (length(bin(expr(s"(t + $buckets) div (coalesce(c, 0) + 1)"))) - 1)
          .cast("long").as("bits")))
    val prior = broadcast(split.where(col("split") === "train")
      .groupBy(col("label").as("clabel")).agg(count(lit(1)).as("dl"))
      .crossJoin(split.where(col("split") === "train")
        .agg(count(lit(1)).as("dt")))
      .select(col("clabel"),
        (length(bin(expr("dt div dl"))) - 1).cast("long").as("pbits")))
    toks.where(col("split") === "test")
      .join(grid, Seq("b"))
      .groupBy(col("id"), col("label"), col("clabel"))
      .agg(sum("bits").as("tb"))
      .join(prior, Seq("clabel"))
      .join(labelIdx.select(col("label").as("clabel"), col("idx")),
        Seq("clabel"))
      .groupBy("id", "label")
      // (maxLabels+1) multiplier: idx is 1-based, so a plain maxLabels
      // multiplier would decode idx==maxLabels as residue 0 and drop
      // those docs at the idx join below.
      .agg(min((col("tb") + col("pbits")) * (maxLabels + 1) + col("idx"))
        .as("mk"))
      .select(col("id"), col("label"),
        (col("mk") % (maxLabels + 1)).as("idx"))
      .join(labelIdx.select(col("label").as("pred_label"), col("idx")),
        Seq("idx"))
      .groupBy("label", "pred_label").agg(count(lit(1)).as("n_docs"))
      .select(col("label").as("true_label"), col("pred_label"),
        col("n_docs"))
  }

  /** Signed hashed features (the q315 hashing trick) with a label:
    * (doc_id, y, dim, f) tuples, dim = md5(token) % 64, sign from a
    * second hash, zero-sum dims dropped. One token shuffle; features
    * stay in tuple form (never a wide array). */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
                     y: org.apache.spark.sql.Column): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), y.as("y"),
        explode(Text.tokens(col(textCol))).as("__t"))
      .select(col("doc_id"), col("y"),
        (Sampling.hashLong(col("__t")) % 64).as("dim"),
        (Sampling.hashLong(concat(lit("s:"), col("__t"))) % 2 * 2 - 1)
          .as("__sgn"))
      .groupBy("doc_id", "y", "dim").agg(sum("__sgn").as("f"))
      .where(col("f") =!= 0)

  /** Docs misclassified under weight frame `w` (dim, w): margin
    * y·⟨w, x⟩ ≤ 0, zero-margin (including feature-less docs)
    * counts as misclassified — the perceptron convention. One O(64)
    * broadcast join + one map-side-combining agg. */
  def perceptronMiscl(feats: DataFrame, docs: DataFrame,
                      w: DataFrame): DataFrame = {
    val sc = feats.join(broadcast(w), "dim")
      .groupBy("doc_id").agg(sum(col("f") * col("w")).as("__s"))
    docs.join(sc, Seq("doc_id"), "left")
      .where(coalesce(col("y") * col("__s"), lit(0L)) <= 0)
      .select("doc_id")
  }

  /** Full-batch perceptron training: round r adds Σ y·x over the docs
    * misclassified under w_{r−1} (w₀ = 0, so round 1 updates on ALL
    * docs). Returns (weights after round 1..rounds, misclassified-doc
    * frames entering round 1..rounds). Everything exact integers —
    * counts, weights, margins — so training replays bit-identically
    * on any engine (the q449 chained-CTE oracle). */
  def perceptronFit(feats: DataFrame, docs: DataFrame,
                    rounds: Int): (Seq[DataFrame], Seq[DataFrame]) =
      Checkpoints.scoped { pin =>
    // Materialize the feature frame once and every per-round artifact:
    // each round references feats twice (scores + update) and w_{r-1}
    // twice, so an unmaterialized loop re-tokenizes the corpus
    // O(2^rounds) times — the pavPool lesson. The weight frames are
    // O(64) rows, the miscl frames O(docs); and a consumer embedding
    // the weights in a STREAMING plan (q451) must see a materialized
    // frame, not a training DAG re-run per micro-batch.
    val f = pin(feats)
    def step(w: DataFrame, m: DataFrame): DataFrame = {
      val upd = f.join(m, "doc_id")
        .groupBy("dim").agg(sum(col("y") * col("f")).as("__u"))
      pin(w.join(upd, Seq("dim"), "full")
        .select(col("dim"),
          (coalesce(col("w"), lit(0L)) + coalesce(col("__u"), lit(0L)))
            .as("w")))
    }
    val w1 = pin(f.groupBy("dim").agg(sum(col("y") * col("f")).as("w")))
    var ws = Seq(w1)
    var ms = Seq(docs.select("doc_id"))
    for (_ <- 2 to rounds) {
      val m = pin(perceptronMiscl(f, docs, ws.last))
      ws = ws :+ step(ws.last, m)
      ms = ms :+ m
    }
    (ws, ms)
  }
}
