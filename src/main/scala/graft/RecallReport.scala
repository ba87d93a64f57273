package graft

import graft.ops.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Regenerates RECALL.md: measured recall@10 for every ANN variant vs
  * exact brute-force cosine on the sf0.1 embeddings table. Everything
  * in the ANN stack is md5-deterministic (hyperplanes, seed picks,
  * ordered-fold Lloyd means), so each number is a CONSTANT of the
  * data — rerunning reproduces the table bit-for-bit, which is what
  * makes the quality claims reviewable per round.
  *
  * Usage: sbt "runMain graft.RecallReport"   (rewrites the generated
  * table at the top of ./RECALL.md; the hand-written sections from the
  * file's first `## ` heading on are kept as they are)
  */
object RecallReport {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    import spark.implicits._

    val emb = Tables.embeddings(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nVec = emb.count()
    val queries = emb.where(col("vec_id") < 20)

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, queries, 10))
    def recall(got: Set[(Long, Long)]): Double =
      truth.intersect(got).size.toDouble / truth.size

    val rows = scala.collection.mutable.ListBuffer.empty[(String, String, Double)]
    rows += (("brute force (exact)", "—", 1.0))
    rows += (("SRP-LSH single table", "8 planes",
      recall(pairs(Similarity.lshTopK(emb, queries, 10, nPlanes = 8)))))
    for (p <- Seq(4, 6, 8))
      rows += (("SRP-LSH multi-probe (1 table)", s"$p planes, radius 1",
        recall(pairs(Similarity.lshTopKMultiProbe(emb, queries, 10,
          nPlanes = p)))))
    for (t <- Seq(4, 8, 16))
      rows += ((s"SRP-LSH multi-table", s"3 planes x $t tables",
        recall(pairs(Similarity.lshTopKMulti(emb, queries, 10,
          nPlanes = 3, nTables = t)))))
    val corp = emb.select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = Similarity.trainCentroids(corp, 16, maxIter = 3)
    for (p <- Seq(4, 8, 10))
      rows += ((s"IVF (16 cells, 3 Lloyd iters)", s"nProbe $p",
        recall(pairs(Similarity.ivfTopKWith(corp, queries, 10, cents,
          nProbe = p)))))
    rows += (("SQ8 int8 quantized (full scan)", "symmetric per-vector scale",
      recall(pairs(Similarity.sq8TopK(emb, queries, 10)))))
    // binary-sign: 1 bit/dim — the coarsest tier; production shape is
    // Hamming as the first filter + exact rerank (same cascade as PQ)
    rows += (("binary-sign Hamming (full scan)", "1 bit/dim (64 bits/vec)",
      recall(pairs(Similarity.binarySignTopK(emb, queries, 10)))))
    val bCand = Similarity.binarySignTopK(emb, queries, 200)
      .select(col("query_id"), col("neighbor_id"))
    rows += (("binary-sign candidates + exact rerank", "top-200 rerank",
      recall(pairs(Similarity.rerankExact(emb, bCand, 10)))))
    // PQ compresses 256 B of floats to a few CODES; on this corpus
    // (near-orthogonal random vectors — incompressible by design) raw
    // ADC ranking is the honest worst case, and the production shape
    // is PQ as the CANDIDATE tier + exact rerank (the q273 cascade).
    for ((nSub, w, nc) <- Seq((4, 16, 8), (8, 8, 16))) {
      val books = Similarity.pqTrain(corp, nSub, w, nc)
      val bits = nSub * (math.log(nc) / math.log(2)).round
      rows += ((s"PQ ADC (full scan)", f"$nSub x $w-dim, $nc codes ($bits bits/vec)",
        recall(pairs(Similarity.pqAdcTopK(corp, queries, books, w, 10)))))
      val cand = Similarity.pqAdcTopK(corp, queries, books, w, 200)
        .select(col("query_id"), col("neighbor_id"))
      val rerank = Similarity.rerankExact(corp, cand, 10)
      rows += ((s"PQ candidates + exact rerank", f"$nSub x $w-dim, $nc codes, top-200 rerank",
        recall(pairs(rerank))))
    }

    val md = new StringBuilder
    md ++= "# Measured ANN recall\n\n"
    md ++= s"recall@10 against exact brute-force cosine; corpus = `$sfDir/embeddings.parquet`\n"
    md ++= s"($nVec vectors x 64 dims, 20 query vectors). All variants are\n"
    md ++= "md5-deterministic end to end, so these numbers are constants of the\n"
    md ++= "data — regenerate with `sbt \"runMain graft.RecallReport\"` and the\n"
    md ++= "table reproduces exactly. The sf0.1 corpus is only weakly clustered\n"
    md ++= "(near-orthogonal vectors), which is ADVERSE for ANN pruning — these\n"
    md ++= "are honest lower bounds for real embedding corpora.\n\n"
    md ++= "| variant | knobs | recall@10 |\n|---|---|---|\n"
    rows.foreach { case (v, k, r) =>
      md ++= f"| $v | $k | $r%.3f |\n"
    }
    md ++= "\nSpec pins (sbt test): LSH multi >= 0.95, IVF >= 0.85 (OpsSpec\n"
    md ++= "\"measured ANN recall@10\"), SQ8 recall@5 >= 0.8 + per-pair cosine\n"
    md ++= "drift <= 0.02 (Sq8Spec).\n"
    val path = java.nio.file.Paths.get("RECALL.md")
    val handWritten =
      if (!java.nio.file.Files.exists(path)) ""
      else {
        val old = java.nio.file.Files.readString(path)
        val i = old.indexOf("\n## ")
        if (i < 0) "" else old.substring(i)
      }
    java.nio.file.Files.writeString(path, md.toString + handWritten)
    println(md.toString)
    spark.stop()
  }
}
