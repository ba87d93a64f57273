package graft.tools


/** Scaling-slope audit (SCALING.md): times a query set at two scale
  * factors and reports each query's scaling exponent
  * slope = log(t_big / t_small) / log(sf_big / sf_small) —
  * the measured answer to "would this plan survive 100×?". A linear
  * operator shows slope ≈ 1 (usually less at these sizes, because
  * fixed session/plan overhead dilutes the small-SF time); anything
  * clearly above ~1.3 is a superlinearity flag to explain or fix.
  *
  * Usage:
  *   graft.tools.ScalingProbe <sfDirSmall> <sfDirBig> <sfRatio> [names]
  * Defaults: sf0.01 vs sf0.1 (ratio 10) over the heaviest ~25 queries
  * of the r6 suite plus this round's reworked ones. Timing discipline
  * matches Bench: JIT warmup, min-of-2, block sweep + GC between
  * queries, one query at a time.
  */
object ScalingProbe {

  val Default: Seq[String] = Seq(
    "q03_top_customers", "q91_training_prep", "q136_equidepth",
    "q140_streaming_sessions", "q143_streaming_interval_join",
    "q145_pagerank", "q148_streaming_left_outer", "q149_bfs_distance",
    "q162_pagerank_dangling", "q168_personalized_pagerank",
    "q172_exact_substring_dedup", "q186_eval_leak_exclusion",
    "q200_stream_static_join", "q205_dsir_selection",
    "q210_prefix_jaccard_pairs", "q211_hits", "q215_streaming_topk",
    "q223_bpe_train", "q224_prefix_dups", "q229_label_propagation",
    "q250_streaming_full_outer", "q254_rrf_hybrid",
    "q258_vocab_coverage", "q262_dedup_pr_eval", "q269_ktruss",
    "q290_ivf_index_lifecycle")

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val big = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val ratio = if (args.length > 2) args(2).toDouble else 10.0
    val names =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Default
    val spark = graft.Harness.session()
    // JIT/codegen warmup (the Bench discipline) at the SMALL sf
    graft.Harness.warmup(spark, small)
    def time(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val t = try math.min(once(), once()) catch {
        case e: Throwable =>
          System.err.println(s"[scaling] $name@$dir FAILED: ${e.getMessage}")
          -1.0
      }
      graft.Harness.clearBlocks(spark)
      t
    }
    def f(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    println("| query | t(sf_small) s | t(sf_big) s | slope |")
    println("|---|---|---|---|")
    names.foreach { n =>
      if (!graft.SparkEntry.queries.contains(n))
        System.err.println(s"[scaling] unknown query: $n")
      else {
        val ts = time(n, small)
        val tb = time(n, big)
        val slope =
          if (ts > 0 && tb > 0) math.log(tb / ts) / math.log(ratio)
          else Double.NaN
        println(s"| $n | ${f(ts)} | ${f(tb)} | ${f(slope)} |")
      }
    }
    spark.stop()
  }
}
