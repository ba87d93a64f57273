package graft

import graft.ingest.Normalize
import graft.queries.Registry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, RLike, RegExpExtract, StringSplit}
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Physical-plan assertions: the properties that make these queries
  * scale (pushdown, pruning, broadcast, top-k operator, map-side
  * partial aggregation) are pinned here so a regression in plan shape
  * fails CI even while results stay correct.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    Registry.byName(name).fn(spark, sf).queryExecution.executedPlan.toString

  test("q02: filters are pushed into the parquet scan; columns pruned") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // scan reads only the 5 referenced columns, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_tax"), readSchema)
  }

  test("q04: dimension joins broadcast (no shuffle of the fact side)") {
    val p = planOf("q04_region_customers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q10: global top-k plans TakeOrderedAndProject, not a full sort") {
    val p = planOf("q10_topk_lineitems")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01: aggregation is partial (map-side combine) then final") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("partial_"), p) // HashAggregate(partial_sum, ...)
    assert(p.contains("HashAggregate"), p)
  }

  test("q06/q07: semi and anti joins plan as join types, not filters over subqueries") {
    assert(planOf("q06_semi_join").contains("LeftSemi"), "semi")
    assert(planOf("q07_anti_join").contains("LeftAnti"), "anti")
  }

  test("q21: as-of join is a single-shuffle window sweep (no range join explosion)") {
    val p = planOf("q21_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("q50: query set broadcasts; corpus is not shuffled for scoring") {
    val p = planOf("q50_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("graft_dot"), p) // native expression in the plan
  }

  test("q42: LSH candidate generation is an equi-join on band keys") {
    val p = planOf("q42_lsh_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q53: SRP bucketing replaces the cross join with an equi-join") {
    val p = planOf("q53_lsh_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q82: per-stratum thresholds broadcast; corpus is filtered, not shuffled") {
    val p = planOf("q82_balanced_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q84: packing windows partition by shard (no global single-task sort)") {
    val p = planOf("q84_pack_sequences")
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("shard"), windowLine)
  }

  test("q81/q83: deterministic sampling is a pure scan-side filter (no join, no shuffle)") {
    val p = planOf("q83_weighted_mix")
    assert(!p.contains("Join"), p)
    // the only exchange is the final aggregation's
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 2, p)
  }

  test("q100: SCD2 history is one window over the changelog, no self-join") {
    val p = planOf("q100_scd2")
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("q101: simhash pairing is an equi-join on band keys, never all-pairs") {
    val p = planOf("q101_simhash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q103: profile is a single aggregate pass (one scan of the table)") {
    val p = planOf("q103_profile")
    // one parquet scan feeds all per-column stats
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
  }

  test("q104: histogram is one hash-aggregate, no sort before grouping") {
    val p = planOf("q104_histogram")
    assert(p.contains("HashAggregate") && p.contains("partial_"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q107: weighted sampling plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("q107_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q109: fuzzy match is block-local (equi-join on block keys)") {
    val p = planOf("q109_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q115: the fallback DAG is a pure pipeline — no join, no aggregate") {
    val p = planOf("q115_fallback_oracle")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    // one pass: no union of branches, no scan of a fetch checkpoint
    assert(!p.contains("Union") && !p.contains("ExistingRDD"), p)
  }

  test("q125: doc_id filter is pushed to the scan; unused columns pruned") {
    val p = planOf("q125_array_funcs")
    assert(p.contains("LessThan(doc_id,50)"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"), readSchema)
  }

  test("q128: NOT IN plans as a (null-aware) anti join, not a per-row subquery") {
    val p = planOf("q128_notin_nullaware")
    assert(p.contains("Anti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q129: EWMA is aggregate-then-fold — no join, no self-reference") {
    val p = planOf("q129_ewma")
    assert(!p.contains("Join"), p)
    // one groupBy exchange + the presentation sort's range exchange
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 2, p)
  }

  test("q130: bitmap aggregate is map-side combined (one long per key)") {
    val p = planOf("q130_bit_agg")
    assert(p.contains("partial_"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q132: entropy is two aggregation levels, never a join") {
    val p = planOf("q132_word_entropy")
    assert(!p.contains("Join"), p)
  }

  test("q133: the cumulative sum windows the O(days) rollup, not events") {
    val p = planOf("q133_cumulative_distinct")
    val lines = p.linesIterator.toSeq
    val wIdx = lines.indexWhere(_.contains("Window"))
    val aggIdx = lines.indexWhere(_.contains("HashAggregate"))
    assert(wIdx >= 0 && aggIdx > wIdx, p)
  }

  test("q110: the range frame windows the DAILY rollup, not the fact table") {
    val p = planOf("q110_trailing_window")
    // the Window sits above the aggregate: O(days) input rows
    val lines = p.linesIterator.toSeq
    val wIdx = lines.indexWhere(_.contains("Window"))
    val aggIdx = lines.indexWhere(_.contains("HashAggregate"))
    assert(wIdx >= 0 && aggIdx > wIdx, p)
  }

  test("q136: no full-table value-buffering aggregate (the r3 scale-killer)") {
    val p = planOf("q136_equidepth")
    // the decile boundaries must come from the cent histogram, never
    // from exact percentile() — whose ObjectHashAggregate buffers every
    // value of the table in ONE aggregation buffer (executor OOM at
    // 100x). collect_list exists only on the 9-row boundary frame.
    assert(!p.contains("percentile("), p.take(4000))
    // the fact-table aggregations stay codegen'd hash aggregates
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("q136: the cumulative window never sees a single-partition exchange of the histogram") {
    val p = planOf("q136_equidepth")
    // two-level cumsum: the window over the cent histogram is
    // PARTITIONED by the coarse range; the only global-order window
    // runs over the ~1k coarse offsets. A regression back to a global
    // window over the histogram would put a Sort directly under an
    // Exchange SinglePartition feeding a Window whose partition spec
    // is empty on the c/cnt frame — pin the partitioned spec instead.
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    val overC = winLines.filter(l => l.contains("c#") && l.contains("cnt"))
    assert(overC.forall(_.contains("__g")), winLines.mkString("\n"))
  }

  test("q199: row numbering never sees a single-partition window of the data") {
    // twoLevelRowNumber: the window over the documents frame is
    // PARTITIONED by the coarse range (__g); the only global-order
    // window runs over the O(domain/64) range counts
    val p = planOf("q199_ordered_sharding")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    val overDocs = winLines.filter(_.contains("doc_id"))
    assert(overDocs.nonEmpty && overDocs.forall(_.contains("__g")),
      winLines.mkString("\n"))
  }

  test("AQE splits a deliberately skewed sort-merge join (skew=true)") {
    // the scale-posture comments in Graph/Dedup lean on AQE's skew
    // split for hub keys — verify it actually fires in this build:
    // 80% of the big side lands on one key, thresholds lowered so the
    // local fixture crosses them, broadcast disabled to force SMJ.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> scala.util.Try(conf.get(k)).toOption)
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val big = spark.range(0, 200000).select(
        when(col("id") % 5 === 0, col("id")).otherwise(lit(0L)).as("k"),
        col("id").as("v"))
      val small = spark.range(0, 2000).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val joined = big.join(small, "k")
      // execute THIS frame's own QueryExecution (count() would build a
      // separate one) — AQE finalizes the plan only after execution
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(4000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q141: multi-table LSH candidates join on (table, bucket), never cross") {
    val p = planOf("q141_lsh_topk_multi")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the pair dedup is a combinable hash aggregate before the top-k window
    val lines = p.linesIterator.toSeq
    val wIdx = lines.indexWhere(_.contains("Window"))
    val aggIdx = lines.indexWhere(l => l.contains("HashAggregate") && l.contains("max"))
    assert(aggIdx > wIdx && wIdx >= 0, p.take(3000))
  }

  test("q170: over-cap window guard is an anti-join, pairs never cross-join") {
    // the over-cap fingerprint set is NOT force-broadcast (the
    // segmentDedup discipline: at web scale that set is itself large;
    // AQE demotes a shuffled anti-join to broadcast when it is small)
    val p = planOf("q170_shared_shingles")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("q254: hybrid-RRF ranks have no single-partition window of the corpus") {
    // twoLevelRankDesc: the windows over the joined candidate frame
    // are PARTITIONED by the (-score, id-range) bucket; the only
    // global-order windows run over the O(buckets) count frames
    val p = planOf("q254_rrf_hybrid")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    val overDocs = winLines.filter(_.contains("doc_id"))
    assert(overDocs.nonEmpty && overDocs.forall(_.contains("__g")),
      winLines.mkString("\n"))
  }

  test("q258: the coverage window runs over a top-k pruned constant frame") {
    // candidates come from a distributed top-k (TakeOrderedAndProject
    // = per-partition heaps + k-row merge) BEFORE the rank window, so
    // the global-order window frame is bounded by the largest vocab
    // size in the curve (a query constant), never the corpus vocab
    val p = planOf("q258_vocab_coverage")
    val lines = p.linesIterator.toSeq
    val topkIdx = lines.indexWhere(_.contains("TakeOrderedAndProject"))
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(topkIdx >= 0, p.take(3000))
    assert(winIdx >= 0 && topkIdx > winIdx, // deeper in the tree = later line
      p.take(3000))
  }

  test("q175: repetition signals are two map-side-combinable aggregations, no join") {
    val p = planOf("q175_repetition_signals")
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("partial_"), p.take(3000))
  }

  test("q176: chunking is a pure map stage — only the explicit doc repartition shuffles") {
    val p = planOf("q176_context_chunks")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(3000))
    // one explicit repartition exchange + the presentation sort's range
    // exchange — chunk building itself never shuffles
    assert(p.linesIterator.count(_.contains("+- Exchange")) <= 2, p.take(3000))
  }

  test("q177: quality survivorship is an argmax aggregate, never a window sort") {
    val p = planOf("q177_quality_survivors")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
  }

  test("q180: segment dedup anti-joins the frequent set, never doc x doc") {
    val p = planOf("q180_segment_dedup")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("q182: percentile thresholds broadcast back onto the data") {
    val p = planOf("q182_domain_percentile_gate")
    // the data-side join against the one-row-per-domain threshold table
    // must be a broadcast, and the cumulative window must not run over
    // the documents relation directly (it runs over (domain, score)
    // aggregate rows — an Aggregate feeds the Window, i.e. appears
    // BELOW it in the printed tree)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    val lines = p.linesIterator.toSeq
    val wIdx = lines.indexWhere(_.contains("Window"))
    assert(wIdx >= 0, p.take(3000))
    assert(lines.drop(wIdx).exists(_.contains("HashAggregate")),
      lines.drop(wIdx).mkString("\n"))
  }

  test("q185: quota fill is per-domain windows over a broadcast quota join") {
    val p = planOf("q185_mixture_fill")
    // one window for the quota rank (domain rows), one for the
    // exclusive cumsum (per-domain data rows) — nothing else
    assert(p.linesIterator.count(_.contains("Window [")) <= 2, p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q217: AUC windows the distinct-score frame, never ranks the corpus") {
    val p = planOf("q217_auc_exact")
    // an Aggregate feeds the Window (appears below it in the tree):
    // the cumulative sum runs over per-score counts, not documents
    val lines = p.linesIterator.toSeq
    val wIdx = lines.indexWhere(_.contains("Window"))
    assert(wIdx >= 0, p.take(3000))
    assert(lines.drop(wIdx).exists(_.contains("HashAggregate")),
      lines.drop(wIdx).mkString("\n"))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("q220: banded hamming pairs equi-join on bands, never cross-join") {
    val p = planOf("q220_image_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    // band/nib join keys present in a hash-based join
    assert(p.contains("band"), p.take(3000))
  }

  test("q221: rank normalization windows are lang-partitioned, never global") {
    val p = planOf("q221_rank_normalize")
    assert(!p.contains("SinglePartition"), p.take(3000))
    assert(p.contains("hashpartitioning(lang"), p.take(3000))
  }

  test("q223: BPE winner broadcasts into the rewrite, pair counts combine map-side") {
    val p = planOf("q223_bpe_train")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000)) // 1-row winner frame rides a broadcast
    assert(p.contains("partial_count"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q224: prefix dups equi-join on the prefix fingerprint, never all-pairs") {
    val p = planOf("q224_prefix_dups")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(p.contains("__fp"), p.take(3000))
  }

  test("q248: spatial join is an equi-join on cell keys, never point-by-point") {
    val p = planOf("q248_spatial_grid_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(p.contains("__cell") || p.contains("cx"), p.take(3000))
  }

  test("q255: interval overlap joins on (key, cell) — no cartesian, no range explosion") {
    val p = planOf("q255_interval_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(p.contains("__cell"), p.take(3000))
  }

  test("q257: phrase postings are filtered before the position join (term-selective scan)") {
    val p = planOf("q257_phrase_search")
    // both posting streams carry the literal term filter below the join
    assert(p.contains("hash") && p.contains("agg"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q327: Gini ranks the key-count frame through __g-partitioned windows only") {
    // twoLevelRankDesc: every window touching the per-key count frame
    // is partitioned by the coarse bucket — a regression to a global
    // rank of the key space would drop the __g spec
    val p = planOf("q327_key_skew_gini")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    val overCnt = winLines.filter(_.contains("cnt"))
    assert(overCnt.nonEmpty && overCnt.forall(_.contains("__g")),
      winLines.mkString("\n"))
  }

  test("q333: priority sample plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("q333_priority_sampling")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q335: Boolean retrieval is equi/anti joins on doc, never a cartesian") {
    val p = planOf("q335_boolean_retrieval")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q340: Bloom skipping probes the position tables with hash joins only") {
    val p = planOf("q340_bloom_file_skip")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q342/q343: value-domain cums ride __g-partitioned windows, never a global value window") {
    val p1 = planOf("q342_equal_freq_binning")
    val w1 = p1.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(w1.nonEmpty && w1.filter(_.contains("v#")).forall(_.contains("__g")),
      w1.mkString("\n"))
    val p2 = planOf("q343_quantile_normalization")
    val w2 = p2.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    val overCk = w2.filter(_.contains("__ck"))
    assert(overCk.nonEmpty && overCk.forall(_.contains("__g")),
      w2.mkString("\n"))
  }

  /** An RDD-backed (tid, t) frame: nothing folds on the driver. */
  private def texts(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(rows, 2)).toDF("tid", "t")
  }

  test("T13: sentenceLabelInit's Generate runs inside whole-stage codegen") {
    val plan = Normalize.sentenceLabelInit(texts(1L -> "A. B"), "t").queryExecution.executedPlan
    // the operators one codegen stage fuses: its tree down to its inputs
    def fused(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match { case _: InputAdapter => Nil; case _ => p.children.flatMap(fused) })
    val inStages = plan.collect { case w: WholeStageCodegenExec => fused(w.child) }.flatten
    assert(inStages.exists(_.isInstanceOf[GenerateExec]), plan)
  }

  test("T9/T13: videoId and sentences plan no regex, split or higher-order filter") {
    val t = texts(1L -> "https://youtu.be/dQw4w9WgXcQ. Next")
    val frames = Seq(
      t.select(Normalize.videoId(col("t"))),
      t.select(Normalize.sentences(col("t"))),
      Normalize.sentenceLabelInit(t, "t")) ++
      Seq("q60_video_id", "q62_sentence_labels", "q63_status_tally")
        .map(q => Registry.byName(q).fn(spark, sf))
    frames.foreach { df =>
      val qe = df.queryExecution
      val found = Seq(qe.analyzed, qe.optimizedPlan).flatMap(_.flatMap(_.expressions))
        .flatMap(_.collect {
          case e @ (_: RLike | _: RegExpExtract | _: StringSplit | _: ArrayFilter) => e.prettyName
        })
      assert(found.isEmpty, qe.optimizedPlan)
    }
  }

  test("T9/T13: videoId and sentenceLabelInit keep their output schemas") {
    val nullable = texts(1L -> "A. B")
    val notNull = spark.range(1).select(col("id").as("tid"), lit("A. B").as("t"))
    for (df <- Seq(nullable, notNull)) {
      val tNull = df.schema("t").nullable
      assert(Normalize.sentenceLabelInit(df, "t").schema == StructType(Seq(
        StructField("tid", LongType, nullable = false),
        StructField("t", StringType, tNull),
        StructField("sentence_no", IntegerType, nullable = false),
        StructField("sentence", StringType, nullable = false),
        StructField("toxic", BooleanType, nullable = false))))
      assert(Normalize.sentenceLabelInit(df, "t").schema ==
        IngestTextSlowPath.sentenceLabelInit(df, "t").schema)
      assert(df.select(Normalize.sentences(col("t")).as("s")).schema ==
        StructType(Seq(StructField("s", ArrayType(StringType, containsNull = false), tNull))))
      assert(df.select(Normalize.videoId(col("t")).as("video_id")).schema ==
        StructType(Seq(StructField("video_id", StringType, nullable = true))))
      assert(df.select(Normalize.videoId(col("t")).as("video_id")).schema ==
        df.select(IngestTextSlowPath.videoId(col("t")).as("video_id")).schema)
    }
  }
}
