package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational building blocks. Each helper stays declarative
  * (DataFrame API only) so Catalyst keeps predicate pushdown, column
  * pruning, join selection and whole-stage codegen. Money math goes
  * through exact decimals (SURVEY §7.3: float agg order breaks
  * hash-compares) and is cast back to double at the output boundary.
  */
object Relational {

  /** Exact-sum helper: cast to decimal before summing so the result is
    * independent of partitioning/merge order, then back to double. */
  def sumExact(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Order-insensitive average with bounded output precision. */
  def avgExact(c: Column, scale: Int = 2, outScale: Int = 6): Column =
    round(sum(c.cast(s"decimal(18,$scale)")).cast("double") / count(c), outScale)

  /** TPC-H style revenue expression: extendedprice * (1 - discount),
    * snapped to an exact decimal per row before aggregation. */
  def revenue(price: Column, discount: Column): Column =
    (price * (lit(1.0) - discount)).cast("decimal(18,4)")

  /** Top-k rows per group, deterministic via explicit tie-break keys.
    * Plans as one shuffle + in-partition sort (no global sort). */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  /** Global top-k — Spark plans TakeOrderedAndProject (no full sort at
    * scale; per-partition heaps + driver merge of k rows). */
  def topK(df: DataFrame, orderCols: Seq[Column], k: Int): DataFrame =
    df.orderBy(orderCols: _*).limit(k)

  /** Top-k per group with MAP-SIDE pruning for large inputs: the
    * window formulation (topKPerGroup) shuffles every row; this
    * variant first sorts within each input partition and keeps at most
    * k rows per (group, partition), so the shuffle carries at most
    * k * partitions rows per group — the difference between shuffling
    * 100 TB and shuffling k rows per group. The final window pass then
    * picks the exact global top-k. Results are identical to
    * topKPerGroup (ties must be fully broken by orderCols).
    *
    * Caveat (exception to this module's all-declarative rule): the
    * prune stage is a mapPartitions, which blocks predicate/projection
    * pushdown through it and leaves codegen for that stage — apply
    * filters and select only the needed columns BEFORE calling. */
  def topKPerGroupLarge(df: DataFrame, partitionCols: Seq[String],
                        orderCols: Seq[Column], k: Int): DataFrame = {
    val schema = df.schema
    // resolve names like the rest of the DataFrame API: respecting
    // spark.sql.caseSensitive (default false)
    val caseSensitive = df.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    val keyIdx = partitionCols.map { name =>
      val idx = schema.fieldNames.indexWhere(f =>
        if (caseSensitive) f == name else f.equalsIgnoreCase(name))
      require(idx >= 0, s"Column '$name' not found in ${schema.fieldNames.mkString(", ")}")
      idx
    }
    val sortCols = partitionCols.map(col) ++ orderCols
    val pruned = df.sortWithinPartitions(sortCols: _*)
      .mapPartitions { rows =>
        // rows arrive grouped by key within the partition; keep first k
        // of each run — O(1) state, streaming
        var currentKey: Seq[Any] = null
        var kept = 0
        rows.filter { r =>
          val key = keyIdx.map(r.get)
          if (key != currentKey) { currentKey = key; kept = 0 }
          kept += 1
          kept <= k
        }
      }(org.apache.spark.sql.Encoders.row(schema))
    topKPerGroup(pruned, partitionCols.map(col), orderCols, k)
  }

  /** Keys present in `in` (semi) — e.g. customers that have orders. */
  def semiJoin(df: DataFrame, in: DataFrame, keys: Seq[String]): DataFrame =
    df.join(in, keys, "left_semi")

  /** Keys absent from `notIn` (anti) — the reference's new-file
    * detection shape (main.py:91-95). */
  def antiJoin(df: DataFrame, notIn: DataFrame, keys: Seq[String]): DataFrame =
    df.join(notIn, keys, "left_anti")

  /** Running aggregate over an ordered per-key frame. */
  def runningSum(df: DataFrame, key: Column, order: Seq[Column],
                 value: Column, as: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as, sum(value).over(w))
  }

  /** Two-phase (salted) aggregation for skewed keys: phase 1 groups by
    * (key, salt) so one hot key spreads over `saltBuckets` reducers;
    * phase 2 merges the partials. Use for algebraic aggregates when a
    * single key dominates (AQE splits skewed JOINS but not skewed
    * aggregation reducers). The salt is derived from stable row
    * content, not rand(), so results are reproducible.
    *
    * `partials` aggregate raw rows per (key, salt); `finals` merge the
    * partial columns per key — e.g. partial sum+count, final
    * sum(sum)/sum(count) for an average.
    */
  def saltedAggregate(df: DataFrame, keys: Seq[String], saltFrom: Column,
                      saltBuckets: Int)(
                      partials: Seq[Column], finals: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(saltFrom), lit(saltBuckets)))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partials.head, partials.tail: _*)
    phase1.groupBy(keys.map(col): _*).agg(finals.head, finals.tail: _*)
  }

  /** Salted skew join: the big (skewed) side gets a content-derived
    * salt in [0, saltFactor); the small side is replicated saltFactor
    * times; the join runs on (key, salt), spreading each hot key over
    * saltFactor reducers. Use when a handful of known-hot keys would
    * overwhelm one task and AQE's skew split is unavailable (e.g.
    * non-sort-merge paths). Results are identical to the direct join. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltFactor: Int, saltFrom: Column): DataFrame = {
    val saltedBig = big.withColumn("__salt", pmod(hash(saltFrom), lit(saltFactor)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedBig.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Hybrid (heavy-key-isolated) skew join: measure each join key's
    * frequency on the big side, split the big side at `threshold`, and
    * run TWO joins — the heavy-key slice against a broadcast of the
    * matching small-side subset (hot keys never shuffle at all; each
    * hot key's rows stay where they already are and the dim rows come
    * to them), the light remainder as an ordinary shuffle equi-join —
    * then union. Complements [[saltedJoin]]: salting spreads a hot key
    * over more reducers but still shuffles every row; isolation removes
    * the hot keys from the shuffle entirely, which wins when the heavy
    * slice is a small fraction of DISTINCT keys (so its dim subset is
    * broadcast-sized) but a large fraction of ROWS — the canonical
    * power-law layout of a 100 TB fact table. The frequency scan
    * reuses the big side's first pass (map-side-combined count), and
    * the heavy-key frame (distinct keys over threshold — small by
    * construction) broadcasts into both the split and the dim subset.
    * Results are identical to the direct inner join, in any order. */
  def hybridSkewJoin(big: DataFrame, small: DataFrame, key: String,
                     threshold: Long): DataFrame = Checkpoints.scoped { pin =>
    // materialize the frequency count ONCE (eager checkpoint,
    // small by construction) instead of embedding the aggregation
    // subtree in three broadcast branches — correctness never depended
    // on it, but without it avoiding a triple scan of the big side
    // relied on ReuseExchange matching the three copies (the Graph-ops
    // checkpoint discipline, applied here per the r6 advice)
    val heavyKeys = pin(big.groupBy(key).agg(count(lit(1)).as("__n"))
      .where(col("__n") > threshold).select(key))
    val heavyBig = big.join(broadcast(heavyKeys), Seq(key), "left_semi")
    val lightBig = big.join(broadcast(heavyKeys), Seq(key), "left_anti")
    val heavySmall = small.join(broadcast(heavyKeys), Seq(key), "left_semi")
    heavyBig.join(broadcast(heavySmall), Seq(key))
      .unionByName(lightBig.join(small, Seq(key)))
  }

  /** Changelog (CDC) apply: fold a stream of upserts/deletes into a
    * base snapshot. `changes` carries the key, an op column
    * ('upsert' | 'delete'), an ordering column (sequence/ts), and the
    * new payload; the LATEST change per key wins, an 'upsert' replaces
    * the base row, a 'delete' removes it, untouched base rows pass
    * through.
    *
    * Shape: one window shuffle over the (small) changelog to pick each
    * key's latest change, then one equi-join against the base — the
    * base is never windowed or re-sorted, so applying a day's changes
    * to a 100 TB snapshot costs one join, and the changelog side is
    * broadcast when it fits. */
  def applyChangelog(base: DataFrame, changes: DataFrame, keyCol: String,
                     opCol: String, seqCol: String): DataFrame = {
    val dataCols = base.columns.filter(_ != keyCol)
    val latest = {
      // opCol desc tie-break: equal sequence numbers (same-second
      // timestamps) resolve deterministically, 'upsert' over 'delete'
      val w = Window.partitionBy(col(keyCol))
        .orderBy(col(seqCol).desc, col(opCol).desc)
      changes.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col(keyCol) +: col(opCol).as("__op") +:
          dataCols.map(c => col(c).as(s"__new_$c")): _*)
    }
    base.join(latest, Seq(keyCol), "full_outer")
      .where(col("__op").isNull || col("__op") =!= "delete")
      .select(col(keyCol) +: dataCols.map { c =>
        when(col("__op") === "upsert", col(s"__new_$c"))
          .otherwise(col(c)).as(c)
      }: _*)
  }

  /** MERGE INTO convenience — the one-call upsert/delete every modern
    * lakehouse engine exposes, composed from the applyChangelog
    * semantics: source rows matched on `keyCol` replace the base row,
    * unmatched source rows insert, and source rows where `deleteWhen`
    * holds remove the key. `source` must carry the base's columns and
    * be key-unique (the SQL MERGE precondition — duplicate matches are
    * ambiguous); base rows untouched by the source pass through.
    *
    * Shape: ONE full-outer equi-join on the key — the base is never
    * windowed, sorted, or scanned twice, so merging a day's changes
    * into a 100 TB snapshot costs a single join, broadcast when the
    * source side fits. */
  def mergeInto(base: DataFrame, source: DataFrame, keyCol: String,
                deleteWhen: Column = lit(false)): DataFrame = {
    val dataCols = base.columns.filter(_ != keyCol).toSeq
    val src = source.select(col(keyCol) +:
      when(deleteWhen, lit("delete")).otherwise(lit("upsert")).as("__op") +:
      dataCols.map(c => col(c).as(s"__src_$c")): _*)
    base.join(src, Seq(keyCol), "full_outer")
      .where(col("__op").isNull || col("__op") =!= "delete")
      .select(col(keyCol) +: dataCols.map { c =>
        when(col("__op") === "upsert", col(s"__src_$c"))
          .otherwise(col(c)).as(c)
      }: _*)
  }

  /** Two-level cumulative sum over a histogram: adds `cum` = running
    * total of `cntCol` in `keyCol` order WITHOUT a global-order window
    * (a single-partition exchange that serializes the whole frame
    * through one task). Rows are bucketed into coarse ranges of
    * `coarseWidth` keys; the running total inside each range is a
    * PARTITIONED window, and each range's starting offset is a prefix
    * sum over the O(domain/coarseWidth) range totals — a frame small
    * enough that its global window is a few-hundred-row task — joined
    * back broadcast. Bit-identical to the naive global window (pinned
    * in OpsSpec); the largest single-task structure is the coarse
    * offsets frame, never the histogram. */
  def twoLevelCumSum(hist: DataFrame, keyCol: String, cntCol: String,
                     coarseWidth: Long): DataFrame = {
    require(coarseWidth >= 1, s"coarseWidth must be positive, got $coarseWidth")
    // `div` truncates toward zero, so the bucket around zero is twice
    // as wide — harmless: the algorithm only needs the bucket id to be
    // MONOTONE in the key (contiguous key ranges), which truncation
    // preserves for negatives too (pinned in RelationalExtSpec)
    val hg = hist.withColumn("__g", expr(s"$keyCol div ${coarseWidth}L"))
    val wIn = Window.partitionBy("__g").orderBy(keyCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = hg.withColumn("__w", sum(cntCol).over(wIn))
    val wPre = Window.orderBy("__g").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hg.groupBy("__g").agg(sum(cntCol).as("__gt"))
      .select(col("__g"), coalesce(sum("__gt").over(wPre), lit(0L)).as("__off"))
    within.join(broadcast(offsets), "__g")
      .withColumn("cum", col("__w") + col("__off"))
      .drop("__g", "__w", "__off")
  }

  /** Two-level GLOBAL ROW NUMBER: assigns 1-based positions in
    * `keyCol` order WITHOUT a global sort or single-partition window —
    * the ordered-sharding primitive (training-order indices, packed
    * sequence ids, deterministic shard assignment). Same discipline as
    * [[twoLevelCumSum]]: rows bucket into coarse `keyCol div width`
    * ranges; positions inside a range come from a PARTITIONED
    * row_number window, each range's starting offset is an exclusive
    * prefix sum over the O(domain/width) per-range counts (a
    * few-hundred-row global window), joined back broadcast. The
    * position is COMPUTED from the key, not assigned by arrival order,
    * so the result is partition-order-independent and replayable by a
    * plain `row_number() OVER (ORDER BY key)` oracle (q199).
    *
    * `keyCol` values must be distinct (a total order) — with ties the
    * within-range ordering of equal keys would be nondeterministic. */
  def twoLevelRowNumber(df: DataFrame, keyCol: String, coarseWidth: Long,
                        outCol: String = "seq"): DataFrame = {
    require(coarseWidth >= 1, s"coarseWidth must be positive, got $coarseWidth")
    val hg = df.withColumn("__g", expr(s"$keyCol div ${coarseWidth}L"))
    val wIn = Window.partitionBy("__g").orderBy(keyCol)
    val within = hg.withColumn("__w", row_number().over(wIn).cast("long"))
    val wPre = Window.orderBy("__g").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hg.groupBy("__g").agg(count(lit(1)).as("__gt"))
      .select(col("__g"), coalesce(sum("__gt").over(wPre), lit(0L)).as("__off"))
    within.join(broadcast(offsets), "__g")
      .withColumn(outCol, col("__w") + col("__off"))
      .drop("__g", "__w", "__off")
  }

  /** [[twoLevelRowNumber]] WITHIN partitions: 1-based positions in
    * `keyCol` order inside each `partCol` group, with NO per-group
    * single-task window — the primitive a composite-key dense rank
    * needs when one group could hold millions of rows (a window
    * partitioned only by `partCol` would serialize that whole group
    * through one task; this never builds a structure bigger than one
    * group's OCCUPIED-bucket list). Same decomposition as the global
    * form, one level down: rows bucket into coarse `keyCol div width`
    * ranges; positions inside a (group, range) come from a PARTITIONED
    * window, and each range's starting offset is a per-group exclusive
    * prefix sum over the O(keyDomain/width) per-range counts. The
    * offsets frame (one row per occupied (group, range)) joins back on
    * its natural key — a plain shuffle join, not a broadcast: across
    * many groups it can be as large as the distinct-group count.
    *
    * `keyCol` values must be distinct WITHIN each group. */
  def twoLevelRowNumberBy(df: DataFrame, partCol: String, keyCol: String,
                          coarseWidth: Long, outCol: String): DataFrame = {
    require(coarseWidth >= 1, s"coarseWidth must be positive, got $coarseWidth")
    val hg = df.withColumn("__g", expr(s"$keyCol div ${coarseWidth}L"))
    val wIn = Window.partitionBy(partCol, "__g").orderBy(keyCol)
    val within = hg.withColumn("__w", row_number().over(wIn).cast("long"))
    val wPre = Window.partitionBy(partCol).orderBy("__g")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hg.groupBy(partCol, "__g").agg(count(lit(1)).as("__gt"))
      .select(col(partCol), col("__g"),
        coalesce(sum("__gt").over(wPre), lit(0L)).as("__off"))
    within.join(offsets, Seq(partCol, "__g"))
      .withColumn(outCol, col("__w") + col("__off"))
      .drop("__g", "__w", "__off")
  }

  /** Two-level GLOBAL RANK over `(scoreCol DESC, idCol ASC)` WITHOUT a
    * single-partition window of the data — the retrieval-ranking shape
    * (RRF fusion, leaderboards) where [[twoLevelRowNumber]]'s
    * distinct-single-key precondition fails because scores tie heavily
    * (a lexical hit-count is 0 for most of the corpus).
    *
    * Decomposition: rank(x) = #{score > x.score}
    *                        + #{score = x.score, id-bucket < x's}
    *                        + position within (score, id-bucket).
    * The strictly-greater term comes from [[twoLevelCumSum]] over the
    * score HISTOGRAM (its one global-order window runs over the
    * O(score-domain / scoreWidth) non-empty coarse ranges — never over
    * rows); the within-score offset is a window PARTITIONED by score
    * over O(id-range / idWidth) bucket-count rows per score; positions
    * are a window partitioned by (score, id-bucket), ≤ idWidth rows
    * per partition. All join-backs are keyed shuffles (AQE demotes to
    * broadcast when small) — NOTHING corpus-sized is broadcast or
    * funneled through one task, for ANY mix of heavy ties and distinct
    * scores (both pinned in RelationalExtSpec against the naive
    * window).
    *
    * Preconditions: `scoreCol` non-null integral with a BOUNDED value
    * domain (quantize floats to micro-units first — the retrieval
    * convention); `idCol` distinct non-null (the tie-break). */
  def twoLevelRankDesc(df: DataFrame, scoreCol: String, idCol: String,
                       idWidth: Long, outCol: String,
                       scoreWidth: Long = 4096L): DataFrame = Checkpoints.scoped { pin =>
    require(idWidth >= 1, s"idWidth must be positive, got $idWidth")
    require(scoreWidth >= 1, s"scoreWidth must be positive, got $scoreWidth")
    // consumed THREE times (positions, bucket counts, histogram) and
    // rank calls often stack (q254 ranks twice) — without the persist
    // each consumer re-evaluates the full upstream lineage
    // (multiplicatively when stacked; measured 4.6 s vs 1.5 s on q254)
    val hg = pin.keep(df.withColumn("__g", expr(s"$idCol div ${idWidth}L"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val wIn = Window.partitionBy(col(scoreCol), col("__g")).orderBy(col(idCol))
    val within = hg.withColumn("__w", row_number().over(wIn).cast("long"))
    val bCnt = hg.groupBy(col(scoreCol), col("__g"))
      .agg(count(lit(1)).as("__bc"))
    val wOff = Window.partitionBy(col(scoreCol)).orderBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val idOff = bCnt.select(col(scoreCol), col("__g"),
      coalesce(sum("__bc").over(wOff), lit(0L)).as("__ioff"))
    val hist = hg.groupBy(col(scoreCol)).agg(count(lit(1)).as("__sc"))
      .withColumn("__neg", -col(scoreCol))
    val greater = twoLevelCumSum(hist, "__neg", "__sc", scoreWidth)
      .select(col(scoreCol), (col("cum") - col("__sc")).as("__goff"))
    within
      .join(idOff, Seq(scoreCol, "__g"))
      .join(greater, Seq(scoreCol))
      .withColumn(outCol, col("__goff") + col("__ioff") + col("__w"))
      .drop("__g", "__w", "__ioff", "__goff")
  }

  /** Snapshot diff — the INVERSE of applyChangelog: compare two
    * snapshots of the same schema and emit the changelog that turns
    * `old` into `new`: inserts (key only in new), deletes (key only
    * in old), updates (key in both, any data column differs).
    * Unchanged rows emit nothing. One full outer join on the key —
    * the standard CDC-generation shape; null-safe comparison so
    * null→value and value→null transitions register as updates. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCol: String): DataFrame = {
    val dataCols = oldDf.columns.filter(_ != keyCol).toSeq
    val o = oldDf.select(col(keyCol) +: lit(true).as("__in_old") +:
      dataCols.map(c => col(c).as(s"__o_$c")): _*)
    val n = newDf.select(col(keyCol) +: lit(true).as("__in_new") +:
      dataCols.map(c => col(c).as(s"__n_$c")): _*)
    val changed = dataCols
      .map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduce(_ || _)
    o.join(n, Seq(keyCol), "full_outer")
      .withColumn("op",
        when(col("__in_old").isNull, lit("insert"))
          .when(col("__in_new").isNull, lit("delete"))
          .when(changed, lit("update")))
      .where(col("op").isNotNull)
      .select(col(keyCol) +: col("op") +: dataCols.map { c =>
        when(col("op") === "delete", col(s"__o_$c"))
          .otherwise(col(s"__n_$c")).as(c)
      }: _*)
  }

  /** SCD Type-2 history build: turn a changelog (key, op, seq, data…)
    * into validity intervals — one row per change with `valid_from` =
    * its seq, `valid_to` = the next change's seq for the key (null =
    * still open), and `is_current`. Delete ops close the previous
    * interval and produce no row of their own.
    *
    * Shape: one window shuffle over the changelog, partitioned by key
    * — no self-join, no base-table rewrite. At 100 TB the changelog is
    * the small side; history build cost is O(changes log changes/key). */
  def scd2History(changes: DataFrame, keyCol: String, opCol: String,
                  seqCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol).asc, col(opCol).asc)
    changes
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .where(col(opCol) === "upsert")
      .withColumn("valid_from", col(seqCol))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(opCol, seqCol)
  }

  /** One-pass column profile: per listed column, non-null count,
    * approximate-free distinct count, and min/max rendered as strings.
    * All statistics come from ONE aggregate over the table (count +
    * min + max are partial-aggregating; the distincts are one
    * expand-based aggregate) — a data-quality staple that must never
    * scan per-column at scale. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__n_$c"),
        countDistinct(col(c)).as(s"__d_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single stats row to one output row per column
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col(s"__n_$c").as("n_nonnull"),
        col(s"__d_$c").as("n_distinct"), col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Winsorized group statistics: clamp values at the [pLo, pHi]
    * exact percentiles of their group, report raw and clamped means.
    * Percentiles are computed once per group (tiny frame) and joined
    * back broadcast — the big side is scanned twice but never
    * shuffled on the group key a second time. Means come from exact
    * decimal sums (order-free, see QueriesStats q70). */
  def winsorizeStats(df: DataFrame, groupCol: String, valueCol: String,
                     pLo: Double, pHi: Double): DataFrame = {
    val v = col(valueCol)
    val bounds = df.groupBy(col(groupCol)).agg(
      expr(s"percentile($valueCol, $pLo)").as("__lo"),
      expr(s"percentile($valueCol, $pHi)").as("__hi"))
    val clamped = least(greatest(v.cast("double"), col("__lo")), col("__hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        round(sum(v.cast("decimal(18,2)")).cast("double") / count(lit(1)), 4)
          .as("avg_raw"),
        round(sum(clamped.cast("decimal(18,6)")).cast("double") / count(lit(1)), 4)
          .as("avg_winsorized"),
        round(min(col("__lo")), 4).as("p_lo"),
        round(max(col("__hi")), 4).as("p_hi"))
  }

  /** Fixed-width histogram: bucket index in [0, nBuckets) with
    * under/overflow clamped to the edge buckets. One hash-aggregate —
    * the degenerate-free way to histogram a 100 TB column (no sort,
    * no per-bucket scan). */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
                nBuckets: Int): DataFrame = {
    val width = (hi - lo) / nBuckets
    val bucket = least(greatest(
      floor((col(valueCol) - lo) / width), lit(0.0)), lit((nBuckets - 1).toDouble))
      .cast("long")
    df.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col(valueCol)), 2).as("lo_seen"),
        round(max(col(valueCol)), 2).as("hi_seen"))
  }

  // ---- explicit Bloom-filter runtime pre-filter ---------------------
  // The user-level form of the runtime-filter optimization (Spark's
  // own InjectRuntimeFilter makes the same trade automatically when
  // statistics allow): condense the small side's join keys into an
  // mBits-bit filter, broadcast it as ONE row, and drop non-matching
  // fact rows AT THE SCAN — before the shuffle — so the 100 TB side
  // pays the exchange only for rows that can possibly join. The
  // membership test never has false negatives, so a normal (semi)
  // join afterwards gives the exact result; false positives only cost
  // the shuffle they failed to save. All hashing is md5
  // (Sampling.hashLong) so any engine recomputes the identical filter
  // — which is what lets q146 hash-verify the whole mechanism,
  // including the measured false-positive rate.

  /** Bit positions of `key` in an mBits Bloom filter with kHashes
    * probes: hash i = md5(key || "#i") as a 32-bit uniform, mod mBits. */
  private def bloomPositions(key: Column, mBits: Int, kHashes: Int): Seq[Column] =
    (0 until kHashes).map { i =>
      (graft.ops.Sampling.hashLong(concat(key.cast("string"), lit(s"#$i"))) % mBits)
        .cast("int")
    }

  /** Build the filter from the small side's keys: one row holding
    * mBits/32 lanes (32-bit masks in BIGINTs — shifts stay < 32 so the
    * identical expression runs on engines whose `<<` overflows at 63).
    * The build is one explode + one partial-combining bit_or aggregate:
    * shuffle volume is nLanes rows TOTAL, regardless of key count. */
  def bloomLanes(keys: DataFrame, keyCol: String, mBits: Int,
                 kHashes: Int): DataFrame = {
    require(mBits % 32 == 0, s"mBits must be a multiple of 32, got $mBits")
    val nLanes = mBits / 32
    val positioned = keys
      .select(explode(array(bloomPositions(col(keyCol), mBits, kHashes): _*))
        .as("__pos"))
      .select(shiftright(col("__pos"), 5).as("__lane"),
        // variable-distance shift: the (Column, Int) shiftleft overload
        // can't express it, so call the SQL function directly
        call_function("shiftleft", lit(1L),
          col("__pos").bitwiseAND(lit(31))).as("__mask"))
    val laneAggs = (0 until nLanes).map { j =>
      coalesce(bit_or(when(col("__lane") === j, col("__mask"))), lit(0L))
        .as(s"__b$j")
    }
    positioned
      .agg(laneAggs.head, laneAggs.tail: _*)
      .select(array((0 until nLanes).map(j => col(s"__b$j")): _*).as("bloom_lanes"))
  }

  /** Membership test against a `bloom_lanes` column (all kHashes bits
    * set). Pure row-local arithmetic — codegen-friendly, no join. */
  def bloomMightContain(lanes: Column, key: Column, mBits: Int,
                        kHashes: Int): Column =
    bloomPositions(key, mBits, kHashes).map { pos =>
      element_at(lanes, shiftright(pos, 5) + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pos.bitwiseAND(lit(31)))) =!= lit(0L)
    }.reduce(_ && _)

  /** Bloom-pre-filtered semi join: filter `big` by the Bloom filter of
    * `keys`, then exact-semi-join to discard false positives. Returns
    * the filtered frame plus a `__bloom_pass` marker frame count built
    * in; callers wanting the exact rows only can ignore the plumbing.
    * The broadcast is ONE row (the lanes array). */
  def bloomSemiJoin(big: DataFrame, bigKeyCol: String,
                    keys: DataFrame, keyCol: String,
                    mBits: Int = 2048, kHashes: Int = 3): DataFrame = {
    val lanes = bloomLanes(keys, keyCol, mBits, kHashes)
    val passed = big
      .crossJoin(broadcast(lanes))
      .where(bloomMightContain(col("bloom_lanes"), col(bigKeyCol), mBits, kHashes))
      .drop("bloom_lanes")
    passed.join(keys.select(col(keyCol).as(bigKeyCol)).distinct(),
      Seq(bigKeyCol), "left_semi")
  }

  /** Co-occurrence pairs within baskets: for each basket (order, cart,
    * document) emit every unordered item pair with its support count —
    * the association-mining / co-purchase-graph primitive (q165's pair
    * stage, the q145/q162 edge builders). The join is basket-keyed
    * (never all-pairs across baskets), but a single degenerate basket
    * of m items still contributes m² rows, so `maxBasket` drops
    * baskets above the cap via a semi-join against the under-cap
    * basket list BEFORE the self-join — the `lshCandidatePairs`
    * maxBucket discipline (ops/Dedup.scala). A boilerplate mega-basket
    * (a crawler cart, a catalog-wide order) is noise for association
    * metrics anyway: its pairs say "listed together", not "chosen
    * together". The guard anti-joins against the OVER-cap basket list
    * — tiny (usually empty) and broadcast, where semi-joining the
    * under-cap list would shuffle every row. Disabled when
    * maxBasket <= 0.
    *
    * Input must be DISTINCT (basket, item) rows. Output:
    * (pa, pb, pair_cnt) with pa < pb. */
  def basketPairs(op: DataFrame, basketCol: String, itemCol: String,
                  maxBasket: Int = 10000): DataFrame = {
    val in =
      if (maxBasket <= 0) op
      else {
        val big = op.groupBy(basketCol)
          .agg(count(lit(1)).as("__bsz")).where(col("__bsz") > maxBasket)
          .select(basketCol)
        op.join(broadcast(big), Seq(basketCol), "left_anti")
      }
    in.select(col(basketCol), col(itemCol).as("pa"))
      .join(in.select(col(basketCol), col(itemCol).as("pb")), basketCol)
      .where(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("pair_cnt"))
  }

  /** Pareto frontier (skyline) on two integer maximize-criteria: keep
    * rows no OTHER row dominates, where q dominates p iff q.x >= p.x,
    * q.y >= p.y and q is strictly greater on at least one. Ties on
    * BOTH coordinates are kept (equal points never dominate each
    * other) — the curation shape "no document is kept if a strictly
    * better one exists" (quality vs length, score vs recency).
    *
    * Scale posture: the naive skyline is a self-join (O(n²)) or a
    * global-order window over the corpus. Here a GRID PRUNE runs
    * first: per x-bucket max(y) (one hash-agg), suffix-max over the
    * O(domain/bucket) bucket frame (tiny window), broadcast back —
    * any row whose y is <= the best y of a strictly-greater bucket is
    * dominated by a witness in that bucket and drops without a
    * shuffle of the fact table. Only the survivors (frontier-shaped
    * band, typically orders of magnitude smaller) pay the exact
    * global-order windows. Every dominated row is dominated by a
    * FRONTIER row (dominance chains end at the frontier) and frontier
    * rows always survive the prune, so pruning before the exact pass
    * cannot change the result (PropertySpec pins this against the
    * brute-force skyline, including bucket widths of 1 and beyond the
    * whole domain). */
  /** Exact interpolated percentiles (percentile_cont semantics) over
    * an integral value column, returned ×100 so the linear
    * interpolation stays an integer: for percentile p over n values,
    * pos = (n−1)·p, lower order statistic at 0-based index
    * pos div 100, fraction r = pos mod 100, result =
    * v_lo·(100−r) + v_hi·r. Never sorts the data: one combining
    * count to the (group, value) frame, a cumulative window over that
    * DOMAIN frame (the q136 equi-depth discipline — window rows =
    * distinct values, not rows), then per-percentile conditional-min
    * picks of the two bracketing order statistics. Engine-exact, so
    * the oracle replays the same arithmetic rather than trusting any
    * built-in quantile's rounding. */
  def percentileContExact(df: DataFrame, groupCol: String,
                          valueCol: String, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 100),
      "pcts must be within [0, 100]")
    val counts = df
      .groupBy(col(groupCol), col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("__v")
    val n = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    val cum = counts
      .withColumn("__cum", sum("__c").over(w))
      .withColumn("__n", sum("__c").over(n))
    val picks = pcts.flatMap { p =>
      val pos = (col("__n") - 1) * p            // in hundredths of rank
      val lo = expr(s"((__n - 1) * $p) div 100") + 1   // 1-based lower rank
      val r = pos % 100
      Seq(
        min(when(col("__cum") >= lo, col("__v"))).as(s"__lo_$p"),
        min(when(col("__cum") >= least(lo + 1, col("__n")), col("__v")))
          .as(s"__hi_$p"),
        max(r).as(s"__r_$p"))                    // constant per group
    }
    val outs = pcts.map { p =>
      (col(s"__lo_$p") * (lit(100) - col(s"__r_$p")) +
        col(s"__hi_$p") * col(s"__r_$p")).as(s"p${p}_x100")
    }
    cum.groupBy(col(groupCol))
      .agg(picks.head, picks.tail: _*)
      .select(col(groupCol) +: outs: _*)
  }

  def paretoFrontier(df: DataFrame, xCol: String, yCol: String,
                     idCols: Seq[String], bucket: Long = 256L): DataFrame = {
    require(bucket > 0, "paretoFrontier needs a positive bucket width")
    val base = df.select(
      idCols.map(col) ++ Seq(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y")): _*)
    val bmax = base.groupBy(expr(s"__x div ${bucket}L").as("__bx"))
      .agg(max("__y").as("__by"))
    // suffix max over STRICTLY greater buckets: rows there have
    // x >= (bx+1)*bucket > any x in this bucket, so __smax >= y is a
    // dominance witness (greater x, >= y)
    val wSuffix = Window.orderBy(col("__bx").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prune = bmax
      .withColumn("__smax", max("__by").over(wSuffix))
      .select("__bx", "__smax")
    val survivors = base
      .withColumn("__bx", expr(s"__x div ${bucket}L"))
      .join(broadcast(prune), Seq("__bx"), "left")
      .where(col("__smax").isNull || col("__smax") < col("__y"))
    // exact pass on the survivor band: dominated iff
    //   exists x' > x with y' >= y  (max-y over the strict-x frame), or
    //   exists x' = x with y' > y   (per-x max)
    val wStrict = Window.orderBy(col("__x").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wSameX = Window.partitionBy(col("__x"))
    survivors
      .withColumn("__m1", max("__y").over(wStrict))
      .withColumn("__m2", max("__y").over(wSameX))
      .where((col("__m1").isNull || col("__m1") < col("__y")) &&
        col("__m2") <= col("__y"))
      .select(idCols.map(col) ++ Seq(col("__x").as(xCol),
        col("__y").as(yCol)): _*)
  }

  /** All point pairs within `radius` (Euclidean) via GRID BUCKETING —
    * the 2D spatial join, solved with the same pigeonhole discipline
    * as the Hamming-band joins (q220): cell side == radius, so any
    * qualifying pair sits in the same or an adjacent cell, and probing
    * each point against its 3×3 cell neighborhood is COMPLETE — a
    * brute-force oracle must agree exactly. Coordinates are integers
    * (caller's fixed-point unit, non-negative) and the distance check
    * is dist² ≤ radius² in BIGINT — no sqrt, no float anywhere.
    *
    * Scale: one 9× fan-out of the point set joined on the cell key —
    * never point×point. Each unordered pair is produced exactly once
    * (probe a → home b, kept iff id_a < id_b ... and the mirrored
    * probe b → home a is the same cell pair, filtered by the id
    * order). Density skew (a mega-cell) amplifies the bucket join the
    * same way a degenerate LSH band does — cap or sub-split cells for
    * adversarial point sets (the q42 bucket-cap discipline). */
  def gridDistanceJoin(points: DataFrame, idCol: String, xCol: String,
                       yCol: String, radius: Long): DataFrame = {
    require(radius > 0, s"need a positive radius, got $radius")
    val p = points.select(col(idCol).cast("long").as("id"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .withColumn("cx", expr(s"x div ${radius}L"))
      .withColumn("cy", expr(s"y div ${radius}L"))
    val home = p.select(col("id").as("id_b"), col("x").as("xb"),
      col("y").as("yb"), col("cx"), col("cy"))
    val probe = p
      .withColumn("__dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("__dx")).as("cx"), (col("cy") + col("__dy")).as("cy"))
    probe.join(home, Seq("cx", "cy"))
      .where(col("id_a") < col("id_b"))
      .withColumn("dist2",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .where(col("dist2") <= lit(radius * radius))
      .select("id_a", "id_b", "dist2")
  }

  /** Interval × interval OVERLAP join via 1D grid bucketing — the
    * sessions×outages / validity×observation join family, solved with
    * the `gridDistanceJoin` discipline in one dimension: every
    * half-open interval [s, e) explodes to the cells it covers, the
    * join runs on (keys, cell), and each overlapping pair is emitted
    * EXACTLY ONCE — by the cell containing the overlap's start
    * (max(sa, sb) div cell), which both intervals necessarily cover —
    * so completeness needs no distinct and a quadratic oracle must
    * agree. All arithmetic is integer (caller's time unit).
    *
    * Fan-out per row is ceil(len/cell): pick `cellSize` at or above
    * the typical interval length. A pathologically long interval
    * amplifies the explode the way a degenerate LSH bucket amplifies
    * its join — cap or split outliers first (the q42 discipline). */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                          idA: String, idB: String,
                          startCol: String, endCol: String,
                          cellSize: Long): DataFrame = {
    require(cellSize > 0, s"need a positive cellSize, got $cellSize")
    require(a.columns.contains(idA) && b.columns.contains(idB) && idA != idB,
      s"idA/idB must name existing, distinct id columns (got $idA/$idB)")
    def cells(df: DataFrame, idCol: String, side: String): DataFrame =
      df.select(keyCols.map(col) ++ Seq(col(idCol).as(s"id_$side"),
          col(startCol).cast("long").as(s"s_$side"),
          col(endCol).cast("long").as(s"e_$side")): _*)
        .where(col(s"s_$side") < col(s"e_$side"))
        .withColumn("__cell", explode(sequence(
          expr(s"s_$side div ${cellSize}L"),
          expr(s"(e_$side - 1) div ${cellSize}L"))))
    cells(a, idA, "a").join(cells(b, idB, "b"),
        keyCols :+ "__cell")
      .where(col("s_a") < col("e_b") && col("s_b") < col("e_a") &&
        col("__cell") === expr(s"greatest(s_a, s_b) div ${cellSize}L"))
      .select(keyCols.map(col) ++ Seq(
        col("id_a").as(idA), col("id_b").as(idB),
        (least(col("e_a"), col("e_b")) -
          greatest(col("s_a"), col("s_b"))).as("overlap")): _*)
  }

  /** GOLDEN-RECORD survivorship — the merge step of entity resolution
    * (match q44/q102 → cluster q45 → MERGE): within each cluster,
    * every field independently keeps its value from the LATEST record
    * that has it non-null (field-level survivorship, not row-level —
    * the merged record can combine fields no single member carries).
    *
    * The per-field argmax is ONE string max: each candidate packs to
    * zero-padded(ts) ++ zero-padded(id) ++ value, so lexicographic max
    * IS (latest ts, then highest id) and the value rides along —
    * engine-identical with no struct comparators and no null-ordering
    * edge cases (all-null fields stay null). One hash-aggregation
    * total; `tsCol`/`idCol` must be non-negative integers (they pad to
    * 12 digits). */
  def goldenRecord(df: DataFrame, clusterCol: String, tsCol: String,
                   idCol: String, fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "goldenRecord needs at least one field")
    val aggs = fields.map { f =>
      max(when(col(f).isNotNull,
        concat(lpad(col(tsCol).cast("string"), 12, "0"),
          lpad(col(idCol).cast("string"), 12, "0"), col(f)))).as(s"__$f")
    } :+ count(lit(1)).as("n_members")
    df.groupBy(col(clusterCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(clusterCol) +:
        fields.map(f => expr(s"substring(__$f, 25)").as(f)) :+
        col("n_members"): _*)
  }

  /** Row-level diff between two snapshots of a keyed table — the data-
    * versioning primitive behind "what changed between yesterday's
    * corpus and today's": one full-outer join on the key comparing a
    * caller-supplied row fingerprint (md5 of the payload columns —
    * compare hashes, never wide payloads). Each key classifies as
    * added (key only in `v2`), removed (only in `v1`), changed (both,
    * fingerprints differ), or unchanged. Complements q234's per-shard
    * digests (which FIND the shards that differ without moving rows):
    * this is the row-granularity report you run on the few shards the
    * digests flagged.
    *
    * Scale: one key-partitioned shuffle per side, fingerprints
    * computed map-side; nothing is ever collected or broadcast. */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, keyCol: String,
                   fpCol: String): DataFrame = {
    val a = v1.select(col(keyCol).as("k"), col(fpCol).as("__fa"))
    val b = v2.select(col(keyCol).as("k"), col(fpCol).as("__fb"))
    a.join(b, Seq("k"), "full_outer")
      .select(col("k").as(keyCol),
        when(col("__fa").isNull, "added")
          .when(col("__fb").isNull, "removed")
          .when(col("__fa") =!= col("__fb"), "changed")
          .otherwise("unchanged").as("diff_class"))
  }

  /** ANALYZE for the stats-fed broadcast rule: one scan collecting the
    * exact row count and per-column NDVs (the q395 ledger shape), then
    * registers them in [[graft.plans.StatsLedger]] keyed by the
    * table's root path so [[graft.plans.StatsBroadcastJoin]] can
    * estimate post-filter cardinalities the size-only planner cannot
    * see. Row width is the schema's defaultSize sum — a planning-grade
    * width, consistent with Catalyst's own fallback. Call it the way a
    * warehouse calls ANALYZE TABLE: once per table per load, O(scan). */
  def analyzeForCbo(df: DataFrame, pathKey: String,
                    cols: Seq[String]): graft.plans.StatsLedger.TableStats = {
    val aggs = count(lit(1)).as("__n") +:
      cols.map(c => countDistinct(col(c)).as(s"__ndv_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).head
    val ndv = cols.zipWithIndex
      .map { case (c, i) => c -> row.getLong(i + 1) }.toMap
    val width = math.max(df.schema.map(_.dataType.defaultSize).sum, 1).toLong
    // staleness fingerprint: the scan's on-disk bytes right now — the
    // broadcast rule refuses the hint once the table materially
    // outgrows the size it was ANALYZEd at (appends invalidate stats)
    val scanBytes = df.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => fs.sizeInBytes
    }.getOrElse(0L)
    val st = graft.plans.StatsLedger.TableStats(row.getLong(0), width, ndv,
      scanBytes)
    graft.plans.StatsLedger.put(pathKey, st)
    st
  }
}
