package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream (batch-side) operators: time bucketing, gap
  * sessionization, and a shuffle-lean as-of join. The streaming
  * equivalents (session_window + watermark) live in graft.streaming.
  */
object Events {

  /** Tumbling-window bucket start, exact integer arithmetic on
    * microseconds (deterministic across engines; avoids struct-typed
    * `window()` output at the verify boundary). */
  def bucketStart(ts: Column, seconds: Long): Column = {
    val us = seconds * 1000000L
    // integer-only: t - (t mod us); `/` on longs would promote to double
    timestamp_micros(unix_micros(ts) - pmod(unix_micros(ts), lit(us)))
  }

  /** Tumbling-window aggregation: one hash-agg, partial+final. */
  def tumblingCounts(events: DataFrame, ts: String, seconds: Long): DataFrame =
    events.groupBy(bucketStart(col(ts), seconds).as("bucket_start"))
      .agg(count(lit(1)).as("n"), Relational.sumExact(col("value")).as("sum_value"))

  /** Gap-based sessionization: a new session starts when the gap to
    * the previous event of the same key exceeds `gapSeconds`. One
    * shuffle on the key; session ids are a running sum of boundary
    * flags (the standard lag+cumsum formulation — scales linearly,
    * per-key data stays within its partition). */
  def sessionize(events: DataFrame, key: String, ts: String, gapSeconds: Long): DataFrame = {
    val wOrd = Window.partitionBy(col(key)).orderBy(col(ts))
    val gapUs = gapSeconds * 1000000L
    val prev = lag(unix_micros(col(ts)), 1).over(wOrd)
    val isNew = when(prev.isNull || (unix_micros(col(ts)) - prev) > gapUs, 1).otherwise(0)
    val wCum = Window.partitionBy(col(key)).orderBy(col(ts))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__new_session", isNew)
      .withColumn("session_id", sum(col("__new_session")).over(wCum))
      .drop("__new_session")
  }

  /** Per-session rollup on a sessionized frame. */
  def sessionStats(sessionized: DataFrame, key: String, ts: String): DataFrame =
    sessionized.groupBy(col(key), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        unix_micros(min(col(ts))).as("start_us"),
        (unix_micros(max(col(ts))) - unix_micros(min(col(ts)))).as("duration_us"))

  /** As-of join: for each left row, the latest right row with
    * rightTs <= leftTs on the same key.
    *
    * Implementation is the union + last_value(ignoreNulls) sweep: both
    * sides shuffle once on the key, a single in-partition sort by
    * time, and a running `last` carries right-side values forward.
    * Crucially there is NO range-join explosion and no per-row probe —
    * cost is O((|L|+|R|) log) per key, which survives a 100x scale-up
    * where a naive theta-join would not. Right side must be unique per
    * (key, ts); callers dedupe first (see Queries.q21).
    */
  def asofJoin(left: DataFrame, leftKey: String, leftTs: String,
               right: DataFrame, rightKey: String, rightTs: String,
               payloadCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // Payload travels as ONE struct: right rows always carry a non-null
    // struct (even when individual payload fields are null), left rows
    // carry a null struct. last(ignoreNulls) over the struct therefore
    // (a) never skips a legitimately-null payload VALUE from the
    // latest right row, and (b) can never stitch together fields from
    // different right rows.
    val payloadStruct = struct(payloadCols.map(col): _*)
    val structType = org.apache.spark.sql.types.StructType(
      payloadCols.map(c => org.apache.spark.sql.types.StructField(
        c, right.schema(c).dataType, nullable = true)))
    val l = left
      .withColumn("__t", col(leftTs))
      .withColumn("__is_left", lit(1))
      .withColumn("__k", col(leftKey))
      .select(Seq(col("__k"), col("__t"), col("__is_left")) ++
        leftCols.map(col) :+ lit(null).cast(structType).as("__p"): _*)
    val r = right
      .withColumn("__t", col(rightTs))
      .withColumn("__is_left", lit(0))
      .withColumn("__k", col(rightKey))
      .select(Seq(col("__k"), col("__t"), col("__is_left")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        payloadStruct.as("__p"): _*)
    // At equal timestamps the right row sorts first (__is_left asc), so
    // an exactly-simultaneous right row IS visible to the left row —
    // matching ASOF JOIN ... ON l.ts >= r.ts semantics.
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__is_left").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn("__p", last(col("__p"), ignoreNulls = true).over(w))
    val unpacked = payloadCols.foldLeft(carried) { (df, c) =>
      df.withColumn(c, col("__p").getField(c))
    }
    unpacked.where(col("__is_left") === 1).drop("__k", "__t", "__is_left", "__p")
  }

  /** Nearest-VALUE join within a key: each left row picks the right
    * row whose numeric value is closest (ties → the lower value; at
    * distance 0 the equal value). The 1-D nearest-neighbor join — the
    * numeric sibling of [[asofJoin]], built from the same union +
    * running-carry sweep run in BOTH directions: one key shuffle, two
    * in-partition sorts, no range explosion and no per-row probe —
    * O((|L|+|R|) log) per key where a theta-join blows up quadratic.
    * Right side must be unique per (key, value); callers dedupe first
    * (the asofJoin contract). Returns left columns + payload +
    * `nearest_dist` (null when the key has no right rows). */
  def nearestValueJoin(left: DataFrame, leftKey: String, leftVal: String,
                       right: DataFrame, rightKey: String, rightVal: String,
                       payloadCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val structType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__rv",
        right.schema(rightVal).dataType, nullable = true) +:
      payloadCols.map(c => org.apache.spark.sql.types.StructField(
        c, right.schema(c).dataType, nullable = true)))
    val payloadStruct = struct(col(rightVal).as("__rv") +:
      payloadCols.map(col): _*)
    val l = left
      .withColumn("__v", col(leftVal))
      .withColumn("__is_left", lit(1))
      .withColumn("__k", col(leftKey))
      .select(Seq(col("__k"), col("__v"), col("__is_left")) ++
        leftCols.map(col) :+ lit(null).cast(structType).as("__p"): _*)
    val r = right
      .withColumn("__v", col(rightVal))
      .withColumn("__is_left", lit(0))
      .withColumn("__k", col(rightKey))
      .select(Seq(col("__k"), col("__v"), col("__is_left")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        payloadStruct.as("__p"): _*)
    // at equal values the right row sorts first in BOTH directions, so
    // an exact-match right row is visible to its left row either way
    val wUp = Window.partitionBy(col("__k"))
      .orderBy(col("__v").asc, col("__is_left").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDown = Window.partitionBy(col("__k"))
      .orderBy(col("__v").desc, col("__is_left").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn("__prev", last(col("__p"), ignoreNulls = true).over(wUp))
      .withColumn("__next", last(col("__p"), ignoreNulls = true).over(wDown))
    val dPrev = col("__v") - col("__prev").getField("__rv")
    val dNext = col("__next").getField("__rv") - col("__v")
    // equal distances pick the LOWER value (the prev side, since
    // prev ≤ v ≤ next) — a pinned total order both engines replay
    val pick = when(col("__prev").isNull, col("__next"))
      .when(col("__next").isNull, col("__prev"))
      .when(dPrev <= dNext, col("__prev"))
      .otherwise(col("__next"))
    val unpacked = payloadCols.foldLeft(
      carried.withColumn("__pick", pick)) { (df, c) =>
      df.withColumn(c, col("__pick").getField(c))
    }
    unpacked
      .withColumn("nearest_dist",
        abs(col("__v") - col("__pick").getField("__rv")))
      .where(col("__is_left") === 1)
      .drop("__k", "__v", "__is_left", "__p", "__prev", "__next", "__pick")
  }

  /** JSON property extraction from a string column (events.props). */
  def jsonInt(c: Column, path: String): Column =
    get_json_object(c, path).cast("bigint")

  /** Ordered (sequential) funnel: users who performed steps(0), then
    * steps(1) at-or-after it, then steps(2) after that, … Returns one
    * row per step with the surviving-user count.
    *
    * One conditional-min aggregation per step, each a key-partitioned
    * shuffle joined back to the (small, per-user) reached set — never
    * an event-to-event self-join, so cost stays O(steps × |events|)
    * at any scale. */
  def sequentialFunnel(events: DataFrame, key: String, ts: String,
                       typeCol: String, steps: Seq[String]): DataFrame = {
    var reached = events.where(col(typeCol) === steps.head)
      .groupBy(col(key)).agg(min(col(ts)).as("__t"))
    var out = reached.groupBy()
      .agg(count(lit(1)).as("n_users"))
      .select(lit(1L).as("step"), lit(steps.head).as("event_type"), col("n_users"))
    steps.tail.zipWithIndex.foreach { case (stepName, i) =>
      reached = events.where(col(typeCol) === stepName)
        .join(reached.select(col(key), col("__t").as("__prev")), Seq(key))
        .where(col(ts) >= col("__prev"))
        .groupBy(col(key)).agg(min(col(ts)).as("__t"))
      out = out.unionByName(reached.groupBy()
        .agg(count(lit(1)).as("n_users"))
        .select(lit(i + 2L).as("step"), lit(stepName).as("event_type"), col("n_users")))
    }
    out
  }

  /** Resample to fixed `seconds` buckets per key over each key's
    * observed span, materializing empty buckets (count 0) and carrying
    * the last observed aggregate forward (LOCF).
    *
    * The grid is generated from the per-key [first, last] bucket via
    * sequence+explode — O(keys × span/bucket) rows, never a global
    * calendar cross-join. The bucket aggregate is checkpointed once:
    * the span scan and the grid join both consume it, and without the
    * barrier each branch would re-aggregate the raw events. */
  def resampleLocf(events: DataFrame, key: String, ts: String,
                   valueCol: String, seconds: Long): DataFrame = Checkpoints.scoped { pin =>
    val aggs = pin(events
      .groupBy(col(key), bucketStart(col(ts), seconds).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        Relational.sumExact(col(valueCol)).as("sum_value")))
    val spans = aggs.groupBy(col(key))
      .agg(min("bucket").as("__lo"), max("bucket").as("__hi"))
    val grid = spans.select(col(key),
      explode(expr(s"sequence(__lo, __hi, interval $seconds second)")).as("bucket"))
    val w = Window.partitionBy(col(key)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(aggs, Seq(key, "bucket"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("locf_value", last(col("sum_value"), ignoreNulls = true).over(w))
  }

  /** Cohort retention: users grouped by the ISO week of their first
    * event; for each (cohort week, week offset) the count of distinct
    * active users. Two shuffles: the first-event agg and the final
    * group-by; the join back is a plain equi-join on the key. */
  def cohortRetention(events: DataFrame, key: String, ts: String): DataFrame = {
    val firsts = events.groupBy(col(key))
      .agg(date_trunc("week", min(col(ts))).cast("date").as("cohort_week"))
    events.join(firsts, Seq(key))
      .groupBy(col("cohort_week"),
        (datediff(date_trunc("week", col(ts)).cast("date"), col("cohort_week")) / 7)
          .cast("bigint").as("week_offset"))
      .agg(count_distinct(col(key)).as("n_users"))
  }

  /** Islands detection: maximal runs of CONSECUTIVE active days per
    * key (gaps-and-islands). The island id is `day - row_number()` —
    * constant within a consecutive run — the standard O(n log n/key)
    * formulation: one distinct-agg shuffle + one window, no self-join.
    */
  def activeDayIslands(events: DataFrame, key: String, ts: String): DataFrame = {
    val days = events.select(col(key), col(ts).cast("date").as("day")).distinct()
    val w = Window.partitionBy(col(key)).orderBy(col("day"))
    days
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy(col(key), col("grp"))
      .agg(min(col("day")).as("run_start"),
        max(col("day")).as("run_end"),
        count(lit(1)).as("run_days"))
      .drop("grp")
  }
}
