package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Block hygiene for iterative operators.
  *
  * `localCheckpoint()` materializes a frame into block-manager storage
  * and nothing ever frees those blocks automatically — the frame's
  * lineage is truncated, so the ContextCleaner sees the RDD as still
  * referenced for as long as the DataFrame object is reachable. An
  * iterative operator that checkpoints per round therefore accumulates
  * one dead O(|V|) frame per iteration, and across a many-query
  * session those leaked blocks tax every subsequent job (block-manager
  * pressure + GC). Once round r+1's checkpoint is materialized it no
  * longer references round r's blocks, so the superseded frame can be
  * unpersisted immediately — [[iterate]] is the one loop that does so.
  */
private[graft] object Checkpoints {

  // Spark WARNs on every unpersist of a localCheckpointed RDD ("cannot
  // be recomputed after unpersisting") — here that is the point: the
  // frame is superseded and nothing will ever recompute it. One WARN
  // per freed round frame floods the log (and the driver's captured
  // output tail), so the org.apache.spark.rdd category is raised to
  // ERROR once, on first use.
  private lazy val muteUnpersistWarn: Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)

  /** For hosts whose between-query block sweep also unpersists leaked
    * localCheckpoint frames. */
  def muteWarnings(): Unit = muteUnpersistWarn

  /** Row count in ONE job with no exchange: a count of the frame's
    * internal rows, the action an eager `localCheckpoint()` runs to
    * materialize. `Dataset.count()` plans a global aggregate instead,
    * which AQE runs as a map-stage job plus a result job. */
  def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** LAZY localCheckpoint + a measuring action in ONE job. The eager
    * `localCheckpoint()` is "mark for checkpoint, then run an internal
    * count to materialize" — so eager-checkpoint followed by the
    * caller's own count paid TWO job round trips. Marking lazily and
    * letting the caller-visible measure be the materializing action is
    * the same work in half the jobs (per-round job latency dominates
    * the small-frame iterative operators; measured ~2 jobs × ~60 ms ×
    * 16 rounds off q567 at sf0.1). Lineage truncated, blocks pinned
    * until [[free]]. */
  def ckptCount(df: DataFrame,
                measure: DataFrame => Long = rows): (DataFrame, Long) = {
    val c = df.localCheckpoint(eager = false)
    (c, measure(c))
  }

  /** Unpersist the block-manager storage behind a frame returned by
    * `Dataset.localCheckpoint()` (or eager `checkpoint()`). Safe ONLY
    * on frames whose analyzed plan IS the checkpoint leaf — the exact
    * value the checkpoint call returned. Calling it on a derived frame
    * would walk to an ancestor's LogicalRDD and free blocks the caller
    * still needs, so this deliberately matches the root node only.
    * Reliable-checkpoint frames (ReliableCheckpointRDD) have no
    * persisted blocks; unpersist is a no-op there. */
  def free(df: DataFrame): Unit = {
    muteUnpersistWarn
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      // a persist()ed frame (e.g. layoutEdges' cached layout): drop its
      // cache entry; a no-op when the exact plan isn't cached
      case _ => df.unpersist(blocking = false)
    }
  }

  /** The per-round loop of every iterative operator, owning its
    * checkpoint lifetimes. Round i runs `step(prev, prevMeasure)` and
    * materializes the returned frame with [[ckptCount]] (one job: a
    * lazy checkpoint whose `measure` is the materializing action).
    * Then, in this one place:
    *  - the superseded frame is freed — `init` too, so the caller hands
    *    `init` over and reads it only inside `step` (freeing a frame
    *    that is not a checkpoint root, e.g. a projection of one, is a
    *    no-op);
    *  - `exitWhen(prevMeasure, measure)` ends the loop early. The
    *    exits are fixpoint arguments of the caller: `_ == _` for a set
    *    that only shrinks or only grows, `(_, n) => n == 0` for a
    *    frontier that emptied.
    *
    * Returns the last frame and its measure — the only round frame
    * still materialized (`init` itself when `maxRounds` is 0). The
    * caller owns it. */
  def iterate(init: DataFrame, initMeasure: Long, maxRounds: Int,
              measure: DataFrame => Long = rows,
              exitWhen: (Long, Long) => Boolean = (_, _) => false)
             (step: (DataFrame, Long) => DataFrame): (DataFrame, Long) = {
    var (cur, m) = (init, initMeasure)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val (next, n) = ckptCount(step(cur, m), measure)
      free(cur)
      done = exitWhen(m, n)
      cur = next
      m = n
      round += 1
    }
    (cur, m)
  }
}
