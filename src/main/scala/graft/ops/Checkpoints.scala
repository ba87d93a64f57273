package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

/** Block hygiene: who frees what an operator or a query pins.
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
  *
  * Every other pin — a frame a call materializes because it reads it
  * more than once — belongs to the innermost [[scoped]] block, which
  * frees it when the block ends unless the block's result still reads
  * it; a pin the result reads passes with the result to the enclosing
  * block, which decides the same way. No caller frees by hand.
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
    * still materialized (`init` itself when `maxRounds` is 0). Inside
    * a [[scoped]] block the block owns it; outside one, the caller. */
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
    Option(open.get).filter(_ => blocksOf(cur).nonEmpty).foreach(_.frames += cur)
    (cur, m)
  }

  /** The frames one [[scoped]] block pins. */
  final class Pins private[Checkpoints] () {
    private[Checkpoints] val frames = ArrayBuffer.empty[DataFrame]

    /** `df` materialized by an eager local checkpoint. */
    def apply(df: DataFrame): DataFrame = keep(df.localCheckpoint())

    /** [[ckptCount]]: a lazy checkpoint and its measure in one job. */
    def counted(df: DataFrame,
                measure: DataFrame => Long = rows): (DataFrame, Long) = {
      val (c, n) = ckptCount(df, measure)
      (keep(c), n)
    }

    /** A checkpoint or cached frame the block materialized itself — a
      * `persist()`ed layout. A projection of one, which has no blocks
      * to free, is refused. */
    def keep(df: DataFrame): DataFrame = {
      require(blocksOf(df).nonEmpty, "Pins.keep takes a checkpoint or a cached frame")
      frames += df
      df
    }

    /** `next`, built from the pinned `prev`, supersedes it: `next` is
      * kept and `prev` freed now, as [[iterate]] frees a round. */
    def replace(prev: DataFrame, next: DataFrame): DataFrame = {
      val i = frames.indexWhere(_ eq prev)
      require(i >= 0, "Pins.replace: the frame it supersedes is not pinned here")
      free(frames.remove(i))
      keep(next)
    }
  }

  // This thread's innermost open scope; not inherited, since a pool
  // thread would keep a scope that has ended.
  private val open = new ThreadLocal[Pins]

  /** Runs `body` with a [[Pins]] that owns every frame it pins. When
    * the body returns, the pins its result still reads (a frame, or
    * the frames of a tuple or collection) pass with it to the
    * enclosing scope, or to the caller outside any; the rest are freed,
    * newest first. When it throws, all are freed. Only frames pinned
    * through a scope are freed — never the session's other persisted
    * RDDs, nor an ancestor of a pin: [[free]] drops a frame's own
    * blocks only. */
  def scoped[A](body: Pins => A): A = {
    val outer = open.get
    val pins = new Pins
    open.set(pins)
    var out: Option[A] = None
    try { out = Some(body(pins)); out.get }
    finally {
      open.set(outer)
      val read = out.iterator.flatMap(framesOf).flatMap(reads).toSet
      val (held, done) = pins.frames.partition(f => blocksOf(f).exists(read))
      done.reverseIterator.foreach(free)
      Option(outer).foreach(_.frames ++= held)
    }
  }

  private def framesOf(a: Any): Iterator[DataFrame] = a match {
    case d: Dataset[_] => Iterator(d.toDF())
    case i: Iterable[_] => i.iterator.flatMap(framesOf)
    case p: Product => p.productIterator.flatMap(framesOf)
    case _ => Iterator.empty
  }

  // A frame's blocks are named by the id of the RDD that holds them,
  // and a cache entry also by its builder (it has no RDD until built),
  // compared by reference.
  private final class Entry(val m: InMemoryRelation) {
    override def equals(o: Any): Boolean = o match {
      case e: Entry => e.m.cacheBuilder eq m.cacheBuilder
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(m.cacheBuilder)
  }

  /** A pinned frame's blocks: its checkpoint leaf, or its cache entry. */
  private def blocksOf(df: DataFrame): Set[Any] = {
    val qe = df.queryExecution
    qe.analyzed match {
      case lr: LogicalRDD => Set(lr.rdd.id)
      case plan => qe.sparkSession.sharedState.cacheManager
        .lookupCachedData(qe.sparkSession, plan)
        .map(c => cached(c.cachedRepresentation)).getOrElse(Set.empty)
    }
  }

  private def cached(m: InMemoryRelation): Set[Any] = {
    val b = m.cacheBuilder
    if (b.isCachedColumnBuffersLoaded) Set(new Entry(m), b.cachedColumnBuffers.id)
    else Set(new Entry(m))
  }

  /** The blocks a frame still needs to run: its checkpoint leaves and
    * cache entries, and what one not yet materialized will read. */
  private def reads(df: DataFrame): Set[Any] = planReads(df.queryExecution.withCachedData)

  private def planReads(p: LogicalPlan): Set[Any] = p.collectWithSubqueries {
    case lr: LogicalRDD => lineage(lr.rdd)
    case m: InMemoryRelation => cacheReads(m)
  }.flatten.toSet

  // an unbuilt cache's logical plan names tables, not the caches its
  // physical plan scans
  private def cacheReads(m: InMemoryRelation): Set[Any] = {
    val b = m.cacheBuilder
    cached(m) ++ (if (b.isCachedColumnBuffersLoaded) lineage(b.cachedColumnBuffers)
                  else execReads(b.cachedPlan))
  }

  private def execReads(p: SparkPlan): Set[Any] = p.collectWithSubqueries {
    case s: InMemoryTableScanExec => cacheReads(s.relation)
    case r: RDDScanExec => lineage(r.rdd)
    case a: AdaptiveSparkPlanExec => execReads(a.inputPlan)
  }.flatten.toSet

  private def lineage(r: RDD[_]): Set[Any] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit =
      if (seen.add(r.id) && !r.isCheckpointed) r.dependencies.foreach(d => walk(d.rdd))
    walk(r)
    seen.toSet
  }
}
