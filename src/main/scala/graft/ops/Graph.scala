package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists (id-pair DataFrames) — the shapes a
  * corpus-curation pipeline needs beyond connected components
  * (`Dedup.duplicateGroups`/`starContractionGroups`) and triangle
  * counting (`Dedup.triangleCount`): link-analysis scoring of a
  * citation/co-occurrence graph to weight or filter documents.
  *
  * Everything here is iterative-join Spark with the same discipline as
  * the CC operators: `localCheckpoint` truncates the per-round lineage
  * (the classic iterative-Spark plan-blowup trap), each round is one
  * equi-join plus one partial-combining hash-aggregation over the edge
  * frame, and the iteration count is a bounded knob — O(iters) rounds,
  * each O(|E|) scan, never a per-node driver loop.
  *
  * Edge-frame discipline shared by all the operators: the edge list
  * is REPARTITIONED AND SORTED once on the key the LOOP aggregates
  * on, then persisted (see `layoutEdges` — the cached
  * InMemoryRelation keeps that layout visible to the planner, which
  * a localCheckpoint would not), so the O(|E|) side is scanned in
  * place each round and only the O(|V|) rank/frontier frame moves.
  * Which key that is depends on the operator: the PageRank family
  * and BFS join the small frame on src (a broadcast) and then
  * aggregate the per-edge rows by DST, so a dst layout makes the
  * per-round aggregation exchange-free (with the broadcast hint:
  * q145 5.8 -> 3.9 s, q149 2.3 -> 1.6 s at sf0.1); k-core computes
  * degrees by SRC, so it keeps the src layout. The one-time
  * degree/node setup pays a single O(|E|) shuffle on the other key —
  * amortized across rounds.
  *
  * Rounds run under `Checkpoints.iterate`, which materializes each
  * round's rank/frontier frame in one job and frees the frame it
  * supersedes. The PER-ROUND checkpoint is load-bearing for plan
  * quality, not just lineage hygiene: each checkpoint hands the next round's planner an exact materialized
  * size (LogicalRDD stats), so the O(|V|)-side joins plan as
  * broadcasts. Batching rounds between checkpoints was measured
  * SLOWER (q145 4.9 -> 6.8 s at sf0.1): the deep un-materialized plan
  * loses those stats and falls back to shuffle joins mid-loop.
  */
object Graph {

  /** Edge normalization + the one-time layout all rounds reuse:
    * distinct (src, dst) pairs, hash-partitioned on `layoutKey` (src
    * or dst — pick the key the caller's loop AGGREGATES on, see the
    * object doc), sorted within partitions, checkpointed. ONE shuffle
    * total: the repartition comes FIRST, and HashPartitioning on
    * either single key already satisfies the (src, dst) clustering
    * the dedup aggregate needs (equal pairs are equal on each key),
    * so the distinct adds no second exchange.
    *
    * Callers that derive other frames from the same edge list (seeds,
    * degree audits) should build it once via this function and pass
    * `assumeLaidOut = true` to the operator — re-laying-out an already
    * checkpointed frame would double-materialize the O(|E|) data.
    *
    * The default layout is a `persist()` (materialized eagerly), NOT a
    * `localCheckpoint`: a checkpoint comes back as a `LogicalRDD` with
    * `UnknownPartitioning`, so every iteration's src-keyed join would
    * re-Exchange and re-Sort the full O(|E|) frame — the exact shuffle
    * this layout exists to pay once. The cached `InMemoryRelation`
    * keeps the `HashPartitioning` and the within-partition sort
    * visible to the planner (cached-plan partitioning is stable under
    * AQE), so per-round joins move only the O(|V|) rank frame. Lineage
    * is also kept, so an executor loss recomputes instead of killing
    * the job; edge lineage is shallow (no per-round growth), so the
    * truncation that iterated frames need doesn't apply here.
    *
    * `reliable = true` checkpoints to the SparkContext's checkpoint
    * directory (`sc.setCheckpointDir` must have been called) for
    * clusters where recomputing the edge build is too expensive to
    * risk under preemption; that variant re-shuffles per round (the
    * resilience/throughput trade is the caller's). */
  def layoutEdges(edges: DataFrame, srcCol: String, dstCol: String,
                  reliable: Boolean = false,
                  layoutKey: String = "src"): DataFrame = {
    require(layoutKey == "src" || layoutKey == "dst",
      s"layoutKey must be src or dst, got $layoutKey")
    val laid = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .repartition(col(layoutKey))
      .distinct()
      .sortWithinPartitions(layoutKey)
    if (reliable) laid.checkpoint()
    else {
      val p = laid.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count() // materialize now — iterations read blocks, never rebuild
      p
    }
  }

  /** The caller's laid-out edges as they are, or a layout the scope
    * owns. */
  private def edgeFrame(pin: Checkpoints.Pins, edges: DataFrame,
                        srcCol: String, dstCol: String,
                        assumeLaidOut: Boolean,
                        layoutKey: String = "src"): DataFrame =
    if (assumeLaidOut) edges
    else pin.keep(layoutEdges(edges, srcCol, dstCol, layoutKey = layoutKey))

  /** The PageRank family's one-time (id, __deg) node frame in ONE
    * aggregation: symmetrize the laid-out edges as (id, is-src) rows
    * and sum — one map-side-combined shuffle of 2|E| rows, replacing
    * the previous out-degree agg + union-distinct + left join (two
    * O(|E|) exchanges plus a join). __deg is NULL for sinks (rows
    * where only dst appearances summed to 0) — the convention every
    * loop relies on to skip sink contributions / detect dangling. */
  private def nodeFrame(e: DataFrame): DataFrame =
    e.select(col("src").as("id"), lit(1L).as("__o"))
      .union(e.select(col("dst").as("id"), lit(0L).as("__o")))
      .groupBy("id").agg(sum("__o").as("__sumo"))
      .select(col("id"), when(col("__sumo") > 0, col("__sumo")).as("__deg"))

  /** The PageRank family's per-round edge frame. In the fallback
    * regime per-round joins are src-keyed shuffle joins, so the edges
    * are re-laid on src ONCE (amortized) instead of paying an O(|E|)
    * exchange every round, and the dst layout is freed as soon as the
    * src one exists; a caller-laid frame is kept as it is. */
  private def rankEdges(pin: Checkpoints.Pins, e0: DataFrame,
                        useBroadcast: Boolean, assumeLaidOut: Boolean): DataFrame =
    if (useBroadcast || assumeLaidOut) e0
    else pin.replace(e0, layoutEdges(e0, "src", "dst", layoutKey = "src"))

  /** One PageRank-family round's contribution sums: every source's
    * rank div out-degree, summed per destination (`__s`). */
  private def contributions(e: DataFrame, ranks: DataFrame,
                            hint: DataFrame => DataFrame): DataFrame = {
    val perSrc = ranks.where(col("__deg").isNotNull)
      .select(col("id").as("src"), expr("rank_micro div __deg").as("__c"))
    e.join(hint(perSrc), "src")
      .select(col("dst").as("id"), col("__c"))
      .groupBy("id").agg(sum(col("__c")).as("__s"))
  }

  /** PageRank with INTEGER-EXACT arithmetic: scores live in micro-units
    * (a node starts at 1,000,000) and every step is BIGINT math —
    * contribution = r div outDegree (floor), next = base +
    * (dampNum * Σ contributions) div 100. Floating-point PageRank sums
    * contributions in arrival order, so two runs of the same job can
    * disagree in the last ulp and ranking ties can flip; the integer
    * formulation is partition-order-independent and bit-identical on
    * any engine — the property that makes a 100 TB ranking job
    * reproducible (and lets DuckDB replay it for the oracle, q145).
    *
    * Dangling mass: nodes appear in the rank table iff they touch an
    * edge; a node with in-edges but no out-edges keeps receiving rank
    * and contributes nothing (its mass decays — the standard
    * non-renormalized treatment; see `pageRankRedistributed` for the
    * conserving variant). Every edge list built from symmetric
    * co-occurrence (src↔dst both present) has no dangling nodes.
    *
    * Scale posture: the per-edge contribution is folded into the
    * O(|V|) rank frame FIRST (rank div deg — one row per source), and
    * while the node count stays under `broadcastRankRows` that frame
    * carries an EXPLICIT broadcast hint: a rank frame re-born from a
    * per-round localCheckpoint is a stats-less LogicalRDD, so the
    * static planner quotes it at the default (huge) size and plans a
    * sort-merge join — which EnsureRequirements backs with an O(|E|)
    * Exchange of the edge frame, and AQE's late broadcast conversion
    * cannot cancel a shuffle whose map stage already ran (measured:
    * the hint took the one-round edge Exchange from the plan
    * entirely). With the hint, a round touches the O(|E|) frame only
    * as an in-place scan of the dst-partitioned cache, and the
    * contribution aggregation that follows is partial-combining AND
    * exchange-free. The broadcast is SIZE-GATED, never unconditional
    * (the seededBfs discipline): the node frame is counted once from
    * its checkpointed blocks, and above the row bound rounds fall
    * back to the shuffle-join shape — the edge frame is re-laid-out
    * ONCE on src (one O(|E|) shuffle amortized over all rounds, so
    * per-round joins still scan it in place) and V is never held in
    * one executor. Iteration count is fixed (default 3), not
    * convergence-polled, so the job's shape is known in advance.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, base: Long = 150000L,
               dampNum: Long = 85L, assumeLaidOut: Boolean = false,
               broadcastRankRows: Long = 5000000L): DataFrame = Checkpoints.scoped { pin =>
    require(iters >= 1, "pageRank needs at least one iteration")
    val e0 = edgeFrame(pin, edges, srcCol, dstCol, assumeLaidOut,
      layoutKey = "dst")
    // out-degree is static, so it RIDES IN the rank frame (computed
    // once here via the fused nodeFrame agg, carried through every
    // round) — each round then builds its per-source contributions
    // with a projection instead of a ranks-deg join. Sink nodes carry
    // a null degree; they emit no contribution row (no matching src
    // in e), so the null never reaches the arithmetic.
    val (nodes, nodeRows) = pin.counted(nodeFrame(e0))
    val useBroadcast = nodeRows <= broadcastRankRows
    val hint: DataFrame => DataFrame =
      if (useBroadcast) df => broadcast(df) else df => df
    val e = rankEdges(pin, e0, useBroadcast, assumeLaidOut)

    val (ranks, _) = Checkpoints.iterate(
        nodes.withColumn("rank_micro", lit(1000000L)), nodeRows, iters) {
      (ranks, _) =>
        nodes
          .join(hint(contributions(e, ranks, hint)), Seq("id"), "left")
          .select(col("id"), col("__deg"),
            (lit(base) + expr(s"($dampNum * coalesce(__s, 0L)) div 100"))
              .as("rank_micro"))
    }
    ranks.select("id", "rank_micro")
  }

  /** PageRank with DANGLING-MASS REDISTRIBUTION — the renormalized
    * treatment `pageRank` documents as missing: each round the rank
    * held by dangling nodes (in-edges but no out-edges) is summed into
    * ONE scalar and redistributed equally to every node, so total rank
    * is conserved the way the standard formulation demands:
    * next = base + damp * (Σ in-contributions + danglingSum div N).
    *
    * Arithmetic stays INTEGER-EXACT (micro-units, BIGINT floor
    * division) — partition-order-independent, bit-identical across
    * engines, oracle-replayable as chained CTEs (q162). The dangling
    * share each node receives is danglingSum div N (floor), so a
    * sub-micro remainder < N decays per round instead of being
    * assigned arbitrarily — deterministic by construction.
    *
    * Scale posture: identical to `pageRank` (size-gated O(|V|)
    * broadcast, src re-layout in the fallback regime) plus, per
    * round, one partial-combining global aggregate over the
    * O(dangling) rank rows (a single-row frame) cross-joined back
    * BROADCAST — a scalar broadcast, never a shuffle. Dangling
    * membership is a static anti-join computed once. */
  def pageRankRedistributed(edges: DataFrame, srcCol: String, dstCol: String,
                            iters: Int = 3, base: Long = 150000L,
                            dampNum: Long = 85L,
                            assumeLaidOut: Boolean = false,
                            broadcastRankRows: Long = 5000000L): DataFrame =
      Checkpoints.scoped { pin =>
    require(iters >= 1, "pageRankRedistributed needs at least one iteration")
    val e0 = edgeFrame(pin, edges, srcCol, dstCol, assumeLaidOut,
      layoutKey = "dst")
    // out-degree rides in the node frame (the pageRank discipline,
    // fused nodeFrame agg) — and doubles as dangling membership:
    // __deg IS NULL ⟺ the node has no out-edges, so the per-round
    // dangling-mass sum is a filter + aggregate, no membership join
    // at all.
    val (nodes, nodeRows) = pin.counted(nodeFrame(e0))
    val useBroadcast = nodeRows <= broadcastRankRows
    val hint: DataFrame => DataFrame =
      if (useBroadcast) df => broadcast(df) else df => df
    val e = rankEdges(pin, e0, useBroadcast, assumeLaidOut)

    val (ranks, _) = Checkpoints.iterate(
        nodes.withColumn("rank_micro", lit(1000000L)), nodeRows, iters) {
      (ranks, _) =>
        val dsum = ranks.where(col("__deg").isNull)
          .agg(coalesce(sum("rank_micro"), lit(0L)).as("__d"))
        nodes
          .join(hint(contributions(e, ranks, hint)), Seq("id"), "left")
          .crossJoin(broadcast(dsum))
          .select(col("id"), col("__deg"),
            (lit(base) + expr(
              s"($dampNum * (coalesce(__s, 0L) + (__d div ${nodeRows}L))) div 100"))
              .as("rank_micro"))
    }
    ranks.select("id", "rank_micro")
  }

  /** PERSONALIZED PageRank (random-walk-with-restart): rank mass
    * starts at — and teleports back to — the SEED set only, so scores
    * measure proximity to the seeds rather than global importance
    * ("documents related to this set", label propagation from a
    * curated pool, expanding a seed corpus). Same INTEGER-EXACT
    * micro-unit arithmetic as `pageRank` (oracle-replayable, q168):
    * r0 = 1,000,000 for seeds else 0;
    * next = (seed ? base : 0) + (dampNum * Σ contributions) div 100.
    * Non-seed mass decays unless re-fed through the graph — the
    * standard non-renormalized personalized formulation.
    *
    * Scale posture: identical to `pageRank` (size-gated O(|V|)
    * broadcast, src re-layout in the fallback regime); the seed flag
    * is a left-semi-derived O(|V|) column, never a driver-side set. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, iters: Int = 3,
                           base: Long = 150000L, dampNum: Long = 85L,
                           assumeLaidOut: Boolean = false,
                           broadcastRankRows: Long = 5000000L): DataFrame =
      Checkpoints.scoped { pin =>
    require(iters >= 1, "personalizedPageRank needs at least one iteration")
    val e0 = edgeFrame(pin, edges, srcCol, dstCol, assumeLaidOut,
      layoutKey = "dst")
    val seedIds = seeds.select(col(seeds.columns.head).cast("long").as("id"))
      .distinct()
    // seed flag AND out-degree both ride in the node frame (fused
    // nodeFrame agg + one small seed join) — rounds project
    // contributions instead of joining deg
    val (nodes, nodeRows) = pin.counted(nodeFrame(e0)
      .join(seedIds.withColumn("__seed", lit(1L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("__seed"), lit(0L)).as("__seed"),
        col("__deg")))
    val useBroadcast = nodeRows <= broadcastRankRows
    val hint: DataFrame => DataFrame =
      if (useBroadcast) df => broadcast(df) else df => df
    val e = rankEdges(pin, e0, useBroadcast, assumeLaidOut)

    val (ranks, _) = Checkpoints.iterate(nodes.withColumn("rank_micro",
        when(col("__seed") === 1L, lit(1000000L)).otherwise(lit(0L))),
        nodeRows, iters) { (ranks, _) =>
      nodes
        .join(hint(contributions(e, ranks, hint)), Seq("id"), "left")
        .select(col("id"), col("__seed"), col("__deg"),
          (when(col("__seed") === 1L, lit(base)).otherwise(lit(0L)) +
            expr(s"($dampNum * coalesce(__s, 0L)) div 100"))
            .as("rank_micro"))
    }
    ranks.select("id", "rank_micro")
  }

  /** The edge list as an UNDIRECTED src-laid frame: self-loops
    * dropped, both orientations present (see [[layoutEdges]]). */
  private def undirectedLayout(edges: DataFrame, srcCol: String,
                               dstCol: String): DataFrame = {
    val directed = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    layoutEdges(
      directed.union(directed.select(col("dst").as("src"), col("src").as("dst"))),
      "src", "dst")
  }

  /** (src, __deg): every node's degree in the subgraph of the
    * symmetric edge frame `e` induced by the `alive` ids — the peel
    * round of [[kCore]] and [[coreDecomposition]]. The survivor set
    * is broadcast only while its `aliveRows` fit under the gate. */
  private def inducedDegrees(e: DataFrame, alive: DataFrame, aliveRows: Long,
                             broadcastAliveRows: Long): DataFrame = {
    def hint(df: DataFrame): DataFrame =
      if (aliveRows <= broadcastAliveRows) broadcast(df) else df
    e.join(hint(alive.select(col("id").as("src"))), Seq("src"), "left_semi")
      .join(hint(alive.select(col("id").as("dst"))), Seq("dst"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("__deg"))
  }

  /** Bounded-round k-core peeling: iteratively remove nodes whose
    * degree in the surviving induced subgraph is below `k`, for
    * `rounds` rounds, then return EVERY survivor with its final
    * induced-subgraph degree (zero included — a survivor can lose all
    * neighbors in the last peel; its reported degree may also sit
    * below `k`, which is exactly the signal that one more round would
    * peel it). The k-core is the classic
    * density/centrality filter (spam-farm detection, keeping only
    * well-connected documents in a citation graph); full peeling runs
    * to a fixpoint, but a bounded round count keeps the job shape
    * known in advance (the `pageRank` discipline) and each extra round
    * only tightens the approximation from above — after r rounds the
    * survivor set is a superset of the true k-core that already
    * excludes everything peelable within r steps.
    *
    * The edge list is treated as UNDIRECTED: it is symmetrized once
    * (src↔dst union, distinct) behind the one-time layout, so degree =
    * out-degree on the symmetrized frame. Everything is integer counts
    * and set membership — partition-order-independent, replayable as
    * chained CTEs by a SQL oracle (q171).
    *
    * Scale posture: each round is two semi-joins (restrict edges to
    * surviving endpoints) plus one partial-combining hash-agg for
    * degrees; the symmetrized edge frame is laid out and checkpointed
    * once and never re-shuffles. The survivor-set broadcast is
    * SIZE-GATED PER ROUND (the seededBfs discipline): the alive frame
    * only shrinks, so the gate re-reads each round's checkpointed
    * count and flips to shuffle semi-joins only while the set exceeds
    * `broadcastAliveRows` — never an unconditional O(|V|) broadcast.
    * Round cost is O(|E|) scan + O(surviving V) state, never per-node
    * driver work. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int = 3,
            broadcastAliveRows: Long = 5000000L): DataFrame = Checkpoints.scoped { pin =>
    require(k >= 1, "kCore needs k >= 1")
    require(rounds >= 1, "kCore needs at least one round")
    val e = pin.keep(undirectedLayout(edges, srcCol, dstCol))
    val (alive0, nodeRows) = Checkpoints.ckptCount(
      e.select(col("src").as("id")).distinct())
    // fixpoint early-exit: a peel only REMOVES nodes (alive' ⊆ alive),
    // so an unchanged row count proves an unchanged set — every further
    // round is the identity and can be skipped with a bit-identical
    // result (the oracle's extra CTE rounds replay the same identity)
    val (alive, aliveRows) = Checkpoints.iterate(alive0, nodeRows, rounds,
        exitWhen = _ == _) { (alive, n) =>
      inducedDegrees(e, alive, n, broadcastAliveRows)
        .where(col("__deg") >= k).select(col("src").as("id"))
    }
    // final degree within the survivor-induced subgraph; the left join
    // keeps survivors whose last peel removed every neighbor (degree 0)
    // — the output is "the survivors", not "the survivors that still
    // have an edge". Checkpointed so the O(|E|) scaffolding is freed
    // when the call returns (the result is O(survivors) small).
    val deg = inducedDegrees(e, alive, aliveRows, broadcastAliveRows)
    pin(alive
      .join(deg.select(col("src").as("id"), col("__deg")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__deg"), lit(0L)).as("degree")))
  }

  /** Full core DECOMPOSITION (every node's shell index), extending the
    * binary [[kCore]] question to the per-node readout influence /
    * robustness analyses want: shell(v) = the largest k ≤ `maxK` such
    * that v survives the bounded k-core peel. Peeling for k starts
    * from the (k−1)-core's survivors (cores are nested), so the frame
    * only shrinks; `roundsPerK` bounds each peel (the q149
    * bounded-round semantics — the oracle replays the IDENTICAL
    * bounded rounds, so the contract is exact, not approximate).
    *
    * Scale posture: the symmetric edge frame is laid out ONCE;
    * each peel round is two size-gated semi-joins + one combining
    * hash-agg (the kCore shape) over the survivors, folded back into
    * ONE O(|V|) (id, shell) frame: a node alive for k carries
    * shell = maxK until a k-round peels it, which sets its shell to
    * k − 1 for good — so the frame is the answer, with no per-k
    * snapshots to keep. maxK·roundsPerK bounded rounds total, no
    * windows, no driver loops. */
  def coreDecomposition(edges: DataFrame, srcCol: String, dstCol: String,
                        maxK: Int, roundsPerK: Int = 2,
                        broadcastAliveRows: Long = 5000000L): DataFrame =
      Checkpoints.scoped { pin =>
    require(maxK >= 1 && roundsPerK >= 1, "coreDecomposition bounds must be >= 1")
    val e = pin.keep(undirectedLayout(edges, srcCol, dstCol))
    var (shells, aliveRows) = Checkpoints.ckptCount(
      e.select(col("src").as("id")).distinct()
        .withColumn("shell", lit(maxK.toLong)))
    // fixpoint early-exits, both bit-identical to the full peel (the
    // oracle replays the skipped CTE rounds as identities):
    //  - within one k, a peel only REMOVES nodes, so an unchanged
    //    survivor count proves an unchanged set — the k's remaining
    //    rounds are the identity and are skipped;
    //  - an EMPTY survivor set stays empty under every later peel
    //    (deg of nothing is nothing), so the outer loop stops.
    for (k <- 1 to maxK if aliveRows > 0) {
      val alive = col("shell") >= k
      val (s2, n) = Checkpoints.iterate(shells, aliveRows, roundsPerK,
          measure = s => Checkpoints.rows(s.where(alive)),
          exitWhen = _ == _) { (s, n) =>
        val deg = inducedDegrees(e, s.where(alive), n, broadcastAliveRows)
        val hinted = deg.select(col("src").as("id"), col("__deg"))
        s.join(if (n <= broadcastAliveRows) broadcast(hinted) else hinted,
            Seq("id"), "left")
          .select(col("id"),
            when(alive && coalesce(col("__deg"), lit(0L)) < k, lit(k - 1L))
              .otherwise(col("shell")).as("shell"))
      }
      shells = s2
      aliveRows = n
    }
    shells
  }

  /** Bounded-round synchronous label propagation (community
    * detection): labels start as node ids; each round every node
    * adopts the most frequent label among its NEIGHBORS, ties broken
    * by smallest label — fully deterministic, so an oracle replays the
    * rounds as chained CTEs (the `pageRank` discipline). Communities
    * are a different question from the CC family: CC answers
    * reachability, LPA clusters by connection DENSITY, so a bridge
    * edge between two dense clusters keeps them distinct labels.
    *
    * Per round: one src-keyed join of the O(|V|) label frame into the
    * once-laid-out symmetric edges, a (dst, label) combining count,
    * and a struct-max argmax — no windows, no doc×doc. The label
    * frame's broadcast is SIZE-GATED (the seededBfs discipline) on
    * the node count read once from the checkpointed init frame — the
    * frame is exactly O(|V|) every round, so one gate decides the
    * regime; above `broadcastLabelRows` rounds run as shuffle joins.
    * The round count is a compile-time bound (known job shape), and
    * each superseded label frame is freed when the next
    * materializes. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 2,
                       broadcastLabelRows: Long = 5000000L): DataFrame =
      Checkpoints.scoped { pin =>
    require(rounds >= 1, "labelPropagation needs at least one round")
    val e = pin.keep(undirectedLayout(edges, srcCol, dstCol))
    val (labels0, labelRows) = Checkpoints.ckptCount(
      e.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    val hint: DataFrame => DataFrame =
      if (labelRows <= broadcastLabelRows) df => broadcast(df)
      else df => df
    val (labels, _) = Checkpoints.iterate(labels0, labelRows, rounds) {
      (labels, _) =>
        val cnt = e
          .join(hint(labels.select(col("id").as("src"), col("label"))), Seq("src"))
          .groupBy(col("dst").as("id"), col("label"))
          .agg(count(lit(1)).as("__c"))
        // argmax by (count desc, label asc) via struct max: negate the
        // label so the lexicographic max breaks count ties downward
        val best = cnt.groupBy("id")
          .agg(max(struct(col("__c"), (-col("label")).as("__nl"))).as("__b"))
          .select(col("id"), (-col("__b.__nl")).as("__new"))
        labels.join(best, Seq("id"), "left")
          .select(col("id"), coalesce(col("__new"), col("label")).as("label"))
    }
    labels
  }

  /** Bounded-round multi-source BFS: hop distance from the nearest
    * seed, capped at `hops` rounds. Returns (id, dist) for reached
    * nodes only. Integer distances + `min` folds make every value
    * partition-order-independent (same reproducibility discipline as
    * `pageRank`), so an oracle can replay the rounds as chained CTEs.
    *
    * Default shape: each round joins the FULL distance table to the
    * edge frame rather than just the latest frontier — with hop counts
    * this small the simpler shape wins (no frontier-diff anti-join per
    * round), and the `min(dist)` re-aggregation makes re-discovered
    * nodes free. Scale: one equi-join on src + one hash-agg on id per
    * round, both partial-combining; the edge frame is laid out once;
    * rounds are a compile-time bound, so the job shape is known in
    * advance.
    *
    * `frontierOnly = true` switches to the frontier-propagation shape
    * for LARGER hop bounds: each round expands only the nodes first
    * reached in the previous round and anti-joins out already-settled
    * ids, so round cost is O(frontier edges), not O(V) — in unweighted
    * BFS a node's first-discovery distance is already minimal, so the
    * two shapes produce identical results (pinned in GraphSpec).
    *
    * The distance/frontier broadcast is SIZE-GATED PER ROUND (the
    * seededBfs discipline): the frame grows monotonically and is
    * re-checkpointed every round, so the gate reads each round's
    * cached count and the join flips to a shuffle join once the frame
    * crosses `broadcastFrontierRows` — never an unconditional O(|V|)
    * broadcast. In the shuffle regime the dst-laid edge frame pays a
    * per-round src exchange; a caller expecting that regime
    * throughout should pre-lay the edges on src and pass
    * `assumeLaidOut = true` (the seededBfs layout). */
  def boundedBfs(edges: DataFrame, srcCol: String, dstCol: String,
                 seeds: DataFrame, hops: Int,
                 frontierOnly: Boolean = false,
                 assumeLaidOut: Boolean = false,
                 broadcastFrontierRows: Long = 5000000L): DataFrame =
      Checkpoints.scoped { pin =>
    require(hops >= 0, "boundedBfs needs a non-negative hop bound")
    val e = edgeFrame(pin, edges, srcCol, dstCol, assumeLaidOut,
      layoutKey = "dst")
    val seedIds = seeds.select(col(seeds.columns.head).cast("long").as("id"))
      .distinct()
    def expand(from: DataFrame, rows: Long): DataFrame = {
      val f = from.select(col("id").as("src"), col("dist"))
      (if (rows <= broadcastFrontierRows) e.join(broadcast(f), "src")
       else e.join(f, "src"))
        .select(col("dst").as("id"), (col("dist") + 1).as("dist"))
    }
    if (frontierOnly) {
      // the frontier rides in the dist frame as the `__f` flag (the ids
      // first reached last round); the round's measure is its size. An
      // empty frontier discovers nothing forever after — every
      // remaining round is the identity on `dist`, so stop early
      // (bit-identical; the oracle's extra rounds replay the identity)
      val (init, seedRows) = Checkpoints.ckptCount(
        seedIds.select(col("id"), lit(0L).as("dist"), lit(true).as("__f")))
      Checkpoints.iterate(init, seedRows, hops,
          measure = d => Checkpoints.rows(d.where(col("__f"))),
          exitWhen = (_, n) => n == 0) { (d, frontierRows) =>
        val fresh = expand(d.where(col("__f")), frontierRows)
          .groupBy("id").agg(min("dist").as("dist"))
          .join(d, Seq("id"), "left_anti")
        d.select(col("id"), col("dist"), lit(false).as("__f"))
          .union(fresh.withColumn("__f", lit(true)))
      }._1.select("id", "dist")
    } else {
      // fixpoint early-exit: ids only accumulate, and a present id's
      // dist is already its true ≤-round hop distance (the full dist
      // frame expands every round), so an unchanged id count proves
      // the frame is a fixpoint — remaining rounds are the identity
      val (init, seedRows) = Checkpoints.ckptCount(
        seedIds.withColumn("dist", lit(0L)))
      Checkpoints.iterate(init, seedRows, hops, exitWhen = _ == _) {
        (d, distRows) =>
          d.union(expand(d, distRows)).groupBy("id").agg(min("dist").as("dist"))
      }._1
    }
  }

  /** Bounded-round SEED-KEYED multi-source BFS: per-(seed, node) hop
    * distance, i.e. `hops` independent BFS traversals batched into one
    * loop. Returns (seed, id, dist) for every (seed, reached-node)
    * pair — the frame landmark-centrality readouts fold over. Same
    * reproducibility discipline as `boundedBfs` (integer distances,
    * `min` folds, chained-CTE-replayable rounds) and the same
    * frontier-propagation shape: each round expands only last round's
    * discoveries and anti-joins the settled set.
    *
    * The frontier here is NOT O(|V|)-bounded — it is O(seeds ×
    * frontier width) and grows with both the landmark count and the
    * graph, so an unconditional broadcast would OOM the driver at
    * scale. The broadcast is therefore SIZE-GUARDED per round on the
    * materialized frontier row count (the frame is already
    * local-checkpointed, so the count reads cached blocks): below
    * `broadcastFrontierRows` the round is a broadcast join against the
    * laid-out edges; above it, a shuffle join (edges laid out on src
    * pay their exchange once at layout, the frontier reshuffles —
    * which is the small side by construction). Rounds end early when
    * the frontier empties. */
  def seededBfs(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, hops: Int,
                assumeLaidOut: Boolean = false,
                broadcastFrontierRows: Long = 5000000L): DataFrame =
      Checkpoints.scoped { pin =>
    require(hops >= 0, "seededBfs needs a non-negative hop bound")
    val e = edgeFrame(pin, edges, srcCol, dstCol, assumeLaidOut, layoutKey = "src")
    // the frontier rides in the dist frame as the `__f` flag (the
    // pairs first reached last round), the boundedBfs frontier shape
    val (init, seedRows) = Checkpoints.ckptCount(
      seeds.select(col(seeds.columns.head).cast("long").as("seed"))
        .distinct()
        .select(col("seed"), col("seed").as("id"), lit(0L).as("dist"),
          lit(true).as("__f")))
    val (dist, _) = Checkpoints.iterate(init, seedRows, hops,
        measure = d => Checkpoints.rows(d.where(col("__f"))),
        exitWhen = (_, n) => n == 0) { (d, frontierRows) =>
      val f = d.where(col("__f"))
        .select(col("seed"), col("id").as("src"), col("dist"))
      val joined =
        if (frontierRows <= broadcastFrontierRows) e.join(broadcast(f), "src")
        else e.join(f, "src")
      val fresh = joined
        .select(col("seed"), col("dst").as("id"), (col("dist") + 1).as("dist"))
        .groupBy("seed", "id").agg(min("dist").as("dist"))
        .join(d, Seq("seed", "id"), "left_anti")
      d.select(col("seed"), col("id"), col("dist"), lit(false).as("__f"))
        .union(fresh.withColumn("__f", lit(true)))
    }
    dist.select("seed", "id", "dist")
  }

  /** Bounded-round multi-source BFS over a BITMASK — the MS-BFS idea
    * (Then et al., VLDB 2015, "The More the Merrier"): up to 64 seeds
    * share ONE traversal by riding a 64-bit mask per node, so a round
    * moves O(|V|) rows of one long instead of the O(seeds × |V|)
    * (seed, id, dist) rows [[seededBfs]] moves — at 64 landmarks that
    * is a 64× smaller frontier frame for the identical answer. The
    * per-round fold is bit_or (commutative, partial-combining), so
    * every value is partition-order-independent like the min-folds of
    * the row form; GraphSpec pins the two forms equal.
    *
    * Input `seeds`: (id, bit) with bit in [0, 64) unique per seed.
    * Returns (id, round, new_mask): the seeds that FIRST reach `id`
    * at hop `round` (round 0 = the seeds themselves) — first-discovery
    * distance is minimal under unit weights, so per-(seed, node) hop
    * distance reads directly off the round column.
    *
    * Scale posture: the edge frame is laid out once; each round is
    * one equi-join of the O(|V|) mask frame (broadcast under the
    * seededBfs-style row gate) plus one bit_or hash-agg. The masks and
    * the output rows share ONE round frame (id, round, mask): a row
    * with round = -1 is a node's accumulated mask, every other row an
    * output row — so one materialization per round carries both. */
  def seededBfsBitmask(edges: DataFrame, srcCol: String, dstCol: String,
                       seeds: DataFrame, hops: Int,
                       assumeLaidOut: Boolean = false,
                       broadcastMaskRows: Long = 5000000L): DataFrame =
      Checkpoints.scoped { pin =>
    require(hops >= 0, "seededBfsBitmask needs a non-negative hop bound")
    val e = edgeFrame(pin, edges, srcCol, dstCol, assumeLaidOut, layoutKey = "dst")
    val seedMasks = seeds
      .select(col(seeds.columns.head).cast("long").as("id"),
        col(seeds.columns(1)).cast("int").as("bit"))
      .groupBy("id")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("mask"))
    val (init, initRows) = Checkpoints.ckptCount(
      seedMasks.select(col("id"), lit(-1), col("mask"))
        .union(seedMasks.select(col("id"), lit(0), col("mask")))
        .toDF("id", "round", "mask"))
    var r = 0
    // the frame only grows: a round adds one output row per node with
    // new bits and one mask row per newly reached node. An unchanged
    // row count therefore means zero new discoveries, which makes the
    // masks a fixpoint (the next round's contrib re-derives the same
    // masks) — stop early, bit-identical to running the rest. The
    // broadcast gate reads the whole frame's rows, an upper bound on
    // the mask rows it broadcasts.
    val (out, _) = Checkpoints.iterate(init, initRows, hops,
        exitWhen = _ == _) { (s, rows) =>
      r += 1
      val cur = s.where(col("round") === -1).select("id", "mask")
      val cs = cur.select(col("id").as("src"), col("mask"))
      val joined =
        if (rows <= broadcastMaskRows) e.join(broadcast(cs), "src")
        else e.join(cs, "src")
      val contrib = joined
        .groupBy(col("dst").as("id"))
        .agg(expr("bit_or(mask)").as("cmask"))
      val merged = cur.join(contrib, Seq("id"), "full_outer")
        .select(col("id"),
          expr("coalesce(mask, 0L) | coalesce(cmask, 0L)").as("__m"),
          expr("coalesce(cmask, 0L) & ~coalesce(mask, 0L)").as("__n"))
        .select(col("id"), explode(
          when(col("__n") =!= 0L, array(
            struct(lit(-1).as("round"), col("__m").as("mask")),
            struct(lit(r).as("round"), col("__n").as("mask"))))
            .otherwise(array(
              struct(lit(-1).as("round"), col("__m").as("mask"))))).as("__o"))
        .select(col("id"), col("__o.round"), col("__o.mask"))
      s.where(col("round") >= 0).union(merged)
    }
    out.where(col("round") >= 0)
      .select(col("id"), col("round"), col("mask").as("new_mask"))
  }

  /** Bounded-round single-source shortest paths over WEIGHTED edges
    * (Bellman-Ford): after `rounds` relaxations each reached node
    * carries the minimum total weight over all paths of at most
    * `rounds` edges from any seed. Weights are integer (cents,
    * micros — caller's unit) and the fold is `min`, so every value is
    * partition-order-independent and an oracle replays the rounds as
    * chained CTEs (q241) exactly like `boundedBfs`.
    *
    * Multi-edges collapse to their minimum weight up front (the only
    * weight a shortest path can use), fused into the one layout
    * shuffle: repartition on dst first, then the (src, dst) min-agg —
    * HashPartitioning on dst already satisfies the grouping's
    * clustering, so the aggregation adds no second exchange, and the
    * dst layout makes each round's per-edge relaxation aggregate
    * (group by dst) exchange-free under the broadcast-distance hint
    * (the `boundedBfs` discipline). Negative weights are rejected:
    * with `min` re-aggregation they would still converge, but bounded
    * rounds + negative cycles make "shortest within k hops" the only
    * honest semantics and the callers here are cost graphs.
    *
    * Scale posture: rounds move only the O(|V|) distance frame, its
    * broadcast SIZE-GATED PER ROUND on the checkpointed frame's row
    * count (the seededBfs discipline — the frame grows as relaxation
    * reaches new nodes, and above `broadcastDistRows` rounds flip to
    * shuffle joins instead of OOMing an executor); the edge frame is
    * scanned in place from its cache; superseded distance frames
    * unpersist as soon as the next round materializes. */
  def weightedSssp(edges: DataFrame, srcCol: String, dstCol: String,
                   weightCol: String, seeds: DataFrame, rounds: Int,
                   broadcastDistRows: Long = 5000000L): DataFrame =
      Checkpoints.scoped { pin =>
    require(rounds >= 0, "weightedSssp needs a non-negative round bound")
    val laid = pin.keep(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull)
      .repartition(col("dst"))
      .groupBy("src", "dst").agg(min("w").as("w"))
      .sortWithinPartitions("dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    require(laid.where(col("w") < 0).isEmpty,
      "weightedSssp needs non-negative weights")
    val (init, seedRows) = Checkpoints.ckptCount(
      seeds.select(col(seeds.columns.head).cast("long").as("id"))
        .distinct()
        .withColumn("dist", lit(0L)))
    val (dist, _) = Checkpoints.iterate(init, seedRows, rounds) {
      (dist, distRows) =>
        val ds = dist.withColumnRenamed("id", "src")
        val joined =
          if (distRows <= broadcastDistRows) laid.join(broadcast(ds), "src")
          else laid.join(ds, "src")
        val relaxed = joined
          .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
        dist.union(relaxed).groupBy("id").agg(min("dist").as("dist"))
    }
    dist
  }

  /** HITS hubs-and-authorities (Kleinberg) with INTEGER-EXACT
    * arithmetic: scores live in micro-units and each half-step
    * normalizes by the maximum (score * 1e6 div max), so every round
    * is BIGINT floor math — partition-order-independent, bit-identical
    * across engines, and oracle-replayable as chained CTEs (q211) the
    * same way the PageRank family is (q145/q162/q168). Classical HITS
    * normalizes by the L2 norm; max-normalization preserves the
    * ranking while staying in integers (both converge to the principal
    * eigenvector direction under power iteration).
    *
    * auth(i) = Σ hub(j) over edges j→i, then scaled to max 1e6;
    * hub(j) = Σ auth(i) over edges j→i, then scaled. Nodes with no
    * in-edges carry auth 0; nodes with no out-edges carry hub 0.
    *
    * Scale posture: the edge frame is laid out once (dst-partitioned)
    * and each half-step folds scores into the O(|V|) frame first, then
    * joins under the SIZE-GATED broadcast hint (the `pageRank`
    * discipline — the node frame is counted once from its checkpoint;
    * above `broadcastRankRows` every half-step runs as a shuffle
    * join) — a round moves only O(|V|) rows. The per-round max is ONE
    * scalar row cross-joined broadcast (the `pageRankRedistributed`
    * discipline). Each half-step is ONE round of [[Checkpoints.iterate]]
    * over a single (id, __has_out, __raw, __other) frame: `__raw` is
    * the half-step's UNSCALED sum, materialized once, and the next
    * half-step rescales it by its max as it reads it — so the O(|E|)
    * edge fold runs exactly once per half-step. Each half-step must
    * be materialized: an unmaterialized chain replicates 2^rounds
    * sub-plans (measured 3.7 s → 9.9 s at iters = 2). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2, scale: Long = 1000000L,
           assumeLaidOut: Boolean = false,
           broadcastRankRows: Long = 5000000L): DataFrame = Checkpoints.scoped { pin =>
    require(iters >= 1, "hits needs at least one iteration")
    val e = edgeFrame(pin, edges, srcCol, dstCol, assumeLaidOut, layoutKey = "dst")
    // the initial hub score rides as an already-"raw" column whose max
    // is `scale`, so every half-step reads its input the same way
    val (init, nodeRows) = Checkpoints.ckptCount(nodeFrame(e)
      .select(col("id"), col("__deg").isNotNull.as("__has_out"),
        when(col("__deg").isNotNull, lit(scale)).otherwise(lit(0L)).as("__raw"),
        lit(0L).as("__other")))
    val hint: DataFrame => DataFrame =
      if (nodeRows <= broadcastRankRows) df => broadcast(df)
      else df => df
    // the last half-step's raw sums rescaled to max `scale` (the max is
    // ONE row — size-independent, always hinted)
    def rescaled(s: DataFrame): DataFrame =
      s.crossJoin(broadcast(s.agg(max("__raw").as("__mx"))))
        .select(col("id"), col("__has_out"), col("__other"),
          coalesce(expr(s"(__raw * ${scale}L) div __mx"), lit(0L)).as("__v"))
    // odd half-steps fold hub scores src → dst into authorities, even
    // ones fold authorities dst → src into hubs
    var half = 0
    val (last, _) = Checkpoints.iterate(init, nodeRows, 2 * iters) { (s, _) =>
      half += 1
      val (joinSide, aggSide) = if (half % 2 == 1) ("src", "dst") else ("dst", "src")
      val scores = rescaled(s)
      val perSide = scores.where(col("__v") > 0)
        .select(col("id").as(joinSide), col("__v").as("__c"))
      val sums = e.join(hint(perSide), joinSide)
        .select(col(aggSide).as("id"), col("__c"))
        .groupBy("id").agg(sum("__c").as("__raw"))
      scores.join(hint(sums), Seq("id"), "left")
        .select(col("id"), col("__has_out"), col("__raw"),
          col("__v").as("__other"))
    }
    rescaled(last)
      .select(col("id"), col("__v").as("hub_micro"), col("__other").as("auth_micro"))
  }

  /** Bounded k-truss peel over an UNDIRECTED canonical edge list
    * (id_a < id_b, one row per edge): each round computes every edge's
    * triangle support (number of triangles it participates in) and
    * drops edges with support < k-2, for `rounds` rounds — the
    * cohesive-subgraph filter that separates genuinely interlinked
    * duplicate/citation clusters from chains of incidental pairwise
    * matches (an edge in a k-truss has k-2 independent witnesses).
    * Like [[kCore]], a FIXED round budget rather than
    * convergence-polling: each extra round costs three O(|E|)
    * equi-joins, and in curation graphs support stabilizes within a
    * couple of peels; the result after r rounds is a superset of the
    * true k-truss, shrinking toward it monotonically. Returns the
    * surviving edges with their final-round support.
    *
    * Shape per round: the canonical-orientation triangle enumeration
    * (e1⋈e2 on the shared middle node, closed by e3 — every triangle
    * found exactly once, the `Dedup.triangleCount` pattern), then the
    * three edge-role projections union into one map-side-combined
    * support count, then an equi-join filter. All joins are on node
    * ids; no cross joins; hub-degree skew is the thing to cap
    * upstream (as `lshCandidatePairs` does with maxBucket).
    * Superseded edge frames unpersist as each round materializes. */
  def kTrussEdges(pairs: DataFrame, k: Int, rounds: Int = 2): DataFrame =
      Checkpoints.scoped { pin =>
    require(k >= 3, "k-truss needs k >= 3 (support threshold k-2 >= 1)")
    require(rounds >= 1, "kTrussEdges needs at least one round")
    def support(e: DataFrame): DataFrame = {
      val t = e.select(col("id_a").as("x"), col("id_b").as("y"))
        .join(e.select(col("id_a").as("y"), col("id_b").as("z")), "y")
        .join(e.select(col("id_a").as("x"), col("id_b").as("z")), Seq("x", "z"))
        .select(col("x"), col("y"), col("z"))
      t.select(col("x").as("id_a"), col("y").as("id_b"))
        .union(t.select(col("x").as("id_a"), col("z").as("id_b")))
        .union(t.select(col("y").as("id_a"), col("z").as("id_b")))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("support"))
    }
    // canonicalize internally: the triangle enumeration assumes ONE
    // orientation per undirected edge (id_a < id_b); a caller passing
    // both orientations or reversed pairs would silently under- or
    // double-count support, so least/greatest + distinct removes the
    // precondition for one cheap projection. Self-loops drop (a = b
    // can't be part of a triangle under strict orientation).
    val (e0, edgeRows) = Checkpoints.ckptCount(pairs.select(
      least(col("id_a"), col("id_b")).cast("long").as("id_a"),
      greatest(col("id_a"), col("id_b")).cast("long").as("id_b"))
      .where(col("id_a") < col("id_b")).distinct())
    // inner join drops support-0 edges for free (no row, threshold
    // k-2 >= 1 can't hold)
    val (e, _) = Checkpoints.iterate(e0, edgeRows, rounds) { (e, _) =>
      e.join(support(e), Seq("id_a", "id_b"))
        .where(col("support") >= k - 2)
        .select("id_a", "id_b")
    }
    pin(e.join(support(e), Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("support")))
  }

  /** Bounded topological layering of a DAG (Kahn's algorithm as a
    * distributed peel): round r assigns layer r to every node with no
    * incoming edge from the still-alive set, then removes those nodes
    * — the dependency-scheduling readout ("which pipeline stages can
    * run in parallel, and in what wave"). `rounds` bounds the peel the
    * way [[kCore]]/[[kTrussEdges]] bound theirs: nodes deeper than
    * `rounds` waves return layer = -1 (still blocked), so callers see
    * exactly how far the budget reached; a cyclic input never
    * terminates Kahn's algorithm anyway, and here simply leaves the
    * cycle members at -1 — bounded rounds turn cycle detection into a
    * readable output instead of a hang.
    *
    * Shape per round: one semi-join to restrict edges to alive
    * endpoints, one distinct-dst projection (the blocked set), one
    * anti-join (alive minus blocked = this wave). All joins on node
    * ids. The round frame is ONE O(V) (id, layer) frame: -1 while a
    * node is still alive, its wave once peeled — so it is the answer
    * after the last round. */
  def topoLayers(edges: DataFrame, srcCol: String, dstCol: String,
                 rounds: Int = 4): DataFrame = Checkpoints.scoped { pin =>
    require(rounds >= 1, "topoLayers needs at least one round")
    val e0 = pin.keep(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val (init, nodeRows) = Checkpoints.ckptCount(e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id"))).distinct()
      .withColumn("layer", lit(-1)))
    // ONE materialization per round: the blocked set (alive nodes with
    // an unfinished dependency) joins back as a FLAG, and every alive
    // node without it takes this round's layer — `blocked` is computed
    // exactly once per round (measured 2.9 s -> 1.7 s at 4 rounds on
    // the q276 graph, sf0.1, against materializing wave and alive
    // frames separately).
    var r = 0
    val (layers, _) = Checkpoints.iterate(init, nodeRows, rounds) { (s, _) =>
      r += 1
      val alive = s.where(col("layer") === -1)
      val eAlive = e0
        .join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
      val blocked = eAlive.select(col("dst").as("id")).distinct()
        .withColumn("__b", lit(1))
      s.join(blocked, Seq("id"), "left")
        .select(col("id"),
          when(col("layer") === -1 && col("__b").isNull, lit(r))
            .otherwise(col("layer")).as("layer"))
    }
    layers
  }

  /** Per-node triangle count and local clustering coefficient over an
    * undirected graph — the standard "how knit is this node's
    * neighborhood" readout (Watts–Strogatz 1998): cc(v) =
    * 2·tri(v) / (deg(v)·(deg(v)−1)), reported in exact ppm via
    * integer floor division (both operands non-negative).
    *
    * Input canonicalizes internally exactly like [[kTrussEdges]]
    * (least/greatest + distinct, self-loops dropped), so callers may
    * pass either or both orientations. Triangle enumeration is the
    * same strict-orientation three-way equi-join (x<y<z, each triangle
    * materialized exactly once); per-node counts come from unioning
    * the three corner projections into one map-side-combined
    * aggregation — never a neighborhood cross join. Degree is two
    * projections of the canonical edge list. At corpus scale the
    * candidate edge list must be hub-capped upstream (the
    * `lshCandidatePairs` maxBucket discipline) — triangle join cost is
    * Σ deg(v)², which the cap bounds. */
  def clusteringCoefficient(pairs: DataFrame): DataFrame = Checkpoints.scoped { pin =>
    val e = pin(pairs.select(
      least(col("id_a"), col("id_b")).cast("long").as("id_a"),
      greatest(col("id_a"), col("id_b")).cast("long").as("id_b"))
      .where(col("id_a") < col("id_b")).distinct())
    val t = e.select(col("id_a").as("x"), col("id_b").as("y"))
      .join(e.select(col("id_a").as("y"), col("id_b").as("z")), "y")
      .join(e.select(col("id_a").as("x"), col("id_b").as("z")), Seq("x", "z"))
      .select(col("x"), col("y"), col("z"))
    val triPerNode = t.select(col("x").as("id"))
      .union(t.select(col("y").as("id")))
      .union(t.select(col("z").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    val deg = e.select(col("id_a").as("id"))
      .union(e.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    pin(deg.join(triPerNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("cc_ppm", when(col("degree") >= 2,
        expr("(n_tri * 2000000) div (degree * (degree - 1))"))
        .otherwise(lit(0L))))
  }

  /** Exactly `iters` synchronous min-label iterations over a (both-
    * orientation) merge graph, in one in-memory task — the bounded
    * twin of the shuffled loop in boruvkaMsf, used under the same
    * size discipline as Dedup's singleTaskComponents. Synchronous =
    * iteration i+1 reads only iteration i's labels, so the result is
    * bit-identical to the groupBy-min loop for ANY input. Returns
    * (c, l) for nodes appearing in the merge graph only. */
  private def boundedMinLabels(mer: DataFrame, iters: Int): DataFrame = {
    val spark = mer.sparkSession
    import spark.implicits._
    mer.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val adj = scala.collection.mutable.LongMap
          .empty[scala.collection.mutable.ArrayBuffer[Long]]
        it.foreach { case (a, b) =>
          adj.getOrElseUpdate(a,
            new scala.collection.mutable.ArrayBuffer[Long]) += b
        }
        var cur = scala.collection.mutable.LongMap.empty[Long]
        adj.foreachKey(k => cur(k) = k)
        for (_ <- 1 to iters) {
          val next = scala.collection.mutable.LongMap.empty[Long]
          adj.foreach { case (k, ns) =>
            var m = cur(k)
            ns.foreach { n => val ln = cur(n); if (ln < m) m = ln }
            next(k) = m
          }
          cur = next
        }
        cur.iterator
      }
      .toDF("c", "l")
  }

  /** Borůvka minimum-spanning-forest over UNIQUE-keyed undirected
    * edges, bounded rounds — the contraction-based graph primitive
    * (the others here are propagation-based): each round every
    * component selects its minimum-key incident edge, the selected
    * edges join the forest, and the touched components CONTRACT into
    * one. With a totally-ordered `key` (callers fold weight + src +
    * dst into one BIGINT, so ties cannot exist) the forest is unique
    * and every step is a min-fold — the whole run replays as chained
    * CTEs (the q149/q319 oracle discipline).
    *
    * Contraction is a FIXED `labelIters` of min-label iterations over
    * the per-round merge graph (a frame of O(components) edges, not
    * O(E)) — fixed, not converge-early, so an engine replaying the
    * same iteration count produces bit-identical intermediate labels
    * even on a pathological merge chain that has not fully collapsed;
    * an uncollapsed pair simply re-selects its connecting edge next
    * round (the forest set dedups by key). Classic Borůvka converges
    * in O(log V) rounds; `rounds` bounds the work honestly, like
    * boundedBfs's hops.
    *
    * Scale posture: per round, two keyed joins attach component
    * labels to the laid-out edge frame (the O(V) component frame is
    * the small side — AQE broadcasts while it fits, the
    * pageRank-style fallback being a shuffle join), one min-agg over
    * 2·|cross-edges| rows, then `labelIters` folds over the
    * O(components) merge frame.
    *
    * Each Borůvka round is TWO rounds of [[Checkpoints.iterate]] over
    * one frame of (id, comp) component rows and (key, __ca, __cb)
    * edge rows: the select round adds the round's selected edges as
    * PENDING rows (__ca set) and measures their count, so an empty
    * selection ends the loop — every later round would select nothing
    * too; the contract round relabels the component rows and turns
    * pending rows into forest rows (key only), measuring the component
    * rows for the next round's broadcast gate.
    *
    * Input `edges`: (src, dst, key) with src < dst canonical and key
    * globally unique. Returns the selected edge keys.
    */
  def boruvkaMsf(edges: DataFrame, rounds: Int = 4,
                 labelIters: Int = 4,
                 singleTaskLabelEdges: Long = 2000000L,
                 broadcastCompRows: Long = 5000000L): DataFrame =
      Checkpoints.scoped { pin =>
    require(rounds >= 1 && labelIters >= 1,
      "boruvkaMsf needs at least one round and one label iteration")
    val e = pin.keep(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("key").cast("long").as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val none = lit(null).cast("long")
    // O(V) component rows: broadcast only while they provably fit
    // (row-count gate, same discipline as the singleTaskLabelEdges
    // bound below) — an unconditional broadcast() hint would force
    // BroadcastHashJoin past driver memory instead of falling back to
    // a shuffle join.
    val (init, compRows) = Checkpoints.ckptCount(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
        .distinct()
        .select(col("id"), col("id").as("comp"), none.as("key"),
          none.as("__ca"), none.as("__cb")))
    val isComp = col("id").isNotNull
    val isPending = col("__ca").isNotNull
    var half = 0
    val (forest, _) = Checkpoints.iterate(init, compRows, 2 * rounds,
        measure = s => Checkpoints.rows(s.where(
          if (half % 2 == 1) isPending else isComp)),
        exitWhen = (_, n) => n == 0) { (s, n) =>
      half += 1
      val comp = s.where(isComp)
      if (half % 2 == 1) {
        // SELECT. The cross-edge frame stays LAZY — two size-gated
        // broadcast joins of the O(V) component rows against the
        // persisted edge blocks (narrow, no exchange while the gate
        // holds; shuffle joins above it), cheaper to re-derive per
        // consumer than to checkpoint O(E) blocks every round.
        val ca = comp.select(col("id").as("src"), col("comp").as("__ca"))
        val cb = comp.select(col("id").as("dst"), col("comp").as("__cb"))
        val small = n <= broadcastCompRows
        val ec = e
          .join(if (small) broadcast(ca) else ca, "src")
          .join(if (small) broadcast(cb) else cb, "dst")
          .where(col("__ca") =!= col("__cb"))
        // min incident edge per component, both endpoint roles
        val sel = ec.select(col("__ca").as("__c"), col("key"))
          .union(ec.select(col("__cb").as("__c"), col("key")))
          .groupBy("__c").agg(min("key").as("key"))
          .select("key").distinct()
        s.unionByName(ec.join(sel, Seq("key"), "left_semi")
          .select(none.as("id"), none.as("comp"), col("key"),
            col("__ca"), col("__cb")))
      } else {
        // CONTRACT: fixed-iteration min-label over the merge graph.
        // Labels are computed for TOUCHED components only (both
        // orientations are in `mer`, so propagation can neither reach
        // nor be influenced by an untouched component — its label is
        // its own id), which keeps the label frame O(selected edges),
        // not O(components). Under the singleTaskComponents size bound
        // the same `labelIters` synchronous iterations run in ONE
        // in-memory task instead of ~3 shuffle stages per iteration —
        // result-identical by construction (same recurrence, same
        // iteration count); above the bound the shuffled loop runs,
        // so the 100 TB path never funnels through one task.
        val se = s.where(isPending)
        val mer = se.select(col("__ca").as("a"), col("__cb").as("b"))
          .union(se.select(col("__cb").as("a"), col("__ca").as("b")))
        val lab =
          if (n <= singleTaskLabelEdges) {
            boundedMinLabels(mer, labelIters)
          } else {
            var l = mer.select(col("a").as("c")).distinct()
              .select(col("c"), col("c").as("l"))
            for (_ <- 1 to labelIters) {
              l = l.select(col("c"), col("l"))
                .union(mer.join(l.select(col("c").as("b"), col("l")), "b")
                  .select(col("a").as("c"), col("l")))
                .groupBy("c").agg(min("l").as("l"))
            }
            l
          }
        comp.join(lab.select(col("c").as("comp"), col("l")), Seq("comp"), "left")
          .select(col("id"), coalesce(col("l"), col("comp")).as("comp"),
            none.as("key"), none.as("__ca"), none.as("__cb"))
          .unionByName(s.where(col("key").isNotNull)
            .select(none.as("id"), none.as("comp"), col("key"),
              none.as("__ca"), none.as("__cb")))
      }
    }
    pin.counted(forest.where(col("key").isNotNull).select("key").distinct())._1
  }
}
