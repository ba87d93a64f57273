package graft

import graft.ops.{Dedup, Graph, Similarity}
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, rng}

/** The operators and queries whose rounds run under
  * `Checkpoints.iterate`:
  *  - every call leaves pinned only the blocks its result reads
  *    (`Leaks.resultRdds`), and the result still reads back after the
  *    call;
  *  - on a fixed small graph each runs at most the Spark jobs it ran
  *    with per-loop hand-kept checkpoint bookkeeping (`parentJobs`,
  *    counted for the call plus one collect of its result);
  *  - the loops with an early exit agree with an in-memory reference
  *    that runs every round, on random graphs.
  */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  // ---- fixed small graph -------------------------------------------

  /** A 12-cycle with three chords, a 6-node tail hanging off node 5
    * and a separate triangle. */
  private val fixedEdges: Seq[(Long, Long)] =
    (0L until 12L).map(i => (i, (i + 1) % 12)) ++
      Seq((0L, 6L), (2L, 8L), (3L, 9L), (5L, 12L)) ++
      (12L until 17L).map(i => (i, i + 1)) ++
      Seq((30L, 31L), (31L, 32L), (32L, 30L))

  private def edges: DataFrame = fixedEdges.toDF("src", "dst")
  private def seeds: DataFrame = Seq(0L, 30L).toDF("id")
  private def pairs: DataFrame = fixedEdges
    .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    .toDF("id_a", "id_b")
  private def keyed(es: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = es
    .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    .filter { case (a, b) => a != b }
    .map { case (a, b) => (a, b, ((a * 31 + b * 17) % 7) * 1000000L + a * 1000 + b) }

  private val fixedCases: Seq[(String, () => DataFrame)] = Seq(
    "pageRank" -> (() => Graph.pageRank(edges, "src", "dst")),
    "pageRankRedistributed" ->
      (() => Graph.pageRankRedistributed(edges, "src", "dst")),
    "personalizedPageRank" ->
      (() => Graph.personalizedPageRank(edges, "src", "dst", seeds)),
    "kCore" -> (() => Graph.kCore(edges, "src", "dst", k = 2, rounds = 3)),
    "coreDecomposition" ->
      (() => Graph.coreDecomposition(edges, "src", "dst", maxK = 3)),
    "labelPropagation" -> (() => Graph.labelPropagation(edges, "src", "dst")),
    "boundedBfs" -> (() => Graph.boundedBfs(edges, "src", "dst", seeds, 8)),
    "boundedBfs frontierOnly" -> (() =>
      Graph.boundedBfs(edges, "src", "dst", seeds, 8, frontierOnly = true)),
    "seededBfs" -> (() => Graph.seededBfs(edges, "src", "dst", seeds, 8)),
    "seededBfsBitmask" -> (() => Graph.seededBfsBitmask(edges, "src", "dst",
      Seq((0L, 0), (30L, 1), (12L, 2)).toDF("id", "bit"), 8)),
    "weightedSssp" -> (() => Graph.weightedSssp(
      fixedEdges.map { case (a, b) => (a, b, (a * 7 + b) % 5 + 1) }
        .toDF("src", "dst", "w"), "src", "dst", "w", seeds, 3)),
    "hits" -> (() => Graph.hits(edges, "src", "dst")),
    "kTrussEdges" -> (() => Graph.kTrussEdges(pairs, k = 3)),
    "topoLayers" -> (() => Graph.topoLayers(
      fixedEdges.filter { case (a, b) => a < b }.toDF("src", "dst"),
      "src", "dst")),
    "boruvkaMsf" -> (() =>
      Graph.boruvkaMsf(keyed(fixedEdges).toDF("src", "dst", "key"))),
    "duplicateGroups" -> (() => Dedup.duplicateGroups(pairs)),
    "duplicateGroupsStar" -> (() => Dedup.duplicateGroupsStar(pairs, smallGraph = 0)),
    "suffixArrayRanks" -> (() => Dedup.suffixArrayRanks(Seq(
      (1L, "the cat sat on the mat and the cat ran"),
      (2L, "a cat sat on the mat and the cat ran off"),
      (3L, "banana bandana cabana")).toDF("doc_id", "text"),
      "doc_id", "text", 40)),
    "gramPowerIteration" -> (() => Similarity.gramPowerIteration(
      (1 to 6).map(i => (i.toLong, Array(i * 0.1f, 1f - i * 0.1f, 0.5f, -i * 0.05f)))
        .toDF("vec_id", "embedding"), dims = 4))
  ) ++ Seq("q323_temporal_reachability", "q339_diameter_2sweep",
    "q349_kcenter_coreset", "q370_pointer_doubling", "q452_longest_dup_ngram",
    "q508_greedy_source_cover", "q536_markov_attribution", "q568_graph_ann_beam")
    .map(q => q -> (() => SparkEntry.queries(q)(spark, sf)))

  /** Jobs per call (plus one collect) on the fixed inputs above, with
    * each loop keeping its checkpoints by hand; lowered where a later
    * change dropped a job (pageRankRedistributed's node count rides as
    * a literal, duplicateGroups builds its symmetric edges in one
    * pass, q508 reads its total lazily). */
  private val parentJobs: Map[String, Int] = Map(
    "pageRank" -> 17, "pageRankRedistributed" -> 22,
    "personalizedPageRank" -> 20, "kCore" -> 19, "coreDecomposition" -> 25,
    "labelPropagation" -> 18, "boundedBfs" -> 40,
    "boundedBfs frontierOnly" -> 53, "seededBfs" -> 61,
    "seededBfsBitmask" -> 49, "weightedSssp" -> 23, "hits" -> 39,
    "kTrussEdges" -> 26, "topoLayers" -> 23, "boruvkaMsf" -> 38,
    "duplicateGroups" -> 57, "duplicateGroupsStar" -> 53,
    "suffixArrayRanks" -> 31, "gramPowerIteration" -> 16,
    "q323_temporal_reachability" -> 19, "q339_diameter_2sweep" -> 38,
    "q349_kcenter_coreset" -> 61, "q370_pointer_doubling" -> 20,
    "q452_longest_dup_ngram" -> 43, "q508_greedy_source_cover" -> 37,
    "q536_markov_attribution" -> 54, "q568_graph_ann_beam" -> 96)

  fixedCases.foreach { case (name, call) =>
    test(s"$name: leaves only its result's blocks and runs no more jobs") {
      val (jobs, leaked, entries) = Leaks.jobsAndLeaks(spark)(call())
      info(s"$name: $jobs jobs")
      assert(leaked.isEmpty, s"$name left RDDs $leaked persisted beyond its result")
      assert(entries == 0, s"$name left $entries cache entries beyond its result")
      parentJobs.get(name).foreach { n =>
        assert(jobs <= n, s"$name ran $jobs jobs, $n before")
      }
    }
  }

  test("weightedSssp releases its edge layout when a weight is negative") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      Graph.weightedSssp(Seq((1L, 2L, -3L)).toDF("src", "dst", "w"),
        "src", "dst", "w", seeds, 2)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "weightedSssp leaked its persist on the exception path")
  }

  // ---- early exits against every-round references ------------------

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default,
      rng.Seed(seed + i)))

  /** Ten random graphs on disjoint id ranges (graph g holds ids
    * 1000g until 1000g + 30), batched into one edge list. */
  private def randomEdges(seed: Long): Seq[(Long, Long)] = {
    val edgeGen = for {
      n <- Gen.chooseNum(2, 30)
      m <- Gen.chooseNum(1, 40)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, n - 1); b <- Gen.chooseNum(0, n - 1)
      } yield (a.toLong, b.toLong))
    } yield es
    samples(edgeGen, 10, seed).zipWithIndex.flatMap {
      case (es, g) => es.map { case (a, b) => (g * 1000L + a, g * 1000L + b) }
    }
  }

  private def refBfs(es: Seq[(Long, Long)], from: Set[Long],
                     hops: Int): Map[Long, Long] = {
    val adj = es.distinct.groupMap(_._1)(_._2)
    var dist = from.map(_ -> 0L).toMap
    for (_ <- 1 to hops) {
      val next = for ((u, du) <- dist.toSeq; v <- adj.getOrElse(u, Nil))
        yield v -> (du + 1)
      dist = (dist.toSeq ++ next).groupMapReduce(_._1)(_._2)(math.min)
    }
    dist
  }

  private def firstIds(es: Seq[(Long, Long)]): Seq[Long] =
    es.map(_._1).distinct.sorted.grouped(7).map(_.head).toSeq

  // hop bounds below and above the graphs' diameters: the early exit
  // fires only in the second
  private val hopBounds = Seq(2, 40)

  test("property: boundedBfs (both shapes) matches every-round BFS") {
    val es = randomEdges(101L)
    val from = firstIds(es)
    for (hops <- hopBounds; frontierOnly <- Seq(false, true)) {
      val got = Graph.boundedBfs(es.toDF("src", "dst"), "src", "dst",
          from.toDF("id"), hops, frontierOnly = frontierOnly)
        .as[(Long, Long)].collect().toMap
      assert(got == refBfs(es, from.toSet, hops), s"hops $hops frontier $frontierOnly")
    }
  }

  test("property: seededBfs matches per-seed every-round BFS") {
    val es = randomEdges(202L)
    val from = firstIds(es)
    for (hops <- hopBounds) {
      val want = from.flatMap { s =>
        refBfs(es, Set(s), hops).map { case (id, d) => (s, id, d) }
      }.toSet
      val got = Graph.seededBfs(es.toDF("src", "dst"), "src", "dst",
          from.toDF("id"), hops)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want, s"hops $hops")
    }
  }

  test("property: seededBfsBitmask matches per-seed every-round BFS") {
    val es = randomEdges(303L)
    val bits = firstIds(es).take(64).zipWithIndex
    for (hops <- hopBounds) {
      val perBit = bits.map { case (s, b) => b -> refBfs(es, Set(s), hops) }
      val want = (for {
        (b, dist) <- perBit; (id, d) <- dist
      } yield (id, d.toInt) -> (1L << b))
        .groupMapReduce(_._1)(_._2)(_ | _)
        .map { case ((id, r), m) => (id, r, m) }.toSet
      val got = Graph.seededBfsBitmask(es.toDF("src", "dst"), "src", "dst",
          bits.toDF("id", "bit"), hops)
        .as[(Long, Int, Long)].collect().toSet
      assert(got == want, s"hops $hops")
    }
  }

  test("property: coreDecomposition matches every-round bounded peeling") {
    val es = randomEdges(404L)
    val sym = es.filter(e => e._1 != e._2).flatMap(e => Seq(e, e.swap)).distinct
    for ((maxK, roundsPerK) <- Seq((3, 1), (4, 6))) {
      var alive = sym.map(_._1).toSet
      val shell = scala.collection.mutable.Map(alive.toSeq.map(_ -> 0L): _*)
      for (k <- 1 to maxK) {
        for (_ <- 1 to roundsPerK) {
          val deg = sym.filter(e => alive(e._1) && alive(e._2))
            .groupBy(_._1).map { case (n, ns) => n -> ns.size }
          alive = alive.filter(n => deg.getOrElse(n, 0) >= k)
        }
        alive.foreach(n => shell(n) = k.toLong)
      }
      val got = Graph.coreDecomposition(es.toDF("src", "dst"), "src", "dst",
          maxK, roundsPerK)
        .as[(Long, Long)].collect().toMap
      assert(got == shell.toMap, s"maxK $maxK roundsPerK $roundsPerK")
    }
  }

  test("property: duplicateGroups matches every-round label propagation") {
    val es = randomEdges(505L).filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = es.flatMap(e => Seq(e, e.swap)).groupMap(_._1)(_._2)
    for (maxIter <- Seq(1, 30)) {
      var label = adj.keys.map(v => v -> v).toMap
      for (_ <- 1 to maxIter)
        label = label.map { case (v, l) => v -> (adj(v).map(label).min min l) }
      val got = Dedup.duplicateGroups(es.toDF("id_a", "id_b"), maxIter)
        .as[(Long, Long)].collect().toMap
      assert(got == label, s"maxIter $maxIter")
    }
  }

  test("property: boruvkaMsf matches every-round bounded Borůvka") {
    val es = keyed(randomEdges(606L))
    val labelIters = 4
    for (rounds <- Seq(1, 12)) {
      var comp = (es.map(_._1) ++ es.map(_._2)).distinct.map(v => v -> v).toMap
      var msf = Set.empty[Long]
      for (_ <- 1 to rounds) {
        val ec = es.filter { case (a, b, _) => comp(a) != comp(b) }
        val sel = (ec.map(e => comp(e._1) -> e._3) ++ ec.map(e => comp(e._2) -> e._3))
          .groupMapReduce(_._1)(_._2)(math.min).values.toSet
        val se = ec.filter(e => sel(e._3))
        msf ++= se.map(_._3)
        val adj = se.flatMap(e => Seq(comp(e._1) -> comp(e._2), comp(e._2) -> comp(e._1)))
          .groupMap(_._1)(_._2)
        var lab = adj.keys.map(c => c -> c).toMap
        for (_ <- 1 to labelIters)
          lab = adj.map { case (c, ns) => c -> (ns.map(lab).min min lab(c)) }
        comp = comp.map { case (v, c) => v -> lab.getOrElse(c, c) }
      }
      val got = Graph.boruvkaMsf(es.toDF("src", "dst", "key"), rounds, labelIters)
        .as[Long].collect().toSet
      assert(got == msf, s"rounds $rounds")
    }
  }
}
