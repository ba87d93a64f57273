package graft

import graft.ops.{Dedup, Events, Similarity, Text}
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("normText strips punctuation, lowercases, collapses whitespace") {
    val out = Seq("  Hello,   WORLD!!  42 ").toDF("t")
      .select(Text.normText(col("t"))).as[String].head()
    assert(out == "hello world 42")
  }

  test("tokens and subword tokens") {
    val df = Seq("It's 2024, folks").toDF("t")
    assert(df.select(Text.tokens(col("t"))).as[Seq[String]].head() ==
      Seq("it", "s", "2024", "folks"))
    assert(df.select(Text.subwordTokens(col("t"))).as[Seq[String]].head() ==
      Seq("it", "'", "s", "2024", ",", "folks"))
  }

  test("langIdHeuristic identifies stopword-bearing text") {
    val cases = Seq(
      "the cat sat on the mat and it is warm" -> "en",
      "der Hund und die Katze ist nicht hier" -> "de",
      "le chat est dans la maison et il est content" -> "fr",
      "el perro y la casa es un lugar" -> "es",
      "tôi là người và có một con mèo" -> "vi")
    val out = cases.map(_._1).toDF("t")
      .select(Text.langIdHeuristic(col("t"))).as[String].collect()
    assert(out.toSeq == cases.map(_._2))
  }

  test("langIdCharNgram identifies languages from character trigrams") {
    val cases = Seq(
      "the weather is changing and the wind is strong" -> "en",
      "die Kinder und der Hund sind schnell nach Hause" -> "de",
      "les enfants que nous avons est une question" -> "fr",
      "los perros y el gato están en una casa" -> "es",
      "người Việt thường ăn cơm chung với gia đình" -> "vi")
    val out = cases.map(_._1).toDF("t")
      .select(Text.langIdCharNgram(col("t"))).as[String].collect()
    assert(out.toSeq == cases.map(_._2))
    val none = Seq("zz qq xx").toDF("t")
      .select(Text.langIdCharNgram(col("t"))).as[Option[String]].head()
    assert(none.isEmpty)
  }

  test("duplicateGroups finds connected components from candidate pairs") {
    import graft.ops.Dedup
    // components: {1,2,3,4} (chain), {10,11}, singletons never in pairs absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val groups = Dedup.duplicateGroups(pairs)
      .as[(Long, Long)].collect().toMap
    assert(groups(1L) == 1L && groups(2L) == 1L && groups(3L) == 1L && groups(4L) == 1L)
    assert(groups(10L) == 10L && groups(11L) == 10L)
    // end-to-end: exact-dup docs land in one group
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta!"),
      (4L, "completely different text about engines here"))
      .toDF("doc_id", "text")
    val cand = Dedup.lshCandidatePairs(docs, "doc_id", "text", 3, 8, 4)
    val g = Dedup.duplicateGroups(cand).as[(Long, Long)].collect().toMap
    assert(g(1L) == 1L && g(2L) == 1L && g(3L) == 1L)
    assert(!g.contains(4L)) // never a candidate -> not in any group
  }

  test("Count-Min sketch: est >= exact always; no heavy hitter missed") {
    val docs = Tables.documents(spark, sf)
    val hh = Text.cmsHeavyHitters(docs, "text", d = 3, w = 256, minCount = 20L)
      .as[(String, Long, Long)].collect()
    assert(hh.nonEmpty)
    // CMS is an upper bound: collisions only ADD mass
    hh.foreach { case (t, est, cnt) => assert(est >= cnt, s"$t est=$est cnt=$cnt") }
    // no false negatives: every term with true count >= threshold appears
    val truth = docs.select(explode(Text.tokens(col("text"))).as("t"))
      .groupBy("t").count().where(col("count") >= 20)
      .as[(String, Long)].collect().map(_._1).toSet
    val got = hh.map(_._1).toSet
    assert(truth.subsetOf(got), s"missing: ${truth.diff(got).take(5)}")
  }

  test("duplicateGroupsStar matches label propagation on adversarial graphs") {
    import graft.ops.Dedup
    // shapes chosen to stress round bounds and merge logic: a long
    // path (diameter >> log n — the case label propagation is slow
    // on), a star centered at the MAX id (center must still label to
    // the component min), two clusters bridged by one edge, and a
    // dense clique
    val path = (0L until 40L).sliding(2).map(w => (w(0), w(1))).toSeq
    val star = (101L to 110L).map(i => (120L, i))
    val bridged = Seq((200L, 201L), (201L, 202L), (210L, 211L),
      (211L, 212L), (202L, 210L))
    val clique = (for { a <- 300L to 305L; b <- 300L to 305L if a < b }
      yield (a, b)).toSeq
    val pairs = (path ++ star ++ bridged ++ clique).toDF("id_a", "id_b")
    // default call takes the single-task union-find fast path (tiny
    // edge set); smallGraph = 0 forces the star-contraction loop —
    // both must agree with label propagation and with each other
    val viaStar = Dedup.duplicateGroupsStar(pairs)
      .as[(Long, Long)].collect().toMap
    val viaLoop = Dedup.duplicateGroupsStar(pairs, smallGraph = 0L)
      .as[(Long, Long)].collect().toMap
    val viaProp = Dedup.duplicateGroups(pairs, maxIter = 50)
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaProp)
    assert(viaLoop == viaProp)
    assert(viaStar(39L) == 0L && viaStar(120L) == 101L &&
      viaStar(212L) == 200L && viaStar(305L) == 300L)
    // the round bound is real: a 120-node path (diameter 119) resolves
    // within 8 star rounds, where label propagation moves the min
    // label only one hop per round and would need ~119
    val longPath = (0L until 120L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id_a", "id_b")
    val fast = Dedup.duplicateGroupsStar(longPath, maxIter = 8, smallGraph = 0L)
      .as[(Long, Long)].collect()
    assert(fast.length == 120 && fast.forall(_._2 == 0L))
    // empty input: no crash, empty output
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateGroupsStar(empty).count() == 0)
  }

  test("qualityGate labels rows with the FIRST failing rule, null when all pass") {
    val df = Seq(
      ("ok doc with enough words here", 1),
      ("short", 2),          // fails rule 1 AND rule 2 -> rule 1 wins
      ("loooooooong enough", 3)
    ).toDF("text", "id")
    val out = Text.qualityGate(df, Seq(
        "too_short" -> (size(Text.tokens(col("text"))) >= 2),
        "no_o" -> col("text").contains("o")))
      .select("id", "drop_reason").as[(Int, String)].collect().toMap
    assert(out(1) == null && out(2) == "too_short" && out(3) == null)
    // NULL rule result fails conservatively (can't verify -> drop)
    val withNull = Seq((Some("fine words here"), 1), (None, 2))
      .toDF("text", "id")
    val out2 = Text.qualityGate(withNull, Seq(
        "too_short" -> (size(Text.tokens(col("text"))) >= 2)))
      .select("id", "drop_reason").as[(Int, String)].collect().toMap
    assert(out2(1) == null && out2(2) == "too_short")
  }

  test("langIdHeuristic null when no evidence") {
    val out = Seq("zzz qqq xxx").toDF("t")
      .select(Text.langIdHeuristic(col("t"))).as[Option[String]].head()
    assert(out.isEmpty)
  }

  test("quality score rises with richer text") {
    val df = Seq(
      ("low", "spam spam spam spam"),
      ("high", "the quick brown fox jumps over the lazy dog and it is fine"))
      .toDF("k", "t")
    val scores = Text.qualityScore(Text.qualityFeatures(df, "t"))
      .select("k", "quality_score").as[(String, Double)].collect().toMap
    assert(scores("high") > scores("low"))
  }

  test("rolling-hash shingles equal brute-force recomputation; fingerprint shifts locally") {
    val txt = "one two three four five six seven"
    val toksSeq = txt.split(" ").toSeq
    val B = 1000003L
    def brute(n: Int): Seq[Long] = toksSeq.sliding(n).map(
      _.foldLeft(0L)((acc, t) => acc * B + t.hashCode.toLong)).toSeq
    for (n <- Seq(1, 2, 3, 5)) {
      val got = Seq(txt).toDF("t")
        .select(Text.rollingShingleHashes(Text.tokens(col("t")), n))
        .as[Seq[Long]].head()
      assert(got == brute(n), s"n=$n")
    }
    // short doc -> empty; local edit changes only overlapping shingles
    assert(Seq("one").toDF("t")
      .select(Text.rollingShingleHashes(Text.tokens(col("t")), 3))
      .as[Seq[Long]].head().isEmpty)
    val edited = "one two three four X six seven"
    val a = Seq(txt).toDF("t").select(Text.rollingShingleHashes(Text.tokens(col("t")), 3)).as[Seq[Long]].head()
    val b = Seq(edited).toDF("t").select(Text.rollingShingleHashes(Text.tokens(col("t")), 3)).as[Seq[Long]].head()
    assert(a.take(2) == b.take(2)) // shingles before the edit unchanged
    assert(a.drop(2).zip(b.drop(2)).take(3).forall(p => p._1 != p._2))
  }

  test("fingerprint invariant under case/punctuation noise") {
    val fps = Seq("Hello, World!", "hello world", "HELLO   WORLD.")
      .toDF("t").select(Text.fingerprint(col("t"))).as[String].collect()
    assert(fps.distinct.length == 1)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy cat tonight"), // near-dup of 1
    (3L, "completely different content about spark query engines here"),
    (4L, "The quick brown fox jumps over the lazy dog tonight!")) // exact-dup of 1 (normalized)
    .toDF("doc_id", "text")

  test("exactDedup groups normalized duplicates") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    assert(out.length == 3)
    val dupGroup = out.find(_._3 == 2L).get
    assert(dupGroup._2 == 1L) // keeps min doc_id
  }

  test("wordShingles builds ordered n-grams; short docs yield empty") {
    val toks = Seq("a b c d").toDF("t").select(Text.tokens(col("t")).as("toks"))
    assert(toks.select(Dedup.wordShingles(col("toks"), 2)).as[Seq[String]].head() ==
      Seq("a b", "b c", "c d"))
    val short = Seq("a").toDF("t").select(Text.tokens(col("t")).as("toks"))
    assert(short.select(Dedup.wordShingles(col("toks"), 3)).as[Seq[String]].head().isEmpty)
  }

  test("minhash signatures equal iff shingle sets equal; LSH finds the near-dup pair") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap
    assert(sigs(1L) == sigs(4L)) // identical normalized text
    assert(sigs(1L) != sigs(3L))
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", 3, 8, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup caught by some band
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("rowBandKeys: null for shingle-less docs, matches aggregate banding") {
    val df = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "too short"), (3L, ""))
      .toDF("doc_id", "text")
    val rowKeys = df.select(col("doc_id"),
        Dedup.rowBandKeys(col("text"), 3, 8, 4).as("keys"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(rowKeys(2L).isEmpty && rowKeys(3L).isEmpty) // < n tokens -> null
    val aggKeys = Dedup.bandIndex(df, "doc_id", "text", 3, 8, 4)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(rowKeys(1L).get.toSet == aggKeys(1L)) // same band family
    assert(!aggKeys.contains(2L) && !aggKeys.contains(3L))
  }

  test("incremental dedup decomposes exactly: old + new-batch candidates = full run") {
    val all = Tables.documents(spark, sf)
    val oldDocs = all.where(col("doc_id") % 5 =!= 0)
    val newDocs = all.where(col("doc_id") % 5 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.lshCandidatePairs(df, "doc_id", "text", 3, 8, 4, maxBucket = 0)
        .as[(Long, Long)].collect().toSet
    val full = pairs(all)
    val oldOnly = pairs(oldDocs)
    val stored = Dedup.bandIndex(oldDocs, "doc_id", "text", 3, 8, 4)
    val newBanded = Dedup.bandIndex(newDocs, "doc_id", "text", 3, 8, 4)
    val incr = Dedup.incrementalCandidatePairs(newBanded, stored, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert((oldOnly ++ incr) == full)
    assert(incr.forall { case (a, b) => a % 5 == 0 || b % 5 == 0 }) // every pair touches the new batch
  }

  test("duplicateGroups on an empty pair set returns empty (no crash)") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateGroups(empty).count() == 0)
  }

  test("lsh maxBucket drops degenerate buckets, keeps normal pairs") {
    // docs 1 and 4 share all bands (identical text) — a tiny "bucket"
    // of size 2; capping at 1 removes every pair, capping at 2+ keeps
    // them, and the default leaves results identical to uncapped
    val capped1 = Dedup.lshCandidatePairs(docs, "doc_id", "text", 3, 8, 4,
      maxBucket = 1).count()
    assert(capped1 == 0)
    val capped2 = Dedup.lshCandidatePairs(docs, "doc_id", "text", 3, 8, 4,
      maxBucket = 2).as[(Long, Long)].collect().toSet
    assert(capped2.contains((1L, 4L)))
    val uncapped = Dedup.lshCandidatePairs(docs, "doc_id", "text", 3, 8, 4,
      maxBucket = 0).as[(Long, Long)].collect().toSet
    val default = Dedup.lshCandidatePairs(docs, "doc_id", "text", 3, 8, 4)
      .as[(Long, Long)].collect().toSet
    assert(default == uncapped)
  }

  test("jaccard computes exact overlap on candidate pairs") {
    val pairs = Seq((1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.jaccard(pairs, docs, "doc_id", "text", 3)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
    val pairs2 = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j2 = Dedup.jaccard(pairs2, docs, "doc_id", "text", 3)
      .select("jaccard").as[Double].head()
    assert(j2 > 0.4 && j2 < 1.0)
  }

  test("simhash: identical text -> distance 0; near-dup closer than unrelated") {
    val sh = docs.select(col("doc_id"), Dedup.simhash16(Text.tokens(col("text"))).as("h"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(4L)) == 0)
    assert(ham(sh(1L), sh(2L)) <= ham(sh(1L), sh(3L)))
  }

  test("simhash aggregate raises on lane overflow (>32766 tokens)") {
    val big = Seq((1L, Array.fill(40000)("tok").mkString(" "))).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.simhash(big, "doc_id", "text", nBits = 64).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("32766 tokens")), e.toString)
  }

  test("simhash aggregate (lane-packed) equals the simhash16 expression") {
    val real = Tables.documents(spark, sf).limit(200)
    val viaAgg = Dedup.simhash(real, "doc_id", "text", nBits = 16)
      .as[(Long, Long)].collect().toMap
    val viaExpr = real
      .select(col("doc_id"), Dedup.simhash16(Text.tokens(col("text"))).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(viaAgg == viaExpr)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot/cosine: native expression matches HOF reference bit-for-bit") {
    val df = Tables.embeddings(spark, sf).limit(50)
      .select(col("embedding").as("a"), col("embedding").as("b"))
    val diffs = df.select(
      (Similarity.dot(col("a"), col("b")) - Similarity.dotNative(col("a"), col("b"))).as("d"))
      .agg(max(abs(col("d")))).as[Double].head()
    assert(diffs == 0.0)
  }

  test("cosine of a vector with itself is 1") {
    val v = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val c = v.select(Similarity.cosine(col("a"), col("b"))).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("bruteForceTopK returns k best neighbors, excludes self") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") === 0), 3)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 3)
    assert(!out.exists(_._2 == 0L))
    assert(out.map(_._3).sorted.reverse.toSeq == out.map(_._3).toSeq.sortBy(-_))
  }

  test("ivfTopK: scores match brute-force; recall reasonable at nProbe=4/16") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.where(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(emb, q, 5)
      .as[(Long, Long, Double)].collect()
    val bfMap = bf.map(r => (r._1, r._2) -> r._3).toMap
    val ivf = Similarity.ivfTopK(emb, q, 5)
      .as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    // any (query, neighbor) IVF returns must carry the exact brute-force score
    val bfAll = Similarity.bruteForceTopK(emb, q, 500)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    ivf.foreach { case (qid, nid, cos) =>
      assert(bfAll((qid, nid)) == cos, s"score mismatch for ($qid,$nid)")
    }
    // recall@5 over the probed cells should recover most true neighbors
    val hit = bf.count(r => ivf.exists(i => i._1 == r._1 && i._2 == r._2))
    assert(hit.toDouble / bf.length >= 0.5, s"recall ${hit}/${bf.length}")
  }

  test("frozen IVF centroids reproduce ivfTopK; reusable across query batches") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 10)
    val cents = Similarity.trainCentroids(emb, nCells = 8)
    val a = Similarity.ivfTopKWith(emb, queries, k = 3, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Similarity.ivfTopK(emb, queries, k = 3, nCells = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b)                       // frozen index == inline training
    val later = Similarity.ivfTopKWith(emb,
      emb.where(col("vec_id") >= 10 && col("vec_id") < 15), k = 3, cents)
    assert(later.count() > 0)            // second batch served by the same index
  }

  test("topKPerGroupLarge equals window top-k (map-side pruned)") {
    import graft.ops.Relational
    val orders = Tables.orders(spark, sf).repartition(7) // force multi-partition runs
    val viaWindow = Relational.topKPerGroup(orders, Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
      .select("o_custkey", "o_orderkey").as[(Long, Long)].collect().toSet
    val viaPruned = Relational.topKPerGroupLarge(orders, Seq("o_custkey"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
      .select("o_custkey", "o_orderkey").as[(Long, Long)].collect().toSet
    assert(viaPruned == viaWindow && viaPruned.nonEmpty)
  }

  test("saltedAggregate equals direct aggregation (skew-safe two-phase)") {
    val li = Tables.lineitem(spark, sf)
    val direct = li.groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val salted = graft.ops.Relational.saltedAggregate(
      li, Seq("l_returnflag"), col("l_orderkey"), 8)(
      Seq(sum(col("l_quantity").cast("decimal(18,2)")).as("ps"), count(lit(1)).as("pn")),
      Seq(sum(col("ps")).cast("double").as("s"), sum(col("pn")).as("n")))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted == direct)
  }

  test("measured ANN recall@10 at sf0.1: LSH multi-table and IVF vs brute force") {
    // The sf0.1 corpus (2000 64-dim vectors) is only weakly clustered,
    // which is ADVERSE for ANN — near-orthogonal vectors give SRP
    // little signal — so the asserted points are honest lower bounds
    // for real embedding corpora. Everything here is md5-deterministic
    // (planes, seed picks, ordered-fold means), so the measured recall
    // is a constant of the data, not a flaky sample: measured 0.985
    // for LSH(3 planes, 16 tables) and 0.885 for IVF(16 cells, probe
    // 10, 3 Lloyd iters). The knobs trade candidate volume for recall;
    // on this near-uniform corpus the high-recall settings approach
    // brute-force candidate counts — the pruning win comes back on
    // clustered data, while THIS pin is about correctness of the
    // recall/knob machinery.
    val sf01 = "/root/testdata/sf0.1"
    val emb = Tables.embeddings(spark, sf01)
    val q = emb.where(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(emb, q, 10)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    def recall(got: Set[(Long, Long)]): Double =
      truth.intersect(got).size.toDouble / truth.size
    val lsh = Similarity.lshTopKMulti(emb, q, 10, nPlanes = 3, nTables = 16)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(recall(lsh) >= 0.95, f"LSH multi recall ${recall(lsh)}%.3f")
    val corp = emb.select(col("vec_id"), col("embedding")).persist()
    val c3 = Similarity.trainCentroids(corp, 16, maxIter = 3)
    val ivf = Similarity.ivfTopKWith(corp, q, 10, c3, nProbe = 10)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(recall(ivf) >= 0.85, f"IVF recall ${recall(ivf)}%.3f")
    // multi-iteration Lloyd stays deterministic (ordered-fold means)
    val c3b = Similarity.trainCentroids(corp, 16, maxIter = 3)
    assert(c3.zip(c3b).forall { case ((i, a), (j, b)) =>
      i == j && a.sameElements(b) })
    corp.unpersist()
  }

  test("lshTopK neighbors are a subset of brute-force candidates scored identically") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.where(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(emb, q, 50)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val lsh = Similarity.lshTopK(emb, q, 5, nPlanes = 4)
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (qid, nid, cos) =>
      bf.get((qid, nid)).foreach(bfCos => assert(bfCos == cos))
    }
  }
}

class EventsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("sessionize splits on gap > threshold") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 00:10:00")),  // same session (gap 10m < 30m)
      (1L, ts("2024-01-01 01:00:00")),  // new session (gap 50m)
      (2L, ts("2024-01-01 00:00:00")))
      .toDF("user_id", "ts")
    val out = Events.sessionize(ev, "user_id", "ts", 1800)
      .select("user_id", "session_id").as[(Long, Long)].collect()
    assert(out.count(_ == (1L, 1L)) == 2)
    assert(out.contains((1L, 2L)))
    assert(out.contains((2L, 1L)))
  }

  test("asofJoin picks latest right row at-or-before left ts, null before first") {
    val left = Seq(
      (10L, 1L, ts("2024-01-05 00:00:00")),
      (11L, 1L, ts("2024-01-01 00:00:00")),
      (12L, 1L, ts("2023-12-01 00:00:00")), // before any right row
      (13L, 2L, ts("2024-01-10 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 00:00:00"), 100L, 5.0),
      (1L, ts("2024-01-04 00:00:00"), 101L, 7.0),
      (2L, ts("2024-01-02 00:00:00"), 102L, 9.0))
      .toDF("k", "rts", "o_orderkey", "o_totalprice")
    val out = Events.asofJoin(left, "user_id", "ts", right, "k", "rts",
        Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "o_orderkey").as[(Long, Option[Long])].collect().toMap
    assert(out(10L).contains(101L)) // latest <= Jan 5
    assert(out(11L).contains(100L)) // exactly-equal ts is visible
    assert(out(12L).isEmpty)        // before first order
    assert(out(13L).contains(102L))
  }

  test("asofJoin honors null payload VALUES in the latest right row (no stale carry)") {
    val left = Seq((1L, 1L, ts("2024-01-05 00:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 00:00:00"), Some(100L), Some(5.0)),
      (1L, ts("2024-01-04 00:00:00"), None: Option[Long], Some(7.0)))
      .toDF("k", "rts", "o_orderkey", "o_totalprice")
    val out = Events.asofJoin(left, "user_id", "ts", right, "k", "rts",
        Seq("o_orderkey", "o_totalprice"))
      .select("o_orderkey", "o_totalprice")
      .as[(Option[Long], Option[Double])].head()
    // the latest right row has a NULL orderkey: it must surface as null,
    // never the stale 100 from the earlier row (and never mix rows)
    assert(out == (None, Some(7.0)))
  }

  test("bucketStart floors to the window boundary") {
    val out = Seq(ts("2024-01-01 00:17:31.5")).toDF("ts")
      .select(Events.bucketStart(col("ts"), 600).cast("string")).as[String].head()
    assert(out == "2024-01-01 00:10:00")
  }
}
