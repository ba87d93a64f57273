package graft

import org.apache.spark.sql.functions._

/** Round-7x pins: float-Sinkhorn tracks the integer coupling and its
  * marginals converge, the dup-n-gram fraction equals a driver
  * brute-force (shingle → dup set → interval union), and TextRank
  * equals a pure-Scala integer PageRank replay. */
class Round7xSpec extends SparkSpec {

  private def hashLong(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  test("property: q379 integer Sinkhorn tracks float Sinkhorn and couples marginals") {
    val rows = graft.queries.Registry.byName("q379_sinkhorn_coupling")
      .fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val r = rows.map(x => x._1 -> x._3).toMap // i -> r_milli
    val c = rows.map(x => x._2 -> x._4).toMap // j -> c_milli
    assert(r.values.sum == 1000L && c.values.sum == 1000L)
    def k(i: Long, j: Long): Double = math.pow(2, 7 - math.abs(i - j))
    var v = c.keys.map(_ -> 1000.0).toMap
    var u = Map.empty[Long, Double]
    for (_ <- 1 to 3) {
      u = r.map { case (i, ri) =>
        i -> ri * 16384000.0 / v.map { case (j, vj) => k(i, j) * vj }.sum }
      v = c.map { case (j, cj) =>
        j -> cj * 16384000.0 / u.map { case (i, ui) => k(i, j) * ui }.sum }
    }
    rows.foreach { case (i, j, _, _, ppm) =>
      val f = u(i) * k(i, j) * v(j) / 16384.0
      assert(math.abs(ppm - f) <= math.max(2000.0, f * 0.05),
        s"cell ($i,$j): int=$ppm float=$f")
    }
    // after 3 rounds the row marginals couple to r within 15%
    rows.groupBy(_._1).foreach { case (i, cells) =>
      val got = cells.map(_._5).sum.toDouble
      val want = r(i) * 1000.0
      assert(math.abs(got - want) <= want * 0.15 + 2000.0,
        s"row $i marginal $got vs $want")
    }
  }

  test("property: q380 dup-ngram fraction equals a driver brute force") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        graft.ops.Text.tokens(col("text")).as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toVector))
    val shingles = docs.flatMap { case (id, _, t) =>
      if (t.length < 8) Nil
      else (0 to t.length - 8).map(p => (id, p + 1, t.slice(p, p + 8).mkString(" ")))
    }
    val counts = shingles.groupBy(_._3).map { case (k2, v) => k2 -> v.size }
    val cov = shingles.filter(s => counts(s._3) > 1)
      .groupBy(_._1).map { case (id, ivs) =>
        val sorted = ivs.map(x => (x._2, x._2 + 7)).sortBy(identity)
        var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
        sorted.foreach { case (a, b) =>
          if (a > curB) { if (curB != Long.MinValue) covered += curB - curA + 1
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (curB != Long.MinValue) covered += curB - curA + 1
        id -> covered
      }
    val want = docs.groupBy(_._2).map { case (src, ds) =>
      val n = ds.map(_._3.length.toLong).sum
      val dup = ds.map(d => cov.getOrElse(d._1, 0L)).sum
      src -> ((n, dup, dup * 1000000L / n))
    }
    val got = graft.queries.Registry.byName("q380_dup_ngram_fraction")
      .fn(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want && got.nonEmpty)
  }

  test("property: graft_lcs equals the classic LCS DP on randomized token arrays") {
    import spark.implicits._
    def classicLcs(a: Vector[String], b: Vector[String]): Long = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) =
          if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length).toLong
    }
    // deterministic pseudo-random cases over a small alphabet (dense
    // matches stress the DP), plus the degenerate shapes
    val rnd = new scala.util.Random(4242)
    val cases = Seq(
      (Vector.empty[String], Vector("a", "b")),
      (Vector("a"), Vector.empty[String]),
      (Vector("a", "b", "c"), Vector("a", "b", "c")),
      (Vector("a", "b", "c", "b", "d", "a", "b"),
        Vector("b", "d", "c", "a", "b", "a"))) ++
      (1 to 40).map { _ =>
        def arr = Vector.fill(1 + rnd.nextInt(40))(
          ("t" + rnd.nextInt(5)))
        (arr, arr)
      }
    val got = cases.toDF("a", "b")
      .select(graft.functions.GraftFunctions
        .lcsNative(col("a"), col("b")).as("l"))
      .collect().map(_.getLong(0))
    cases.zip(got).foreach { case ((a, b), l) =>
      assert(l == classicLcs(a, b), s"a=$a b=$b") }
  }

  test("plan: q382 runs the native LCS expression, not a UDF") {
    val df = graft.queries.Registry.byName("q382_rouge_l").fn(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_lcs"), p.take(1500))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), "UDF in plan")
    // driver replay of the full metric at sf0.001
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("lang"),
        slice(graft.ops.Text.tokens(col("text")), 1, 32).as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getSeq[String](3).toVector))
    def classicLcs(a: Vector[String], b: Vector[String]): Long = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) =
          if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length).toLong
    }
    val pairF1: Seq[(String, Long)] = base.groupBy(d => (d._2, d._3))
      .toSeq.flatMap { case (_, ds) =>
        ds.toSeq.sortBy(_._1).sliding(2).toSeq.collect {
          case Seq((_, src, _, ta), (_, _, _, tb))
              if ta.nonEmpty && tb.nonEmpty =>
            (src, 2L * classicLcs(ta, tb) * 1000000L / (ta.length + tb.length))
        }
      }
    val want = pairF1.groupBy(_._1).map { case (src, fs) =>
      src -> ((fs.size.toLong, fs.map(_._2).sum / fs.size, fs.map(_._2).max))
    }
    val got = df.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want && got.nonEmpty)
  }

  test("property: q381 TextRank equals a pure-Scala integer PageRank replay") {
    val docs = Tables.documents(spark, sf)
      .select(graft.ops.Text.tokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0).toVector)
    val dirEdges = docs.flatMap(t => t.zip(t.drop(1)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (hashLong(a), hashLong(b)) }
    val edges = (dirEdges ++ dirEdges.map(_.swap)).distinct
    val deg = edges.groupBy(_._1).map { case (s, v) => s -> v.size.toLong }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => rank(s) / deg(s) }.sum }
      rank = nodes.map(n =>
        n -> (150000L + 85L * contrib.getOrElse(n, 0L) / 100L)).toMap
    }
    val vocab = docs.flatten.distinct.map(t => hashLong(t) -> t)
    val want = vocab.flatMap { case (id, tok) =>
      rank.get(id).map(r => (tok, r)) }
      .sortBy { case (tok, r) => (-r, tok) }.take(20)
    val got = graft.queries.Registry.byName("q381_textrank_keywords")
      .fn(spark, sf).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq, s"got=${got.take(5).mkString(",")}")
  }
}
