package graft

import graft.functions.{AhoCorasick, GraftFunctions}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** Round-7am pins: the Aho–Corasick multi-pattern scan equals the
  * naive per-pattern `contains` semantics — both as a randomized
  * driver-side property (automaton construction vs java String
  * contains, an independent implementation) and end-to-end through
  * the codegen'd expression in a Spark plan.
  */
class Round7amSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int, seed: Long = 7L): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default,
      rng.Seed(seed + i)))

  // Tiny alphabet maximizes nesting/overlap collisions; include
  // multi-byte UTF-8 so the byte-level DFA walks real multi-byte
  // sequences.
  private val word: Gen[String] =
    Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'é', '語')).map(_.mkString))

  test("property: AhoCorasick.findPresent == per-pattern String.contains") {
    val cases = samples(
      for {
        nPat <- Gen.chooseNum(1, 12)
        pats <- Gen.listOfN(nPat, word)
        text <- Gen.chooseNum(0, 40).flatMap(n =>
          Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'é', '語', ' ')).map(_.mkString))
      } yield (pats, text), 300)
    cases.foreach { case (pats, text) =>
      val ac = new AhoCorasick(pats.map(_.getBytes("UTF-8")).toArray)
      val got = ac.findPresent(text.getBytes("UTF-8")).toLongArray().toSeq
      val want = pats.zipWithIndex.collect {
        case (p, i) if text.contains(p) => (i + 1).toLong
      }
      assert(got == want, s"pats=$pats text='$text' got=$got want=$want")
    }
  }

  test("q415: codegen expression matches a contains-based Spark plan") {
    val pats = Seq("abc", "bc", "c", "ca b", "zz", "é語", "語")
    val texts = samples(Gen.chooseNum(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'é', '語', ' ')).map(_.mkString)), 200)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("id", "text").repartition(5)
    val viaAc = df.select(col("id"),
        explode(GraftFunctions.multiContains(col("text"), pats)).as("pat_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaContains = pats.zipWithIndex.map { case (p, i) =>
      df.where(col("text").contains(p))
        .select(col("id"), lit((i + 1).toLong).as("pat_id"))
    }.reduce(_ unionByName _)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaAc == viaContains && viaAc.nonEmpty)
  }
}
