package graft

import graft.functions.IngestTextScan
import graft.ingest.Normalize
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** The byte-scanning kernels behind `Normalize.videoId` and
  * `Normalize.sentences` against the regex slow path
  * ([[IngestTextSlowPath]]), row for row, with whole-stage codegen (the
  * generated path) and with codegen off entirely (the interpreted
  * `nullSafeEval` path). */
class IngestTextKernelSpec extends SparkSpec {

  /** Whole-stage codegen on, or off with interpreted projections. */
  private val modes = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConfs[A](kvs: Seq[(String, String)])(body: => A): A = {
    val conf = spark.conf
    val saved = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** An RDD-backed frame, so the optimizer cannot fold the expressions
    * on the driver: every row runs through the physical operators. */
  private def frame(texts: Seq[String]): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(texts, 4))(Encoders.STRING).toDF("s")

  /** (video id, sentences) per input, in input order. */
  private def run(texts: Seq[String], videoId: Column => Column,
                  sentences: Column => Column): (DataFrame, Seq[(Option[String], Option[Seq[String]])]) = {
    val df = frame(texts).select(videoId(col("s")), sentences(col("s")))
    (df, df.collect().toSeq.map(r => (Option(r.getString(0)), Option(r.getSeq[String](1)).map(_.toSeq))))
  }

  /** Kernel results, after checking they ran in the mode's path. */
  private def fast(texts: Seq[String], mode: String) = {
    val (df, out) = run(texts, Normalize.videoId, Normalize.sentences)
    val stages = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    val plan = df.queryExecution.executedPlan.toString
    if (mode == "codegen") assert(stages.exists { w =>
      val p = w.toString; p.contains("graft_youtube_video_id") && p.contains("graft_sentence_split")
    }, plan)
    else assert(stages.isEmpty, plan)
    out
  }

  private def slow(texts: Seq[String]) =
    run(texts, IngestTextSlowPath.videoId, IngestTextSlowPath.sentences)._2

  private def show(bad: Seq[(String, Any, Any)]): String =
    bad.take(5).map { case (in, kernel, regex) =>
      val esc = Option(in).map(_.flatMap(c =>
        if (c < 0x20 || c > 0x7e) f"\\u${c.toInt}%04x" else c.toString)).orNull
      s"$esc: kernels $kernel, regex $regex"
    }.mkString("\n")

  private val idChars = ('0' to '9') ++ ('A' to 'Z') ++ ('a' to 'z') :+ '_' :+ '-'

  /** URL fragments, line terminators, `\s` bytes, `.!?` runs and
    * multibyte chars: the bytes both kernels branch on. */
  private val fragments = Seq(
    "v=", "vi=", "youtu.be/", "/embed/", "/shorts/", "youtu.be", "embed/", "shorts",
    "https://www.youtube.com/watch?", "https://", "&t=1", "?", "=", "/",
    "\n", "\r", "\r\n", "\u0085", "\u2028", "\u2029", "\u000B", "\f", "\t", " ", "  ",
    ".", "!", "?", "..", ". ", "! ", "? ", ".\t", ".\u000B", ".\f", "..  ", "?\r\n",
    "é", "日本語", "😀", "\u00A0", "\u3000", "。", "\u200B",
    "a", "Z", "0", "_", "-", "word", "Hello")

  private def randomText(rnd: scala.util.Random): String = {
    val sb = new StringBuilder
    if (rnd.nextInt(4) == 0) sb ++= " " * rnd.nextInt(3)
    val pieces = rnd.nextInt(9)
    for (_ <- 0 until pieces) {
      if (rnd.nextInt(3) == 0) {
        // mostly 11-char ids, sometimes one char short or long
        val n = 11 + (if (rnd.nextInt(4) == 0) rnd.nextInt(3) - 1 else 0)
        for (_ <- 0 until n) sb += idChars(rnd.nextInt(idChars.size))
      } else sb ++= fragments(rnd.nextInt(fragments.size))
    }
    if (rnd.nextInt(4) == 0) sb ++= " " * rnd.nextInt(3)
    sb.toString
  }

  private val randomTexts: IndexedSeq[String] = {
    val rnd = new scala.util.Random(20261019L)
    Vector(null, "") ++ Vector.fill(100000)(randomText(rnd))
  }

  private val id = "dQw4w9WgXcQ"

  /** (input, video id, sentences) — the values the regex path computes. */
  private val named: IndexedSeq[(String, Option[String], Option[Seq[String]])] = Vector(
    (null, None, None),
    ("", None, Some(Nil)),
    // a bare id keeps one final line terminator, as Java's `$` accepts it
    (id, Some(id), Some(Seq(id))),
    (s"$id\n", Some(s"$id\n"), Some(Seq(s"$id\n"))),
    (s"$id\r", Some(s"$id\r"), Some(Seq(s"$id\r"))),
    (s"$id\r\n", Some(s"$id\r\n"), Some(Seq(s"$id\r\n"))),
    (s"$id\u0085", Some(s"$id\u0085"), Some(Seq(s"$id\u0085"))),
    (s"$id\u2028", Some(s"$id\u2028"), Some(Seq(s"$id\u2028"))),
    (s"$id\u2029", Some(s"$id\u2029"), Some(Seq(s"$id\u2029"))),
    (s"  $id\r\n  ", Some(s"$id\r\n"), Some(Seq(s"  $id\r\n  "))),
    (s"$id\n\n", None, Some(Seq(s"$id\n\n"))),
    (s"$id\n\r", None, Some(Seq(s"$id\n\r"))),
    (s"$id\u000B", None, Some(Seq(s"$id\u000B"))),
    (s"$id \n", None, Some(Seq(s"$id \n"))),
    (s"\t$id", None, Some(Seq(s"\t$id"))),
    // tab-only and space-only pieces: trim strips only spaces
    ("\t", None, Some(Seq("\t"))),
    ("   ", None, Some(Nil)),
    ("\t. B", None, Some(Seq("\t.", "B"))),
    ("A. \t", None, Some(Seq("A."))),
    ("A.\t\u000B\fB", None, Some(Seq("A.", "B"))),
    // `..` runs and trailing terminators
    ("Wait..  Go!", None, Some(Seq("Wait..", "Go!"))),
    ("End.  ", None, Some(Seq("End."))),
    ("x.\n", None, Some(Seq("x."))),
    ("a ?b", None, Some(Seq("a ?b"))),
    ("Why?\r\nNo!\u2028Yes", None, Some(Seq("Why?", "No!\u2028Yes"))),
    // multibyte text before an id, and non-ASCII punctuation
    (s"日本語 https://youtu.be/$id", Some(id), Some(Seq(s"日本語 https://youtu.be/$id"))),
    (s"é v=$id", Some(id), Some(Seq(s"é v=$id"))),
    ("こんにちは。 Hi. Yo", None, Some(Seq("こんにちは。 Hi.", "Yo"))),
    // list order beats position
    ("https://youtu.be/AAAAAAAAAAA?v=BBBBBBBBBBB", Some("BBBBBBBBBBB"),
      Some(Seq("https://youtu.be/AAAAAAAAAAA?v=BBBBBBBBBBB"))),
    ("/shorts/AAAAAAAAAAA/embed/BBBBBBBBBBB", Some("BBBBBBBBBBB"),
      Some(Seq("/shorts/AAAAAAAAAAA/embed/BBBBBBBBBBB"))),
    // leftmost match within one alternate, past failed starts
    ("v=short&vi=CCCCCCCCCCC&v=DDDDDDDDDDD", Some("CCCCCCCCCCC"),
      Some(Seq("v=short&vi=CCCCCCCCCCC&v=DDDDDDDDDDD"))),
    ("watch?v=EEEEEEEEEEEEEEE", Some("EEEEEEEEEEE"), Some(Seq("watch?v=EEEEEEEEEEEEEEE"))))

  for ((mode, confs) <- modes) {
    test(s"kernels equal the regex slow path on 100k seeded random strings ($mode)") {
      withConfs(confs) {
        val bad = randomTexts.lazyZip(fast(randomTexts, mode)).lazyZip(slow(randomTexts))
          .filter((_, kernel, regex) => kernel != regex).toSeq
        assert(bad.isEmpty, s"${bad.size} mismatches, e.g.\n${show(bad)}")
      }
    }

    test(s"kernels on named edge cases: terminators, blank pieces, multibyte, list order ($mode)") {
      withConfs(confs) {
        val inputs = named.map(_._1)
        val want = named.map { case (_, id, sentences) => (id, sentences) }
        val (kernel, regex) = (fast(inputs, mode), slow(inputs))
        val bad = inputs.indices.collect {
          case i if kernel(i) != want(i) || regex(i) != want(i) => (inputs(i), kernel(i), regex(i))
        }
        assert(bad.isEmpty, s"${bad.size} wrong, e.g.\n${show(bad)}")
      }
    }
  }

  test("the scanner's literals are Normalize's id class and URL patterns") {
    def quote(lit: String) = lit.flatMap(c => if (".$^{[(|)*+?\\".contains(c)) s"\\$c" else c.toString)
    val rendered = IngestTextScan.UrlPrefixes.map { alts =>
      val p = if (alts.size == 1) quote(alts.head) else alts.map(quote).mkString("(?:", "|", ")")
      s"$p(${Normalize.youtubeIdClass})"
    }
    assert(rendered == Normalize.youtubeUrlPatterns)
    val cls = Normalize.youtubeIdClass.takeWhile(_ != '{')
    assert(Normalize.youtubeIdClass == s"$cls{${IngestTextScan.IdLength}}")
    val clsRe = cls.r
    (0 until 256).foreach { b =>
      val inClass = b < 128 && clsRe.matches(b.toChar.toString)
      assert(IngestTextScan.isIdByte(b.toByte) == inClass, s"byte $b")
    }
  }
}
