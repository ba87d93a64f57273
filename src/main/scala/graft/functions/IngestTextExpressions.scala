package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte scanners behind [[YoutubeVideoId]] and [[SentenceSplit]]: the
  * ingest DAG's two per-record text steps (T9 URL → video id, T13
  * sentence split), shared by the interpreted and generated paths.
  *
  * Each one computes exactly what the regex form of the step computed
  * in Spark (the spec is [[graft.ingest.Normalize.youtubeUrlPatterns]]
  * and [[graft.ingest.Normalize.youtubeIdClass]]), without a per-row
  * `Pattern`, `String` decode or higher-order function:
  *
  *  - every literal and character class is ASCII, and in valid UTF-8
  *    every lead and continuation byte of a non-ASCII char is ≥ 0x80,
  *    so a byte comparison matches char for char;
  *  - returned strings are copies that own their bytes (as Spark's
  *    `substring` returns), never views into the input row.
  */
object IngestTextScan {

  /** Length of a YouTube id. */
  val IdLength = 11

  /** The URL alternates in list order: each is one or more literal
    * prefixes, and the id is the [[IdLength]] id bytes right after
    * the leftmost prefix occurrence they follow. */
  val UrlPrefixes: Seq[Seq[String]] =
    Seq(Seq("v=", "vi="), Seq("youtu.be/"), Seq("/embed/"), Seq("/shorts/"))

  private val prefixBytes: Array[Array[Array[Byte]]] =
    UrlPrefixes.map(_.map(_.getBytes("US-ASCII")).toArray).toArray

  /** `[0-9A-Za-z_-]`, indexed by byte; bytes ≥ 0x80 are never id bytes. */
  private val idByte: Array[Boolean] = Array.tabulate(128) { c =>
    ('0' <= c && c <= '9') || ('A' <= c && c <= 'Z') || ('a' <= c && c <= 'z') ||
      c == '_' || c == '-'
  }

  def isIdByte(b: Byte): Boolean = b >= 0 && idByte(b)

  private def idAt(s: UTF8String, at: Int, end: Int): Boolean =
    at + IdLength <= end && {
      var i = at
      while (i < at + IdLength && isIdByte(s.getByte(i))) i += 1
      i == at + IdLength
    }

  /** Java's non-MULTILINE `$`: the end of input, or one final line
    * terminator (`\n`, `\r`, `\r\n`, U+0085, U+2028, U+2029). */
  private def atEnd(s: UTF8String, at: Int, end: Int): Boolean = (end - at) match {
    case 0 => true
    case 1 => val b = s.getByte(at); b == '\n' || b == '\r'
    case 2 =>
      val b0 = s.getByte(at); val b1 = s.getByte(at + 1)
      (b0 == '\r' && b1 == '\n') || (b0 == 0xC2.toByte && b1 == 0x85.toByte)
    case 3 =>
      s.getByte(at) == 0xE2.toByte && s.getByte(at + 1) == 0x80.toByte && {
        val b2 = s.getByte(at + 2); b2 == 0xA8.toByte || b2 == 0xA9.toByte
      }
    case _ => false
  }

  private def prefixAt(s: UTF8String, at: Int, end: Int, p: Array[Byte]): Boolean =
    at + p.length <= end && {
      var i = 0
      while (i < p.length && s.getByte(at + i) == p(i)) i += 1
      i == p.length
    }

  /** Start of the id the alternate's leftmost match captures in
    * `s[from, end)`, or -1. */
  private def findAlternate(s: UTF8String, from: Int, end: Int,
                            alt: Array[Array[Byte]]): Int = {
    var at = from
    while (at < end) {
      var k = 0
      while (k < alt.length) {
        val p = alt(k)
        if (prefixAt(s, at, end, p) && idAt(s, at + p.length, end)) return at + p.length
        k += 1
      }
      at += 1
    }
    -1
  }

  /** T9: the trimmed input when it is a bare id (with at most one final
    * line terminator, which stays in the value), else the id of the
    * first URL alternate that matches, else null. Trimming strips ASCII
    * space (0x20) only, as Spark's `trim` does. */
  def videoId(url: UTF8String): UTF8String = {
    val n = url.numBytes
    var s = 0
    while (s < n && url.getByte(s) == ' ') s += 1
    var e = n
    while (e > s && url.getByte(e - 1) == ' ') e -= 1
    if (idAt(url, s, e) && atEnd(url, s + IdLength, e)) return url.copyUTF8String(s, e - 1)
    var k = 0
    while (k < prefixBytes.length) {
      val at = findAlternate(url, s, e, prefixBytes(k))
      if (at >= 0) return url.copyUTF8String(at, at + IdLength - 1)
      k += 1
    }
    null
  }

  /** Java's `\s`: `[ \t\n\x0B\f\r]`. */
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  private def isTerminal(b: Byte): Boolean = b == '.' || b == '!' || b == '?'

  /** T13: the pieces between the maximal runs of `\s` that directly
    * follow `.`, `!` or `?` (the split `(?<=[.!?])\s+`), keeping the
    * punctuation, minus every piece made only of ASCII spaces (the
    * empty trailing piece included). "" gives an empty array. */
  def sentences(text: UTF8String): ArrayData = {
    val n = text.numBytes
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    def piece(from: Int, until: Int): Unit = {
      var i = from
      while (i < until && text.getByte(i) == ' ') i += 1
      if (i < until) out += text.copyUTF8String(from, until - 1)
    }
    var start = 0
    var i = 1
    while (i < n) {
      if (isSpace(text.getByte(i)) && isTerminal(text.getByte(i - 1))) {
        var j = i + 1
        while (j < n && isSpace(text.getByte(j))) j += 1
        piece(start, i)
        start = j
        // the byte before j is a space, so no separator starts at j
        i = j + 1
      } else i += 1
    }
    piece(start, n)
    new GenericArrayData(out.toArray)
  }

  def expectString(child: Expression, name: String): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$name expects string, got ${other.sql}")
  }
}

/** `Normalize.videoId` as a native codegen expression: see
  * [[IngestTextScan.videoId]]. Null in, or no id found, gives null. */
case class YoutubeVideoId(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    IngestTextScan.expectString(child, prettyName)

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_youtube_video_id"

  override def nullSafeEval(input: Any): Any =
    IngestTextScan.videoId(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.IngestTextScan.videoId($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `Normalize.sentences` as a native codegen expression: see
  * [[IngestTextScan.sentences]]. An `array<string>` with no null
  * elements, null exactly when the input is null, as the
  * `filter(split(...))` it replaces. */
case class SentenceSplit(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    IngestTextScan.expectString(child, prettyName)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_sentence_split"

  override def nullSafeEval(input: Any): Any =
    IngestTextScan.sentences(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IngestTextScan.sentences($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
