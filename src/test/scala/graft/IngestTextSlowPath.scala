package graft

import graft.ingest.Normalize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The regex form of the ingest text steps, as Spark column
  * expressions: the slow path the byte-scanning kernels behind
  * `Normalize.videoId` and `Normalize.sentences` are checked against.
  * It reads the same spec as the engine and the DuckDB oracle
  * (`Normalize.youtubeIdClass`, `Normalize.youtubeUrlPatterns`).
  */
object IngestTextSlowPath {

  /** Bare-id fullmatch on the trimmed input, else the first non-null
    * leftmost match of the URL alternates, in list order. */
  def videoId(url: Column): Column = {
    val trimmed = trim(url)
    val alternates = Normalize.youtubeUrlPatterns.map { p =>
      nullif(regexp_extract(trimmed, p, 1), lit(""))
    }
    when(trimmed.rlike(s"^${Normalize.youtubeIdClass}$$"), trimmed)
      .otherwise(coalesce(alternates: _*))
  }

  /** Java's `String.split` on the lookbehind, then blank pieces dropped. */
  def sentences(text: Column): Column =
    filter(split(text, "(?<=[.!?])\\s+"), s => length(trim(s)) > 0)

  def sentenceLabelInit(df: DataFrame, textCol: String): DataFrame =
    df.select(col("*"), posexplode(sentences(col(textCol))).as(Seq("sentence_no", "sentence")))
      .withColumn("toxic", lit(false))
}
