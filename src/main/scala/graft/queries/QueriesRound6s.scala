package graft.queries

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Round-6 nineteenth batch: the crawl-normalization lane running AT
  * INGEST — streaming twin of q263 (URL canonicalization) + q264
  * (accent folding), hash-verified against the batch oracle.
  */
object QueriesRound6s {

  val defs: Seq[QueryDef] = Seq(

    // ---- q284: STREAMING crawl normalization -------------------------
    // q263's URL canonicalization and q264's accent folding run as ONE
    // stateless streaming stage (readStream → projection → append
    // sink, the q173 pattern): every arriving crawl record is
    // normalized per-row on the live ingest stream — no nightly batch,
    // no state stores. Pure column expressions (incl. the codegen
    // accent-fold Expression inside a STREAMING plan), so the full
    // per-document output hash-matches the batch oracle, proving
    // batch/stream semantics are identical for the whole
    // normalization lane.
    QueryDef("q284_streaming_normalize",
      (s, d) => {
        import org.apache.spark.sql.types._
        val sch = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        graft.streaming.Sessions.runStreamToBatch(s, d, sch,
          globFilter = Some("documents.parquet"),
          outputMode = "append",
          shufflePartitions = Some(4),
          transform = st => {
            val url = concat(
              when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
              lit("://"), upper(col("source")), lit(".Example.COM"),
              when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
              lit("/Docs/"), col("doc_id"),
              when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
              lit("?"),
              when(col("doc_id") % 2 === 0,
                concat(lit("utm_source=rss&z="), col("n_chars"),
                  lit("&lang="), col("lang")))
                .otherwise(concat(lit("lang="), col("lang"),
                  lit("&a=1&utm_campaign=x"))),
              lit("#sec"))
            val accented = concat(lit("Caf"), expr("char(233)"), lit(" "),
              expr("char(192)"), lit("propos "), col("source"), lit(" "),
              substring(col("text"), 1, 32))
            st.where(col("doc_id") < 300)
              .select(col("doc_id"), url.as("url"), accented.as("txt"))
              .withColumn("host",
                lower(regexp_replace(
                  regexp_extract(col("url"), "^[a-zA-Z]+://([^/?#]+)", 1),
                  ":443$", "")))
              .withColumn("path",
                regexp_extract(col("url"), "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1))
              .withColumn("qs", regexp_extract(col("url"), "\\?([^#]*)", 1))
              .withColumn("path", expr(
                "CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/' " +
                  "ELSE regexp_replace(path, '/+$', '') END"))
              .withColumn("qs2", expr(
                "array_join(array_sort(filter(split(qs, '&'), x -> NOT (" +
                  "startswith(x, 'utm_') OR startswith(x, 'fbclid') OR " +
                  "startswith(x, 'gclid')))), '&')"))
              .select(col("doc_id"),
                concat(lit("https://"), col("host"), col("path"),
                  when(col("qs2") === "", lit(""))
                    .otherwise(concat(lit("?"), col("qs2")))).as("canon_url"),
                GraftFunctions.foldAccents(col("txt")).as("folded"),
                substring(md5(lower(GraftFunctions.foldAccents(col("txt")))),
                  1, 8).as("dedup_key8"))
          }).orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) ||
        |    '://' || upper(source) || '.Example.COM' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END) ||
        |    '/Docs/' || doc_id ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) || '?' ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN 'utm_source=rss&z=' || n_chars || '&lang=' || lang
        |      ELSE 'lang=' || lang || '&a=1&utm_campaign=x' END) ||
        |    '#sec' AS url,
        |    'Caf' || chr(233) || ' ' || chr(192) || 'propos ' || source ||
        |    ' ' || substr(text, 1, 32) AS txt
        |  FROM documents WHERE doc_id < 300),
        |p AS (SELECT doc_id, txt,
        |    lower(regexp_replace(
        |      regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1),
        |      ':443$', '')) AS host,
        |    regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1) AS path,
        |    regexp_extract(url, '\?([^#]*)', 1) AS qs
        |  FROM u),
        |c AS (SELECT doc_id, txt, host,
        |    CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
        |      ELSE regexp_replace(path, '/+$', '') END AS path2,
        |    array_to_string(list_sort(list_filter(string_split(qs, '&'),
        |      x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'fbclid')
        |        OR starts_with(x, 'gclid')))), '&') AS qs2
        |  FROM p)
        |SELECT doc_id,
        |  'https://' || host || path2 ||
        |    (CASE WHEN qs2 = '' THEN '' ELSE '?' || qs2 END) AS canon_url,
        |  strip_accents(txt) AS folded,
        |  substr(md5(lower(strip_accents(txt))), 1, 8) AS dedup_key8
        |FROM c ORDER BY doc_id""".stripMargin))
  )
}
