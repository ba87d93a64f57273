package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, FixedPoint, Text}
import org.apache.spark.sql.functions._

/** Round-9 second batch: anchor-blocked bitext mining (parallel-corpus
  * candidate pairs without doc×doc), a genuinely bitemporal as-of
  * snapshot (transaction time × valid time), and PSI distribution
  * drift on the FixedPoint integer log — batch and streaming twins.
  */
object QueriesRound9b {

  /** The planted-anchor text used by q494 in BOTH engines: docs with
    * doc_id % 5 == 0 carry two pair-unique anchors (ent{j}, ref{j}
    * with j = doc_id div 10 — members 10j and 10j+5 share them) plus
    * the hub anchor hub0 every planted doc carries (df ≈ n/5, so the
    * df cap MUST drop it — the cap's own regression test). */
  private def plantedSpark = // Column expression over `documents`
    when(col("doc_id") % 5 === 0,
      concat(col("text"), lit(" ent"), expr("CAST(doc_id div 10 AS STRING)"),
        lit(" ref"), expr("CAST(doc_id div 10 AS STRING)"), lit(" hub0")))
      .otherwise(col("text"))

  private val plantedDuck =
    """CASE WHEN doc_id % 5 = 0
      | THEN text || ' ent' || CAST(doc_id // 10 AS VARCHAR)
      |   || ' ref' || CAST(doc_id // 10 AS VARCHAR) || ' hub0'
      | ELSE text END""".stripMargin.replace("\n", "")

  /** Shared q496/q497 PSI finisher SQL (DuckDB): per-bucket smoothed
    * counts over the FULL 0..9 domain, exact |pa−pb|·ln(pa/pb)
    * contributions on the FixedPoint table log, total via window. */
  private def psiDuckSql: String = {
    val ln = FixedPoint.duckLnMicroFp20(
      FixedPoint.duckRatioFp20("(hi - lo)", "lo"))
    s"""WITH ev AS (SELECT user_id % 2 AS g,
    |    least(greatest(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
    |      // 2000, 0), 9) AS bucket
    |  FROM events),
    |cnt AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS c FROM ev
    |  GROUP BY 1, 2),
    |dom AS (SELECT unnest(generate_series(0, 9)) AS bucket),
    |ab AS (SELECT dom.bucket,
    |    1 + coalesce((SELECT c FROM cnt WHERE cnt.g = 0
    |      AND cnt.bucket = dom.bucket), 0) AS ca,
    |    1 + coalesce((SELECT c FROM cnt WHERE cnt.g = 1
    |      AND cnt.bucket = dom.bucket), 0) AS cb
    |  FROM dom),
    |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
    |    CAST(sum(cb) AS BIGINT) AS nb FROM ab),
    |tm AS (SELECT bucket, ca, cb, na, nb,
    |    greatest(ca * nb, cb * na) AS hi,
    |    least(ca * nb, cb * na) AS lo,
    |    abs(ca * nb - cb * na) AS ad
    |  FROM ab, tot),
    |co AS (SELECT bucket, ca, cb, na, nb, ad * ($ln) AS cn FROM tm)
    |SELECT CAST(bucket AS BIGINT) AS bucket, ca, cb,
    |  CAST(cn // (na * nb) AS BIGINT) AS contrib_micro,
    |  CAST((sum(cn) OVER ()) // (na * nb) AS BIGINT) AS psi_micro
    |FROM co ORDER BY bucket""".stripMargin
  }

  /** Shared q496/q497 Spark finisher: from a (g, bucket, c) count
    * frame to the per-bucket PSI readout. */
  private def psiFinish(s: org.apache.spark.sql.SparkSession,
                        cnt: org.apache.spark.sql.DataFrame) = {
    val dom = s.range(10).select(col("id").as("bucket"))
    val ca = dom.join(cnt.where(col("g") === 0).select("bucket", "c"),
        Seq("bucket"), "left")
      .select(col("bucket"), (coalesce(col("c"), lit(0L)) + 1).as("ca"))
    val cb = dom.join(cnt.where(col("g") === 1).select("bucket", "c"),
        Seq("bucket"), "left")
      .select(col("bucket"), (coalesce(col("c"), lit(0L)) + 1).as("cb"))
    val ab = ca.join(cb, "bucket")
    val tot = ab.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val ln = FixedPoint.sparkLnMicroFp20(
      FixedPoint.sparkRatioFp20("(hi - lo)", "lo"))
    ab.crossJoin(broadcast(tot))
      .selectExpr("bucket", "ca", "cb", "na", "nb",
        "greatest(ca * nb, cb * na) AS hi",
        "least(ca * nb, cb * na) AS lo",
        "abs(ca * nb - cb * na) AS ad")
      .selectExpr("bucket", "ca", "cb", "na", "nb", s"ad * ($ln) AS cn")
      .selectExpr("bucket", "ca", "cb",
        "cn div (na * nb) AS contrib_micro",
        "(sum(cn) OVER ()) div (na * nb) AS psi_micro")
      .orderBy("bucket")
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q494: anchor-blocked bitext mining --------------------------------
    // Parallel-corpus candidate pairs across languages WITHOUT
    // doc×doc: rare "anchor" tokens (alphanumeric codes — numbers,
    // ids, entity refs; here planted, the q472 discipline) block the
    // pair space as an equi-join; anchors above df 20 are dropped
    // (the hub anchor hub0 proves the cap — without it the join
    // would be (n/5)², the exact blowup the cap exists to stop);
    // pairs need >= 2 shared anchors, DIFFERENT languages, and token
    // lengths within ratio [2/3, 3/2] (cross-multiplied integers —
    // parallel sentences have comparable length). The standard
    // bitext-mining blocking pass run before any expensive
    // cross-lingual scorer.
    QueryDef("q494_bitext_mining",
      (s, d) => Checkpoints.scoped { pin =>
        val docs = pin(documents(s, d) // consumers: anchors + lengths
          .select(col("doc_id"), col("lang"),
            Text.tokens(plantedSpark).as("toks"))
          .repartition(col("doc_id"))
          .select(col("doc_id"), col("lang"), col("toks"),
            size(col("toks")).cast("long").as("len")))
        val anchors = docs
          .select(col("doc_id"), col("lang"), col("len"),
            explode(array_distinct(col("toks"))).as("tok"))
          .where(col("tok").rlike("^[a-z]+[0-9]+$"))
        val okAnchors = anchors.groupBy("tok")
          .agg(count(lit(1)).as("df")).where(col("df") <= 20)
          .select("tok")
        val blocked = anchors.join(broadcast(okAnchors), Seq("tok"),
          "left_semi")
        blocked.as("a").join(blocked.as("b"),
            col("a.tok") === col("b.tok") &&
              col("a.lang") < col("b.lang"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("a.lang").as("lang_a"), col("b.lang").as("lang_b"),
            col("a.len").as("len_a"), col("b.len").as("len_b"))
          .agg(count(lit(1)).as("n_anchors"))
          .where(col("n_anchors") >= 2 &&
            col("len_a") * 2 <= col("len_b") * 3 &&
            col("len_b") * 2 <= col("len_a") * 3)
          .select("id_a", "id_b", "lang_a", "lang_b", "len_a", "len_b",
            "n_anchors")
          .orderBy("id_a", "id_b")
          .localCheckpoint()
      },
      Some(s"""WITH t AS (SELECT doc_id, lang,
        |    ${DuckSql.toks(s"($plantedDuck)")} AS toks FROM documents),
        |dl AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS len,
        |    toks FROM t),
        |an AS (SELECT doc_id, lang, len, unnest(list_distinct(toks)) AS tok
        |  FROM dl),
        |af AS (SELECT an.* FROM an
        |  WHERE regexp_matches(tok, '^[a-z]+[0-9]+$$')),
        |ok AS (SELECT tok FROM af GROUP BY tok HAVING count(*) <= 20),
        |bl AS (SELECT af.* FROM af JOIN ok USING (tok)),
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.lang AS lang_a, b.lang AS lang_b,
        |    a.len AS len_a, b.len AS len_b,
        |    CAST(count(*) AS BIGINT) AS n_anchors
        |  FROM bl a JOIN bl b ON a.tok = b.tok AND a.lang < b.lang
        |  GROUP BY 1, 2, 3, 4, 5, 6)
        |SELECT id_a, id_b, lang_a, lang_b, len_a, len_b, n_anchors
        |FROM pr
        |WHERE n_anchors >= 2 AND len_a * 2 <= len_b * 3
        |  AND len_b * 2 <= len_a * 3
        |ORDER BY id_a, id_b""".stripMargin)),

    // ---- q495: bitemporal as-of snapshot -----------------------------------
    // TWO time axes, queried together: transaction time ("when did
    // the warehouse learn it") and valid time ("when is it effective")
    // — the lakehouse correction/restatement pattern q100's SCD2 and
    // q21's as-of each cover only half of. Versions synthesize from
    // orders (a later-tx price correction on key % 7, a retroactively
    // RECORDED but future-EFFECTIVE change on key % 13); the snapshot
    // "as known by 1995-06-15, effective 1995-08-01" is two argmax
    // layers — max tx within (key, valid_from), then max valid_from
    // within key — both on unique keys, so arg_max is deterministic
    // in both engines. Integer cents; per-status rollup with the
    // restatement count (chosen row's tx != its valid_from).
    QueryDef("q495_bitemporal_snapshot",
      (s, d) => {
        val base = orders(s, d).select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"), col("o_orderdate").as("od"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
        val v = base.select(col("k"), col("status"),
            col("od").as("valid_from"), col("od").as("tx"),
            col("cents").as("price"))
          .unionByName(base.where(col("k") % 7 === 0)
            .select(col("k"), col("status"), col("od").as("valid_from"),
              expr("od + INTERVAL 30 DAYS").as("tx"),
              (col("cents") + 100).as("price")))
          .unionByName(base.where(col("k") % 13 === 0)
            .select(col("k"), col("status"),
              expr("od + INTERVAL 60 DAYS").as("valid_from"),
              expr("od + INTERVAL 10 DAYS").as("tx"),
              (col("cents") + 500).as("price")))
        val known = v.where(
          col("tx") <= lit("1995-06-15").cast("timestamp") &&
            col("valid_from") <= lit("1995-08-01").cast("timestamp"))
        val cur = known
          .groupBy("k", "status", "valid_from")
          .agg(max_by(col("price"), col("tx")).as("price"),
            max("tx").as("tx"))
          .groupBy("k", "status")
          .agg(max_by(struct(col("price"), col("tx"), col("valid_from")),
            col("valid_from")).as("pv"))
          .select(col("k"), col("status"), col("pv.price").as("price"),
            col("pv.tx").as("tx"), col("pv.valid_from").as("valid_from"))
        cur.groupBy("status")
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("tx") =!= col("valid_from"), 1L).otherwise(0L))
              .as("n_restated"),
            sum("price").as("sum_price_cents"))
          .orderBy("status")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k,
        |    o_orderstatus AS status, o_orderdate AS od,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |v AS (
        |  SELECT k, status, od AS valid_from, od AS tx, cents AS price
        |  FROM base
        |  UNION ALL
        |  SELECT k, status, od, od + INTERVAL 30 DAY, cents + 100
        |  FROM base WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k, status, od + INTERVAL 60 DAY, od + INTERVAL 10 DAY,
        |    cents + 500
        |  FROM base WHERE k % 13 = 0),
        |kn AS (SELECT * FROM v WHERE tx <= TIMESTAMP '1995-06-15'
        |  AND valid_from <= TIMESTAMP '1995-08-01'),
        |c1 AS (SELECT k, status, valid_from,
        |    arg_max(price, tx) AS price, max(tx) AS tx
        |  FROM kn GROUP BY 1, 2, 3),
        |c2 AS (SELECT k, status, arg_max(price, valid_from) AS price,
        |    arg_max(tx, valid_from) AS tx, max(valid_from) AS valid_from
        |  FROM c1 GROUP BY 1, 2)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CASE WHEN tx <> valid_from THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_restated,
        |  CAST(sum(price) AS BIGINT) AS sum_price_cents
        |FROM c2 GROUP BY status ORDER BY status""".stripMargin)),

    // ---- q496: PSI distribution stability ----------------------------------
    // THE production drift metric (population stability index —
    // Jeffreys divergence on binned data), completing the drift
    // family (TV q191, chi-square q356, KS q455, KL q428): two user
    // cohorts' event values bin into ten fixed $20 buckets (+1
    // smoothing over the FULL domain, so empty buckets are defined),
    // psi = Σ (pa−pb)·ln(pa/pb) in exact micro-nats — (pa−pb) and
    // ln(pa/pb) share sign, so each contribution is |ca·nb − cb·na| ·
    // tableLn(hi/lo), numerators summed exactly and divided once.
    // BIGINT-safe while na·nb·ln < 2⁶³ (≈ 10⁸ events per cohort).
    QueryDef("q496_psi_stability",
      (s, d) => {
        val cnt = events(s, d)
          .select((col("user_id") % 2).as("g"),
            expr("least(greatest(CAST(CAST(value AS DECIMAL(18,2)) * 100"
              + " AS BIGINT) div 2000, 0L), 9L)").as("bucket"))
          .groupBy("g", "bucket").agg(count(lit(1)).as("c"))
        psiFinish(s, cnt)
      },
      Some(psiDuckSql)),

    // ---- q497: STREAMING PSI maintenance (lane #27) -------------------------
    // The q496 readout with its counts maintained by a STREAMING
    // aggregation (the q467 posture: counts are an incremental fold,
    // so drift monitoring never re-scans the corpus — the stream
    // holds 20 rows of state and the finisher runs on the O(buckets)
    // register table). Hash-matched to the SAME oracle as q496: the
    // streaming and batch paths must agree bit-for-bit.
    QueryDef("q497_streaming_psi",
      (s, d) => {
        val cnt = graft.streaming.Sessions.runStreamToBatch(s, d,
          eventsStreamSchema(s, d),
          globFilter = Some("events.parquet"),
          transform = st => st
            .select((col("user_id") % 2).as("g"),
              expr("least(greatest(CAST(CAST(value AS DECIMAL(18,2)) * 100"
                + " AS BIGINT) div 2000, 0L), 9L)").as("bucket"))
            .groupBy("g", "bucket").agg(count(lit(1)).as("c")))
        psiFinish(s, cnt)
      },
      Some(psiDuckSql))
  )
}
