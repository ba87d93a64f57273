package graft.queries

import graft.Tables._
import graft.ops.Sampling
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Round-8 eleventh batch: schema matching via hash-sampled content
  * signatures (q461), a Johnson–Lindenstrauss projection audit with a
  * shared literal sign matrix (q462), the streaming Luhn PII gate —
  * lane #24 (q463), homoglyph/mixed-script spoof detection with
  * planted Cyrillic lookalikes (q464), and session-scoped event-type
  * association lift (q465).
  */
object QueriesRound8k {

  /** ±1 sign matrix for the JL projection (16 × 64), generated once
    * from a fixed-seed java.util.Random (algorithm specified by the
    * JDK — stable across versions) and PRINTED into both engines'
    * SQL as a literal, so the projection is a shared constant, not a
    * per-row hash computation. */
  private[graft] val jlSigns: IndexedSeq[IndexedSeq[Int]] = {
    val rnd = new java.util.Random(462L)
    IndexedSeq.fill(16)(IndexedSeq.fill(64)(if (rnd.nextBoolean()) 1 else -1))
  }

  private[queries] def jlSparkLit: String =
    jlSigns.map(_.mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")

  private[queries] def jlDuckLit: String =
    jlSigns.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** One column's hash-sampled content signature: distinct values of
    * `c` (canonicalized to string) kept when md5 lands in the 1/4
    * band — the same value keeps or drops on BOTH sides of any
    * comparison, which is what makes sampled Jaccard/containment
    * meaningful. Output: (col_name, fp). */
  private def colSig(df: DataFrame, name: String, c: Column): DataFrame =
    df.select(c.cast("string").as("__v")).where(col("__v").isNotNull)
      .distinct()
      .where(Sampling.hashLong(col("__v")) % 4 === 0)
      .select(lit(name).as("col_name"), md5(col("__v")).as("fp"))

  private def duckColSig(tbl: String, name: String, expr: String): String =
    s"""SELECT '$name' AS col_name, md5(v) AS fp FROM (
       |  SELECT DISTINCT CAST($expr AS VARCHAR) AS v FROM $tbl
       |  WHERE $expr IS NOT NULL)
       |WHERE ${DuckSql.hashLong("v")} % 4 = 0""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- q461: schema matching via content signatures -------------------
    // Data-integration profiling: which columns of one table feed
    // which columns of another? Answered from CONTENT, not names —
    // each column reduces to a hash-sampled signature of its distinct
    // value space (the same value keeps or drops everywhere, so
    // sampled Jaccard and containment are faithful), and candidate
    // pairs score by signature overlap. The known FK paths
    // (c_custkey↔o_custkey, c_nationkey↔n_nationkey) surface with
    // high containment; decoys stay near zero. Signatures are
    // O(distinct/64) rows — at 100 TB the pairwise comparison runs on
    // sketches, never on the tables.
    QueryDef("q461_schema_match",
      (s, d) => {
        val left = Seq(
          colSig(customer(s, d), "customer.c_custkey", col("c_custkey")),
          colSig(customer(s, d), "customer.c_nationkey",
            col("c_nationkey")),
          colSig(customer(s, d), "customer.c_mktsegment",
            col("c_mktsegment"))).reduce(_ unionByName _)
        val right = Seq(
          colSig(orders(s, d), "orders.o_custkey", col("o_custkey")),
          colSig(orders(s, d), "orders.o_orderkey", col("o_orderkey")),
          colSig(orders(s, d), "orders.o_orderpriority",
            col("o_orderpriority")),
          colSig(nation(s, d), "nation.n_nationkey", col("n_nationkey")))
          .reduce(_ unionByName _)
        val nA = left.groupBy("col_name").agg(count(lit(1)).as("n_a"))
          .withColumnRenamed("col_name", "col_a")
        val nB = right.groupBy("col_name").agg(count(lit(1)).as("n_b"))
          .withColumnRenamed("col_name", "col_b")
        val shared = left.withColumnRenamed("col_name", "col_a")
          .join(right.withColumnRenamed("col_name", "col_b"), "fp")
          .groupBy("col_a", "col_b").agg(count(lit(1)).as("n_shared"))
        nA.crossJoin(nB)
          .join(shared, Seq("col_a", "col_b"), "left")
          .select(col("col_a"), col("col_b"), col("n_a"), col("n_b"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"))
          .withColumn("jaccard_ppm",
            expr("(n_shared * 1000000) div (n_a + n_b - n_shared)"))
          .withColumn("containment_a_ppm",
            expr("(n_shared * 1000000) div n_a"))
          .orderBy("col_a", "col_b")
      },
      Some {
        val left = Seq(
          duckColSig("customer", "customer.c_custkey", "c_custkey"),
          duckColSig("customer", "customer.c_nationkey", "c_nationkey"),
          duckColSig("customer", "customer.c_mktsegment", "c_mktsegment"))
          .mkString("(", "\nUNION ALL\n", ")")
        val right = Seq(
          duckColSig("orders", "orders.o_custkey", "o_custkey"),
          duckColSig("orders", "orders.o_orderkey", "o_orderkey"),
          duckColSig("orders", "orders.o_orderpriority",
            "o_orderpriority"),
          duckColSig("nation", "nation.n_nationkey", "n_nationkey"))
          .mkString("(", "\nUNION ALL\n", ")")
        s"""WITH l AS $left,
        |r AS $right,
        |na AS (SELECT col_name AS col_a, CAST(count(*) AS BIGINT) AS n_a
        |  FROM l GROUP BY 1),
        |nb AS (SELECT col_name AS col_b, CAST(count(*) AS BIGINT) AS n_b
        |  FROM r GROUP BY 1),
        |sh AS (SELECT l.col_name AS col_a, r.col_name AS col_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM l JOIN r ON l.fp = r.fp GROUP BY 1, 2)
        |SELECT na.col_a, nb.col_b, na.n_a, nb.n_b,
        |  coalesce(sh.n_shared, 0) AS n_shared,
        |  CAST((coalesce(sh.n_shared, 0) * 1000000)
        |    // (na.n_a + nb.n_b - coalesce(sh.n_shared, 0)) AS BIGINT)
        |    AS jaccard_ppm,
        |  CAST((coalesce(sh.n_shared, 0) * 1000000) // na.n_a AS BIGINT)
        |    AS containment_a_ppm
        |FROM na CROSS JOIN nb
        |LEFT JOIN sh ON na.col_a = sh.col_a AND nb.col_b = sh.col_b
        |ORDER BY na.col_a, nb.col_b""".stripMargin
      }),

    // ---- q462: Johnson–Lindenstrauss projection audit -------------------
    // The dimension-cut eval next to matryoshka truncation (q306):
    // project 64-dim embeddings to 16 dims with a ±1 sign matrix (a
    // SHARED LITERAL printed from one fixed-seed generator into both
    // engines — the projection is a constant of the build, not a
    // per-row hash) and measure pairwise squared-distance distortion
    // exactly: E[‖Px‖²] = 16·‖x‖², so ratio_ppm = d16²·10⁶ div
    // (16·d64²) should concentrate near 10⁶. All-integer (millis
    // quantization), 400 bounded pairs, corpus touched once for the
    // projection — the audit you run BEFORE committing an index to
    // the reduced dimension.
    QueryDef("q462_jl_projection_audit",
      (s, d) => {
        val qv = transform(col("embedding"),
          x => round(x.cast("double") * 1000, 0).cast("long"))
        val proj = s"transform(sequence(1, 16), j -> " +
          s"aggregate(zip_with(v, element_at($jlSparkLit, j), " +
          s"(x, s) -> x * s), 0L, (a, x) -> a + x))"
        val emb = embeddings(s, d).select(col("vec_id"), qv.as("v"))
          .withColumn("y", expr(proj))
        def dsq(a: Column, b: Column) =
          aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
            lit(0L), (acc, x) => acc + x)
        val pa = emb.where(col("vec_id") < 20)
          .select(col("vec_id").as("a"), col("v").as("va"),
            col("y").as("ya"))
        val pb = emb.where(col("vec_id") >= 20 && col("vec_id") < 40)
          .select(col("vec_id").as("b"), col("v").as("vb"),
            col("y").as("yb"))
        pa.crossJoin(broadcast(pb))
          .select(col("a"), col("b"),
            dsq(col("va"), col("vb")).as("d64_sq"),
            dsq(col("ya"), col("yb")).as("d16_sq"))
          .withColumn("ratio_ppm",
            expr("(d16_sq * 1000000) div (16 * d64_sq)"))
          .orderBy("a", "b")
      },
      Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v
        |  FROM embeddings),
        |p AS (SELECT vec_id, v, list_transform(generate_series(1, 16),
        |    j -> CAST(list_sum(list_transform(generate_series(1, 64),
        |      i -> v[i] * ($jlDuckLit)[j][i])) AS BIGINT)) AS y
        |  FROM e),
        |pa AS (SELECT vec_id AS a, v AS va, y AS ya FROM p
        |  WHERE vec_id < 20),
        |pb AS (SELECT vec_id AS b, v AS vb, y AS yb FROM p
        |  WHERE vec_id >= 20 AND vec_id < 40),
        |dd AS (SELECT a, b,
        |    CAST(list_sum(list_transform(generate_series(1, 64),
        |      i -> (va[i] - vb[i]) * (va[i] - vb[i]))) AS BIGINT)
        |      AS d64_sq,
        |    CAST(list_sum(list_transform(generate_series(1, 16),
        |      j -> (ya[j] - yb[j]) * (ya[j] - yb[j]))) AS BIGINT)
        |      AS d16_sq
        |  FROM pa, pb)
        |SELECT a, b, d64_sq, d16_sq,
        |  CAST((d16_sq * 1000000) // (16 * d64_sq) AS BIGINT)
        |    AS ratio_ppm
        |FROM dd ORDER BY a, b""".stripMargin)),

    // ---- q463: STREAMING Luhn PII gate (lane #24) -----------------------
    // q456's validated card detection AT INGEST: candidates extract
    // and the 16-step Luhn fold runs statelessly on the stream, the
    // per-source tally is one streaming aggregation, and the final
    // table hash-matches the IDENTICAL oracle as the batch gate (one
    // shared SQL) — PII never lands unvalidated, and batch/stream
    // detection parity is the verified law.
    QueryDef("q463_streaming_luhn_gate",
      (s, d) => graft.streaming.Sessions.runStreamToBatch(s, d,
        documents(s, d).schema,
        globFilter = Some("documents.parquet"),
        transform = st => st
          .select(col("doc_id"), col("source"),
            expr(QueriesRound8j.luhnPlantedTextSql).as("__t2"))
          .select(col("doc_id"), col("source"),
            explode_outer(expr("regexp_extract_all(__t2, '\\\\d{16}', 0)"))
              .as("cc"))
          .withColumn("__ok",
            when(col("cc").isNotNull,
              (expr(QueriesRound8j.luhnSumSpark("cc", 16)) % 10 === 0)
                .cast("long")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("cc").isNotNull, 1L).otherwise(0L))
              .as("n_candidates"),
            sum(coalesce(col("__ok"), lit(0L))).as("n_valid_cc"),
            sum(when(col("cc").isNotNull && col("__ok") === 0, 1L)
              .otherwise(0L)).as("n_luhn_reject")))
        .orderBy("source"),
      Some(QueriesRound8j.duckLuhnGate)),

    // ---- q464: homoglyph / mixed-script spoof detection -----------------
    // The crawl-integrity gate q253's script shares can't give: a
    // token that MIXES Latin and Cyrillic (dаta with U+0430) is a
    // spoof — invisible to eyeballs and to pure-script counters,
    // caught by testing each raw token for BOTH character classes.
    // Lookalikes are planted deterministically (docs with doc_id % 9
    // = 0 get a/e/o translated to U+0430/U+0435/U+043E), and the
    // skeleton transform (fold back to Latin) must restore the
    // original byte-for-byte — both laws ride the output: flagged
    // docs == planted docs, and skeleton_md5 == original md5. Pure
    // per-row string expressions; one rollup per source.
    QueryDef("q464_homoglyph_detect",
      (s, d) => {
        val planted = when(col("doc_id") % 9 === 0,
          translate(col("text"), "aeo", "аео"))
          .otherwise(col("text"))
        val skeleton = translate(col("__t2"), "аео", "aeo")
        documents(s, d)
          .select(col("doc_id"), col("source"), col("text"),
            planted.as("__t2"))
          .withColumn("__mixed", size(filter(
            split(col("__t2"), "\\s+"),
            t => t.rlike("[a-z]") && t.rlike("[а-я]"))))
          .withColumn("__skel_ok",
            (md5(skeleton) === md5(col("text"))).cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("__mixed") > 0, 1L).otherwise(0L))
              .as("n_spoofed_docs"),
            sum(col("__mixed").cast("long")).as("n_spoofed_tokens"),
            min("__skel_ok").as("skeleton_restores"))
          .withColumn("spoof_ppm",
            expr("(n_spoofed_docs * 1000000) div n_docs"))
          .orderBy("source")
      },
      Some("""WITH t2 AS (SELECT doc_id, source, text,
        |    CASE WHEN doc_id % 9 = 0
        |      THEN translate(text, 'aeo', 'аео') ELSE text END AS txt
        |  FROM documents),
        |m AS (SELECT doc_id, source, text, txt,
        |    len(list_filter(string_split_regex(txt, '\s+'),
        |      t -> regexp_matches(t, '[a-z]')
        |        AND regexp_matches(t, '[а-я]'))) AS mixed,
        |    CASE WHEN md5(translate(txt, 'аео', 'aeo')) = md5(text)
        |      THEN 1 ELSE 0 END AS skel_ok
        |  FROM t2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN mixed > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_spoofed_docs,
        |  CAST(sum(mixed) AS BIGINT) AS n_spoofed_tokens,
        |  CAST(min(skel_ok) AS BIGINT) AS skeleton_restores,
        |  CAST((sum(CASE WHEN mixed > 0 THEN 1 ELSE 0 END) * 1000000)
        |    // count(*) AS BIGINT) AS spoof_ppm
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q465: session-scoped event-type association ---------------------
    // Market-basket lift (q165) lifted from order baskets to BEHAVIOR
    // sessions: the q434 30-minute gaps-and-islands sessionization
    // defines the basket, co-occurrence counts distinct sessions
    // containing both types, and lift = P(AB)/(P(A)·P(B)) stays in
    // cross-multiplied integers (c_ab·S·10⁶ div c_a·c_b). The pair
    // space is O(event_types²) — bounded forever; sessions shuffle
    // once on user_id.
    QueryDef("q465_session_type_lift",
      (s, d) => {
        val wu = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("__ts", "event_id")
        val sess = events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("__ts"), col("event_id"))
          .withColumn("__prev", lag("__ts", 1).over(wu))
          .withColumn("__newsess",
            (col("__prev").isNull ||
              col("__ts") - col("__prev") > 1800000000L).cast("long"))
          .withColumn("__sid", sum("__newsess").over(
            wu.rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))
          .select(col("user_id"), col("__sid"), col("event_type"))
          .distinct()
        val total = sess.select("user_id", "__sid").distinct()
          .agg(count(lit(1)).as("n_sessions"))
        val perType = sess.groupBy("event_type")
          .agg(count(lit(1)).as("c"))
        val pairs = sess.as("x").join(sess.as("y"),
            col("x.user_id") === col("y.user_id") &&
              col("x.__sid") === col("y.__sid") &&
              col("x.event_type") < col("y.event_type"))
          .groupBy(col("x.event_type").as("type_a"),
            col("y.event_type").as("type_b"))
          .agg(count(lit(1)).as("c_ab"))
        pairs
          .join(broadcast(perType.withColumnRenamed("event_type", "type_a")
            .withColumnRenamed("c", "c_a")), "type_a")
          .join(broadcast(perType.withColumnRenamed("event_type", "type_b")
            .withColumnRenamed("c", "c_b")), "type_b")
          .crossJoin(broadcast(total))
          .select(col("type_a"), col("type_b"), col("c_ab"), col("c_a"),
            col("c_b"), col("n_sessions"),
            expr("(c_ab * n_sessions * 1000000) div (c_a * c_b)")
              .as("lift_micro"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH e AS (SELECT user_id, event_type, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |n AS (SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN prev IS NULL
        |      OR date_diff('microsecond', prev, ts) > 1800000000
        |      THEN 1 ELSE 0 END AS newsess
        |  FROM e),
        |sid AS (SELECT user_id, event_type,
        |    sum(newsess) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM n),
        |s AS (SELECT DISTINCT user_id, sid, event_type FROM sid),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM
        |  (SELECT DISTINCT user_id, sid FROM s)),
        |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM s GROUP BY 1),
        |pr AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS c_ab
        |  FROM s x JOIN s y ON x.user_id = y.user_id AND x.sid = y.sid
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT pr.type_a, pr.type_b, pr.c_ab, pa.c AS c_a, pb.c AS c_b,
        |  tot.n_sessions,
        |  CAST((pr.c_ab * tot.n_sessions * 1000000) // (pa.c * pb.c)
        |    AS BIGINT) AS lift_micro
        |FROM pr JOIN pt pa ON pr.type_a = pa.event_type
        |JOIN pt pb ON pr.type_b = pb.event_type, tot
        |ORDER BY pr.type_a, pr.type_b""".stripMargin))
  )
}
