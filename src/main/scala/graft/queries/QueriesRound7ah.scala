package graft.queries

import graft.Tables._
import graft.ops.{Checkpoints, Relational, Sampling}
import org.apache.spark.sql.functions._

/** Round-7 thirty-fourth batch: inverse-propensity off-policy
  * evaluation and the changelog-idempotence proof.
  */
object QueriesRound7ah {

  val defs: Seq[QueryDef] = Seq(

    // ---- q408: IPS / SNIPS off-policy evaluation ------------------------
    // "What would the uniform({click, purchase}) policy have earned?"
    // answered from the logged event stream alone — the
    // counterfactual-eval primitive under every bandit/recsys
    // retrain. Logging propensity μ(a) = c_a/N from the data itself;
    // importance weight for the target's support rows is
    // w = N·10⁶ div (2·c_a) in micro (identical floor on both
    // engines); rewards in exact cents. IPS = Σ w·r div (N·10⁶-scale),
    // SNIPS divides by Σ w instead (the self-normalized variant that
    // trades a little bias for much less variance), and the naive
    // direct mean over support rows sits alongside. O(actions)
    // propensity frame broadcast back; one scan.
    QueryDef("q408_ips_offpolicy",
      (s, d) => {
        val ev = events(s, d).select(col("event_type").as("a"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("r"))
        val prop = ev.groupBy("a").agg(count(lit(1)).as("ca"))
        val tot = broadcast(ev.agg(count(lit(1)).as("n")))
        val sup = ev.join(broadcast(prop), Seq("a"))
          .crossJoin(tot)
          .where(col("a").isin("click", "purchase"))
          .select(col("r"), expr("(n * 1000000) div (2 * ca)").as("w"))
        sup.crossJoin(tot)
          .agg(first("n").as("n"), count(lit(1)).as("n_support"),
            expr("sum(w * r) div (first(n) * 10000)")
              .as("ips_cents_x100"),
            expr("(sum(w * r) * 100) div sum(w)").as("snips_cents_x100"),
            expr("(sum(r) * 100) div count(1)").as("direct_cents_x100"))
      },
      Some("""WITH ev AS (SELECT event_type AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r
        |  FROM events),
        |p AS (SELECT a, count(*) AS ca FROM ev GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM ev),
        |sup AS (SELECT r, (n * 1000000) // (2 * ca) AS w
        |  FROM ev JOIN p USING (a), t
        |  WHERE a IN ('click', 'purchase'))
        |SELECT CAST(max(t.n) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_support,
        |  CAST(sum(w * r) // (max(t.n) * 10000) AS BIGINT)
        |    AS ips_cents_x100,
        |  CAST((sum(w * r) * 100) // sum(w) AS BIGINT)
        |    AS snips_cents_x100,
        |  CAST((sum(r) * 100) // count(*) AS BIGINT)
        |    AS direct_cents_x100
        |FROM sup, t GROUP BY t.n""".stripMargin)),

    // ---- q409: changelog idempotence, proven in-query -------------------
    // The exactly-once story's algebraic half (ChaosSpec covers the
    // retry half): applying the SAME changelog twice must be a no-op
    // the second time. The q92 changelog applies once → fingerprint,
    // twice → fingerprint, and `idempotent` = the q360
    // order-independent fingerprints agree — the self-proving shape
    // (q396/q398/q403): the hash gate carries the law, not a prose
    // claim. At 100 TB this is the property that makes replayed
    // batches and at-least-once upstreams safe.
    QueryDef("q409_merge_idempotence",
      (s, d) => Checkpoints.scoped { pin =>
        val base = customer(s, d)
          .select("c_custkey", "c_name", "c_acctbal")
        val k = col("c_custkey")
        val changes = base.where(k % 10 === 0)
          .select(k, lit("delete").as("op"), lit(1L).as("seq"),
            col("c_name"), col("c_acctbal"))
          .unionAll(base.where(k % 10 === 1)
            .select(k, lit("upsert").as("op"), lit(1L).as("seq"),
              col("c_name"), (col("c_acctbal") + 100).as("c_acctbal")))
          .unionAll(base.where(k % 10 === 2)
            .select((k + 1000000).as("c_custkey"), lit("upsert").as("op"),
              lit(1L).as("seq"), col("c_name"), col("c_acctbal")))
        def fp(df: org.apache.spark.sql.DataFrame) = df.select(
            Sampling.hashLong(concat_ws("|",
              col("c_custkey").cast("string"), col("c_name"),
              col("c_acctbal").cast("decimal(18,2)").cast("string")))
              .as("__h"))
          .agg(count(lit(1)).as("n"), expr("bit_xor(__h)").as("fx"),
            expr("cast(sum(cast(__h as decimal(38,0))) as string)")
              .as("fs"))
        val once = pin(Relational.applyChangelog(base, changes,
          "c_custkey", "op", "seq"))
        val twice = Relational.applyChangelog(once, changes,
          "c_custkey", "op", "seq")
        fp(once).select(col("n").as("n_once"), col("fx").as("x1"),
            col("fs").as("s1"))
          .crossJoin(fp(twice).select(col("n").as("n_twice"),
            col("fx").as("x2"), col("fs").as("s2")))
          .select(col("n_once"), col("n_twice"),
            (col("n_once") === col("n_twice") && col("x1") === col("x2")
              && col("s1") === col("s2")).as("idempotent"))
      },
      Some("""WITH base AS (SELECT c_custkey, c_name, c_acctbal
        |  FROM customer),
        |ch AS (
        |  SELECT c_custkey, 'delete' AS op, 1 AS seq, c_name, c_acctbal
        |    FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL SELECT c_custkey, 'upsert', 1, c_name,
        |    c_acctbal + 100 FROM base WHERE c_custkey % 10 = 1
        |  UNION ALL SELECT c_custkey + 1000000, 'upsert', 1, c_name,
        |    c_acctbal FROM base WHERE c_custkey % 10 = 2),
        |latest AS (SELECT * FROM (SELECT ch.*, row_number() OVER
        |    (PARTITION BY c_custkey ORDER BY seq DESC, op DESC) AS rn
        |  FROM ch) WHERE rn = 1),
        |once AS (SELECT c_custkey,
        |    CASE WHEN l.op = 'upsert' THEN l.c_name ELSE b.c_name END
        |      AS c_name,
        |    CASE WHEN l.op = 'upsert' THEN l.c_acctbal
        |      ELSE b.c_acctbal END AS c_acctbal
        |  FROM base b FULL OUTER JOIN latest l USING (c_custkey)
        |  WHERE l.op IS NULL OR l.op != 'delete')
        |SELECT CAST(count(*) AS BIGINT) AS n_once,
        |  CAST(count(*) AS BIGINT) AS n_twice,
        |  true AS idempotent
        |FROM once""".stripMargin)))
}
