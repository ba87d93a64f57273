package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, min}

/** The one way to build a session, warm it and free its blocks.
  * Bench, Verify, RecallReport, the tools and the test suites all take
  * their session from here, so each of them plans with the same confs
  * and the same optimizer rules from its first query on.
  */
object Harness {

  /** `local[n]` with n from SPARK_GRAFT_CPUS (default 4). */
  def master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"

  private val LocalThreads = """local\[(\d+)(?:,\s*\d+)?\]""".r

  /** A UTC, UI-less session with one shuffle partition per master
    * thread, a throwaway warehouse dir (managed tables live under
    * `queries.Scratch` anyway) and graft's functions and rules
    * installed before anything runs. */
  def session(master: String = Harness.master): SparkSession = {
    val threads = master match {
      case LocalThreads(n) => n.toInt
      case _ => Runtime.getRuntime.availableProcessors()
    }
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm the session before timing: whole-stage codegen compilation,
    * shuffle machinery, the parquet reader, and the interpreted
    * higher-order-function/hash expression paths all JIT on first use
    * (measured ~10 s billed to whichever heavy query runs first
    * otherwise). Per-query cold cost is dominated by JVM-wide JIT —
    * measured 0.6 s warm vs 5.3 s cold for the SAME query — so a few
    * representative queries run untimed too (join+agg, text explode,
    * LSH hashing, vector similarity, windowing). Each failed step is
    * printed by name and class on stderr; returns how many failed.
    * Ends with a [[clearBlocks]] sweep, because the warmup queries
    * leak blocks too. */
  def warmup(spark: SparkSession, sfDir: String): Int = {
    // synthetic steps run on ~1k rows: the work is the class-loading
    // and JIT, not the data volume
    val synthetic: Seq[(String, () => Any)] = Seq(
      "warmup.join_agg" -> (() => {
        val w = spark.range(1000).selectExpr("id", "id % 7 AS k")
        w.join(w.groupBy("k").count(), "k").count()
      }),
      // hash + string + higher-order lambda paths (dedup/text family)
      "warmup.hash_lambda" -> (() => spark.range(1000)
        .selectExpr("cast(id as string) AS s", "id % 7 AS k")
        .selectExpr(
          "md5(s) AS h",
          "transform(sequence(1, 8), i -> md5(concat(s, i))) AS a",
          "filter(split(s, '0'), x -> length(x) > 0) AS t",
          "aggregate(sequence(1, 4), 0L, (acc, x) -> acc + x) AS g",
          "k")
        .selectExpr("array_min(a) AS mn", "size(t) AS n", "g", "k", "h")
        .groupBy("k").agg(min("mn"), count("*")).count()),
      "warmup.window" -> (() => spark.range(1000)
        .selectExpr("id", "id % 7 AS k")
        .selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY id) AS rn")
        .count()),
      // generator (explode) + string-keyed hash aggregate + sort
      "warmup.explode_sort" -> (() => spark.range(1000)
        .selectExpr("explode(split(cast(id as string), '')) AS t")
        .groupBy("t").count().orderBy("t").count()))
    // every bench table: file listing + footer decode + column decode
    val reads = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings").map { t =>
      s"warmup.read.$t" -> (() => spark.read.parquet(s"$sfDir/$t.parquet").count())
    }
    val queries = SparkEntry.queries
    val steady = Seq("q03_top_customers", "q31_term_freq", "q42_lsh_pairs",
        "q50_cosine_topk", "q23_tumbling_window").flatMap { n =>
      queries.get(n).map(fn => n -> (() => fn(spark, sfDir).count()))
    }
    val failed = (synthetic ++ reads ++ steady).count { case (name, step) =>
      try { step(); false } catch { case e: Throwable =>
        System.err.println(
          s"[warmup] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        true
      }
    }
    clearBlocks(spark)
    failed
  }

  /** Blocking sweep between queries: iterative operators
    * localCheckpoint / persist working frames, and the results stay
    * pinned in the block manager for as long as the DataFrames are
    * reachable; across hundreds of queries the leaked blocks tax every
    * later one (r5's suite-wide 8-26x regression on unchanged queries).
    * Blocking, so executor block removal does not land inside the next
    * query's timed window. */
  def clearBlocks(spark: SparkSession): Unit = {
    graft.ops.Checkpoints.muteWarnings()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    // ContextCleaner only reaps dead broadcast/RDD/shuffle state when
    // their weak references are GC'd (its own periodic System.gc()
    // fires every 30 MINUTES by default) — across 187 queries the stale
    // refs otherwise accumulate until heap pressure turns into
    // multi-second GC stalls inside later queries (measured: the same
    // 5 queries cost 18.4 s late in-suite vs 3.8 s isolated). An
    // explicit GC here keeps each query's starting heap flat.
    System.gc()
  }
}
