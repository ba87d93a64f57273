package graft

import graft.functions.GraftFunctions
import graft.queries.Registry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The real inventory lives in graft.queries.Registry; this object is
  * the stable facade the driver invokes. Every query it hands out
  * installs graft's functions and rules on the session it is given
  * first, so a session built outside [[Harness]] plans the same way.
  */
object SparkEntry {

  private def withRules(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (spark, dir) => { GraftFunctions.register(spark); fn(spark, dir) }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    withRules(Registry.byName("q01_pricing_summary").fn)(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> withRules(q.fn)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
