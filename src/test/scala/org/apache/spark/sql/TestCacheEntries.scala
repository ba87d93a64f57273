package org.apache.spark.sql

/** Test access to the SQL cache's entry count, which Spark keeps
  * package-private. */
object TestCacheEntries {

  /** The number of plans the session's CacheManager holds. */
  def count(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
