package org.apache.spark.sql

/** The number of entries in a session's cache manager, which Spark
  * exposes to its own `sql` package only. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
