package graft

import org.apache.spark.sql.{CacheEntries, SparkSession}

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)

  /** The session's cache entries, for checks that a run released what
    * it persisted. */
  def cacheEntries: Int = CacheEntries(spark)
}
