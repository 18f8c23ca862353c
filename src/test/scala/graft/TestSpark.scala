package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)
}
