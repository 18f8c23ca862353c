package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.state.StateStore

/** Spark internals the benchmark needs and Spark keeps package-private. */
object PerfbenchAccess {
  /** The traced run must see every queued listener event before it
    * reads them. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Unload the state stores of finished stream queries, which Spark's
    * maintenance task would otherwise unload at a time of its own. */
  def unloadStateStores(): Unit = StateStore.unloadAll()
}
