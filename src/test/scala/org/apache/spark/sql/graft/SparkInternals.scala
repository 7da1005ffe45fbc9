package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Spark internals the cost specs count with, which are private to
  * Spark's packages: the listener bus (drained before a spec reads what
  * its listener recorded) and the session's cached-data registry.
  */
object SparkInternals {
  def drainListenerBus(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()

  def cachedEntries(s: SparkSession): Int =
    s.sharedState.cacheManager.numCachedEntries
}
