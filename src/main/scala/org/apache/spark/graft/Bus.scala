package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private to
  * `org.apache.spark`: a job record must not be read while events are
  * still queued.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
