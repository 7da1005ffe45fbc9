package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Access to Spark's listener bus and what its events carry that is
  * package-private to `org.apache.spark`: a job record must not be
  * read while events are still queued, and a stage's RDD operation
  * scopes name the plan nodes (exchange, scan, codegen stage) that
  * built its RDDs.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The operation scope names of `stage`'s RDDs, distinct, in RDD id order. */
  def scopes(stage: StageInfo): Seq[String] =
    stage.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
}
