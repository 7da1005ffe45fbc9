package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{broadcast, col}

class DevSpec extends SparkSpec {

  test("covered: overlapping, nested and disjoint spans count once, clipped to the window") {
    assert(Dev.covered(Nil, 0, 100) == 0)
    // disjoint: plain sum
    assert(Dev.covered(Seq((10L, 20L), (30L, 45L)), 0, 100) == 25)
    // overlapping (a broadcast build beside its query): 10..40 once, not 20 + 20
    assert(Dev.covered(Seq((20L, 40L), (10L, 30L)), 0, 100) == 30)
    // nested (a subquery job inside a longer job): the outer span only
    assert(Dev.covered(Seq((10L, 90L), (20L, 30L), (50L, 60L)), 0, 100) == 80)
    // touching spans and an empty span add nothing extra
    assert(Dev.covered(Seq((10L, 20L), (20L, 30L), (25L, 25L)), 0, 100) == 20)
    // all three at once, out of order
    assert(Dev.covered(Seq((70L, 80L), (0L, 50L), (5L, 15L), (40L, 60L)), 0, 100) == 70)
    // spans reaching past the window are clipped, so covered <= window
    assert(Dev.covered(Seq((-50L, 10L), (95L, 200L)), 0, 100) == 15)
    assert(Dev.covered(Seq((-5L, 500L)), 0, 100) == 100)
  }

  test("JobLog records every job of an action with its site, inside the wall span") {
    val log = new Dev.JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      val (t0, t1, jobs) = log.record(spark.sparkContext) {
        spark.range(1000).repartition(3).selectExpr("sum(id)").collect(): Unit
      }
      assert(jobs.nonEmpty)
      assert(jobs.forall(j => j.start <= j.end && j.site.nonEmpty))
      assert(jobs.map(_.id).distinct.size == jobs.size)
      assert(Dev.covered(jobs.map(j => (j.start, j.end)), t0, t1) <= t1 - t0)
      // a second record starts empty: nothing leaks from the first
      val (_, _, next) = log.record(spark.sparkContext)(())
      assert(next.forall(_.id > jobs.map(_.id).max))
    } finally spark.sparkContext.removeSparkListener(log)
  }

  test("JobLog keys each job to the SQL execution that started it") {
    val log = new Dev.JobLog
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val sql = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.add(s.executionId); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(log)
    spark.sparkContext.addSparkListener(sql)
    try {
      val (_, _, jobs) = log.record(spark.sparkContext) {
        executions.clear() // events queued before the record
        // a broadcast join: the build side runs as its own job
        val small = spark.range(10).withColumnRenamed("id", "k")
        spark.range(1000).join(broadcast(small), col("id") === col("k"))
          .selectExpr("sum(id)").collect(): Unit
      }
      val started = executions.asScala.map(_.toString).toSet
      assert(started.size == 1, s"executions $started")
      assert(jobs.size >= 2, s"jobs $jobs")
      assert(jobs.map(_.execution).toSet == started)
      // a job outside any SQL execution carries none
      val (_, _, plain) = log.record(spark.sparkContext) {
        spark.sparkContext.parallelize(1 to 3).count(): Unit
      }
      assert(plain.map(_.execution) == Seq("-"))
    } finally {
      spark.sparkContext.removeSparkListener(sql)
      spark.sparkContext.removeSparkListener(log)
    }
  }
}
