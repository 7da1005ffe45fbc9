package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Dev harness over the query registry:
  *
  * {{{
  * runMain graft.Dev time    <name> [name ...]         # 3 timed passes
  * runMain graft.Dev profile <name> [name ...] | all   # wall, jobs, in-job time, gap
  * runMain graft.Dev jobs    <name> [name ...]         # each job's id, time, call site
  * runMain graft.Dev explain <outDir> <tag> <name> [name ...] | all
  * }}}
  *
  * Every view runs at SPARK_GRAFT_SF_DIR (default sf0.1) on the Bench's
  * session ([[GraftSession.harness]], cores from SPARK_GRAFT_CPUS), and
  * times the Bench's noop write after one untimed warm run. `explain`
  * writes `.explain("formatted")` to `<outDir>/<name>_<tag>.txt`.
  * `profile` and `jobs` are two views of one [[JobLog]]: profile's gap
  * is wall minus the UNION of the job spans, i.e. driver, file-system
  * and planning time between jobs ("many small jobs" vs "slow jobs");
  * `jobs` says which jobs, from where, and in which SQL execution.
  */
object Dev {
  /** `execution` is the job's `spark.sql.execution.id`, "-" outside one:
    * broadcast and subquery jobs share a call site, not an execution.
    */
  final case class Job(id: Int, start: Long, end: Long, site: String, execution: String)

  /** Records each job's id, span (listener-event epoch ms), site and execution. */
  final class JobLog extends SparkListener {
    private val starts = new ConcurrentHashMap[Integer, (Long, String, String)]()
    private val done = new ConcurrentLinkedQueue[Job]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      // the result stage's name carries the action call site; the
      // earlier stages say WHAT the job computed (broadcast-build
      // jobs all share the CompletableFuture result-stage name)
      val infos = js.stageInfos.sortBy(_.stageId)
      val site = infos.lastOption.map(_.name).getOrElse("?") +
        infos.dropRight(1).map(_.name).distinct.mkString(" <= [", " | ", "]")
      val execution = Option(js.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).getOrElse("-")
      starts.put(js.jobId, (js.time, site, execution)); ()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val v = starts.remove(Integer.valueOf(je.jobId))
      if (v != null) done.add(Job(je.jobId, v._1, je.time, v._2, v._3)): Unit
    }

    /** Runs `body`; returns its wall span (epoch ms) and the jobs that
      * ran inside it, read only after the listener bus has drained.
      */
    def record(sc: SparkContext)(body: => Unit): (Long, Long, Seq[Job]) = {
      Bus.drain(sc); starts.clear(); done.clear()
      val t0 = System.currentTimeMillis()
      body
      val t1 = System.currentTimeMillis()
      Bus.drain(sc)
      (t0, t1, done.asScala.toSeq.sortBy(_.id))
    }
  }

  /** Length of [lo, hi] covered by at least one span: overlapping and
    * nested spans (broadcast builds, subqueries) count once, so
    * `hi - lo - covered` is never negative.
    */
  def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    spans.map { case (s, e) => (s max lo, e min hi) }.filter { case (s, e) => s < e }
      .sortBy(_._1).foldLeft((0L, lo)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - (s max reach), e)
      }._1

  def main(args: Array[String]): Unit = {
    val minArgs = Map("time" -> 2, "profile" -> 2, "jobs" -> 2, "explain" -> 4)
    if (!args.headOption.flatMap(minArgs.get).exists(args.length >= _)) {
      System.err.println("usage: graft.Dev <time|profile|jobs> <name ...>" +
        " | graft.Dev explain <outDir> <tag> <name ...>   (`all` = every query)")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val listed = args.drop(if (args(0) == "explain") 3 else 1).toSeq
    val queries = if (listed == Seq("all")) Registry.all.map(_.name).sorted else listed
    val spark = GraftSession.harness()
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    def run(name: String): Unit =
      Registry.byName(name).run(spark, sfDir).write.format("noop").mode("overwrite").save()
    def measured(name: String) = { run(name); log.record(spark.sparkContext)(run(name)) }
    queries.foreach { name => args(0) match {
      case "time" =>
        run(name)
        val ts = Seq.fill(3) { val t0 = System.nanoTime(); run(name); (System.nanoTime() - t0) / 1e9 }
        println(f"[time] $name: ${ts.map(t => f"$t%.2f").mkString(" ")}")
      case "profile" =>
        val (t0, t1, js) = measured(name)
        val wall = (t1 - t0) / 1e3
        val injob = covered(js.map(j => (j.start, j.end)), t0, t1) / 1e3
        println(f"[prof] $name%-34s wall=$wall%6.2f jobs=${js.size}%4d injob=$injob%6.2f gap=${wall - injob}%6.2f")
      case "jobs" =>
        val (t0, t1, js) = measured(name)
        println(f"[jobs] $name wall=${(t1 - t0) / 1e3}%.2f n=${js.size}")
        js.foreach(j => println(
          f"[jobs]   #${j.id}%-4d exec=${j.execution}%-5s ${(j.end - j.start) / 1e3}%6.3f  ${j.site}"))
        println(s"[jobs] $name by execution and site:")
        js.groupBy(j => (j.execution, j.site)).toSeq
          .map { case ((exec, site), g) =>
            (exec, site, g.size, g.map(j => j.end - j.start).sum / 1e3)
          }
          .sortBy(-_._4)
          .foreach { case (exec, site, n, sum) =>
            println(f"[jobs]   exec=$exec%-5s n=$n%-3d sum=$sum%6.3f  $site")
          }
      case _ =>
        try {
          val plan = Registry.byName(name).run(spark, sfDir).queryExecution.explainString(FormattedMode)
          Files.createDirectories(Paths.get(args(1)))
          Files.writeString(Paths.get(args(1), s"${name}_${args(2)}.txt"), plan)
          println(s"[explain] wrote $name")
        } catch { case e: Throwable => println(s"[explain] FAILED $name: ${e.getMessage}") }
    }}
    spark.stop()
  }
}
