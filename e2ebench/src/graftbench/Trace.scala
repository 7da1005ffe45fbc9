package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One call into a layer, opened by the benchmark's own code around a
  * public engine function. Times are wall-clock milliseconds, the clock
  * Spark stamps its job events with.
  */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startMs: Long, var endMs: Long)

/** Work Spark did on behalf of one span (or of no span). */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    bytesWritten += o.bytesWritten
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill
    jobIntervals ++= o.jobIntervals
    this
  }
}

/** Attributes Spark jobs, stages and task metrics to the span whose id
  * the submitting thread carried as a local property. Every mutation
  * runs on Spark's listener-bus thread; readers call
  * [[Tracer.close]] first, which drains the bus.
  */
final class SpanListener extends SparkListener {
  private[graftbench] val jobSpan = mutable.HashMap.empty[Int, Int]
  private[graftbench] val jobWork = mutable.HashMap.empty[Int, Work]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobStartMs(e.jobId) = e.time
    val w = new Work
    w.jobs = 1
    jobWork(e.jobId) = w
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobWork.get(e.jobId).foreach(_.jobIntervals +=
      (jobStartMs.getOrElse(e.jobId, e.time) -> e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).flatMap(jobWork.get).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).flatMap(jobWork.get).foreach { w =>
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.taskMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.bytesRead += m.inputMetrics.bytesRead
        w.recordsRead += m.inputMetrics.recordsRead
        w.bytesWritten += m.outputMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

/** Opens spans around calls into the engine. A disabled tracer runs the
  * body and nothing else, so untraced runs pay one branch per call. An
  * enabled one keeps its spans in memory and registers a
  * [[SpanListener]] until [[close]].
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op,
        System.currentTimeMillis(), -1L)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Drains Spark's listener bus, detaches the listener and returns
    * what was recorded.
    */
  def close(): Trace = {
    if (enabled) {
      org.apache.spark.graftbench.Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
    Trace.build(spans.toSeq, listener)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** A finished trace: spans plus the Spark work attributed to each.
  * A job counts toward its span only if it started while that span was
  * open; jobs with no span, or carrying a span id inherited by an engine
  * pool thread after the span closed, are unattributed and kept.
  */
final case class Trace(spans: Seq[Span], work: Map[Int, Work], unattributed: Work) {

  def workOf(s: Span): Work = work.getOrElse(s.id, new Work)

  /** Span duration minus the part of it covered by its child spans. */
  def selfMs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs))
    Stats.gap(kids, s.startMs, s.endMs)
  }

  /** Span wall time during which none of its own jobs was running. */
  def driverGapMs(s: Span): Long =
    Stats.gap(workOf(s).jobIntervals.toSeq, s.startMs, s.endMs)

  def total: Work = work.values.foldLeft(new Work)(_ add _).add(unattributed)
}

object Trace {
  def build(spans: Seq[Span], l: SpanListener): Trace = {
    val byId = spans.map(s => s.id -> s).toMap
    val work = mutable.HashMap.empty[Int, Work]
    val orphan = new Work
    l.jobWork.foreach { case (job, w) =>
      val sid = l.jobSpan.getOrElse(job, -1)
      val start = w.jobIntervals.headOption.map(_._1)
      byId.get(sid) match {
        case Some(s) if start.forall(t => t >= s.startMs && t <= s.endMs) =>
          work.getOrElseUpdate(sid, new Work).add(w)
        case _ => orphan.add(w)
      }
    }
    Trace(spans, work.toMap, orphan)
  }
}
