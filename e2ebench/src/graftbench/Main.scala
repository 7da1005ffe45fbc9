package graftbench

import java.nio.file.Path

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload in a closed loop with one client thread and prints
  * the result: an `info` line, then, as the last line, the result object
  * `{"correct", "attempted", "failed", "metrics"}`.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --root <dir>`. Spark runs `local[k]`, `k = min(2, nproc)`. Everything
  * the run writes goes under `--root`, which the caller creates and
  * deletes.
  */
object Main {

  /** Preload repetitions; set-up time is the median. */
  val SetupReps = 3

  /** One timed stretch of the loop; `startMs`/`endMs` are wall clock. */
  final case class Phase(ops: Seq[Op], startMs: Long, endMs: Long, wallMs: Double,
      trace: Option[Trace])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val root = Path.of(opt("root")).toAbsolutePath

    val t0 = System.nanoTime()
    val spark = session(root)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try run(spark, workload, seed, seconds, traced, root, sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  def session(root: Path): SparkSession = {
    // Two task threads leave the other cores to the driver, the JIT and the
    // collector; with four a batch was slower and a competing load on the
    // host slowed it about twice as much.
    val cores = math.min(2, Runtime.getRuntime.availableProcessors)
    val s = graft.GraftSession.builder(cores.toString)
      .appName("graftbench")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toUri.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Issues ops back to back for `seconds`. Returns the phase, the next
    * op number and how many ops failed (threw, or failed a check).
    */
  private def loop(w: Workload, tr: Tracer, first: Long, seconds: Double): (Phase, Long, Int) = {
    val ops = mutable.ArrayBuffer.empty[Op]
    var failed = 0
    val startMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    var i = first
    while (System.nanoTime() < end) {
      if (!attempt(w, tr, i, ops)) failed += 1
      i += 1
    }
    val wall = (System.nanoTime() - start) / 1e6
    (Phase(ops.toSeq, startMs, System.currentTimeMillis(), wall, if (tr.enabled) Some(tr.close()) else None), i, failed)
  }

  /** Runs op `i`; false if it threw or failed a check. */
  private def attempt(w: Workload, tr: Tracer, i: Long, ops: mutable.Buffer[Op]): Boolean = {
    val before = w.failures.size
    try ops += w.op(i, tr)
    catch {
      case e: Exception => w.failures += s"op $i threw ${e.getClass.getName}: ${e.getMessage}"
    }
    w.failures.size == before
  }

  /** What a run measured; the retained heap is read after it. */
  private final case class Outcome(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], info: Map[String, Any])

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      traced: Boolean, root: Path, sessionS: Double): Int = {
    val o = execute(spark, name, seed, seconds, traced, root, sessionS)
    // The workload and its generator state are unreachable by now, so the
    // heap holds what the engine keeps and not the benchmark's own data.
    val metrics =
      if (traced) o.metrics else o.metrics :+ (("heap_retained_mb", retainedHeapMb, "MB"))
    println(json(Map("info" -> o.info)))
    println(json(Map(
      "correct" -> o.correct,
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "metrics" -> units(metrics))))
    if (o.correct) 0 else 1
  }

  private def execute(spark: SparkSession, name: String, seed: Long, seconds: Double,
      traced: Boolean, root: Path, sessionS: Double): Outcome = {
    val w = Workload.make(name, spark, seed, root)
    val setupS = (0 until SetupReps).map { rep =>
      val t = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t) / 1e9
    }
    val off = new Tracer(spark.sparkContext, enabled = false)
    val warm = mutable.ArrayBuffer.empty[Op]
    val warmFailed = (0 until w.warmupOps).count(i => !attempt(w, off, i, warm))

    // An untraced run measures for the whole time. A traced run measures
    // the first half untraced, to price the tracing, and traces the rest.
    val (plain, next, plainFailed) =
      loop(w, off, w.warmupOps, if (traced) seconds / 2 else seconds)
    val (tracedPhase, end, tracedFailed) =
      if (!traced) (None, next, 0)
      else {
        val (p, e, f) = loop(w, new Tracer(spark.sparkContext, enabled = true), next, seconds / 2)
        (Some(p), e, f)
      }
    val attempted = end.toInt
    val failedOps = warmFailed + plainFailed + tracedFailed
    w.failures.take(20).foreach(f => System.err.println(s"[graftbench] CHECK FAILED: $f"))

    val metrics =
      if (!traced) endToEnd(w, plain, sessionS + Stats.median(setupS))
      else Layers.metrics(w, plain, tracedPhase.get)
    val figures = Seq(("session_start_s", sessionS, "s")) ++
      setupS.zipWithIndex.map { case (s, i) => (s"setup_rep${i}_s", s, "s") } ++
      w.report(plain.ops) ++ Seq(("failed_share",
        if (attempted == 0) 0.0 else failedOps.toDouble / attempted, "ratio"))
    val info = Map(
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "commit" -> sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown"),
      "dirty" -> sys.env.getOrElse("GRAFTBENCH_DIRTY", "unknown"),
      "sources_sha256" -> sys.env.getOrElse("GRAFTBENCH_SOURCES", "unknown"),
      "figures" -> units(figures))
    // every recorded failure counts, set-up checks included
    Outcome(w.failures.isEmpty && plain.ops.nonEmpty, attempted, failedOps, metrics, info)
  }

  private def endToEnd(w: Workload, p: Phase, setupS: Double): Seq[(String, Double, String)] = {
    // Latency over whole cycles only, so every kind of op keeps its share
    // of the samples however many ops the run completed.
    val whole = p.ops.size / w.cycle * w.cycle
    val lat = (if (whole > 0) p.ops.take(whole) else p.ops).map(_.ms)
    val tail = Stats.tail(lat)
    // Rates per second the client waited on the engine: landing inputs
    // and checking outputs are the client's own time. Each is the median
    // of the rates over every window of one whole cycle of consecutive
    // ops, so a burst of load on the host moves some windows rather than
    // the whole rate, while every window still pays for its share of the
    // rarer, costlier ops.
    def rate(f: Op => Double): Double =
      Stats.median(p.ops.sliding(w.cycle).map(c => c.map(f).sum / (c.map(_.ms).sum / 1000.0)).toSeq)
    Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", rate(_ => 1.0), "op/s"),
      ("records_per_s", rate(_.records.toDouble), "rec/s"),
      ("op_p50_ms", Stats.median(lat), "ms"),
      ("op_tail_ms", tail.value, "ms"),
      ("stored_bytes_per_input_byte", w.storedBytes.toDouble / w.inputBytes, "ratio"))
  }

  /** Heap still in use after full collections at the end of the run:
    * what the engine keeps (caches, persisted frames, catalog state)
    * rather than what the collector has not yet reclaimed. Spark frees
    * broadcast and shuffle blocks only once a collection has cleared
    * their references, so the collection is repeated after its cleaner
    * has had time to run.
    */
  def retainedHeapMb: Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def units(ms: Seq[(String, Double, String)]): Map[String, Any] =
    ms.map { case (n, v, u) => n -> Map("value" -> (if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> u) }.toMap

  private val mapper = new ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }

  def json(v: Any): String = mapper.writeValueAsString(toJava(v))
}
