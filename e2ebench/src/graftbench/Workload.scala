package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}

import graft.query.QueryEngine

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One completed operation of the closed loop. `ms` is what the client
  * waited for the engine; landing inputs and checking outputs are
  * outside it. `extra` carries per-op facts the layer metrics need.
  */
final case class Op(kind: String, ms: Double, records: Long,
    extra: Map[String, Double] = Map.empty)

/** One traced call through `QueryEngine`: its kind, the time to the
  * executed plan, the time to collect and the rows it returned.
  */
final case class Query(kind: String, planMs: Double, execMs: Double, rows: Int)

/** A workload: a preload, then operations one client issues back to
  * back. Every operation checks its outputs against the generator's
  * expected answer and records each mismatch in [[failures]].
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val root: Path) {
  val failures = mutable.ArrayBuffer.empty[String]

  /** Queries issued through [[query]] while tracing. */
  val queries = mutable.ArrayBuffer.empty[Query]

  private val engine = new QueryEngine(spark)

  /** Builds the preload from scratch in `root/setup-<rep>` and makes it
    * the state later operations run against.
    */
  def setup(rep: Int): Unit

  /** Operations run after setup and before timing starts. */
  def warmupOps: Int = 0

  /** Ops in one whole repetition of the op mix: any run of this many
    * consecutive ops issues every kind of op in its fixed share.
    */
  def cycle: Int

  def op(i: Long, tr: Tracer): Op

  /** Bytes the engine keeps on disk for this workload's data. */
  def storedBytes: Long

  /** Bytes of input that data came from. */
  def inputBytes: Long

  /** Workload-specific figures, by name and unit. */
  def report(ops: Seq[Op]): Seq[(String, Double, String)] = Nil

  /** Layer counters read from the workload's state at the end of the run. */
  def stateMetrics: Map[String, Double] = Map.empty

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** Runs `sql` through `QueryEngine.execute` in span `query.<kind>` and
    * collects it, timing planning and execution apart.
    */
  protected def query(kind: String, i: Long, tr: Tracer, sql: String,
      args: Map[String, Any] = Map.empty): Seq[Row] =
    tr.span(s"query.$kind", i) {
      val (df, planMs) = timed {
        val df = if (args.isEmpty) engine.execute(sql) else engine.execute(sql, args)
        df.queryExecution.executedPlan
        df
      }
      val (rows, execMs) = timed(df.collect().toSeq)
      if (tr.enabled) queries += Query(kind, planMs, execMs, rows.size)
      rows
    }

  protected def warehouse(table: String): Path =
    Path.of(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      .resolve(table.toLowerCase)
}

object Workload {
  def make(name: String, spark: SparkSession, seed: Long, root: Path): Workload =
    name match {
      case "ingest_jsonl" => new IngestJsonl(spark, seed, root)
      case "index_maintain" => new IndexMaintain(spark, seed, root)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** Output comparisons shared by the workloads. Each returns the
  * mismatch, if any, as a message.
  */
object Checks {
  def rowAsText(r: Row): Map[String, String] =
    r.schema.fieldNames.zipWithIndex.map { case (c, i) =>
      c -> (if (r.isNullAt(i)) null else r.get(i).toString)
    }.toMap

  def row(what: String, expected: Map[String, String], rows: Seq[Row]): Option[String] =
    rows match {
      case Seq(r) =>
        val got = rowAsText(r)
        if (got == expected) None
        else {
          val diff = (expected.keySet ++ got.keySet).toSeq.sorted
            .filter(k => expected.get(k) != got.get(k))
            .map(k => s"$k: expected ${expected.get(k).orNull}, got ${got.get(k).orNull}")
          Some(s"$what: ${diff.mkString("; ")}")
        }
      case rs => Some(s"$what: expected 1 row, got ${rs.size}")
    }

  def equal[T](what: String, expected: T, got: T): Option[String] =
    if (expected == got) None else Some(s"$what: expected $expected, got $got")
}

/** Filesystem helpers for sizes and file counts. */
object Disk {
  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def bytes(p: Path): Long = files(p).map(Files.size).sum

  /** Data files only: no checksums, markers or hidden files. */
  def dataFiles(p: Path): Int = files(p).count { f =>
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
}
