package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.ingest.JsonIngestor
import graft.sink.Sinks

/** Each op lands one batch of JSONL files, ingests it with
  * `JsonIngestor.ingestJsonl` and appends it to one managed table. Its
  * checks read the table back through `QueryEngine`, outside the op's
  * time, so a traced run also measures the query layer.
  */
final class IngestJsonl(spark: SparkSession, seed: Long, root: Path)
    extends Workload(spark, seed, root) {

  val Files = 4
  val PerFile = 2500
  val Table = "events"

  private var dirRoot: Path = root
  private var committed = 0L
  private var landed = 0L
  private var nextBatch = 1
  private val off = new Tracer(spark.sparkContext, enabled = false)

  def setup(rep: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    Disk.delete(warehouse(Table))
    dirRoot = root.resolve(s"setup-$rep")
    committed = 0L
    landed = 0L
    nextBatch = 1
    // the preload is batch 0, identical in every repetition
    ingestBatch(0, off)
  }

  /** Batch latency keeps falling for several batches while the JIT
    * compiles the scan and write paths; these run untimed.
    */
  override def warmupOps: Int = 6

  /** One batch in three plants a corrupt file ([[Gen.corruptBatch]]). */
  def cycle: Int = 3

  def op(i: Long, tr: Tracer): Op = {
    val b = nextBatch
    nextBatch += 1
    tr.span("op.batch", i)(ingestBatch(b, tr))
  }

  private def ingestBatch(b: Int, tr: Tracer): Op = {
    val batch = Gen.jsonlBatch(seed, b, Files, PerFile)
    val dir = dirRoot.resolve(f"land/b$b%05d")
    val bytes = tr.span("bench.land", b)(Gen.land(dir, batch.files))
    landed += bytes
    val filesBefore = if (tr.enabled) Disk.dataFiles(warehouse(Table)) else 0
    val ((res, n), ms) = timed {
      val res = tr.span("ingest.jsonl", b)(JsonIngestor.ingestJsonl(spark, dir.toString))
      val n = tr.span("sink.save", b)(Sinks.saveTable(res.data, Table))
      (res, n)
    }
    committed += n
    tr.span("bench.check", b)(verify(batch, res.report, n, tr, b))
    val written = if (tr.enabled) Disk.dataFiles(warehouse(Table)) - filesBefore else 0
    Op("batch", ms, n, Map("landed_bytes" -> bytes.toDouble,
      "files" -> batch.files.size.toDouble,
      "rejected" -> res.report.filesFailed.toDouble,
      "files_written" -> written.toDouble))
  }

  /** Compares one committed batch with what the generator planted. */
  def verify(batch: Gen.JsonlBatch, rep: JsonIngestor.IngestReport, saved: Long,
      tr: Tracer = off, op: Long = 0): Unit = {
    val b = s"batch ${batch.files.head.name.take(6)}"
    Seq(
      Checks.equal(s"$b records", batch.records, rep.totalRecords),
      Checks.equal(s"$b saved rows", batch.records, saved),
      Checks.equal(s"$b rejected files", batch.rejected.sorted,
        rep.errors.map(_.file.split('/').last).sorted),
      Checks.equal(s"$b table rows", committed,
        query("count", op, tr, s"SELECT COUNT(*) FROM $Table").head.getLong(0)),
      Checks.row(s"$b sampled record", batch.sample.row,
        query("point", op, tr, s"SELECT * FROM $Table WHERE id = :k", Map("k" -> batch.sample.key))),
    ).flatten.foreach(failures += _)
  }

  def storedBytes: Long = Disk.bytes(warehouse(Table))
  def inputBytes: Long = landed

  override def report(ops: Seq[Op]): Seq[(String, Double, String)] =
    IngestJsonl.batchReport(ops)
}

object IngestJsonl {
  /** Batch latency: its median and its tail, with the tail's percentile and sample count. */
  def batchReport(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val s = ops.map(_.ms / 1000.0)
    if (s.isEmpty) Nil
    else {
      val t = Stats.tail(s)
      Seq(("batch_p50_s", Stats.median(s), "s"), ("batch_tail_s", t.value, "s"),
        ("batch_tail_percentile", t.percentile, "%"), ("batch_samples", t.samples.toDouble, "count"))
    }
  }
}
