package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.SparkInternals

/** [[JsonIngestor.ingestJsonl]] plans its batch with one census job
  * ([[JsonlCensus]]), as do the bulk and row-isolated modes. Each case pins the census schema to
  * `spark.read.json`'s, and the report and landed rows to the values
  * the reader-driven implementation (inference, `count()`, bad-file
  * query) produced for the same files.
  */
class JsonlCensusSpec extends SparkSpec {

  private val Corrupt = JsonIngestor.CorruptCol

  private def batch(files: (String, String)*): Path = {
    val dir = tmpDir("census")
    files.foreach { case (n, c) => writeFile(dir, n, c) }
    dir
  }

  private def gz(dir: Path, name: String, content: String): Unit = {
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(dir.resolve(name)))
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  // the lineage string the reader reports for a file (input_file_name)
  private def uri(dir: Path, name: String): String = dir.resolve(name).toUri.toString
  // the discovered path, as the listing reports it
  private def listed(dir: Path, name: String): String = "file:" + dir.resolve(name)

  private def files(dir: Path): Seq[String] =
    Files.list(dir).iterator.asScala.map(_.toString).toSeq.sorted

  private def rows(r: JsonIngestor.IngestResult): Seq[String] =
    if (r.data.columns.isEmpty) Nil
    else r.data.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Ingests `dir`; checks the census schema against Spark's inference
    * and the report (minus its timing) and rows against `expected`.
    */
  private def check(dir: Path, discovered: Int, failed: Seq[String], records: Long,
      columns: Seq[String], expected: Seq[String]): JsonIngestor.IngestResult = {
    val fs = files(dir)
    val census = JsonlCensus.run(spark, fs, Corrupt)
    val inferred = spark.read.option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", Corrupt).json(fs: _*).schema
    assert(census.schema == inferred)
    val r = JsonIngestor.ingestJsonl(spark, dir.toString)
    assert(r.report.copy(elapsedSec = 0) == JsonIngestor.IngestReport(
      discovered, discovered - failed.size, failed.size, records,
      failed.sorted.map(JsonIngestor.FileError(_, "corrupt line in file")), 0))
    assert(r.data.columns.toSeq == columns)
    assert(rows(r) == expected)
    assert(expected.size == records)
    r
  }

  test("a null line lands as an all-empty row, unless another line is malformed") {
    val one = batch("a.jsonl" -> "{\"a\":1}\nnull\n")
    check(one, 1, Nil, 2, Seq("_source_file", "a"), Seq("a.jsonl|", "a.jsonl|1"))
    val two = batch("a.jsonl" -> "{\"a\":1}\nnull\n", "b.jsonl" -> "{\"a\":2}\n{bad\n")
    check(two, 2, Seq(uri(two, "a.jsonl"), uri(two, "b.jsonl")), 0,
      Seq("_source_file", "a"), Nil)
  }

  test("a scalar root or an array with a scalar element fails its file") {
    val scalar = batch("a.jsonl" -> "{\"a\":1}\n5\n", "b.jsonl" -> "{\"a\":2}\n")
    check(scalar, 2, Seq(uri(scalar, "a.jsonl")), 1, Seq("_source_file", "a"), Seq("b.jsonl|2"))
    val mixed = batch("a.jsonl" -> "[{\"a\":1}, 5]\n", "b.jsonl" -> "{\"a\":2}\n")
    check(mixed, 2, Seq(uri(mixed, "a.jsonl")), 1, Seq("_source_file", "a"), Seq("b.jsonl|2"))
  }

  test("array roots, blank lines and CRLF endings") {
    val dir = batch("a.jsonl" ->
      "[]\n[{\"a\":1},{\"a\":2}]\n\n   \n{\"a\":3}\r\n{\"a\":4}\r\n")
    check(dir, 1, Nil, 4, Seq("_source_file", "a"),
      Seq("a.jsonl|1", "a.jsonl|2", "a.jsonl|3", "a.jsonl|4"))
  }

  test("an array with a null or nested-array element lands as one all-empty row") {
    val dir = batch("a.jsonl" -> "[{\"a\":1}, null]\n", "b.jsonl" -> "{\"a\":2}\n")
    check(dir, 2, Nil, 2, Seq("_source_file", "a"), Seq("a.jsonl|", "b.jsonl|2"))
    // the nested object still widens the schema, as inference does
    val nested = batch("a.jsonl" -> "[[{\"b\":1}]]\n[{\"a\":1},{\"a\":5},null]\n",
      "b.jsonl" -> "{\"a\":2}\n")
    check(nested, 2, Nil, 3, Seq("_source_file", "a", "b"),
      Seq("a.jsonl||", "a.jsonl||", "b.jsonl|2|"))
  }

  test("only the first value of a line lands") {
    val dir = batch("a.jsonl" -> "{\"a\":1} {\"a\":2}\n{\"a\":3}}\n")
    check(dir, 1, Nil, 2, Seq("_source_file", "a"), Seq("a.jsonl|1", "a.jsonl|3"))
  }

  test("a batch of only malformed lines fails every discovered file") {
    val dir = batch("a.jsonl" -> "{bad\n", "b.jsonl" -> "\n\n", "c.jsonl" -> "{worse\n")
    check(dir, 3, Seq("a.jsonl", "b.jsonl", "c.jsonl").map(listed(dir, _)), 0, Nil, Nil)
    // a batch with no data column and no malformed line fails nothing
    val empty = batch("a.jsonl" -> "{}\nnull\n")
    check(empty, 1, Nil, 0, Nil, Nil)
  }

  test("a failing file name with a space and a percent sign") {
    val dir = batch("bad 5%.jsonl" -> "{\"a\":1}\n{oops\n", "ok.jsonl" -> "{\"a\":2}\n")
    check(dir, 2, Seq(uri(dir, "bad 5%.jsonl")), 1, Seq("_source_file", "a"), Seq("ok.jsonl|2"))
    assert(uri(dir, "bad 5%.jsonl").endsWith("/bad%205%25.jsonl"))
  }

  test("gzip-compressed JSONL") {
    val dir = tmpDir("census_gz")
    gz(dir, "good.jsonl.gz", "{\"a\":1,\"b\":\"x\"}\n{\"a\":2}\n")
    gz(dir, "bad.jsonl.gz", "{\"a\":3}\n{nope\n")
    check(dir, 2, Seq(uri(dir, "bad.jsonl.gz")), 2, Seq("_source_file", "a", "b"),
      Seq("good.jsonl.gz|1|x", "good.jsonl.gz|2|"))
  }

  test("a file split across partitions, malformed in its second split") {
    def lines(n: Int, from: Int): String =
      (from until from + n).map(i => s"""{"a":$i,"pad":"${"p" * 12}"}""").mkString("", "\n", "\n")
    val dir = batch(
      "split.jsonl" -> (lines(10, 0) + "{broken\n" + lines(20, 10)),
      "whole.jsonl" -> lines(30, 100))
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "256")
    try {
      val split = dir.resolve("split.jsonl").toString
      assert(spark.read.text(split).rdd.getNumPartitions >= 3)
      val bad = Files.readString(dir.resolve("split.jsonl")).indexOf("{broken")
      assert(bad > 256 && bad < 512, s"malformed line at byte $bad")
      check(dir, 2, Seq(uri(dir, "split.jsonl")), 30, Seq("_source_file", "a", "pad"),
        (100 until 130).map(i => s"whole.jsonl|$i|${"p" * 12}").sorted)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // every job started while `body` runs (the bus is drained on both
  // sides, so none is missed and none leaks in from earlier work)
  private def jobsDuring[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { seen.add(e); () }
    }
    SparkInternals.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      SparkInternals.drainListenerBus(spark)
      (r, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  // runs `body`, asserting that it starts exactly `n` jobs
  private def jobs[T](n: Int, what: String)(body: => T): T = {
    val (r, started) = jobsDuring(body)
    assert(started.size == n, s"$what started jobs ${started.map(_.jobId)}")
    r
  }

  test("one Spark job per batch, clean or corrupt; resolving the data starts none") {
    val clean = batch("a.jsonl" -> "{\"a\":1}\n{\"a\":2}\n", "b.jsonl" -> "{\"b\":\"x\"}\n")
    val corrupt = batch("a.jsonl" -> "{\"a\":1}\n{bad\n", "b.jsonl" -> "{\"b\":\"x\"}\n")
    val cleanDoc = batch("a.json" -> "[{\"a\":1},{\"a\":2}]", "b.json" -> "{\"b\":\"x\"}")
    val corruptDoc = batch("a.json" -> "[{\"a\":1},\n{bad", "b.json" -> "{\"b\":\"x\"}")
    for ((dir, failed) <- Seq(clean -> 0, corrupt -> 1)) {
      val r = jobs(1, "ingestJsonl")(JsonIngestor.ingestJsonl(spark, dir.toString))
      assert(r.report.filesFailed == failed)
      jobs(0, "resolving the data")(r.data.queryExecution.optimizedPlan)
      assert(r.data.count() == r.report.totalRecords)
    }
    for ((dir, failed) <- Seq(cleanDoc -> 0, corruptDoc -> 1)) {
      val r = jobs(1, "ingestBulk")(JsonIngestor.ingestBulk(spark, dir.toString))
      assert(r.report.filesFailed == failed)
      jobs(0, "resolving the data")(r.data.queryExecution.optimizedPlan)
      assert(r.data.count() == r.report.totalRecords)
    }
    for ((dir, quarantined) <- Seq(clean -> 0, corrupt -> 1)) {
      val r = jobs(1, "ingestJsonlRowIsolated")(JsonIngestor.ingestJsonlRowIsolated(spark, dir.toString))
      jobs(0, "resolving the data")(r.data.queryExecution.optimizedPlan)
      jobs(0, "resolving the quarantine")(r.quarantine.queryExecution.optimizedPlan)
      assert(r.data.count() == r.report.totalRecords)
      assert(r.quarantine.count() == quarantined)
    }
  }
}
