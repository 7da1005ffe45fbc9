package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Line-delimited JSON ingestion ([[JsonIngestor.ingestJsonl]]): the
  * classifier's `.jsonl`/`.ndjson` shape processed with whole-file
  * atomicity (SURVEY.md A8) at line granularity — any corrupt line
  * fails its whole file, good lines included.
  */
class JsonlIngestorSpec extends SparkSpec {

  private def fixtureDir(): java.nio.file.Path = {
    val dir = tmpDir("jsonl")
    writeFile(dir, "events.jsonl",
      """{"device":"mobile","event":"login","session_id":101,"user":"ana"}
        |{"device":null,"event":"click","session_id":102,"user":"bob"}
        |""".stripMargin)
    writeFile(dir, "metrics.ndjson",
      """{"metric":"cpu","value":0.5}
        |{"metric":"mem","value":2.25}
        |{"metric":"cpu","value":0.75}
        |""".stripMargin)
    writeFile(dir, "broken.jsonl",
      """{"device":"x","event":"login","session_id":900,"user":"zed"}
        |{bad line
        |{"device":"y","event":"click","session_id":901,"user":"zed"}
        |""".stripMargin)
    writeFile(dir, "plain.json", """[{"device":"ignored"}]""") // not line-delimited
    dir
  }

  test("whole-file atomicity at line granularity: broken file's good lines drop") {
    val r = JsonIngestor.ingestJsonl(spark, fixtureDir().toString)
    assert(r.report.filesDiscovered == 3) // plain.json excluded by extension
    assert(r.report.filesProcessed == 2)
    assert(r.report.filesFailed == 1)
    assert(r.report.errors.head.file.endsWith("broken.jsonl"))
    assert(r.report.totalRecords == 5)
    // zed's two well-formed lines must NOT survive their file's failure
    assert(r.data.filter(col("user") === "zed").count() == 0)
  }

  test("heterogeneous union, normalization, lineage, sorted columns") {
    val r = JsonIngestor.ingestJsonl(spark, fixtureDir().toString)
    assert(r.data.columns.toSeq == r.data.columns.toSeq.sorted)
    assert(r.data.columns.contains("_source_file"))
    // explicit null normalizes to '' (reference §1.2)
    val bob = r.data.filter(col("user") === "bob").collect().head
    assert(bob.getAs[String]("device") == "")
    // cross-file missing key also '' (bulk-mode deviation, documented)
    val cpu = r.data.filter(col("metric") === "cpu").collect()
    assert(cpu.length == 2)
    assert(cpu.forall(_.getAs[String]("device") == ""))
    assert(cpu.map(_.getAs[String]("value")).sorted.toSeq == Seq("0.5", "0.75"))
    val files = r.data.select("_source_file").distinct().collect().map(_.getString(0)).sorted
    assert(files.toSeq == Seq("events.jsonl", "metrics.ndjson"))
  }

  test("row-level quarantine: bad line diverted, its file's good lines land") {
    val r = JsonIngestor.ingestJsonlRowIsolated(spark, fixtureDir().toString)
    // no whole-file drops — every file contributes its good lines
    assert(r.report.filesFailed == 0 && r.report.filesProcessed == 3)
    assert(r.report.totalRecords == 7) // 2 + 3 + broken's 2 good lines
    assert(r.data.filter(col("user") === "zed").count() == 2)
    // exactly the one malformed line is quarantined, with lineage
    val q = r.quarantine.collect()
    assert(q.length == 1)
    assert(q.head.getAs[String]("_source_file") == "broken.jsonl")
    assert(q.head.getAs[String]("raw_line").startsWith("{bad line"))
    assert(r.report.errors.map(_.file) == Seq("broken.jsonl"))
    assert(r.report.errors.head.error == "1 quarantined line(s)")
    // an all-clean directory quarantines nothing
    val dir = tmpDir("jsonlq")
    writeFile(dir, "a.jsonl", """{"k":1}""" + "\n")
    val clean = JsonIngestor.ingestJsonlRowIsolated(spark, dir.toString)
    assert(clean.quarantine.count() == 0 && clean.report.totalRecords == 1)
  }

  test("all-good and empty directories") {
    val dir = tmpDir("jsonl2")
    writeFile(dir, "a.jsonl", """{"k":1}""" + "\n" + """{"k":2}""" + "\n")
    val r = JsonIngestor.ingestJsonl(spark, dir.toString)
    assert(r.report.filesFailed == 0 && r.report.totalRecords == 2)
    val empty = JsonIngestor.ingestJsonl(spark, tmpDir("jsonl3").toString)
    assert(empty.report.filesDiscovered == 0 && empty.report.totalRecords == 0)
  }
}
