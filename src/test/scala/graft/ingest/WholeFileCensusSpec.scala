package graft.ingest

import java.nio.charset.StandardCharsets.{UTF_16BE, UTF_8}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.operators.Ingestion

/** [[JsonIngestor.ingestBulk]] and [[JsonIngestor.ingestJsonlRowIsolated]]
  * plan their batch with the [[JsonlCensus]]: whole files for bulk,
  * lines for row isolation. Each bulk case pins the census schema to
  * multiLine `spark.read.json`'s; every case pins the report (minus its
  * timing), the landed rows and, for row isolation, the quarantine to
  * the values the reader-driven implementation (multiLine inference, a
  * corrupt-file query and `count()`; a persisted PERMISSIVE scan)
  * produced for the same files.
  */
class WholeFileCensusSpec extends SparkSpec {

  private val Corrupt = JsonIngestor.CorruptCol
  private val Good = "b.json" -> utf8("{\"a\":2}")

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  private def batch(files: (String, Array[Byte])*): Path = {
    val dir = tmpDir("wholefile")
    files.foreach { case (n, c) =>
      if (n.endsWith(".gz")) {
        val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(dir.resolve(n)))
        try out.write(c) finally out.close()
      } else Files.write(dir.resolve(n), c)
    }
    dir
  }

  // the lineage string the reader reports for a file (input_file_name)
  private def uri(dir: Path, name: String): String = dir.resolve(name).toUri.toString

  private def rows(data: org.apache.spark.sql.DataFrame): Seq[String] =
    if (data.columns.isEmpty) Nil
    else data.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Bulk-ingests `dir`; checks the census schema against multiLine
    * inference and the report (minus its timing) and rows against
    * `expected`.
    */
  private def bulk(dir: Path, discovered: Int, failed: Seq[String], records: Long,
      columns: Seq[String], expected: Seq[String]): Unit = {
    val fs = Files.list(dir).iterator.asScala.map(_.toString)
      .filter(f => f.endsWith(".json") || f.endsWith(".json.gz")).toSeq.sorted
    val census = JsonlCensus.run(spark, fs, Corrupt, wholeFile = true)
    val inferred = spark.read.option("multiLine", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", Corrupt).json(fs: _*).schema
    assert(census.schema == inferred)
    val r = JsonIngestor.ingestBulk(spark, dir.toString)
    assert(r.report.copy(elapsedSec = 0) == JsonIngestor.IngestReport(
      discovered, discovered - failed.size, failed.size, records,
      failed.sorted.map(JsonIngestor.FileError(_, "corrupt record in file")), 0))
    assert(r.data.columns.toSeq == columns)
    assert(rows(r.data) == expected)
    assert(expected.size == records)
  }

  test("the reference fixture: two malformed files dropped whole") {
    val dir = Paths.get(Ingestion.FixtureDir)
    bulk(dir, 5, Seq(uri(dir, "bad_missing_brace.json"), uri(dir, "bad_undefined.json")), 6,
      Seq("_source_file", "bio", "customer", "customer_id", "email", "items", "name", "notes",
        "order_id", "priority", "registration_date", "score", "status", "tags", "total",
        "user_id", "vip"),
      Seq("customers.json|||GC-1001|ada.quarry@graft.test||Ada Quarry||||2023-11-02||active||||",
        "customers.json|||GC-1002|bjorn.ledger@graft.test||Bjorn Ledger||||2023-12-19||inactive||||",
        "customers.json|||GC-1003|celine.w@graft.test||Céline Wörld 世界||||2024-02-07||active||||",
        "nested.json||{\"city\":\"Arkfield\",\"name\":\"Bjorn Ledger\"}|||||hold at depot|GO-502|1|||||0.5||false",
        "nested.json||{\"city\":\"Dunwich\",\"name\":\"Ada Quarry\"}|||[{\"price\":949.99,\"product\":\"Drafting table\",\"quantity\":1},{\"price\":24.5,\"product\":\"Square\",\"quantity\":2}]|||GO-501|5||||[\"studio\",\"rush\"]|999.0||true",
        "profile.json|||||||||||87||||gu_9001|"))
  }

  test("a scalar root or an array with a scalar element fails its file") {
    val scalar = batch("a.json" -> utf8("5"), Good)
    bulk(scalar, 2, Seq(uri(scalar, "a.json")), 1, Seq("_source_file", "a"), Seq("b.json|2"))
    val mixed = batch("a.json" -> utf8("[{\"a\":1}, 5]"), Good)
    bulk(mixed, 2, Seq(uri(mixed, "a.json")), 1, Seq("_source_file", "a"), Seq("b.json|2"))
  }

  test("a null root lands as an all-empty row, unless another file is malformed") {
    val one = batch("a.json" -> utf8("null"), Good)
    bulk(one, 2, Nil, 2, Seq("_source_file", "a"), Seq("a.json|", "b.json|2"))
    val two = batch("a.json" -> utf8("null"), Good, "c.json" -> utf8("{bad"))
    bulk(two, 3, Seq(uri(two, "a.json"), uri(two, "c.json")), 1,
      Seq("_source_file", "a"), Seq("b.json|2"))
  }

  test("an array with a null element lands as one all-empty row") {
    val dir = batch("a.json" -> utf8("[{\"a\":1}, null]"), Good)
    bulk(dir, 2, Nil, 2, Seq("_source_file", "a"), Seq("a.json|", "b.json|2"))
  }

  test("empty, whitespace-only and [] files hold no record") {
    val dir = batch("empty.json" -> utf8(""), "blank.json" -> utf8("  \n\t "),
      "none.json" -> utf8("[]"), Good)
    bulk(dir, 4, Nil, 1, Seq("_source_file", "a"), Seq("b.json|2"))
  }

  test("UTF-16BE and UTF-8 with a byte-order mark") {
    val bom16 = Array(0xFE, 0xFF).map(_.toByte)
    val u16 = batch("u16.json" -> (bom16 ++ "[{\"a\":\"é\"}, {\"a\":\"ü\"}]".getBytes(UTF_16BE)),
      Good)
    bulk(u16, 2, Nil, 3, Seq("_source_file", "a"), Seq("b.json|2", "u16.json|é", "u16.json|ü"))
    val bom8 = Array(0xEF, 0xBB, 0xBF).map(_.toByte)
    val u8 = batch("bom.json" -> (bom8 ++ utf8("{\"a\":\"x\"}")), Good)
    bulk(u8, 2, Nil, 2, Seq("_source_file", "a"), Seq("b.json|2", "bom.json|x"))
  }

  test("only the first value of a file lands") {
    val dir = batch("t.json" -> utf8("{\"a\":1} {\"a\":2}"),
      "u.json" -> utf8("[{\"a\":3}]\n{\"a\":4}"), "v.json" -> utf8("{\"a\":5} junk"))
    bulk(dir, 3, Nil, 3, Seq("_source_file", "a"), Seq("t.json|1", "u.json|3", "v.json|5"))
  }

  test("gzip-compressed files named with a space and a percent sign") {
    val dir = batch("bad 5%.json.gz" -> utf8("{\"a\":1"),
      "ok 5%.json.gz" -> utf8("[{\"a\":1},{\"a\":2,\"b\":\"y\"}]"), Good)
    bulk(dir, 3, Seq(uri(dir, "bad 5%.json.gz")), 3, Seq("_source_file", "a", "b"),
      Seq("b.json|2|", "ok%205%25.json.gz|1|", "ok%205%25.json.gz|2|y"))
  }

  test("a batch of only malformed files fails every discovered file") {
    val dir = batch("a.json" -> utf8("{bad"), "b.json" -> utf8("[1,"))
    bulk(dir, 2, Seq("a.json", "b.json").map(n => "file:" + dir.resolve(n)), 0, Nil, Nil)
  }

  test("a pretty-printed nested document") {
    val dir = batch("p.json" -> utf8(
      """[
        |  {
        |    "id": 1,
        |    "tags": ["x", "y"],
        |    "geo": {"lat": 1.5, "lon": -2},
        |    "empty": {},
        |    "none": []
        |  },
        |  {
        |    "id": 2,
        |    "geo": {"lat": null, "lon": 3},
        |    "tags": []
        |  }
        |]
        |""".stripMargin), Good)
    bulk(dir, 2, Nil, 3, Seq("_source_file", "a", "geo", "id", "none", "tags"),
      Seq("b.json|2||||", "p.json||{\"lat\":1.5,\"lon\":-2}|1||[\"x\",\"y\"]", "p.json||{\"lon\":3}|2||"))
  }

  /** Row-isolates `dir`; checks the report (minus its timing), rows and
    * quarantine (`_source_file`, `raw_line`) against the expected ones.
    */
  private def isolated(dir: Path, discovered: Int, quarantined: Seq[(String, Long)], records: Long,
      columns: Seq[String], expected: Seq[String], quarantine: Seq[(String, String)]): Unit = {
    val r = JsonIngestor.ingestJsonlRowIsolated(spark, dir.toString)
    assert(r.report.copy(elapsedSec = 0) == JsonIngestor.IngestReport(
      discovered, discovered, 0, records,
      quarantined.map { case (f, n) => JsonIngestor.FileError(f, s"$n quarantined line(s)") }, 0))
    assert(r.data.columns.toSeq == columns)
    assert(rows(r.data) == expected)
    assert(expected.size == records)
    assert(r.quarantine.columns.toSeq == Seq("_source_file", "raw_line"))
    assert(r.quarantine.collect().map(q => (q.getString(0), q.getString(1))).toSeq.sorted == quarantine)
  }

  private def lines(files: (String, String)*): Path =
    batch(files.map { case (n, c) => n -> utf8(c) }: _*)

  test("row isolation: a null line lands, unless another line is malformed") {
    isolated(lines("a.jsonl" -> "{\"a\":1}\nnull\n"), 1, Nil, 2,
      Seq("_source_file", "a"), Seq("a.jsonl|", "a.jsonl|1"), Nil)
    isolated(lines("a.jsonl" -> "{\"a\":1}\nnull\n", "b.jsonl" -> "{\"a\":2}\n{bad\n"), 2,
      Seq("a.jsonl" -> 1L, "b.jsonl" -> 1L), 2, Seq("_source_file", "a"),
      Seq("a.jsonl|1", "b.jsonl|2"), Seq("a.jsonl" -> "null", "b.jsonl" -> "{bad"))
  }

  test("row isolation: a batch of only malformed lines quarantines them all") {
    // the persisted-scan implementation refused this batch: its only
    // column was the corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    isolated(lines("a.jsonl" -> "{bad\n", "b.jsonl" -> "\n\n", "c.jsonl" -> "{worse\n"), 3,
      Seq("a.jsonl" -> 1L, "c.jsonl" -> 1L), 0, Nil, Nil,
      Seq("a.jsonl" -> "{bad", "c.jsonl" -> "{worse"))
  }

  test("row isolation: blank lines and CRLF endings") {
    isolated(lines("a.jsonl" -> "{\"a\":1}\n\n   \n{bad\n{\"a\":2}\n", "b.jsonl" -> "\n\n{\"a\":3}\n"),
      2, Seq("a.jsonl" -> 1L), 3, Seq("_source_file", "a"),
      Seq("a.jsonl|1", "a.jsonl|2", "b.jsonl|3"), Seq("a.jsonl" -> "{bad"))
    isolated(lines("a.jsonl" -> "{\"a\":1}\r\n{bad\r\n{\"a\":2}\r\n[5]\r\n",
        "c d%.jsonl" -> "{\"b\":\"z\"}\r\n{oops\r\n"),
      2, Seq("a.jsonl" -> 2L, "c%20d%25.jsonl" -> 1L), 3, Seq("_source_file", "a", "b"),
      Seq("a.jsonl|1|", "a.jsonl|2|", "c%20d%25.jsonl||z"),
      Seq("a.jsonl" -> "[5]", "a.jsonl" -> "{bad", "c%20d%25.jsonl" -> "{oops"))
  }

  test("row isolation: a clean batch with an array root") {
    isolated(lines("a.jsonl" -> "{\"a\":1}\n[{\"a\":2},{\"a\":3}]\n"), 1, Nil, 3,
      Seq("_source_file", "a"), Seq("a.jsonl|1", "a.jsonl|2", "a.jsonl|3"), Nil)
  }
}
