package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** End-to-end ingestion tests — ports of the reference's integration
  * suite (tests/integration/test_end_to_end_processing.py and
  * tests/unit/test_application.py; SURVEY.md §5).
  */
class IngestorSpec extends SparkSpec {

  private def fixtureDir(): java.nio.file.Path = {
    val dir = tmpDir("ingest")
    // mirrors the reference's 5-file integration fixture: 3 good files
    // (4 records total), 1 malformed, 1 ignored by extension
    writeFile(dir, "customers.json",
      """[{"customer_id": "C1", "name": "Ann"}, {"customer_id": "C2", "name": "Bob"}]""")
    writeFile(dir, "orders.json",
      """[{"order_id": "O1", "customer_id": "C1", "amount": 10.5}]""")
    writeFile(dir, "edge.json", """{"customer_id": "C3", "extra": null}""")
    writeFile(dir, "malformed.json", """{"broken": [1, 2""")
    writeFile(dir, "notes.txt", "not json")
    dir
  }

  test("continue-on-error: 3 files ok, 4 records, 1 error (test_end_to_end_processing.py:33-73)") {
    for (mode <- Seq("exact", "bulk")) {
      val r = if (mode == "exact") JsonIngestor.ingest(spark, fixtureDir().toString)
              else JsonIngestor.ingestBulk(spark, fixtureDir().toString)
      assert(r.report.filesDiscovered == 4, mode)   // .txt not classified json
      assert(r.report.filesProcessed == 3, mode)
      assert(r.report.filesFailed == 1, mode)
      assert(r.report.totalRecords == 4, mode)
      assert(r.report.errors.head.file.endsWith("malformed.json"), mode)
      assert(r.report.throughputRps > 0, mode)
    }
  }

  test("schema union + NULL-fill + sorted columns + lineage (:75-100)") {
    val r = JsonIngestor.ingest(spark, fixtureDir().toString)
    // union of keys across files, alphabetically sorted
    assert(r.data.columns.toSeq ==
      Seq("_source_file", "amount", "customer_id", "extra", "name", "order_id"))
    // all TEXT
    assert(r.data.schema.fields.forall(_.dataType.typeName == "string"))
    // rows missing a column get NULL (missing key), not ""
    val ann = r.data.filter(col("customer_id") === "C1" && col("name") === "Ann").collect().head
    assert(ann.getAs[String]("order_id") == null)
    // explicit JSON null -> "" (exact mode distinguishes the two)
    val c3 = r.data.filter(col("customer_id") === "C3").collect().head
    assert(c3.getAs[String]("extra") == "")
    assert(c3.getAs[String]("name") == null)
    // lineage column carries the basename
    assert(r.data.select("_source_file").distinct().collect().map(_.getString(0)).sorted.toSeq ==
      Seq("customers.json", "edge.json", "orders.json"))
  }

  test("empty directory -> zero report (test_application.py:87-98)") {
    val r = JsonIngestor.ingest(spark, tmpDir("empty").toString)
    assert(r.report.filesDiscovered == 0)
    assert(r.report.totalRecords == 0)
    assert(r.data.columns.isEmpty)
  }

  test("ignore patterns skip hidden/tmp/bak files (file_scanner.py:33-44)") {
    val dir = tmpDir("ignored")
    writeFile(dir, "good.json", """[{"a": 1}]""")
    writeFile(dir, ".hidden.json", """[{"a": 2}]""")
    writeFile(dir, "backup.json.bak", """[{"a": 3}]""")
    writeFile(dir, "scratch.tmp", """[{"a": 4}]""")
    val r = JsonIngestor.ingest(spark, dir.toString)
    assert(r.report.filesDiscovered == 1)
    assert(r.report.totalRecords == 1)
  }

  test("include patterns whitelist (file_scanner.py:204-221)") {
    val dir = tmpDir("include")
    writeFile(dir, "keep_1.json", """[{"a": 1}]""")
    writeFile(dir, "skip_1.json", """[{"a": 2}]""")
    val r = JsonIngestor.ingest(spark, dir.toString, includePatterns = Seq("keep_*"))
    assert(r.report.filesDiscovered == 1)
    assert(r.data.collect().head.getAs[String]("a") == "1")
  }

  test("recursive discovery (file_scanner.py:145-170)") {
    val dir = tmpDir("rec")
    writeFile(dir, "top.json", """[{"a": 1}]""")
    writeFile(dir, "sub/nested.json", """[{"a": 2}]""")
    val r = JsonIngestor.ingest(spark, dir.toString)
    assert(r.report.totalRecords == 2)
  }

  test("conflicting types across files unify as TEXT (§1.3 all-TEXT schema)") {
    val dir = tmpDir("types")
    writeFile(dir, "ints.json", """[{"v": 42, "w": 1.5}]""")
    writeFile(dir, "strs.json", """[{"v": "forty-two", "w": true}]""")
    val r = JsonIngestor.ingest(spark, dir.toString)
    assert(r.report.totalRecords == 2)
    val vs = r.data.select("v").collect().map(_.getString(0)).sorted.toSeq
    assert(vs == Seq("42", "forty-two"))
    val ws = r.data.select("w").collect().map(_.getString(0)).sorted.toSeq
    assert(ws == Seq("1.5", "true"))
  }

  test("encoding fallback: latin-1 file ingests via ISO-8859-1 (file_handler.py:133-179)") {
    val dir = tmpDir("enc")
    val latin1 = """[{"name": "café", "city": "Zürich"}]"""
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    java.nio.file.Files.write(dir.resolve("latin.json"), latin1)
    writeFile(dir, "utf8.json", """[{"name": "naïve"}]""") // valid UTF-8
    val r = JsonIngestor.ingest(spark, dir.toString)
    assert(r.report.filesFailed == 0)
    assert(r.report.totalRecords == 2)
    val names = r.data.select("name").collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("café", "naïve"))
    assert(r.data.filter(col("city") === "Zürich").count() == 1)
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    val dir = tmpDir("dedup-stream")
    // stage the same events file twice -> every event_id duplicated
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"), dir.resolve("b.parquet"))
    val stream = graft.streaming.EventStreams.readStream(spark, dir.toString)
    graft.streaming.EventStreams.runToMemory(
      graft.streaming.EventStreams.dedupedEvents(stream), "deduped",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val n = spark.table("deduped").count()
    val distinct = spark.read.parquet(s"$sf0001/events.parquet").count()
    assert(n == distinct, s"expected $distinct deduped events, got $n")
  }

  test("scalar-only valid file contributes 0 records but no error") {
    val dir = tmpDir("scalars")
    writeFile(dir, "scalars.json", """[1, 2, "three"]""")
    writeFile(dir, "real.json", """[{"a": 1}]""")
    val r = JsonIngestor.ingest(spark, dir.toString)
    assert(r.report.filesFailed == 0)
    assert(r.report.totalRecords == 1)
  }

  test("compressed extensions classify as their inner format; .json.gz ingests") {
    assert(FileScanner.classify("feed.jsonl.gz").contains("json"))
    assert(FileScanner.classify("FEED.NDJSON.GZ").contains("json"))
    assert(FileScanner.classify("rows.csv.gz").contains("csv"))
    assert(FileScanner.classify("doc.json.bz2").contains("json"))
    assert(FileScanner.classify("blob.gz").isEmpty) // no inner extension
    // the see-through is TEXT-only: a gzipped binary container would
    // classify and then crash its reader on the magic bytes — skip it
    assert(FileScanner.classify("data.parquet.gz").isEmpty)
    assert(FileScanner.classify("data.orc.gz").isEmpty)
    assert(FileScanner.classify("data.avro.bz2").isEmpty)
    assert(FileScanner.classify("data.parquet").contains("parquet")) // uncompressed unaffected
    assert(FileScanner.decompressedName("a.jsonl.gz") == "a.jsonl")
    assert(FileScanner.decompressedName("a.jsonl") == "a.jsonl")
    // a gzip MULTILINE json file runs the probe + ingest path end to
    // end: the probe decompresses via the Hadoop codec factory, the
    // reader via Spark's native extension dispatch
    val dir = tmpDir("ingest_gz")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("orders.json.gz")))
    gz.write("""[{"order_id": "O1", "qty": 2}, {"order_id": "O2", "qty": null}]"""
      .getBytes("UTF-8"))
    gz.close()
    val res = JsonIngestor.ingest(spark, dir.toString)
    assert(res.report.filesProcessed == 1 && res.report.totalRecords == 2L)
    val rows = res.data.orderBy("order_id").collect()
    assert(rows.map(_.getAs[String]("order_id")).toSeq == Seq("O1", "O2"))
    assert(rows.map(_.getAs[String]("qty")).toSeq == Seq("2", ""))
    assert(rows.forall(_.getAs[String]("_source_file") == "orders.json.gz"))
  }

  test("gated compression (.zst/.lz4): classify iff the codec is usable; lz4 ingests e2e") {
    // both gate branches via the injectable seam — environment-proof
    assert(FileScanner.gatedExts(_ => true) == Seq(".zst", ".lz4"))
    assert(FileScanner.gatedExts(_ => false).isEmpty)
    assert(FileScanner.gatedExts(Set(".lz4")) == Seq(".lz4"))
    // the live list is exactly base ++ gate — no hand-maintained drift
    assert(FileScanner.CompressionExts ==
      Seq(".gz", ".bz2", ".deflate") ++ FileScanner.gatedExts(FileScanner.codecUsable))
    // classification FOLLOWS the gate on both suffixes, whatever this
    // classpath provides: usable ⇒ see-through, unusable ⇒ skip
    assert(FileScanner.classify("feed.jsonl.lz4").isDefined ==
      FileScanner.codecUsable(".lz4"))
    assert(FileScanner.classify("feed.jsonl.zst").isDefined ==
      FileScanner.codecUsable(".zst"))
    // lz4 is pure-Java since Hadoop 3.3 (lz4-java, bundled by Spark):
    // usable here, so a .json.lz4 must classify and ingest end to end
    assert(FileScanner.codecUsable(".lz4"), "lz4-java missing from classpath?")
    assert(FileScanner.classify("feed.jsonl.lz4").contains("json"))
    assert(FileScanner.classify("data.parquet.lz4").isEmpty,
      "the see-through stays TEXT-only for gated codecs too")
    val dir = tmpDir("ingest_lz4")
    val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(
        spark.sparkContext.hadoopConfiguration)
      .getCodec(new org.apache.hadoop.fs.Path("probe.lz4"))
    val out = codec.createOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("orders.json.lz4")))
    out.write("""[{"order_id": "O1", "qty": 2}, {"order_id": "O2", "qty": null}]"""
      .getBytes("UTF-8"))
    out.close()
    val res = JsonIngestor.ingest(spark, dir.toString)
    assert(res.report.filesProcessed == 1 && res.report.totalRecords == 2L)
    val rows = res.data.orderBy("order_id").collect()
    assert(rows.map(_.getAs[String]("order_id")).toSeq == Seq("O1", "O2"))
    assert(rows.map(_.getAs[String]("qty")).toSeq == Seq("2", ""))
    assert(rows.forall(_.getAs[String]("_source_file") == "orders.json.lz4"))
  }

  test("probe manifest ships only UNWITNESSED keys; restore still lands them as \"\"") {
    val dir = tmpDir("witness")
    // `gone` is all-null, `hollow` all-empty-collection (both pruned by
    // inference -> must be restored as ""); `kept`/`deep` carry a type
    // witness somewhere and must NOT ride the driver manifest
    writeFile(dir, "mixed.json",
      """[{"kept": "", "gone": null, "hollow": [], "deep": {"x": [1]}},
         |{"kept": "v", "gone": null, "hollow": [], "deep": {"x": []}}]""".stripMargin)
    val probes = JsonIngestor.probeFiles(spark,
      Seq(dir.resolve("mixed.json").toString))
    assert(probes.head.emptyKeys.sorted == Seq("gone", "hollow"),
      s"manifest must carry exactly the unwitnessed keys: ${probes.head}")
    assert(probes.head.hasRecords && !probes.head.hasNonObject)
    val data = JsonIngestor.ingest(spark, dir.toString).data
    assert(data.columns.sorted.toSeq ==
      Seq("_source_file", "deep", "gone", "hollow", "kept"))
    val rows = data.orderBy("kept").collect()
    rows.foreach { r =>
      assert(r.getAs[String]("gone") == "" && r.getAs[String]("hollow") == "",
        s"all-empty keys must be restored as empty string: $r")
    }
  }

  test("exact mode discovers and probes files with the session's Hadoop conf") {
    val dir = tmpDir("session-scheme")
    writeFile(dir, "a.json", """[{"k": "x"}, {"k": "y"}]""")
    writeFile(dir, "b.json", """{"k": "z"}""")
    // a scheme only this session's conf knows: discovery, the probe
    // tasks and Spark's reader must all resolve it. Uncached, as in an
    // executor JVM that has not met the scheme yet: each open resolves
    // it from the conf it is handed, not from a filesystem another
    // caller already built.
    val s = spark.newSession()
    s.conf.set("fs.graftsession.impl", classOf[SessionSchemeFs].getName)
    s.conf.set("fs.graftsession.impl.disable.cache", "true")
    val r = JsonIngestor.ingest(s, s"graftsession://$dir")
    assert(r.report.errors.isEmpty, r.report.errors)
    assert(r.report.filesProcessed == 2 && r.report.totalRecords == 3)
    assert(r.data.select("k").collect().map(_.getString(0)).sorted.toSeq == Seq("x", "y", "z"))
  }
}

/** Local files under the `graftsession:` scheme. Listings carry no
  * POSIX permissions, as an object store's do (Hadoop's local statuses
  * read theirs through a `file:` URI).
  */
class SessionSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getUri: java.net.URI = java.net.URI.create("graftsession:///")
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(st =>
    new FileStatus(st.getLen, st.isDirectory, 1, st.getBlockSize, st.getModificationTime, st.getPath))
}
