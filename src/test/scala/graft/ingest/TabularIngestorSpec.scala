package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class TabularIngestorSpec extends SparkSpec {

  test("csv/tsv/psv ingest with delimiter inference, lineage, TEXT schema") {
    val dir = tmpDir("csv")
    writeFile(dir, "a.csv", "id,name\n1,Ann\n2,Bob")
    writeFile(dir, "b.tsv", "id\tcity\n3\tParis")
    writeFile(dir, "c.psv", "id|tag\n4|x")
    val r = TabularIngestor.ingestCsv(spark, dir.toString)
    assert(r.report.filesDiscovered == 3)
    assert(r.report.totalRecords == 4)
    assert(r.data.columns.toSeq == Seq("_source_file", "city", "id", "name", "tag"))
    assert(r.data.schema.fields.forall(_.dataType.typeName == "string"))
    val paris = r.data.filter(col("city") === "Paris").collect().head
    assert(paris.getAs[String]("id") == "3")
    assert(paris.getAs[String]("_source_file") == "b.tsv")
  }

  test("csv whole-file error isolation: malformed file dropped, attributed") {
    val dir = tmpDir("csvbad")
    writeFile(dir, "good1.csv", "id,name\n1,Ann\n2,Bob")
    writeFile(dir, "good2.csv", "id,name\n3,Cat")
    // wrong token count + unclosed quote -> corrupt records
    writeFile(dir, "bad.csv", "id,name\n4,Dee,EXTRA,COLS\n\"unclosed,oops")
    val r = TabularIngestor.ingestCsv(spark, dir.toString)
    assert(r.report.filesDiscovered == 3)
    assert(r.report.filesProcessed == 2)
    assert(r.report.filesFailed == 1)
    assert(r.report.errors.map(e => e.file.substring(e.file.lastIndexOf('/') + 1)) == Seq("bad.csv"))
    // good rows intact, nothing salvaged from the bad file
    assert(r.report.totalRecords == 3)
    assert(r.data.select("_source_file").distinct().collect().map(_.getString(0)).sorted
      .toSeq == Seq("good1.csv", "good2.csv"))
  }

  test("csv headers with dots survive ingestion and error probing") {
    val dir = tmpDir("csvdots")
    writeFile(dir, "dotted.csv", "id,price.usd\n1,9.99\n2,1.50")
    writeFile(dir, "bad.csv", "id,price.usd\n3,1.00,EXTRA")
    val r = TabularIngestor.ingestCsv(spark, dir.toString)
    assert(r.report.filesFailed == 1)
    assert(r.report.totalRecords == 2)
    assert(r.data.columns.contains("price.usd"))
    assert(r.data.select(graft.ingest.Normalizer.qcol("price.usd"))
      .collect().map(_.getString(0)).sorted.toSeq == Seq("1.50", "9.99"))
  }

  test("parquet ingest keeps native types by default") {
    val dir = tmpDir("pq")
    import spark.implicits._
    Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      .write.parquet(dir.resolve("t.parquet").toString)
    val r = TabularIngestor.ingestParquet(spark, dir.toString)
    assert(r.report.totalRecords == 2)
    assert(r.data.schema("k").dataType.typeName == "long")
    assert(r.data.columns.contains("_source_file"))
  }

  /** A session whose conf alone knows the `graftsession:` scheme,
    * uncached as in an executor JVM that has not met it yet (see
    * IngestorSpec's exact-mode test).
    */
  private def schemeSession() = {
    val s = spark.newSession()
    s.conf.set("fs.graftsession.impl", classOf[SessionSchemeFs].getName)
    s.conf.set("fs.graftsession.impl.disable.cache", "true")
    s
  }

  test("csv discovery lists with the session's Hadoop conf") {
    val dir = tmpDir("csv-session-scheme")
    writeFile(dir, "a.csv", "id,name\n1,Ann\n2,Bob")
    writeFile(dir, "b.tsv", "id\tcity\n3\tParis")
    val r = TabularIngestor.ingestCsv(schemeSession(), s"graftsession://$dir")
    assert(r.report.filesDiscovered == 2 && r.report.totalRecords == 3)
    assert(r.data.select("_source_file").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a.csv", "a.csv", "b.tsv"))
  }

  test("parquet discovery lists with the session's Hadoop conf") {
    val dir = tmpDir("pq-session-scheme")
    import spark.implicits._
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").write.parquet(dir.resolve("t.parquet").toString)
    val r = TabularIngestor.ingestParquet(schemeSession(), s"graftsession://$dir")
    assert(r.report.totalRecords == 2)
    assert(r.data.select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }
}
