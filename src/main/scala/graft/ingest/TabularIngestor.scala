package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CSV/Parquet ingestion for the formats the reference's classifier
  * recognizes but never processes (reference file_scanner.py:15-30
  * maps .csv/.tsv/.psv and .parquet/.pq/.pqt; application.py:60 only
  * ever requests json — this completes the declared surface).
  *
  * Same pipeline contract as JSON: discovery with pattern filters,
  * TEXT normalization, `_source_file` lineage, alphabetically sorted
  * columns. Delimiter is inferred from the extension (.tsv → tab,
  * .psv → pipe). Single distributed scan per format group.
  */
object TabularIngestor {

  private def delimiterFor(ext: String): String = ext match {
    case "tsv" => "\t"
    case "psv" => "|"
    case _ => ","
  }

  private def extOf(path: String): String = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    name.substring(name.lastIndexOf('.') + 1).toLowerCase
  }

  private val CorruptCol = "_graft_corrupt"

  /** CSV ingestion with the same continue-on-error / whole-file
    * atomicity contract as the JSON path (SURVEY.md A8): any record the
    * parser marks corrupt (wrong token count, unclosed quote, a
    * mismatched header making every row misalign) is attributed to its
    * file via `input_file_name()`, the whole file is dropped, and one
    * error entry is recorded — `filesFailed`/`errors` are real, not
    * structurally zero.
    */
  def ingestCsv(spark: SparkSession, dir: String,
      includePatterns: Seq[String] = Nil,
      excludePatterns: Seq[String] = FileScanner.DefaultIgnorePatterns,
      header: Boolean = true): JsonIngestor.IngestResult = {
    val t0 = System.nanoTime()
    val files = FileScanner.discover(dir, Seq("csv"), recursive = true,
      includePatterns, excludePatterns, spark.sessionState.newHadoopConf())("csv")
    if (files.isEmpty)
      return JsonIngestor.IngestResult(spark.emptyDataFrame,
        JsonIngestor.IngestReport(0, 0, 0, 0L, Nil, (System.nanoTime() - t0) / 1e9))
    // one scan per delimiter group (a delimiter is a reader option, not
    // per-file state)
    val groups = files.groupBy(f => delimiterFor(extOf(f)))
    val badFiles = scala.collection.mutable.SortedSet.empty[String]
    var total = 0L
    val parts = groups.map { case (delim, fs) =>
      // pass 1 fixes the column set (all-string; TEXT contract anyway);
      // pass 2 re-reads with the corrupt-record column appended so
      // malformed rows are detectable and attributable
      val inferred = spark.read
        .option("header", header.toString).option("sep", delim).csv(fs: _*).schema
      val raw = spark.read
        .option("header", header.toString)
        .option("sep", delim)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CorruptCol)
        .schema(inferred.add(CorruptCol, org.apache.spark.sql.types.StringType))
        .csv(fs: _*)
        .withColumn("_source_path", input_file_name())
      val dataCols = inferred.fieldNames
      // per-file corrupt and row counts in one aggregation — the only
      // pass over the rows before the sink. Every data column is
      // referenced: CSV column pruning makes the parser only tokenize
      // required fields, which silently skips token-count validation —
      // a pruned scan would miss the very malformation being probed
      // (and Spark refuses a scan referencing only the corrupt column).
      // Columns are backtick-quoted (headers may contain dots) and the
      // counts are read positionally (a data column could share any
      // alias we invent).
      val (bad, good) = raw.groupBy(col("_source_path"))
        .agg(sum(when(col(CorruptCol).isNotNull, 1L).otherwise(0L)),
          count(lit(1)) +: dataCols.map(c => count(Normalizer.qcol(c))).toSeq: _*)
        .collect()
        .partition(_.getLong(1) > 0) // index 1 = the corrupt-row count
      badFiles ++= bad.map(_.getString(0))
      total += good.map(_.getLong(2)).sum // index 2 = the file's row count
      val clean0 = raw.drop(CorruptCol)
      val clean =
        if (badFiles.isEmpty) clean0
        else clean0.filter(!col("_source_path").isin(badFiles.toSeq: _*))
      Normalizer.land(clean)
    }.toSeq
    val data0 = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    val data = data0.select(data0.columns.sorted.map(Normalizer.qcol).toSeq: _*)
    val errors = badFiles.toSeq.map(f =>
      JsonIngestor.FileError(f, "malformed CSV record in file"))
    JsonIngestor.IngestResult(data, JsonIngestor.IngestReport(
      files.size, files.size - badFiles.size, badFiles.size, total, errors,
      (System.nanoTime() - t0) / 1e9))
  }

  def ingestParquet(spark: SparkSession, dir: String,
      includePatterns: Seq[String] = Nil,
      excludePatterns: Seq[String] = FileScanner.DefaultIgnorePatterns,
      normalizeText: Boolean = false): JsonIngestor.IngestResult = {
    val t0 = System.nanoTime()
    val files = FileScanner.discover(dir, Seq("parquet"), recursive = true,
      includePatterns, excludePatterns, spark.sessionState.newHadoopConf())("parquet")
    if (files.isEmpty)
      return JsonIngestor.IngestResult(spark.emptyDataFrame,
        JsonIngestor.IngestReport(0, 0, 0, 0L, Nil, (System.nanoTime() - t0) / 1e9))
    val raw = spark.read.option("mergeSchema", "true").parquet(files: _*)
      .withColumn("_source_file", Normalizer.sourceFile(input_file_name()))
    // parquet is already typed: TEXT normalization only on request
    // (fidelity mode); default keeps native types for query performance
    val df = if (normalizeText) Normalizer.normalizeAll(raw, passthrough = Set("_source_file"))
             else raw
    val data = df.select(df.columns.sorted.map(Normalizer.qcol).toSeq: _*)
    val total = data.count()
    JsonIngestor.IngestResult(data, JsonIngestor.IngestReport(
      files.size, files.size, 0, total, Nil, (System.nanoTime() - t0) / 1e9))
  }
}
