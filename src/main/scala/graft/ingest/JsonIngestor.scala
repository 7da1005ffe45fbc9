package graft.ingest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** JSON directory ingestion with the reference pipeline's semantics
  * (reference src/core/application.py:36-142):
  * discover → parse (continue-on-error, whole-file atomicity) →
  * normalize to TEXT (§1.2 contract) → tag `_source_file` lineage →
  * union heterogeneous schemas with NULL-fill → alphabetical columns.
  *
  * Four execution modes:
  *
  *  - [[ingest]] (exact): per-file schema inference and normalization,
  *    then `unionByName(allowMissingColumns)`. Preserves the reference's
  *    distinction between a JSON `null` value (→ "") and a key missing
  *    from a file entirely (→ SQL NULL) — distinguishable only when
  *    normalization happens before cross-file union, exactly as the
  *    reference normalizes before `all_data.extend`
  *    (application.py:90-96). (Granularity caveat: WITHIN one file,
  *    records missing a key that other records of the same file carry
  *    still normalize to "" — schema inference erases per-record key
  *    sets. Cross-file missing keys stay NULL, which is what the
  *    reference's integration tests observe.) Malformed files are
  *    detected by a
  *    distributed whole-file parse probe (the `json.load` all-or-nothing
  *    semantic, application.py:81-82) and dropped in full, with the
  *    error recorded. Suits directories up to ~10^4 files (one inference
  *    pass per file).
  *
  *  - [[ingestBulk]] (scale): no per-file driver loop; the path for
  *    10^6+ files / 100 TB prefixes, each file one document (2 GiB at
  *    most). Deviations (documented): a key missing from one file is
  *    indistinguishable from an explicit null (both → ""), and a valid
  *    file containing non-object top-level elements counts as failed
  *    (Spark's multiLine parser marks the whole file corrupt) — the
  *    exact mode handles both faithfully.
  *
  *  - [[ingestJsonl]] and [[ingestJsonlRowIsolated]] (line-delimited):
  *    the same per line; the row-isolated mode quarantines a malformed
  *    line instead of failing its file.
  *
  * These three plan a batch with one Spark job, the [[JsonlCensus]]:
  * the schema Spark's reader would infer, and per file the rows it
  * lands and the records it rejects. `data` is a schema-given read that
  * runs nothing until the caller's write.
  *
  * Spark quirks the implementation works around (discovered by test):
  *  - multiLine PERMISSIVE parsing marks the WHOLE file corrupt when any
  *    top-level array element is a non-object → mixed files go through a
  *    Jackson element-extraction fallback in exact mode;
  *  - JSON schema inference prunes fields whose every value is an empty
  *    object/array — the probe records each file's top-level keys and
  *    pruned keys are restored as "" columns (the reference's empty→""
  *    mapping, json_processor.py:90);
  *  - a scan whose only referenced column is the corrupt-record column is
  *    disallowed — the row-isolated data leg keeps a data column in its
  *    filter.
  */
object JsonIngestor {

  final case class FileError(file: String, error: String)

  /** Distributed whole-file probe result: `json.load` outcome, whether
    * any object element carries a field, whether non-object elements
    * appear, the detected encoding (the reference's full fallback
    * chain — [[Encodings]], file_handler.py:133-179), and the file's
    * UNWITNESSED keys (see [[probeFiles]]) — NOT the full key union:
    * the per-file driver manifest is fixed-width flags plus a key list
    * that is empty for every well-typed file, so driver memory scales
    * with file count alone, not schema width × file count.
    */
  final case class FileProbe(
      file: String, error: Option[String], emptyKeys: Seq[String],
      hasRecords: Boolean, hasNonObject: Boolean, encoding: String = "UTF-8")

  /** Run metrics, mirroring the reference's result dict
    * (application.py:125-142).
    */
  final case class IngestReport(
      filesDiscovered: Int,
      filesProcessed: Int,
      filesFailed: Int,
      totalRecords: Long,
      errors: Seq[FileError],
      elapsedSec: Double,
  ) {
    def throughputRps: Double = if (elapsedSec > 0) totalRecords / elapsedSec else 0.0
  }

  final case class IngestResult(data: DataFrame, report: IngestReport)

  private[ingest] val CorruptCol = "_graft_corrupt"

  /** `_source_file` lineage: the last segment of the `_source_path`
    * column (`input_file_name()`).
    */
  private def sourceFile: Column = substring_index(col("_source_path"), "/", -1)

  /** Line-format dispatch on the DECOMPRESSED name: `batch.jsonl.gz`
    * is a jsonl file Spark's reader decompresses natively by extension.
    */
  private def isJsonl(f: String): Boolean = {
    val stem = FileScanner.decompressedName(f)
    stem.endsWith(".jsonl") || stem.endsWith(".ndjson")
  }

  private def basename(path: String): String = {
    val p = path.stripSuffix("/")
    p.substring(p.lastIndexOf('/') + 1)
  }

  private def jsonFiles(spark: SparkSession, dir: String, includePatterns: Seq[String],
      excludePatterns: Seq[String]): Seq[String] =
    FileScanner.discover(dir, Seq("json"), recursive = true, includePatterns,
      excludePatterns, spark.sparkContext.hadoopConfiguration)("json")

  private def emptyReport(t0: Long): IngestReport =
    IngestReport(0, 0, 0, 0L, Nil, (System.nanoTime() - t0) / 1e9)

  /** Normalizes a read with `_source_path` lineage (§1.2) and tags `_source_file`. */
  private def land(read: DataFrame): DataFrame =
    Normalizer.normalizeAll(read.withColumn("_source_file", sourceFile).drop("_source_path"),
      passthrough = Set("_source_file"))

  /** A value subtree carries a TYPE WITNESS if it contains any
    * non-null scalar. Spark's full-ratio JSON inference keeps exactly
    * the witnessed keys — an all-null / all-empty-collection subtree
    * canonicalizes to NullType and is dropped from the schema — so the
    * UNWITNESSED keys are the complete restore-as-"" candidate set
    * (the §1.2 empty-collection → "" mapping), and the witnessed ones
    * never need restoring. (Jackson's `elements` iterates an object
    * node's VALUES, which is what emptiness is about.)
    */
  private def hasWitness(v: JsonNode): Boolean =
    if (v == null || v.isNull) false
    else if (v.isArray || v.isObject) v.elements.asScala.exists(hasWitness)
    else true

  /** (unwitnessed keys, any object element has a field, non-object
    * elements appear). A key is unwitnessed only if NO element
    * witnesses it — the same union Spark's inference runs.
    */
  private def probeNode(root: JsonNode): (Seq[String], Boolean, Boolean) =
    if (root.isObject) {
      val fields = root.fields.asScala.toSeq
      (fields.collect { case e if !hasWitness(e.getValue) => e.getKey },
        fields.nonEmpty, false)
    } else if (root.isArray) {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      val witnessed = scala.collection.mutable.HashSet.empty[String]
      var nonObject = false
      root.elements.asScala.foreach { el =>
        if (el.isObject) el.fields.asScala.foreach { e =>
          seen += e.getKey
          if (hasWitness(e.getValue)) witnessed += e.getKey: Unit
        } else nonObject = true
      }
      (seen.toSeq.filterNot(witnessed), seen.nonEmpty, nonObject)
    } else (Nil, false, true) // scalar root: valid JSON, zero records

  /** One Spark job over the file list: parse each file whole (the exact
    * `json.load` all-or-nothing semantic) and report error/shape/
    * encoding plus the unwitnessed-key restore candidates. What comes
    * back to the driver is one FIXED-WIDTH row per file (the per-file
    * read dispatch below inherently needs that much) — never the full
    * key union per file, which at millions of wide files was the one
    * manifest structure scaling as schema width × file count.
    */
  def probeFiles(spark: SparkSession, files: Seq[String]): Seq[FileProbe] = {
    if (files.isEmpty) return Nil
    val n = math.min(files.size, spark.sparkContext.defaultParallelism)
    spark.sparkContext
      .parallelize(files, n)
      .mapPartitions { it =>
        val mapper = new ObjectMapper()
        val conf = new Configuration()
        val codecs =
          new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
        it.map { f =>
          try {
            val p = new Path(f)
            val raw = p.getFileSystem(conf).open(p)
            // transparent decompression by extension (.gz/.bz2/...) —
            // the same dispatch Spark's own text readers apply, so a
            // .json.gz probes identically to its uncompressed twin
            val in = Option(codecs.getCodec(p))
              .fold[java.io.InputStream](raw)(_.createInputStream(raw))
            val bytes =
              try {
                val out = new java.io.ByteArrayOutputStream()
                val buf = new Array[Byte](64 * 1024)
                var n = in.read(buf)
                while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
                out.toByteArray
              } finally in.close()
            // the reference's full encoding-fallback chain (utf-8-sig,
            // utf-8, latin-1, cp1252, ascii — file_handler.py:146-168);
            // see Encodings for why latin-1 terminates the default walk
            val (text, enc) = Encodings.decode(bytes)
            val root = mapper.readTree(text)
            val (emptyKeys, hasRecords, nonObj) = probeNode(root)
            FileProbe(f, None, emptyKeys, hasRecords, nonObj, enc)
          } catch {
            case e: Exception =>
              FileProbe(f,
                Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(500)), Nil,
                hasRecords = false, hasNonObject = false)
          }
        }
      }
      .collect()
      .toSeq
  }

  /** Fallback reader for files whose top level mixes objects and
    * scalars: extract object elements with Jackson (scalars dropped,
    * reference json_processor.py:57-61) and infer over those.
    */
  private def readObjectElements(spark: SparkSession, file: String): DataFrame = {
    val txt = spark.read.format("text").option("wholetext", "true").load(file)
      .select("value").as[String](Encoders.STRING)
    val elems: Dataset[String] = txt.flatMap { content =>
      val root = new ObjectMapper().readTree(content)
      if (root.isObject) Seq(root.toString)
      else if (root.isArray) root.elements.asScala.filter(_.isObject).map(_.toString).toSeq
      else Nil
    }(Encoders.STRING)
    spark.read.json(elems)
  }

  /** Exact-semantics ingestion (see object doc). `samplingRatio` < 1
    * samples schema inference like the reference's 10-record sample
    * (A13, application.py:209-214) — a speed/completeness dial for
    * wide corpora (witnessed keys outside the sample are dropped,
    * exactly the reference's documented caveat; only all-empty keys
    * are ever restored as "", whatever the ratio).
    */
  def ingest(spark: SparkSession, dir: String,
      includePatterns: Seq[String] = Nil,
      excludePatterns: Seq[String] = FileScanner.DefaultIgnorePatterns,
      samplingRatio: Double = 1.0): IngestResult = {
    val t0 = System.nanoTime()
    val files = jsonFiles(spark, dir, includePatterns, excludePatterns)
    val probes = probeFiles(spark, files)
    val errors = probes.collect { case FileProbe(f, Some(e), _, _, _, _) => FileError(f, e) }
    val good = probes.filter(_.error.isEmpty)

    val perFile = good.flatMap { probe =>
      if (!probe.hasRecords) None // only scalars (or empty array): 0 records
      else {
        val raw =
          if (probe.hasNonObject) readObjectElements(spark, probe.file)
          else spark.read
            .option("multiLine", "true")
            .option("mode", "PERMISSIVE")
            .option("encoding", probe.encoding)
            .option("samplingRatio", samplingRatio.toString)
            .option("columnNameOfCorruptRecord", CorruptCol)
            .json(probe.file)
        val clean =
          if (raw.columns.contains(CorruptCol)) raw.filter(col(CorruptCol).isNull).drop(CorruptCol)
          else raw
        // restore inference-pruned always-empty keys as "" (empty->"");
        // the probe ships only the UNWITNESSED candidates, and the
        // filterNot guard keeps any key inference decided to keep
        val pruned = probe.emptyKeys.filterNot(clean.columns.contains)
        val restored = pruned.foldLeft(clean)((df, k) => df.withColumn(k, lit("")))
        Some(Normalizer.normalizeAll(restored)
          .withColumn("_source_file", lit(basename(probe.file))))
      }
    }

    val unioned = perFile match {
      case Seq() => spark.emptyDataFrame
      case dfs => dfs.reduce(_.unionByName(_, allowMissingColumns = true))
    }
    val data =
      if (unioned.columns.isEmpty) unioned
      else unioned.select(unioned.columns.sorted.map(Normalizer.qcol).toSeq: _*)
    val total = if (data.columns.isEmpty) 0L else data.count()
    IngestResult(data, IngestReport(
      filesDiscovered = files.size,
      filesProcessed = good.size,
      filesFailed = errors.size,
      totalRecords = total,
      errors = errors,
      elapsedSec = (System.nanoTime() - t0) / 1e9))
  }

  /** Line-delimited JSON (`.jsonl`/`.ndjson`) ingestion — the format the
    * reference's extension classifier declares (file_scanner.py:15-30
    * maps them to the json handler) but whose `json.load` would reject
    * (a JSONL file is not one JSON document), so the reference never
    * actually processes it. At scale JSONL is the RIGHT source shape:
    * unlike a multiLine JSON file (one unsplittable parse task per
    * file), line-delimited files split by byte range into parallel
    * tasks, so a single 100 GB file still fans out across a cluster.
    */
  def ingestJsonl(spark: SparkSession, dir: String,
      includePatterns: Seq[String] = Nil,
      excludePatterns: Seq[String] = FileScanner.DefaultIgnorePatterns): IngestResult =
    atomicIngest(spark, dir, includePatterns, excludePatterns, wholeFile = false)

  /** Bulk ingestion (see object doc) of every discovered JSON file. */
  def ingestBulk(spark: SparkSession, dir: String,
      includePatterns: Seq[String] = Nil,
      excludePatterns: Seq[String] = FileScanner.DefaultIgnorePatterns): IngestResult =
    atomicIngest(spark, dir, includePatterns, excludePatterns, wholeFile = true)

  /** The body of [[ingestJsonl]] and (`wholeFile`) [[ingestBulk]].
    * Whole-file atomicity per SURVEY.md A8: a rejected record (malformed
    * text, a scalar or `null` root, an array holding a non-object or
    * `null` element) fails its whole file, good records included, when
    * the batch's schema has the corrupt-record column; a batch with no
    * data column fails every file. Quirk kept from Spark's reader: only
    * malformed text, scalars and scalar-holding arrays add that column,
    * so a `null` record (or `[{..}, null]`) lands as one all-"" row in a
    * batch without them, but fails its file when any OTHER file in the
    * batch has a malformed record.
    */
  private def atomicIngest(spark: SparkSession, dir: String, includePatterns: Seq[String],
      excludePatterns: Seq[String], wholeFile: Boolean): IngestResult = {
    val t0 = System.nanoTime()
    val files = jsonFiles(spark, dir, includePatterns, excludePatterns)
      .filter(f => wholeFile || isJsonl(f))
    if (files.isEmpty) return IngestResult(spark.emptyDataFrame, emptyReport(t0))
    val census = JsonlCensus.run(spark, files, CorruptCol, wholeFile)
    val hasCorrupt = census.schema.fieldNames.contains(CorruptCol)
    val dataSchema = StructType(census.schema.filterNot(_.name == CorruptCol))
    val badFiles: Set[String] =
      if (!hasCorrupt) Set.empty
      else if (dataSchema.isEmpty) files.toSet
      else census.files.collect { case (f, l) if l.rejected > 0 => f }.toSet
    val error = if (wholeFile) "corrupt record in file" else "corrupt line in file"
    val total =
      if (dataSchema.isEmpty) 0L
      else census.files.iterator
        .collect { case (f, l) if !badFiles(f) => l.rows + l.rejected }.sum

    val data =
      if (dataSchema.isEmpty) spark.emptyDataFrame
      else {
        val read = spark.read.schema(dataSchema).option("multiLine", wholeFile).json(files: _*)
          .withColumn("_source_path", input_file_name())
        land(if (badFiles.isEmpty) read else read.filter(!col("_source_path").isin(badFiles.toSeq: _*)))
      }
    IngestResult(data, IngestReport(filesDiscovered = files.size,
      filesProcessed = files.size - badFiles.size, filesFailed = badFiles.size, totalRecords = total,
      errors = badFiles.toSeq.sorted.map(FileError(_, error)), elapsedSec = (System.nanoTime() - t0) / 1e9))
  }

  /** Result of [[ingestJsonlRowIsolated]]: landed good rows, the
    * quarantine table (`_source_file`, `raw_line`) and run metrics.
    */
  final case class RowIsolatedResult(data: DataFrame, quarantine: DataFrame,
      report: IngestReport)

  /** Row-level error isolation — the EXTENSION contract next to the
    * reference's whole-file atomicity (A8, [[ingestJsonl]]): a
    * malformed line is diverted to a QUARANTINE table (source file +
    * raw line) while the same file's good lines still land through the
    * normal §1.2 normalization. Whole-file drop protects a batch
    * warehouse from a half-written file; row-level quarantine is what
    * a streaming/landing pipeline wants instead — one bad log line
    * must not discard a shard, and the quarantine table is the triage
    * queue an operator replays after fixing the producer.
    *
    * Both legs are lazy reads. `data` is the reader's rows with a null
    * corrupt-record column; `quarantine` is a text read of the lines the
    * census rejects, empty when the batch has no corrupt-record column
    * (a `null` line then lands as an all-"" row, as in [[ingestJsonl]]).
    * `filesFailed` stays 0 by construction; `errors` counts each file's
    * quarantined lines.
    */
  def ingestJsonlRowIsolated(spark: SparkSession, dir: String,
      includePatterns: Seq[String] = Nil,
      excludePatterns: Seq[String] = FileScanner.DefaultIgnorePatterns): RowIsolatedResult = {
    val t0 = System.nanoTime()
    val files = jsonFiles(spark, dir, includePatterns, excludePatterns).filter(isJsonl)
    val emptyQuarantine = spark.createDataFrame(Seq.empty[(String, String)]).toDF("_source_file", "raw_line")
    if (files.isEmpty) return RowIsolatedResult(spark.emptyDataFrame, emptyQuarantine, emptyReport(t0))
    val census = JsonlCensus.run(spark, files, CorruptCol)
    val hasCorrupt = census.schema.fieldNames.contains(CorruptCol)
    val dataCols = census.schema.fieldNames.filterNot(_ == CorruptCol)
    val lines = census.files.values
    val total =
      if (dataCols.isEmpty) 0L
      else lines.map(_.rows).sum + (if (hasCorrupt) 0L else lines.map(_.rejected).sum)
    val errors =
      if (!hasCorrupt) Nil
      else census.files.toSeq.collect { case (f, l) if l.rejected > 0 => basename(f) -> l.rejected }
        .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
        .map { case (f, n) => FileError(f, s"$n quarantined line(s)") }

    val data =
      if (dataCols.isEmpty) spark.emptyDataFrame
      else {
        val read = spark.read.schema(census.schema)
          .option("columnNameOfCorruptRecord", CorruptCol).json(files: _*)
          .withColumn("_source_path", input_file_name())
        // the data-column conjunct is always true; it keeps a data column
        // in the scan when the caller's action needs none (a count)
        val keep = Normalizer.qcol(dataCols.head)
        land(if (!hasCorrupt) read
          else read.filter(col(CorruptCol).isNull && (keep.isNull || keep.isNotNull)).drop(CorruptCol))
      }
    val quarantine =
      if (!hasCorrupt) emptyQuarantine
      else JsonlCensus.rejectedLines(spark, files, CorruptCol)
        .select(sourceFile.as("_source_file"), col("raw_line"))
    RowIsolatedResult(data, quarantine, IngestReport(filesDiscovered = files.size,
      filesProcessed = files.size, filesFailed = 0, totalRecords = total, errors = errors,
      elapsedSec = (System.nanoTime() - t0) / 1e9))
  }
}
