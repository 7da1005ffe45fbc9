package graft.ingest

import java.io.CharConversionException
import java.nio.charset.MalformedInputException

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.core.{JsonProcessingException, JsonToken}

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JSONOptionsInRead, JsonInferBridge, JsonInferSchema}
import org.apache.spark.sql.catalyst.util.PermissiveMode
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One Spark job over a JSON batch that learns what the
  * [[JsonIngestor]] modes need before their write: the schema
  * `spark.read.json` would infer, and per file how many rows its
  * accepted records land and how many records the reader rejects.
  *
  * A record is a line, or with `wholeFile` a whole file read as one
  * document (`wholetext`), as the multiLine reader parses it. So a
  * single document must fit in one text value: 2 GiB at most.
  *
  * The schema is Spark's own: every record goes through
  * `JsonInferSchema.inferField`, folded by `compatibleRootType` and
  * finished by `canonicalizeType`, over `spark.read.text` of the same
  * files, as `TextInputJsonDataSource.inferFromDataset` does. The
  * verdicts follow the reader's root converter: an object is 1 row, an
  * array of only objects is one row per element (`[]` is 0), a blank or
  * whitespace-only record is 0. Every other record is rejected:
  * malformed text, a scalar, `null`, or an array holding a non-object
  * or `null` element. Array roots are rare, so they are parsed a second
  * time to be counted.
  */
private[ingest] object JsonlCensus {

  /** One file's records: rows its accepted ones land, records rejected. */
  final case class Lines(rows: Long, rejected: Long)

  /** `files` is keyed by `input_file_name()`, the string the reader's
    * own lineage column carries; a file with no record is absent.
    */
  final case class Result(schema: StructType, files: Map[String, Lines])

  private def options(spark: SparkSession, corruptCol: String): JSONOptionsInRead =
    new JSONOptionsInRead(
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corruptCol),
      spark.conf.get("spark.sql.session.timeZone"), corruptCol)

  def run(spark: SparkSession, files: Seq[String], corruptCol: String,
      wholeFile: Boolean = false): Result = {
    val opts = options(spark, corruptCol)
    val records = spark.read.option("wholetext", wholeFile).text(files: _*)
      .select(col("value"), input_file_name()).queryExecution.toRdd
    val parts = SQLExecution.withSQLConfPropagated(spark.asInstanceOf[ClassicSession]) {
      records.mapPartitions(it => Iterator(partition(it, opts, corruptCol))).collect()
    }
    val merge = JsonInferSchema.compatibleRootType(corruptCol, PermissiveMode)
    val root = parts.flatMap(_._1).foldLeft(StructType(Nil): DataType)(merge)
    val perFile = parts.iterator.flatMap(_._2).foldLeft(Map.empty[String, Lines]) {
      case (m, (f, l)) =>
        val c = m.getOrElse(f, Lines(0L, 0L))
        m.updated(f, Lines(c.rows + l.rows, c.rejected + l.rejected))
    }
    Result(JsonInferBridge.rootSchema(root, opts), perFile)
  }

  /** The lines of `files` the census rejects, as `_source_path`
    * (`input_file_name()`) and `raw_line`: a lazy text read that starts
    * no job until the caller's action.
    */
  def rejectedLines(spark: SparkSession, files: Seq[String], corruptCol: String): DataFrame = {
    val opts = options(spark, corruptCol)
    val lines = spark.read.text(files: _*).select(input_file_name().as("_source_path"),
      col("value").as("raw_line"), col("value").cast(BinaryType).as("bytes"))
    lines.mapPartitions { rows =>
      val judge = new Verdict(opts, corruptCol)
      rows.filter(r => judge(UTF8String.fromBytes(r.getAs[Array[Byte]](2))) < 0)
    }(Encoders.row(lines.schema)).drop("bytes")
  }

  /** One partition's root type (Spark's per-partition `reduceOption`)
    * and its per-file record counts, in scan order.
    */
  private def partition(rows: Iterator[InternalRow], options: JSONOptionsInRead,
      corruptCol: String): (Option[DataType], Seq[(String, Lines)]) = {
    val judge = new Verdict(options, corruptCol)
    val merge = JsonInferSchema.compatibleRootType(corruptCol, PermissiveMode)
    val out = ArrayBuffer.empty[(String, Lines)]
    var root: Option[DataType] = None
    var file: UTF8String = null
    var accepted, rejected = 0L
    def flush(): Unit =
      if (file != null) out += file.toString -> Lines(accepted, rejected): Unit
    rows.foreach { row =>
      val path = row.getUTF8String(1)
      if (!path.equals(file)) {
        flush()
        file = path.clone()
        accepted = 0L
        rejected = 0L
      }
      val n = judge(row.getUTF8String(0))
      root = Some(root.fold(judge.rootType)(merge(_, judge.rootType)))
      if (n < 0) rejected += 1 else accepted += n
    }
    flush()
    (root, out.toSeq)
  }

  /** The reader's verdict on one record, shared by the census and the
    * row-isolated quarantine: `apply` returns the rows the record lands,
    * or -1 when the reader rejects it, and leaves its inferred type in
    * `rootType`. Not thread-safe: one per partition.
    */
  private final class Verdict(options: JSONOptionsInRead, corruptCol: String) {
    private val infer = new JsonInferSchema(options)
    private val factory = options.buildJsonFactory()
    private val corrupt = StructType(Seq(StructField(corruptCol, StringType)))
    var rootType: DataType = corrupt

    def apply(record: UTF8String): Long = {
      val bb = record.getByteBuffer
      val bytes = bb.array
      val off = bb.arrayOffset + bb.position
      val len = bb.remaining
      // the per-record body and error handling of JsonInferSchema.infer
      // in PERMISSIVE mode: a record the parser cannot read is a struct
      // holding only the corrupt-record column
      val first =
        try {
          val p = factory.createParser(bytes, off, len)
          try {
            val t = p.nextToken()
            rootType = infer.inferField(p)
            t
          } finally p.close()
        } catch {
          case _: RuntimeException | _: JsonProcessingException |
              _: MalformedInputException | _: CharConversionException =>
            rootType = corrupt
            JsonToken.NOT_AVAILABLE // no root: rejected below
        }
      first match {
        case null => 0L
        case JsonToken.START_OBJECT => 1L
        case JsonToken.START_ARRAY => arrayRows(bytes, off, len)
        case _ => -1L
      }
    }

    /** Elements of an array root if every one is an object, else -1
      * (the record already parsed once, so it is well-formed).
      */
    private def arrayRows(bytes: Array[Byte], off: Int, len: Int): Long = {
      val p = factory.createParser(bytes, off, len)
      try {
        p.nextToken()
        var k = 0L
        var t = p.nextToken()
        while (t == JsonToken.START_OBJECT) {
          p.skipChildren()
          k += 1
          t = p.nextToken()
        }
        if (t == JsonToken.END_ARRAY) k else -1L
      } finally p.close()
    }
  }
}
