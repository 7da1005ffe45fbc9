package graft.ingest

import java.io.CharConversionException
import java.nio.charset.MalformedInputException

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.core.{JsonFactory, JsonProcessingException, JsonToken}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JSONOptionsInRead, JsonInferBridge, JsonInferSchema}
import org.apache.spark.sql.catalyst.util.PermissiveMode
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One Spark job over a JSONL batch that learns what
  * [[JsonIngestor.ingestJsonl]] needs before its write: the schema
  * `spark.read.json` would infer, and per file how many rows its
  * accepted lines land and how many lines the reader rejects.
  *
  * The schema is Spark's own: every line goes through
  * `JsonInferSchema.inferField`, folded by `compatibleRootType` and
  * finished by `canonicalizeType`, over `spark.read.text` of the same
  * files, as `TextInputJsonDataSource.inferFromDataset` does. The line
  * verdicts follow the reader's root converter: an object is 1 row, an
  * array of only objects is one row per element (`[]` is 0), a blank or
  * whitespace-only line is 0. Every other line is rejected: malformed
  * text, a scalar, `null`, or an array holding a non-object or `null`
  * element. Array roots are rare, so they are parsed a second time to
  * be counted.
  */
private[ingest] object JsonlCensus {

  /** One file's lines: rows its accepted lines land, lines rejected. */
  final case class Lines(rows: Long, rejected: Long)

  /** `files` is keyed by `input_file_name()`, the string the reader's
    * own lineage column carries; a file with no line is absent.
    */
  final case class Result(schema: StructType, files: Map[String, Lines])

  def run(spark: SparkSession, files: Seq[String], corruptCol: String): Result = {
    val options = new JSONOptionsInRead(
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corruptCol),
      spark.conf.get("spark.sql.session.timeZone"), corruptCol)
    val lines = spark.read.text(files: _*).select(col("value"), input_file_name())
      .queryExecution.toRdd
    val parts = SQLExecution.withSQLConfPropagated(spark.asInstanceOf[ClassicSession]) {
      lines.mapPartitions(it => Iterator(partition(it, options, corruptCol))).collect()
    }
    val merge = JsonInferSchema.compatibleRootType(corruptCol, PermissiveMode)
    val root = parts.flatMap(_._1).foldLeft(StructType(Nil): DataType)(merge)
    val perFile = parts.iterator.flatMap(_._2).foldLeft(Map.empty[String, Lines]) {
      case (m, (f, l)) =>
        val c = m.getOrElse(f, Lines(0L, 0L))
        m.updated(f, Lines(c.rows + l.rows, c.rejected + l.rejected))
    }
    Result(JsonInferBridge.rootSchema(root, options), perFile)
  }

  /** One partition's root type (Spark's per-partition `reduceOption`)
    * and its per-file line counts, in scan order.
    */
  private def partition(rows: Iterator[InternalRow], options: JSONOptionsInRead,
      corruptCol: String): (Option[DataType], Seq[(String, Lines)]) = {
    val infer = new JsonInferSchema(options)
    val merge = JsonInferSchema.compatibleRootType(corruptCol, PermissiveMode)
    val corrupt = StructType(Seq(StructField(corruptCol, StringType)))
    val factory = options.buildJsonFactory()
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
      val bb = row.getUTF8String(0).getByteBuffer
      val bytes = bb.array
      val off = bb.arrayOffset + bb.position
      val len = bb.remaining
      var first: JsonToken = null
      // the per-line body and error handling of JsonInferSchema.infer
      // in PERMISSIVE mode: a line the parser cannot read is a struct
      // holding only the corrupt-record column
      val t =
        try {
          val p = factory.createParser(bytes, off, len)
          try {
            first = p.nextToken()
            infer.inferField(p)
          } finally p.close()
        } catch {
          case _: RuntimeException | _: JsonProcessingException |
              _: MalformedInputException | _: CharConversionException =>
            first = JsonToken.NOT_AVAILABLE // no root: rejected below
            corrupt
        }
      root = Some(root.fold(t)(merge(_, t)))
      val n = first match {
        case null => 0L
        case JsonToken.START_OBJECT => 1L
        case JsonToken.START_ARRAY => arrayRows(factory, bytes, off, len)
        case _ => -1L
      }
      if (n < 0) rejected += 1 else accepted += n
    }
    flush()
    (root, out.toSeq)
  }

  /** Elements of an array-root line if every one is an object, else -1
    * (the line already parsed once, so it is well-formed).
    */
  private def arrayRows(factory: JsonFactory, bytes: Array[Byte], off: Int, len: Int): Long = {
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
