package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Driver-side parquet I/O for the engine's BOUNDED state manifests —
  * geometry rows, quantizer tables (nCells + nCodes rows), partition
  * lists. These tables are kilobytes by CONTRACT (their row counts are
  * constants of the lifecycle, not functions of corpus size), yet each
  * `spark.read.parquet(...).collect()` / `df.coalesce(1).write.parquet`
  * costs a full Spark job: scheduler round-trip, task launch, commit
  * protocol. A save+probe lifecycle pays that fixed cost 7+ times, and
  * the state-lifecycle queries are dominated by it (guide §1: measured
  * — 24-94 jobs per query, 1-3 s of driver gap). Manifest-scale state
  * is exactly what table formats read and write driver-side; this does
  * the same, through the Hadoop FileSystem API so any FS the engine
  * runs on (local, HDFS, s3a) serves it.
  *
  * Files written here are STANDARD parquet (the layout Spark's
  * `coalesce(1).write.parquet` produced before: a directory holding one
  * part file), so every existing reader — `spark.read.parquet`, specs,
  * external tools — reads them unchanged; conversely the reader here
  * reads Spark-written directories. Supported column types are the ones
  * the manifests use: int, long, double, boolean, string,
  * array<double>, array<long>.
  */
object TinyParquet {

  /** One manifest column: name + a type tag mirroring the Spark schema
    * the table always had.
    */
  sealed trait Col { def name: String }
  final case class IntCol(name: String) extends Col
  final case class LongCol(name: String) extends Col
  final case class DoubleCol(name: String) extends Col
  final case class BoolCol(name: String) extends Col
  final case class StringCol(name: String) extends Col
  final case class DoubleArrayCol(name: String) extends Col
  final case class LongArrayCol(name: String) extends Col

  private def parquetSchema(cols: Seq[Col]): MessageType = {
    val b = Types.buildMessage()
    cols.foreach {
      case IntCol(n) => b.addField(Types.optional(INT32).named(n))
      case LongCol(n) => b.addField(Types.optional(INT64).named(n))
      case DoubleCol(n) => b.addField(Types.optional(DOUBLE).named(n))
      case BoolCol(n) => b.addField(Types.optional(BOOLEAN).named(n))
      case StringCol(n) => b.addField(Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(n))
      case DoubleArrayCol(n) => b.addField(listOf(DOUBLE, n))
      case LongArrayCol(n) => b.addField(listOf(INT64, n))
    }
    b.named("spark_schema")
  }

  // the standard 3-level LIST shape Spark writes and reads
  private def listOf(prim: PrimitiveType.PrimitiveTypeName, name: String) =
    Types.optionalGroup().as(LogicalTypeAnnotation.listType())
      .addField(Types.repeatedGroup()
        .addField(Types.optional(prim).named("element"))
        .named("list"))
      .named(name)

  /** Write `rows` (one Seq[Any] per row, positionally matching `cols`)
    * as `path/part-00000.parquet`, REPLACING anything at `path` — the
    * `coalesce(1).write.mode("overwrite").parquet(path)` contract
    * without the Spark job.
    */
  def write(path: String, conf: Configuration, cols: Seq[Col],
      rows: Seq[Seq[Any]]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) { fs.delete(dir, true); () }
    fs.mkdirs(dir)
    val schema = parquetSchema(cols)
    val file = new Path(dir, "part-00000.parquet")
    val w = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(schema)
      cols.zip(r).foreach { case (c, v) =>
        c match {
          case IntCol(n) => g.add(n, v.asInstanceOf[Int])
          case LongCol(n) => g.add(n, v.asInstanceOf[Number].longValue())
          case DoubleCol(n) => g.add(n, v.asInstanceOf[Number].doubleValue())
          case BoolCol(n) => g.add(n, v.asInstanceOf[Boolean])
          case StringCol(n) => g.add(n, v.asInstanceOf[String])
          case DoubleArrayCol(n) =>
            val lg = g.addGroup(n)
            v.asInstanceOf[Seq[Double]].foreach(d =>
              lg.addGroup("list").add("element", d))
          case LongArrayCol(n) =>
            val lg = g.addGroup(n)
            v.asInstanceOf[Seq[Long]].foreach(d =>
              lg.addGroup("list").add("element", d))
        }
      }
      w.write(g)
    } finally w.close()
  }

  /** Read every row of the parquet table at `path` (a directory of
    * part files, or a single file), driver-side. Column extraction is
    * by the SAME positional contract as [[write]]: the caller names the
    * columns and types it expects; mismatches fail loudly.
    */
  def read(path: String, conf: Configuration, cols: Seq[Col]): Seq[Seq[Any]] = {
    val p = new Path(path)
    dataFiles(p, p.getFileSystem(conf)).flatMap { f =>
      val r = open(f, conf)
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(schema)
        Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null)
          .flatMap { pages =>
            val rows = io.getRecordReader(pages, new GroupRecordConverter(schema))
            Iterator.fill(pages.getRowCount.toInt)(rows.read())
          }
          .map(g => cols.map(c => extract(g, c))).toVector
      } finally r.close()
    }
  }

  /** Spark schema of the parquet table spread over `paths`, from ONE
    * part-file footer read here on the driver — Spark's own non-merged
    * inference (first data file in path order; Spark's row-metadata
    * key if present, else its parquet→Spark converter), minus the
    * Spark job `spark.read.parquet` schedules to read that one footer.
    * `None` when no path holds a data file.
    */
  private[ingest] def sparkSchema(s: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = s.sparkContext.hadoopConfiguration
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      if (fs.exists(path)) dataFiles(path, fs) else Nil
    }.sortBy(_.toString).headOption.map { f =>
      val r = open(f, conf)
      try ParquetFileFormat.readSchemaFromFooter(new Footer(f, r.getFooter),
        new ParquetToSparkSchemaConverter(s.sessionState.conf))
      finally r.close()
    }
  }

  /** `spark.read.parquet(paths)` for engine-written state, with the
    * schema taken from [[sparkSchema]] instead of an inference job.
    * Paths without a data file fall through to Spark's own read (and
    * its error for a missing or empty table).
    */
  def readSpark(s: SparkSession, paths: String*): DataFrame =
    sparkSchema(s, paths).fold(s.read.parquet(paths: _*))(
      s.read.schema(_).parquet(paths: _*))

  private def dataFiles(p: Path, fs: FileSystem): Seq[Path] =
    if (fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).toSeq.map(_.getPath)
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")
          && !f.getName.startsWith("."))
        .sortBy(_.getName)
    else Seq(p)

  // Opened against the CALLER's Configuration: parquet-java's
  // path-only builders start from a fresh `new Configuration()`,
  // which re-parses Hadoop's XML resources on every manifest read.
  private def open(f: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
      HadoopReadOptions.builder(conf, f).build())

  private def extract(g: Group, c: Col): Any = c match {
    case IntCol(n) => g.getInteger(n, 0)
    case LongCol(n) => g.getLong(n, 0)
    case DoubleCol(n) => g.getDouble(n, 0)
    case BoolCol(n) => g.getBoolean(n, 0)
    case StringCol(n) =>
      if (g.getFieldRepetitionCount(n) == 0) null else g.getString(n, 0)
    case DoubleArrayCol(n) =>
      val lg = g.getGroup(n, 0)
      (0 until lg.getFieldRepetitionCount("list"))
        .map(i => lg.getGroup("list", i).getDouble("element", 0))
    case LongArrayCol(n) =>
      val lg = g.getGroup(n, 0)
      (0 until lg.getFieldRepetitionCount("list"))
        .map(i => lg.getGroup("list", i).getLong("element", 0))
  }
}
