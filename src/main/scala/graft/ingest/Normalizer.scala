package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The row-normalization contract (reference
  * src/processors/json_processor.py:73-104, §1.2 of SURVEY.md): every
  * column becomes TEXT, with
  *  - nested objects/arrays preserved as JSON strings,
  *  - JSON `null` and empty collections mapped to the empty string,
  *  - primitives passed through via string cast.
  *
  * Implemented as pure column expressions so the whole normalization
  * stays inside WholeStageCodegen — no UDF, no row-at-a-time loop.
  *
  * Documented deviations from the Python reference (deliberate; the
  * semantic tests pin the Spark-native behavior):
  *  - JSON-string serialization uses Spark `to_json` (compact `,`/`:`
  *    separators, schema key order) rather than Python `json.dumps`
  *    (`", "`/`": "`, insertion order); round-trip equality holds.
  *  - booleans render `true`/`false` (Python's sqlite3 binding stored
  *    `1`/`0`).
  *  - doubles render in Java notation (`1.0E16`) not Python repr
  *    (`1e+16`).
  */
object Normalizer {

  /** Column reference for a name that came from DATA (CSV headers,
    * JSON keys): backtick-quoted so dots aren't parsed as struct
    * access (embedded backticks escaped by doubling).
    */
  def qcol(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Normalize one column to its TEXT form per the contract. */
  def normalize(c: Column, dt: DataType): Column = dt match {
    // Empty-object columns infer as struct<> — the reference maps {} to
    // "" (falsy short-circuit, json_processor.py:90).
    case s: StructType if s.fields.isEmpty => lit("")
    case _: StructType =>
      when(c.isNull, lit("")).otherwise(to_json(c))
    case _: ArrayType | _: MapType =>
      when(c.isNull || size(c) === 0, lit("")).otherwise(to_json(c))
    case StringType => coalesce(c, lit(""))
    case _ => coalesce(c.cast(StringType), lit(""))
  }

  /** Apply the contract to every data column; columns emerge
    * alphabetically sorted (reference application.py:219: sorted
    * column names), all StringType.
    */
  def normalizeAll(df: DataFrame, passthrough: Set[String] = Set.empty): DataFrame = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      if (passthrough.contains(f.name)) qcol(f.name)
      else normalize(qcol(f.name), f.dataType).as(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** `_source_file` lineage: the last segment of a file path
    * (`input_file_name()`).
    */
  def sourceFile(path: Column): Column = substring_index(path, "/", -1)

  /** Normalizes a read with `_source_path` lineage (§1.2) and tags
    * `_source_file`; columns emerge sorted, as from [[normalizeAll]].
    */
  def land(read: DataFrame): DataFrame =
    normalizeAll(read.withColumn("_source_file", sourceFile(col("_source_path")))
      .drop("_source_path"), passthrough = Set("_source_file"))
}
