package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import scala.collection.concurrent.TrieMap

/** Pluggable connector factory (reference
  * src/connectors/connector_factory.py:33-120 — Factory pattern keyed
  * by a normalized type string, clear unsupported-type error listing
  * the registry, extension by registering a new connector class).
  *
  * Spark-first re-expression: a connector pairs a [[Sinks]] write with
  * the matching read-back, so "switch the sink" is a config string, not
  * a code change — the registry ships `table` (managed catalog table),
  * `parquet` (directory), `bucketed` (co-bucketed managed table for
  * shuffle-free downstream joins) and `jdbc` (batched inserts, the
  * reference's executemany shape). `register` adds custom backends at
  * runtime, exactly the factory's documented extension point.
  *
  * The built-in connectors only parse their params, when created; each
  * write is one call into [[Sinks]], which issues it, counts its rows
  * and refuses `SaveMode.Ignore` (a skipped write has no row count).
  */
trait Connector {
  /** Write `df` to `target`; returns rows written (reference
    * insert_data return, A19 metrics). The built-in connectors count
    * through [[Sinks]] — one pass, no extra count scan.
    */
  def write(df: DataFrame, target: String, mode: SaveMode = SaveMode.Append): Long

  /** Read the sink back as a DataFrame. */
  def read(spark: SparkSession, target: String): DataFrame
}

final class ConnectorError(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

object Connectors {

  type Params = Map[String, String]

  private val registry = TrieMap.empty[String, Params => Connector]

  private def partitionCols(params: Params): Seq[String] =
    params.get("partitionBy").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** Managed catalog table through [[Sinks.saveTable]] (an append to an
    * existing table inserts by name); optional `partitionBy` comma-list
    * in params.
    */
  private def tableConnector(params: Params): Connector = new Connector {
    private val parts = partitionCols(params)
    def write(df: DataFrame, target: String, mode: SaveMode): Long =
      Sinks.saveTable(df, target, parts, mode)
    def read(spark: SparkSession, target: String): DataFrame = spark.table(target)
  }

  private def parquetConnector(params: Params): Connector = new Connector {
    private val parts = partitionCols(params)
    def write(df: DataFrame, target: String, mode: SaveMode): Long =
      Sinks.counted(df, mode)(Sinks.saveParquet(_, target, parts, mode))
    def read(spark: SparkSession, target: String): DataFrame = spark.read.parquet(target)
  }

  /** Co-bucketed managed table; `bucketCols` (comma-list) and
    * `numBuckets` params required — see [[Sinks.saveBucketedTable]].
    */
  private def bucketedConnector(params: Params): Connector = new Connector {
    private val bucketCols = params.getOrElse("bucketCols",
      throw new ConnectorError("bucketed connector needs 'bucketCols'")).split(",").toSeq
    private val numBuckets = params.getOrElse("numBuckets",
      throw new ConnectorError("bucketed connector needs 'numBuckets'")).toInt
    def write(df: DataFrame, target: String, mode: SaveMode): Long =
      Sinks.counted(df, mode)(
        Sinks.saveBucketedTable(_, target, bucketCols, numBuckets, mode = mode))
    def read(spark: SparkSession, target: String): DataFrame = spark.table(target)
  }

  /** JDBC batched insert; `url` required, `batchsize` (an integer)
    * mirrors the reference's executemany batch_size=1000.
    */
  private def jdbcConnector(params: Params): Connector = new Connector {
    private val url = params.getOrElse("url",
      throw new ConnectorError("jdbc connector needs 'url'"))
    private val batch = params.getOrElse("batchsize", "1000").toInt
    def write(df: DataFrame, target: String, mode: SaveMode): Long =
      Sinks.counted(df, mode)(Sinks.saveJdbc(_, url, target, batch, mode))
    def read(spark: SparkSession, target: String): DataFrame =
      spark.read.format("jdbc").option("url", url).option("dbtable", target).load()
  }

  register("table", tableConnector)
  register("parquet", parquetConnector)
  register("bucketed", bucketedConnector)
  register("jdbc", jdbcConnector)

  /** Extension point: add (or override) a connector type at runtime. */
  def register(name: String, factory: Params => Connector): Unit =
    registry.put(normalize(name), factory)

  def supported: Seq[String] = registry.keys.toSeq.sorted

  private def normalize(name: String): String = name.toLowerCase.trim

  /** Create a connector, normalizing the type string; unknown types and
    * factory failures surface as [[ConnectorError]] with the supported
    * list (connector_factory.py:63-82 semantics).
    */
  def create(connType: String, params: Params = Map.empty): Connector = {
    val factory = registry.getOrElse(normalize(connType),
      throw new ConnectorError(
        s"Connector type '$connType' not supported. Supported types: ${supported.mkString(", ")}"))
    try factory(params)
    catch {
      case e: ConnectorError => throw e
      case e: Exception =>
        throw new ConnectorError(s"Failed to create '$connType' connector: ${e.getMessage}", e)
    }
  }
}
