package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.SaveMode

import scala.jdk.CollectionConverters._

class ConnectorsSpec extends SparkSpec {
  import spark.implicits._

  private def sample = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")

  test("factory: unknown type lists supported; normalization; extension point") {
    val e = intercept[ConnectorError](Connectors.create("mongodb"))
    assert(e.getMessage.contains("not supported"))
    Connectors.supported.foreach(s => assert(e.getMessage.contains(s)))
    // normalized lookup (connector_factory.py lower/strip semantics)
    Connectors.create("  Parquet ")
    // runtime registration
    Connectors.register("null_sink", _ => new Connector {
      def write(df: org.apache.spark.sql.DataFrame, target: String, mode: SaveMode): Long =
        df.count()
      def read(s: org.apache.spark.sql.SparkSession, target: String) = s.emptyDataFrame
    })
    assert(Connectors.create("null_sink").write(sample, "ignored") == 3L)
  }

  test("SaveMode.Ignore is rejected (a skipped write would deadlock the count)") {
    val e = intercept[IllegalArgumentException](
      Connectors.create("parquet").write(sample, tmpDir("ig").toString, SaveMode.Ignore))
    assert(e.getMessage.contains("Ignore"))
  }

  test("parquet connector roundtrip with written-count") {
    val dir = tmpDir("conn-pq").resolve("out").toString
    val c = Connectors.create("parquet")
    assert(c.write(sample, dir, SaveMode.Overwrite) == 3L)
    assert(c.read(spark, dir).count() == 3L)
  }

  test("table connector roundtrip") {
    val c = Connectors.create("table")
    c.write(sample, "conn_t1", SaveMode.Overwrite)
    assert(c.read(spark, "conn_t1").count() == 3L)
    assert(c.write(sample, "conn_t1") == 3L) // append = insert-into-existing
    assert(c.read(spark, "conn_t1").count() == 6L)
  }

  test("bucketed connector requires params and produces a bucketed table") {
    intercept[ConnectorError](Connectors.create("bucketed"))
    val c = Connectors.create("bucketed", Map("bucketCols" -> "k", "numBuckets" -> "4"))
    c.write(sample, "conn_b1", SaveMode.Overwrite)
    assert(c.read(spark, "conn_b1").count() == 3L)
  }

  test("jdbc connector writes and reads back through Derby") {
    val db = tmpDir("conn-derby").resolve("db").toString
    val c = Connectors.create("jdbc", Map("url" -> s"jdbc:derby:$db;create=true"))
    assert(c.write(sample, "conn_j1", SaveMode.Overwrite) == 3L)
    val back = c.read(spark, "conn_j1").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("table connector appends by name through the existing table's relation") {
    val c = Connectors.create("table")
    spark.sql("DROP TABLE IF EXISTS conn_t2")
    assert(c.write(sample, "conn_t2") == 3L)
    assert(c.read(spark, "conn_t2").count() == 3L)
    val commands = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        commands.add(qe.analyzed.toString): Unit
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val n =
      try c.write(Seq(("d", 4L), ("e", 5L)).toDF("v", "k"), "conn_t2")
      finally {
        org.apache.spark.graft.Bus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert(n == 2L)
    val rows = c.read(spark, "conn_t2").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    val run = commands.asScala.mkString("\n")
    assert(run.contains("InsertIntoHadoopFsRelationCommand") &&
      !run.contains("CreateDataSourceTableAsSelectCommand"), run)
  }

  test("jdbc connector rejects a non-integer batchsize when created") {
    val e = intercept[ConnectorError](
      Connectors.create("jdbc", Map("url" -> "jdbc:derby:memory:unused", "batchsize" -> "lots")))
    assert(e.getMessage.contains("jdbc"), e.getMessage)
  }
}
