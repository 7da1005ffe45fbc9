package graft.sink

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

class SinksSpec extends SparkSpec {

  test("co-bucketed tables join without a shuffle exchange") {
    val t = Tables(spark, sf0001)
    Sinks.saveBucketedTable(t.orders.select("o_orderkey", "o_totalprice"),
      "orders_b", Seq("o_orderkey"), 8, Seq("o_orderkey"))
    Sinks.saveBucketedTable(
      t.lineitem.select("l_orderkey", "l_quantity"),
      "lineitem_b", Seq("l_orderkey"), 8, Seq("l_orderkey"))
    val joined = spark.sql(
      """SELECT /*+ MERGE(orders_b) */ o_orderkey, l_quantity, o_totalprice
         FROM orders_b JOIN lineitem_b ON o_orderkey = l_orderkey""")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free co-bucketed join, got:\n$plan")
    assert(joined.count() > 0)
  }

  test("saveTable returns the observed row count in a single pass") {
    val t = Tables(spark, sf0001)
    val n = Sinks.saveTable(t.region, "region_saved",
      mode = org.apache.spark.sql.SaveMode.Overwrite)
    assert(n == 5L)
    assert(Sinks.tableExists(spark, "region_saved"))
    assert(spark.table("region_saved").count() == 5L)
  }

  test("partitioned table prunes partitions at scan time") {
    val t = Tables(spark, sf0001)
    Sinks.saveParquet(
      t.orders.withColumn("o_year", year(col("o_orderdate"))),
      "/tmp/graft_orders_part", partitionBy = Seq("o_year"))
    val part = spark.read.parquet("/tmp/graft_orders_part")
      .filter(col("o_year") === 1996)
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"),
      s"expected partition filters in:\n$plan")
    // pruned scan reads only the matching partition's rows
    val expected = t.orders.filter(year(col("o_orderdate")) === 1996).count()
    assert(part.count() == expected)
  }

  test("upsertTable appends only absent keys and is replay-idempotent") {
    val t = Tables(spark, sf0001)
    val seed = t.documents.filter(col("doc_id") < 10).withColumn("source", lit("seed"))
    Sinks.saveTable(seed, "sinks_upsert_t",
      mode = org.apache.spark.sql.SaveMode.Overwrite)
    val all = t.documents.filter(col("doc_id") < 25)
    val added = Sinks.upsertTable(spark, "sinks_upsert_t", all, Seq("doc_id"))
    assert(added == 15, s"expected 15 fresh rows, got $added")
    // seeded rows untouched, everything else from the incoming batch
    val bySource = spark.table("sinks_upsert_t")
      .groupBy(col("source") === "seed").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(bySource(true) == 10 && bySource(false) == 15)
    // replaying the same batch adds nothing
    assert(Sinks.upsertTable(spark, "sinks_upsert_t", all, Seq("doc_id")) == 0)
    assert(spark.table("sinks_upsert_t").count() == 25)
  }

  test("approx sketches stay within error bounds of exact answers") {
    val q = graft.Registry.byName("q32_approx_stats").run(spark, sf0001).collect()
    val exact = Tables(spark, sf0001).lineitem
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("parts"),
        expr("percentile(l_extendedprice, 0.5)").as("p50"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    q.foreach { r =>
      val (parts, p50) = exact(r.getString(0))
      assert(math.abs(r.getLong(1) - parts).toDouble / parts < 0.1,
        s"approx distinct off >10%: ${r.getLong(1)} vs $parts")
      assert(math.abs(r.getDouble(3) - p50) / p50 < 0.1,
        s"approx p50 off >10%: ${r.getDouble(3)} vs $p50")
    }
  }

  test("mergeAggregates: creates on first batch, folds later batches exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS merge_aggs_t")
    val rows = (1L to 90L).map(i => (s"k${i % 3}", i))
    def partial(slice: Seq[(String, Long)]) =
      slice.toDF("k", "v").groupBy("k")
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
    // three arbitrary batch splits, including a batch missing key k2
    Sinks.mergeAggregates(spark, "merge_aggs_t", partial(rows.take(10)), Seq("k"))
    Sinks.mergeAggregates(spark, "merge_aggs_t",
      partial(rows.slice(10, 40).filterNot(_._1 == "k2")), Seq("k"))
    Sinks.mergeAggregates(spark, "merge_aggs_t",
      partial(rows.drop(40) ++ rows.slice(10, 40).filter(_._1 == "k2")), Seq("k"))
    val merged = spark.table("merge_aggs_t").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val full = partial(rows).orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(merged.toSeq == full.toSeq)
  }

  test("compactParquet: 64 shards -> 4 files, content preserved exactly") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dir = tmpDir("graft_compact")
    val frag = dir.resolve("frag").toString
    val comp = dir.resolve("comp").toString
    docs.repartition(64).write.parquet(frag)
    val (before, after) = Sinks.compactParquet(spark, frag, comp, targetFiles = 4)
    assert(before == 64 && after == 4, s"expected 64 -> 4, got $before -> $after")
    val a = docs.orderBy("doc_id").collect().map(_.toString)
    val b = spark.read.parquet(comp).orderBy("doc_id").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("overwritePartitionsDynamic replaces only the touched partition") {
    import spark.implicits._
    val out = tmpDir("dyn-overwrite").resolve("t").toString
    Seq((1L, "en", "v1"), (2L, "de", "v1"), (3L, "fr", "v1"))
      .toDF("id", "lang", "tag")
      .write.partitionBy("lang").parquet(out)
    val deFilesBefore = new java.io.File(s"$out/lang=de").listFiles().map(_.getName).toSet
    // restate ONLY en; de and fr must be byte-untouched
    Sinks.overwritePartitionsDynamic(
      Seq((9L, "en", "v2")).toDF("id", "lang", "tag"), out, Seq("lang"))
    val read = spark.read.parquet(out).select("id", "tag", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(read == Set((9L, "v2", "en"), (2L, "v1", "de"), (3L, "v1", "fr")))
    val deFilesAfter = new java.io.File(s"$out/lang=de").listFiles().map(_.getName).toSet
    assert(deFilesAfter == deFilesBefore, "untouched partition files must survive")
    // the session flag is restored (no leak into later static writes)
    assert(!spark.conf.getOption("spark.sql.sources.partitionOverwriteMode").contains("dynamic"))
  }

  test("an append lands by name, returns its count and is visible without a refresh") {
    import spark.implicits._
    val t = "sinks_append_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    assert(Sinks.saveTable(Seq((1L, "a", 1.5)).toDF("id", "v", "x"), t) == 1)
    assert(spark.table(t).count() == 1) // resolves, and caches, the relation
    val commands = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        commands.add(qe.analyzed.toString): Unit
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val n =
      try Sinks.saveTable(Seq((2.5, "b", 2L), (3.5, "c", 3L)).toDF("x", "V", "id"), t)
      finally {
        org.apache.spark.graft.Bus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert(n == 2)
    val rows = spark.table(t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)))
    // an insert into the existing relation, not a create-table-as-select
    val run = commands.asScala.mkString("\n")
    assert(run.contains("InsertIntoHadoopFsRelationCommand") &&
      !run.contains("CreateDataSourceTableAsSelectCommand"), run)
  }

  test("an append fails on an extra or a missing column, and lands nothing") {
    import spark.implicits._
    val t = "sinks_append_cols_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Sinks.saveTable(Seq((1L, "a")).toDF("id", "v"), t)
    val extra = intercept[IllegalArgumentException](
      Sinks.saveTable(Seq((2L, "b", 0)).toDF("id", "v", "w"), t))
    assert(extra.getMessage.contains("columns"), extra.getMessage)
    intercept[IllegalArgumentException](Sinks.saveTable(Seq(3L).toDF("id"), t))
    intercept[IllegalArgumentException](Sinks.saveTable(Seq((4L, "d")).toDF("id", "w"), t))
    assert(spark.table(t).count() == 1)
  }

  test("an append to a partitioned table must name the table's partitioning") {
    import spark.implicits._
    val t = "sinks_append_part_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Sinks.saveTable(Seq((1L, "a", "p")).toDF("id", "v", "k"), t, Seq("k"))
    // same partitioning, columns in another order: lands in its partition
    assert(Sinks.saveTable(Seq(("q", 2L, "b")).toDF("k", "id", "v"), t, Seq("k")) == 1)
    assert(spark.table(t).filter(col("k") === "q").select("id").as[Long].collect().toSeq == Seq(2L))
    val other = intercept[IllegalArgumentException](
      Sinks.saveTable(Seq((3L, "c", "q")).toDF("id", "v", "k"), t, Seq("v")))
    assert(other.getMessage.contains("partition"), other.getMessage)
    // as with saveAsTable, no partitionBy is not the table's partitioning
    intercept[IllegalArgumentException](Sinks.saveTable(Seq((4L, "d", "q")).toDF("id", "v", "k"), t))
    assert(spark.table(t).count() == 2)
  }

  test("saveTable refuses SaveMode.Ignore instead of waiting on a count that never comes") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val t = "sinks_ignore_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Sinks.saveTable(Seq((1L, "a")).toDF("id", "v"), t)
    // a skipped write would block the count forever: bound the wait
    val run = Future(Sinks.saveTable(Seq((2L, "b")).toDF("id", "v"), t,
      mode = org.apache.spark.sql.SaveMode.Ignore))(scala.concurrent.ExecutionContext.global)
    val e = intercept[IllegalArgumentException](Await.result(run, 60.seconds))
    assert(e.getMessage.contains("Ignore"), e.getMessage)
    assert(spark.table(t).count() == 1)
  }

  test("overwritePartitionsDynamic leaves the session's partitionOverwriteMode alone") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val out = tmpDir("dyn-session").resolve("t").toString
    Seq((1L, "en"), (2L, "de")).toDF("id", "lang").write.partitionBy("lang").parquet(out)
    // a job's properties carry the session's SQL settings as they were
    // when it started: what any other writer on the session saw then
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(js.properties.getProperty(key))): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try Sinks.overwritePartitionsDynamic(Seq((9L, "en")).toDF("id", "lang"), out, Seq("lang"))
    finally {
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(!seen.isEmpty)
    assert(seen.asScala.forall(_ != "dynamic"), seen)
    // the write option alone made the overwrite dynamic: de survives
    assert(spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq == Seq(2L, 9L))
  }
}
