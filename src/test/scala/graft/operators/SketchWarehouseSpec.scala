package graft.operators

import graft.SparkSpec
import graft.ingest.FileUtils
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The sketch-warehouse erasure lifecycle: rebuild-on-erasure must
  * leave the live state EXACTLY as if the erased keys were never
  * ingested (sketches can't subtract, so recompute is the only honest
  * forget), touch only affected partitions, and compose across
  * repeated erasure requests.
  */
class SketchWarehouseSpec extends SparkSpec {

  private val conf = spark.sparkContext.hadoopConfiguration

  private def orders = Tables(spark, sf0001).orders
    .withColumn("part", pmod(col("o_custkey"), lit(8)))

  private def versionsOf(path: String, p: Long): Seq[String] =
    FileUtils.listSubdirs(s"$path/parts/p$p", conf)
      .map(d => new org.apache.hadoop.fs.Path(d).getName)
      .filterNot(_.endsWith(".claim"))

  test("erasure rebuilds ONLY affected partitions; state == never-ingested build") {
    import spark.implicits._
    val path = tmpDir("wh_hll").toString
    val fresh = tmpDir("wh_hll_fresh").toString
    try {
      SketchWarehouse.saveHllWarehouse(orders, path, "o_custkey", "part")
      val estBefore = SketchWarehouse.estimateHllWarehouse(spark, path)
        .head.getDouble(0)
      // pick a victim that ALONE holds its register's max (erasing a
      // shadowed key legitimately leaves registers unchanged — HLL's
      // whole point — so the estimate-must-move check needs a key whose
      // contribution is visible)
      val perKey = Sketches.hllRegisterUpdatesBy(orders, "o_custkey", "o_custkey")
        .collect()
        .map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getInt(2)))
      val victim = perKey.filter(_._1 % 8 == 1).collectFirst {
        case (k, reg, rho) if perKey.forall(o =>
          o._1 == k || o._2 != reg || o._3 < rho) => k
      }.get
      SketchWarehouse.eraseFromWarehouse(orders, path, Seq(victim).toDF("k"))
      (0L to 7L).foreach { p =>
        val expected = if (p == 1L) Seq("v0", "v1") else Seq("v0")
        assert(versionsOf(path, p) == expected,
          s"partition $p versions: ${versionsOf(path, p)} — expected $expected")
      }
      // the estimate genuinely forgot the key
      val estAfter = SketchWarehouse.estimateHllWarehouse(spark, path)
        .head.getDouble(0)
      assert(estAfter != estBefore, "erasure left the estimate unchanged")
      // live state cell-for-cell == a warehouse built on the corpus
      // with the key NEVER ingested
      SketchWarehouse.saveHllWarehouse(
        orders.filter(col("o_custkey") =!= victim), fresh, "o_custkey", "part")
      def merged(p: String) = SketchWarehouse.estimateHllWarehouse(spark, p)
        .head.getDouble(0)
      assert(merged(path) == merged(fresh),
        "post-erasure estimate diverged from the never-ingested build")
    } finally Seq(path, fresh).foreach(FileUtils.rmr(_, conf))
  }

  test("repeated erasures compose: a rebuild never resurrects earlier forgotten keys") {
    import spark.implicits._
    val path = tmpDir("wh_hll_compose").toString
    val fresh = tmpDir("wh_hll_compose_fresh").toString
    try {
      SketchWarehouse.saveHllWarehouse(orders, path, "o_custkey", "part")
      // 97 and 105 share partition 1: the SECOND rebuild of p1 must
      // still exclude 97 (manifests union) or it would resurrect it
      SketchWarehouse.eraseFromWarehouse(orders, path, Seq(97L).toDF("k"))
      SketchWarehouse.eraseFromWarehouse(orders, path, Seq(105L).toDF("k"))
      assert(versionsOf(path, 1L) == Seq("v0", "v1", "v2"))
      SketchWarehouse.saveHllWarehouse(
        orders.filter(!col("o_custkey").isin(97, 105)), fresh, "o_custkey", "part")
      val got = SketchWarehouse.estimateHllWarehouse(spark, path).head.getDouble(0)
      val want = SketchWarehouse.estimateHllWarehouse(spark, fresh).head.getDouble(0)
      assert(got == want, "second rebuild resurrected an earlier erased key")
    } finally Seq(path, fresh).foreach(FileUtils.rmr(_, conf))
  }

  test("append lands only NEW partitions and respects earlier erasure manifests") {
    import spark.implicits._
    val path = tmpDir("wh_hll_append").toString
    val fresh = tmpDir("wh_hll_append_fresh").toString
    try {
      SketchWarehouse.saveHllWarehouse(
        orders.filter(col("part") < 6), path, "o_custkey", "part")
      // erase a key whose partition (custkey 6 → p6) is NOT saved yet:
      // the later append of p6 must still exclude it
      SketchWarehouse.eraseFromWarehouse(orders, path, Seq(6L).toDF("k"))
      SketchWarehouse.appendWarehousePartitions(orders, path)
      val v6 = versionsOf(path, 6L)
      // idempotent: a retried append adds nothing for known partitions
      SketchWarehouse.appendWarehousePartitions(orders, path)
      assert(versionsOf(path, 6L) == v6, "append rebuilt a known partition")
      SketchWarehouse.saveHllWarehouse(
        orders.filter(col("o_custkey") =!= 6), fresh, "o_custkey", "part")
      val got = SketchWarehouse.estimateHllWarehouse(spark, path).head.getDouble(0)
      val want = SketchWarehouse.estimateHllWarehouse(spark, fresh).head.getDouble(0)
      assert(got == want,
        "appended warehouse diverged from the never-ingested-minus-erased build")
    } finally Seq(path, fresh).foreach(FileUtils.rmr(_, conf))
  }

  test("retention: retire < cutoff is metadata-only; vacuum drops bytes; late append can't resurrect") {
    val path = tmpDir("wh_hll_ttl").toString
    val fresh = tmpDir("wh_hll_ttl_fresh").toString
    try {
      SketchWarehouse.saveHllWarehouse(orders, path, "o_custkey", "part")
      val v3Before = versionsOf(path, 3L)
      val retired = SketchWarehouse.retireWarehousePartitions(spark, path, 2L)
      assert(retired.sorted == Seq(0L, 1L), s"retired $retired")
      // metadata-only: no partition gained or lost a state version
      (0L to 7L).foreach(p => assert(versionsOf(path, p) == Seq("v0")))
      // readers exclude retired state the moment the manifest commits
      val estRetired = SketchWarehouse.estimateHllWarehouse(spark, path)
        .head.getDouble(0)
      SketchWarehouse.saveHllWarehouse(
        orders.filter(col("part") >= 2), fresh, "o_custkey", "part")
      val want = SketchWarehouse.estimateHllWarehouse(spark, fresh)
        .head.getDouble(0)
      assert(estRetired == want,
        "retired-partition estimate diverged from the retained-only build")
      // vacuum: retired bytes gone, live partitions untouched, estimate
      // unchanged
      SketchWarehouse.vacuumRetired(spark, path)
      Seq(0L, 1L).foreach(p =>
        assert(!FileUtils.exists(s"$path/parts/p$p", conf),
          s"vacuum left retired partition p$p on disk"))
      assert(versionsOf(path, 3L) == v3Before)
      assert(SketchWarehouse.estimateHllWarehouse(spark, path)
        .head.getDouble(0) == estRetired, "vacuum moved the estimate")
      // a late batch carrying a retired value must skip it (durable
      // retention), even though vacuum deleted the dir AND its marker
      val (appended, skipped) =
        SketchWarehouse.appendWarehousePartitions(orders, path)
      assert(appended.isEmpty && skipped.sorted == (0L to 7L),
        s"late append resurrected a retired partition: $appended")
      assert(!FileUtils.exists(s"$path/parts/p0", conf))
      // retiring again is a no-op (already-retired values filtered)
      assert(SketchWarehouse.retireWarehousePartitions(spark, path, 2L).isEmpty)
    } finally Seq(path, fresh).foreach(FileUtils.rmr(_, conf))
  }

  test("retire and vacuumRetired refuse a held save lease and touch nothing") {
    val path = tmpDir("wh_hll_lease").toString
    try {
      SketchWarehouse.saveHllWarehouse(orders, path, "o_custkey", "part")
      FileUtils.touch(s"$path/_SAVING", conf)
      val e = intercept[IllegalArgumentException](
        SketchWarehouse.retireWarehousePartitions(spark, path, 2L))
      assert(e.getMessage.contains("delete the lease"),
        s"error must name the lease remedy: ${e.getMessage}")
      assert(!FileUtils.exists(s"$path/retired", conf),
        "a refused retire must not claim or write a manifest")
      assert(FileUtils.exists(s"$path/_SAVING", conf),
        "a refused retire must leave the holder's lease alone")
      FileUtils.delete(s"$path/_SAVING", recursive = false, conf)
      // lease free: the same call retires and releases the lease it took
      assert(SketchWarehouse.retireWarehousePartitions(spark, path, 2L).sorted ==
        Seq(0L, 1L))
      assert(!FileUtils.exists(s"$path/_SAVING", conf))
      FileUtils.touch(s"$path/_SAVING", conf)
      intercept[IllegalArgumentException](SketchWarehouse.vacuumRetired(spark, path))
      Seq(0L, 1L).foreach(p =>
        assert(FileUtils.exists(s"$path/parts/p$p", conf),
          s"a refused vacuum deleted retired partition p$p"))
      FileUtils.delete(s"$path/_SAVING", recursive = false, conf)
      SketchWarehouse.vacuumRetired(spark, path)
      assert(!FileUtils.exists(s"$path/parts/p0", conf))
      assert(!FileUtils.exists(s"$path/_SAVING", conf))
    } finally FileUtils.rmr(path, conf)
  }

  test("CONCURRENT erasers on a shared partition: neither request is lost") {
    import spark.implicits._
    val path = tmpDir("wh_hll_race").toString
    val fresh = tmpDir("wh_hll_race_fresh").toString
    try {
      SketchWarehouse.saveHllWarehouse(orders, path, "o_custkey", "part")
      // 97 and 105 both live in partition 1: last-writer-wins rebuilds
      // would resurrect the loser's key; the claim-then-read-manifests
      // ordering must not (the winning version always saw the loser's
      // committed manifest)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      try {
        val fs = Seq(97L, 105L).map(k => pool.submit(new Runnable {
          def run(): Unit = {
            barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
            SketchWarehouse.eraseFromWarehouse(orders, path, Seq(k).toDF("k"))
          }
        }))
        fs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      } finally { pool.shutdownNow(); () }
      SketchWarehouse.saveHllWarehouse(
        orders.filter(!col("o_custkey").isin(97, 105)), fresh, "o_custkey", "part")
      val got = SketchWarehouse.estimateHllWarehouse(spark, path).head.getDouble(0)
      val want = SketchWarehouse.estimateHllWarehouse(spark, fresh).head.getDouble(0)
      assert(got == want, "a concurrent eraser's key was resurrected")
    } finally Seq(path, fresh).foreach(FileUtils.rmr(_, conf))
  }

  test("a crashed partial save fails readers loudly (meta commits last)") {
    val path = tmpDir("wh_hll_crash").toString
    try {
      SketchWarehouse.saveHllWarehouse(orders, path, "o_custkey", "part")
      // simulate the crash window: partition states landed, meta did not
      FileUtils.rmr(s"$path/meta", conf)
      val e = intercept[IllegalArgumentException] {
        SketchWarehouse.estimateHllWarehouse(spark, path).collect()
      }
      assert(e.getMessage.contains("never completed"))
    } finally FileUtils.rmr(path, conf)
  }

  test("cms warehouse: merged cells == direct build; erasure == never-ingested, cell for cell") {
    import spark.implicits._
    val li = Tables(spark, sf0001).lineitem
      .withColumn("part", pmod(col("l_partkey"), lit(8)))
    val path = tmpDir("wh_cms").toString
    val fresh = tmpDir("wh_cms_fresh").toString
    try {
      SketchWarehouse.saveCmsWarehouse(li, path, "l_partkey", "part")
      def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
          r.getAs[Number](2).longValue)).toSet
      // partition-wise build + cell-wise sum == the direct corpus build
      assert(cells(SketchWarehouse.mergedCmsWarehouse(spark, path)) ==
        cells(Sketches.countMinCells(li, "l_partkey")),
        "warehouse merge diverged from the direct cell build")
      SketchWarehouse.eraseFromWarehouse(li, path, Seq(7L).toDF("k"))
      SketchWarehouse.saveCmsWarehouse(
        li.filter(col("l_partkey") =!= 7), fresh, "l_partkey", "part")
      assert(cells(SketchWarehouse.mergedCmsWarehouse(spark, path)) ==
        cells(SketchWarehouse.mergedCmsWarehouse(spark, fresh)),
        "post-erasure cells diverged from the never-ingested build")
    } finally Seq(path, fresh).foreach(FileUtils.rmr(_, conf))
  }

  test("quantile warehouse: merged recut == direct sketch; erased survivor evicted") {
    import spark.implicits._
    val o = Tables(spark, sf0001).orders
      .withColumn("part", pmod(col("o_orderkey"), lit(8)))
    val path = tmpDir("wh_qs").toString
    try {
      SketchWarehouse.saveQuantileWarehouse(o, path, "o_orderkey",
        "o_totalprice", "part")
      // partition-disjoint union-recut == the direct whole-corpus cut
      val merged = SketchWarehouse.mergedQuantileWarehouse(spark, path)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val direct = Sketches.quantileSketch(o, "o_orderkey", "o_totalprice")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(merged == direct, "warehouse merge diverged from the direct cut")
      // erase a key that IS a current survivor — the rebuild must evict
      // its (h, kk, v) row from the live state, not just mask it
      val victim = SketchWarehouse.mergedQuantileWarehouse(spark, path)
        .orderBy("h", "kk").select("kk").head.getLong(0)
      SketchWarehouse.eraseFromWarehouse(o, path, Seq(victim).toDF("k"))
      val after = SketchWarehouse.mergedQuantileWarehouse(spark, path)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(!after.exists(_._2 == victim), "erased survivor still in live state")
      val directAfter = Sketches.quantileSketch(
          o.filter(col("o_orderkey") =!= victim), "o_orderkey", "o_totalprice")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(after == directAfter,
        "post-erasure sketch diverged from the never-ingested cut")
    } finally FileUtils.rmr(path, conf)
  }
}
