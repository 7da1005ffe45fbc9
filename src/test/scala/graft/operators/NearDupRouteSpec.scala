package graft.operators

import graft.{Dev, SparkSpec}
import graft.ingest.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Sort

/** `probeNearDupIndex`'s driver-signed route against the distributed
  * kernel it replaces for small batches: row for row and schema for
  * schema over the batch shapes the kernel has opinions about, and the
  * probes' job counts.
  */
class NearDupRouteSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private val vocab = (0 until 300).map(i => s"v$i")
  private def texts(seed: Long, n: Int): Seq[String] = {
    val r = new java.util.Random(seed)
    Seq.fill(n)(Seq.fill(20)(vocab(r.nextInt(vocab.size))).mkString(" "))
  }
  private def near(t: String, at: Int): String =
    t.split(" ").updated(at, "changed").mkString(" ")

  private val maxBucket = 4
  private val fillers = texts(21, 40)
  private val boiler = texts(22, 1).head
  private val short = "two words"
  // fillers, a boilerplate text in maxBucket + 1 docs (its buckets are
  // over the cap), a doc under 3 words, an empty text (no shingles, so
  // every signature slot is Long.MaxValue and the band fold wraps), and
  // two docs that get forgotten
  private val hist: Seq[(Long, String)] =
    (fillers ++ Seq.fill(maxBucket + 1)(boiler) :+ short :+ "")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
  private val forgotten = Seq(3L, 7L)

  private lazy val index: String = {
    val nd = tmpDir("neardup_route").resolve("nd").toString
    Dedup.saveNearDupIndex(hist.take(20).toDF("doc_id", "text"), nd)
    Dedup.appendNearDupIndex(hist.drop(20).toDF("doc_id", "text"), nd)
    Dedup.forgetFromIndex(spark, nd, forgotten.toDF("doc_id"))
    nd
  }

  private def routed(batch: DataFrame): DataFrame =
    Dedup.probeNearDupIndex(spark, index, batch, maxBucket = maxBucket)
  private def kernel(batch: DataFrame): DataFrame =
    Dedup.probeNearDupIndexUpTo(spark, index, batch, 0.5, maxBucket, cap = -1)

  private def rangeSorted(df: DataFrame): Boolean =
    df.queryExecution.logical.exists {
      case s: Sort => s.global
      case _ => false
    }

  // Equal schemas, and equal rows in the same (batch_id, hist_id)
  // order. Rows that tie on both keys (a duplicated batch id) have no
  // defined order in either plan, so ties are compared as multisets.
  private def assertSame(batch: DataFrame, minRows: Int = 1): Seq[Row] = {
    val (got, want) = (routed(batch), kernel(batch))
    assert(!rangeSorted(got) && rangeSorted(want), "each side must run its own route")
    assert(got.schema == want.schema)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    def keys(rs: Seq[Row]) = rs.map(r => (String.valueOf(r.get(0)), r.getLong(1)))
    assert(keys(g) == keys(w))
    assert(g.groupBy(r => (r.get(0), r.get(1))).view.mapValues(_.toSet).toMap ==
      w.groupBy(r => (r.get(0), r.get(1))).view.mapValues(_.toSet).toMap)
    assert(g.size >= minRows, s"expected at least $minRows pairs, got ${g.size}")
    g
  }

  test("the driver-signed route equals the kernel on every batch shape") {
    val f = fillers
    // near copies, an exact copy, a forgotten doc's exact copy, a fresh
    // doc, a boilerplate copy (over-cap buckets only), a doc under 3
    // words, an empty text, a null text, a null id, and an id carried
    // by two rows
    val batch = Seq[(Option[Long], String)](
      (Some(1000L), near(f(0), 4)), (Some(1001L), f(1)), (Some(1002L), f(3)),
      (Some(1003L), texts(23, 1).head), (Some(1004L), boiler), (Some(1005L), short),
      (Some(1006L), null), (None, f(5)), (Some(1007L), near(f(6), 2)),
      (Some(1007L), near(f(8), 9)), (Some(1008L), near(f(10), 0) + " tail"),
      (Some(1009L), ""))
      .toDF("doc_id", "text")
    val rows = assertSame(batch, minRows = 6)
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val shortId = hist.find(_._2 == short).get._1
    assert(pairs((1000L, 0L)) && pairs((1001L, 1L)) && pairs((1005L, shortId)))
    assert(pairs((1007L, 6L)) && pairs((1007L, 8L)), "both rows of a duplicated id verify")
    assert(pairs((1009L, hist.last._1)), "empty texts share the wrapped band keys")
    assert(!pairs.exists(_._2 == 3L), "a forgotten doc is never returned")
    assert(!rows.exists(_.getLong(0) == 1004L), "over-cap buckets yield no pair")
    // non-nullable int ids keep their type and nullability
    assertSame(Seq((1, f(11)), (2, near(f(12), 1))).toDF("doc_id", "text"), minRows = 2)
    // string ids
    assertSame(Seq(("a", f(13)), ("b", near(f(14), 3))).toDF("doc_id", "text"), minRows = 2)
  }

  test("an empty batch returns no rows under the kernel's schema") {
    assert(assertSame(Seq.empty[(Long, String)].toDF("doc_id", "text"), minRows = 0).isEmpty)
  }

  test("a batch of the cap's size is signed on the driver; one doc more runs the kernel") {
    val cap = Dedup.MaxDriverBatch
    def batch(n: Int) = (fillers.indices.map(i => near(fillers(i), i % 20)) ++
      texts(24, n - fillers.size)).zipWithIndex.map { case (t, i) => (5000L + i, t) }
      .toDF("doc_id", "text")
    assertSame(batch(cap), minRows = fillers.size - forgotten.size)
    val over = routed(batch(cap + 1))
    assert(rangeSorted(over), "a batch over the cap must take the kernel")
    assert(over.collect().toSeq == kernel(batch(cap + 1)).collect().toSeq)
  }

  test("a local-batch probe runs at most 5 jobs, a LUT probe at most 3") {
    val root = tmpDir("route_jobs")
    val nd = root.resolve("nd").toString
    val vi = root.resolve("vi").toString
    Dedup.saveNearDupIndex(hist.toDF("doc_id", "text"), nd)
    Dedup.appendNearDupIndex(Seq((900L, texts(25, 1).head)).toDF("doc_id", "text"), nd)
    val r = new java.util.Random(9)
    val vecs = (0L until 40L).map(i => i -> Seq.fill(64)(r.nextGaussian()))
    VectorIndex.saveVectorIndex(vecs.toDF("vec_id", "embedding"), vi)
    val batch = fillers.take(10).zipWithIndex
      .map { case (t, i) => (2000L + i, near(t, i)) }.toDF("doc_id", "text")
    val queries = vecs.slice(20, 25).map { case (i, v) => (1000L + i, v) }
      .toDF("vec_id", "embedding")
    val log = new Dev.JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      def jobs(body: => Unit) = log.record(spark.sparkContext)(body)._3
      // warm: the first run of a plan shape compiles its code
      Dedup.probeNearDupIndex(spark, nd, batch).collect()
      VectorIndex.probeVectorIndex(spark, vi, queries).collect()
      var pairs = Seq.empty[Row]
      val ndJobs = jobs { pairs = Dedup.probeNearDupIndex(spark, nd, batch).collect().toSeq }
      assert(pairs.size >= 8, pairs)
      assert(ndJobs.size <= 5, ndJobs.map(_.label).mkString("\n"))
      var hits = Seq.empty[Row]
      val viJobs = jobs { hits = VectorIndex.probeVectorIndex(spark, vi, queries).collect().toSeq }
      val ranks = hits.map(r => (r.getLong(0), r.getLong(3)))
      assert(ranks == ranks.sorted && ranks.map(_._1).distinct == (1020L to 1024L),
        s"ordered by (qid, rn): $ranks")
      assert(viJobs.size <= 3, viJobs.map(_.label).mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(log)
    FileUtils.rmr(root.toString, conf)
  }
}
