package graft.operators

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ingest.{FileUtils, Generations}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.SparkInternals

/** The persisted indexes' per-call fixed cost, pinned as counts, and
  * the probe kernel's bucket-cap semantics pinned against a reference
  * computed here.
  */
class IndexProbeCostSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private val vocab = (0 until 400).map(i => s"t$i")
  private def texts(seed: Long, n: Int): Seq[String] = {
    val r = new java.util.Random(seed)
    Seq.fill(n)(Seq.fill(24)(vocab(r.nextInt(vocab.size))).mkString(" "))
  }

  // every job started while `body` runs (the bus is drained on both
  // sides, so none is missed and none leaks in from earlier work)
  private def jobsDuring[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { seen.add(e); () }
    }
    SparkInternals.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      SparkInternals.drainListenerBus(spark)
      (r, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  // A job outside any SQL execution is one the engine scheduled while
  // BUILDING the plan — for these probes, parquet schema inference.
  private def outsideQueries(jobs: Seq[SparkListenerJobStart]): Seq[Int] =
    jobs.filter(j => Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).isEmpty)
      .map(_.jobId)

  private def vectors(n: Int, seed: Long): Seq[(Long, Seq[Double])] = {
    val r = new java.util.Random(seed)
    (0L until n.toLong).map(i => i -> Seq.fill(64)(r.nextGaussian()))
  }

  test("probes pay no schema-inference job, collect local queries job-free, cache nothing") {
    val root = tmpDir("probe_cost")
    val nd = root.resolve("nd").toString
    val vi = root.resolve("vi").toString
    val docs = texts(3, 30)
    Dedup.saveNearDupIndex(docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text"), nd)
    Dedup.forgetFromIndex(spark, nd, Seq(4L).toDF("doc_id"))
    val vecs = vectors(40, 5)
    VectorIndex.saveVectorIndex(vecs.toDF("vec_id", "embedding"), vi)
    VectorIndex.forgetFromVectorIndex(spark, vi, Seq(36L).toDF("vec_id"))
    val batch = Seq((100L, docs(1)), (101L, docs(2))).toDF("doc_id", "text")
    val queries = vecs.slice(20, 23).map { case (i, v) => (1000L + i, v) }
      .toDF("vec_id", "embedding")

    // from an empty cache registry, so any entry below is the probes'
    spark.catalog.clearCache()
    val (ndPlan, ndBuild) = jobsDuring(Dedup.probeNearDupIndex(spark, nd, batch))
    assert(ndBuild.isEmpty, s"near-dup probe planning started jobs ${ndBuild.map(_.jobId)}")
    val (pairs, ndRun) = jobsDuring(ndPlan.collect())
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((100L, 1L), (101L, 2L)))
    assert(outsideQueries(ndRun).isEmpty,
      s"near-dup probe collect started non-query jobs ${outsideQueries(ndRun)}")

    // the query set is a LocalRelation: bounding, collecting and sorting
    // it happens on the driver, and the stored state's schemas come
    // from footers — building the LUT probe starts no job at all
    val (viPlan, viBuild) = jobsDuring(VectorIndex.probeVectorIndex(spark, vi, queries))
    assert(viBuild.isEmpty, s"LUT probe planning started jobs ${viBuild.map(_.jobId)}")
    val (hits, viRun) = jobsDuring(viPlan.collect())
    assert(hits.map(_.getLong(0)).toSet == Set(1020L, 1021L, 1022L))
    assert(outsideQueries(viRun).isEmpty,
      s"vector probe collect started non-query jobs ${outsideQueries(viRun)}")

    assert(SparkInternals.cachedEntries(spark) == 0,
      "a probe must leave nothing in the CacheManager")
    FileUtils.rmr(root.toString, conf)
  }

  test("maxBucket on the persisted probe equals a brute-force bucket-capped reference") {
    val maxBucket = 4
    val Seq(over, at, never, spare) = texts(11, 4)
    val fillers = texts(12, 20)
    // over: 5 copies (> maxBucket), hit by the batch; at: exactly
    // maxBucket copies, hit; never: 7 copies the batch shares no band
    // with; spare: 5 copies, one forgotten, so its buckets hold
    // maxBucket LIVE rows — the count must be tombstone-filtered
    val hist = (Seq.fill(5)(over) ++ Seq.fill(maxBucket)(at) ++
      Seq.fill(7)(never) ++ Seq.fill(5)(spare) ++ fillers)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val forgotten = hist.find(_._2 == spare).get._1
    val near = fillers(0).split(" ").updated(10, "changed").mkString(" ")
    val batch = (Seq(over, at, spare, near) ++ texts(13, 2))
      .zipWithIndex.map { case (t, i) => (1000L + i, t) }

    val root = tmpDir("probe_maxbucket")
    val nd = root.resolve("nd").toString
    val bix = root.resolve("batch").toString
    Dedup.saveNearDupIndex(hist.toDF("doc_id", "text"), nd)
    Dedup.forgetFromIndex(spark, nd, Seq(forgotten).toDF("doc_id"))
    // the batch's own bands and shingles, as the engine computes them
    Dedup.saveNearDupIndex(batch.toDF("doc_id", "text"), bix)

    val got = Dedup.probeNearDupIndex(spark, nd, batch.toDF("doc_id", "text"),
      maxBucket = maxBucket).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    def stored(index: String, table: String): DataFrame = {
      val base = Generations.currentBatchesDir(index, conf)
      spark.read.parquet(FileUtils.listSubdirs(base, conf)
        .filter(d => FileUtils.exists(s"$d/_COMMITTED", conf))
        .map(d => s"$d/$table"): _*)
    }
    def bandsOf(index: String) = stored(index, "bands").collect()
      .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Int]("band"), r.getAs[Long]("bh"))))
      .toSeq
    def shinglesOf(index: String) = stored(index, "shingles").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Seq[String]]("shingles").toSet).toMap
    val histBands = bandsOf(nd).filter(_._1 != forgotten)
    val size = histBands.groupBy(_._2).map { case (k, v) => k -> v.size }
    val members = histBands.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val cands = bandsOf(bix).flatMap { case (b, key) =>
      if (size.getOrElse(key, 0) <= maxBucket) members.getOrElse(key, Nil).map(h => (b, h))
      else Nil
    }.distinct
    val (bSh, hSh) = (shinglesOf(bix), shinglesOf(nd))
    val want = cands.map { case (b, h) =>
      val (x, y) = (bSh(b), hSh(h))
      (b, h, (x & y).size.toDouble / (x | y).size)
    }.filter(_._3 >= 0.5).sortBy(p => (p._1, p._2))

    val ids = hist.groupBy(_._2).map { case (t, v) => t -> v.map(_._1).toSet }
    // each planted bucket behaves as designed
    assert(!got.exists(_._1 == 1000L), "an over-cap bucket the batch hits yields no pairs")
    assert(got.filter(_._1 == 1001L).map(_._2).toSet == ids(at))
    assert(got.filter(_._1 == 1002L).map(_._2).toSet == ids(spare) - forgotten)
    assert(!got.exists(p => ids(never).contains(p._2)))
    assert(got.exists(p => p._1 == 1003L && p._2 == hist.find(_._2 == fillers(0)).get._1 &&
      p._3 < 1.0))
    assert(got == want)
    // and the recompute path serves the same kernel
    val inline = Dedup.incrementalNearDups(
      hist.filter(_._1 != forgotten).toDF("doc_id", "text"),
      batch.toDF("doc_id", "text"), maxBucket = maxBucket).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(inline == want)
    FileUtils.rmr(root.toString, conf)
  }

  // src/test/resources/index-fixture: a near-dup and a vector index
  // (saved, appended to, one forget each) written by the engine as it
  // was before probes read schemas from footers, with the probe inputs
  // and the rows those probes returned then.
  test("an index saved before footer-read schemas probes row-identically") {
    val src = java.nio.file.Paths.get(getClass.getResource("/index-fixture").toURI)
    val root = tmpDir("index_fixture")
    val files = java.nio.file.Files.walk(src)
    try files.iterator.asScala.foreach { f =>
      val to = root.resolve(src.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(f, to)
    } finally files.close()
    def expected(name: String): Seq[Seq[String]] =
      java.nio.file.Files.readAllLines(root.resolve(name)).asScala.toSeq
        .filter(_.nonEmpty).map(_.split("\t").toSeq)
    def cells(r: org.apache.spark.sql.Row): Seq[String] =
      (0 until r.length).map(i => r.get(i) match {
        case d: Double => java.lang.Double.toString(d)
        case v => v.toString
      })
    val pairs = Dedup.probeNearDupIndex(spark, root.resolve("neardup").toString,
      spark.read.parquet(root.resolve("batch_docs").toString)).collect().map(cells).toSeq
    assert(pairs == expected("neardup_probe.tsv"))
    val hits = VectorIndex.probeVectorIndex(spark, root.resolve("vector").toString,
      spark.read.parquet(root.resolve("queries").toString), k = 5)
      .collect().map(cells).toSeq
    assert(hits == expected("vector_probe.tsv"))
    FileUtils.rmr(root.toString, conf)
  }
}
