package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, VectorIndex}

/** Setup saves a near-duplicate index over a text corpus and a vector
  * index over 64-d embeddings. Every op appends one batch to both
  * indexes and probes both; every third op also forgets ids from both and
  * vacuums both. All other ops do the same work, so the median is an
  * append-and-probe op, and the maintenance shows in the rates
  * (`ops_per_s`, `records_per_s`), which every window of three ops pays.
  */
final class IndexMaintain(spark: SparkSession, seed: Long, root: Path)
    extends Workload(spark, seed, root) {

  val CorpusDocs = 2000
  val BatchDocs = 20
  val ProbeDocs = 10
  val ProbeVectors = 5
  val ForgetPerOp = 5
  val K = 5
  /** The vector index pins its quantizers to the lowest ids: the first
    * 16 vectors are the cell centroids and the next 16 give the residual
    * codebook (its defaults nCells = nCodes = 16). It refuses to forget
    * them. A codebook vector is reconstructed exactly, so a query equal
    * to it scores 0 against it and nothing else can rank above it: for
    * those queries the top-k is determined and is checked. For copies of
    * other vectors IVF-PQ is approximate, and they only count toward
    * recall.
    */
  val TrainIds = 32L
  val ExactIds: Seq[Long] = 16L until 32L
  /** The first probes of each kind have a determined answer and are
    * checked: exact copies of stored documents, which share every band
    * with their source, and copies of codebook vectors. The rest are
    * approximate matches and count toward recall: the index's LSH can
    * miss a copy with one word changed (Jaccard 0.76) and has done so.
    */
  val ExactProbes = 2
  val QueryIdBase = 1000000000L

  val MaintainEvery = 3
  /** `probeNearDupIndex`'s default verification threshold. */
  val Threshold = 0.5

  private var nd = ""
  private var vi = ""
  private val texts = mutable.HashMap.empty[Long, Seq[String]]
  private val boiler = mutable.HashSet.empty[Long]
  private val liveDocs = mutable.ArrayBuffer.empty[Long]
  private val vectors = mutable.HashMap.empty[Long, Array[Double]]
  private val group = mutable.HashMap.empty[Long, Long] // vector id -> first id with its value
  private val liveVecs = mutable.ArrayBuffer.empty[Long]
  private val forgottenDocs = mutable.HashSet.empty[Long]
  private val forgottenVecs = mutable.HashSet.empty[Long]
  private var corpusBytes = 0L
  private var nextDoc = 0L
  private var nextVec = 0L
  private var ndPlanted = 0L
  private var ndFound = 0L
  private var vPlanted = 0L
  private var vFound = 0L

  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  private def docsDf(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (i, t) => Row(i, t) }: _*), docSchema)

  private def vecsDf(rows: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (i, v) => Row(i, v.toSeq) }: _*), vecSchema)

  /** `n` new documents: one in ten a near-copy of a live document, a few
    * boilerplate, the rest fresh text.
    */
  private def newDocs(r: java.util.SplittableRandom, n: Int): Seq[(Long, String)] =
    (0 until n).map { _ =>
      val id = nextDoc
      nextDoc += 1
      val pick = r.nextInt(100)
      val words =
        if (pick < 10 && liveDocs.nonEmpty) Gen.nearCopy(r, texts(liveDocs(r.nextInt(liveDocs.size))))
        else if (pick < 13) { boiler += id; Gen.boilerplate(r) }
        else Gen.freshText(r)
      texts(id) = words
      liveDocs += id
      val t = words.mkString(" ")
      corpusBytes += t.getBytes(UTF_8).length
      id -> t
    }

  /** `n` new vectors, one in twenty an exact copy of a live vector. */
  private def newVecs(r: java.util.SplittableRandom, n: Int): Seq[(Long, Array[Double])] =
    (0 until n).map { _ =>
      val id = nextVec
      nextVec += 1
      val v =
        if (r.nextInt(20) == 0 && liveVecs.nonEmpty) {
          val src = liveVecs(r.nextInt(liveVecs.size))
          group(id) = group(src)
          vectors(src)
        } else { group(id) = id; Gen.vector(r) }
      vectors(id) = v
      liveVecs += id
      corpusBytes += 8L * v.length
      id -> v
    }

  def setup(rep: Int): Unit = {
    Seq(texts, boiler, vectors, group, forgottenDocs, forgottenVecs).foreach(_.clear())
    liveDocs.clear()
    liveVecs.clear()
    corpusBytes = 0L
    nextDoc = 0L
    nextVec = 0L
    ndPlanted = 0L; ndFound = 0L; vPlanted = 0L; vFound = 0L
    val dir = root.resolve(s"setup-$rep")
    nd = dir.resolve("neardup").toString
    vi = dir.resolve("vector").toString
    val r = Gen.rng(seed, 7, 0)
    val docs = newDocs(r, CorpusDocs)
    val vecs = newVecs(r, CorpusDocs)
    Dedup.saveNearDupIndex(docsDf(docs), nd)
    VectorIndex.saveVectorIndex(vecsDf(vecs), vi)
  }

  /** Probe cost grows with the batches appended since the last vacuum,
    * so latency cycles with period [[MaintainEvery]]. The untimed ops run
    * through two vacuums (ops 0 and 3), so every path is warm and timing
    * starts at the beginning of a cycle.
    */
  override def warmupOps: Int = MaintainEvery + 1

  def cycle: Int = MaintainEvery

  def op(i: Long, tr: Tracer): Op = tr.span("op.index", i) {
    val parts = Seq(append(i, tr), probe(i, tr)) ++
      (if (i % MaintainEvery == 0) Seq(maintain(i, tr)) else Nil)
    Op(parts.last.kind, parts.map(_.ms).sum, parts.map(_.records).sum,
      parts.map(p => s"${p.kind}_ms" -> p.ms).toMap)
  }

  private def append(i: Long, tr: Tracer): Op = {
    val r = Gen.rng(seed, 8, i)
    val docs = docsDf(newDocs(r, BatchDocs))
    val vecs = vecsDf(newVecs(r, BatchDocs))
    val (_, ms) = timed {
      tr.span("operators.neardup_append", i)(Dedup.appendNearDupIndex(docs, nd))
      tr.span("operators.vector_append", i)(VectorIndex.appendVectorIndex(vecs, vi))
    }
    Op("append", ms, 2L * BatchDocs)
  }

  private def probe(i: Long, tr: Tracer): Op = {
    val r = Gen.rng(seed, 9, i)
    val sources = liveDocs.filterNot(boiler)
    val qDocs = (0 until ProbeDocs).map { j =>
      val src = sources(r.nextInt(sources.size))
      val words = if (j < ExactProbes) texts(src) else Gen.nearCopy(r, texts(src))
      (QueryIdBase + i * 100 + j, src, words)
    }
    val qVecs = (0 until ProbeVectors).map { j =>
      val src =
        if (j < ExactProbes) ExactIds(r.nextInt(ExactIds.size))
        else liveVecs(r.nextInt(liveVecs.size))
      (QueryIdBase + i * 100 + ProbeDocs + j, src)
    }
    val ((pairs, hits), ms) = timed {
      val pairs = tr.span("operators.neardup_probe", i)(
        Dedup.probeNearDupIndex(spark, nd, docsDf(qDocs.map(q => q._1 -> q._3.mkString(" "))))
          .collect().toSeq)
      val hits = tr.span("operators.vector_probe", i)(
        VectorIndex.probeVectorIndex(spark, vi, vecsDf(qVecs.map(q => q._1 -> vectors(q._2))), k = K)
          .collect().toSeq)
      (pairs, hits)
    }
    tr.span("bench.check", i) {
      val found = pairs.map(p => (p.getAs[Long]("batch_id"), p.getAs[Long]("hist_id"))).toSet
      qDocs.zipWithIndex.foreach { case ((q, src, _), j) =>
        if (j < ExactProbes) {
          if (!found((q, src))) failures += s"op $i probe: exact copy $q of doc $src not found"
        } else {
          ndPlanted += 1
          if (found((q, src))) ndFound += 1
        }
      }
      // every pair returned is a true near-duplicate, with its exact Jaccard
      val query = qDocs.map(q => q._1 -> q._3).toMap
      pairs.foreach { p =>
        val (q, h) = (p.getAs[Long]("batch_id"), p.getAs[Long]("hist_id"))
        val want = IndexMaintain.jaccard(query(q), texts(h))
        if (want < Threshold || math.abs(p.getAs[Double]("jaccard") - want) > 1e-12)
          failures += s"op $i probe: pair ($q, $h) has Jaccard ${p.getAs[Double]("jaccard")}, expected $want"
      }
      found.map(_._2).filter(forgottenDocs).foreach(d => failures += s"op $i probe: forgotten doc $d returned")
      val topk = hits.groupBy(_.getAs[Long]("qid")).map { case (q, rs) => q -> rs.map(_.getAs[Long]("cid")) }
      qVecs.foreach { case (q, src) =>
        val hit = topk.getOrElse(q, Nil).exists(c => group.get(c).contains(group(src)))
        if (ExactIds.contains(src)) {
          if (!hit) failures += s"op $i probe: codebook vector $src not in top-$K for its copy $q"
        } else {
          vPlanted += 1
          if (hit) vFound += 1
        }
      }
      topk.values.flatten.filter(forgottenVecs).foreach(v => failures += s"op $i probe: forgotten vector $v returned")
    }
    Op("probe", ms, ProbeDocs + ProbeVectors)
  }

  private def maintain(i: Long, tr: Tracer): Op = {
    val r = Gen.rng(seed, 10, i)
    def pick(from: mutable.ArrayBuffer[Long], ok: Long => Boolean): Seq[Long] = {
      val chosen = mutable.LinkedHashSet.empty[Long]
      while (chosen.size < ForgetPerOp) {
        val x = from(r.nextInt(from.size))
        if (ok(x)) chosen += x
      }
      chosen.toSeq
    }
    val docs = pick(liveDocs, _ => true)
    val vecs = pick(liveVecs, _ >= TrainIds)
    import spark.implicits._
    val (_, ms) = timed {
      tr.span("operators.forget", i) {
        Dedup.forgetFromIndex(spark, nd, docs.toDF("doc_id"))
        VectorIndex.forgetFromVectorIndex(spark, vi, vecs.toDF("vec_id"))
      }
      tr.span("operators.vacuum", i) {
        Dedup.vacuumIndex(spark, nd)
        VectorIndex.vacuumVectorIndex(spark, vi)
      }
    }
    forgottenDocs ++= docs
    forgottenVecs ++= vecs
    liveDocs --= docs
    liveVecs --= vecs
    Op("maintain", ms, 2L * ForgetPerOp)
  }

  override def report(ops: Seq[Op]): Seq[(String, Double, String)] = {
    def of(k: String) = ops.flatMap(_.extra.get(s"${k}_ms"))
    val probes = of("probe")
    val maintains = of("maintain")
    if (ops.isEmpty) Nil
    else {
      val t = Stats.tail(probes)
      Seq(("append_p50_s", Stats.median(of("append")) / 1000.0, "s"),
        ("probe_p50_ms", Stats.median(probes), "ms"), ("probe_tail_ms", t.value, "ms"),
        ("probe_tail_percentile", t.percentile, "%"), ("probe_samples", t.samples.toDouble, "count")) ++
        (if (maintains.isEmpty) Nil else Seq(("maintain_p50_s", Stats.median(maintains) / 1000.0, "s")))
    }
  }

  private def indexBytes: Long = Disk.bytes(Path.of(nd)) + Disk.bytes(Path.of(vi))

  override def stateMetrics: Map[String, Double] = {
    def committed(p: String): Int = {
      val s = java.nio.file.Files.walk(Path.of(p))
      try s.iterator.asScala.count(f => f.getFileName.toString == "_COMMITTED" &&
        f.getParent.getFileName.toString.matches("b\\d+"))
      finally s.close()
    }
    Map(
      "state.committed_batches" -> (committed(nd) + committed(vi)).toDouble,
      "state.index_files" -> (Disk.dataFiles(Path.of(nd)) + Disk.dataFiles(Path.of(vi))).toDouble,
      "state.index_bytes_per_corpus_byte" -> indexBytes.toDouble / corpusBytes,
      "operators.neardup_recall" -> (if (ndPlanted == 0) 0.0 else ndFound.toDouble / ndPlanted),
      "operators.vector_recall_at_k" -> (if (vPlanted == 0) 0.0 else vFound.toDouble / vPlanted))
  }

  def storedBytes: Long = indexBytes
  def inputBytes: Long = corpusBytes
}

object IndexMaintain {
  /** Jaccard similarity of two documents' word 3-gram sets, as the
    * near-duplicate index computes it.
    */
  def jaccard(a: Seq[String], b: Seq[String]): Double = {
    def shingles(w: Seq[String]): Set[String] =
      if (w.size >= 3) w.sliding(3).map(_.mkString(" ")).toSet else Set(w.mkString(" "))
    val (x, y) = (shingles(a), shingles(b))
    (x & y).size.toDouble / (x | y).size
  }
}
