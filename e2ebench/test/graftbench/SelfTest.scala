package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** The benchmark's own tests: `python3 e2ebench/run.py --self-test`.
  * Prints one PASS/FAIL line per test and exits non-zero on any failure.
  */
object SelfTest {

  private val results = mutable.ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Unit): Unit = {
    val r =
      try { body; None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    results += name -> r
    println(r.fold(s"PASS $name")(m => s"FAIL $name: $m"))
  }

  private def assert(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new AssertionError(msg)

  private def inputs(seed: Long): Seq[Gen.InFile] = {
    val r = Gen.rng(seed, 7, 0)
    Gen.jsonlBatch(seed, 1, 4, 50).files ++ Gen.docsBatch(seed, 1, 20).files ++
      Seq(Gen.InFile("corpus.txt",
        Seq.fill(20)(Gen.freshText(r).mkString(" ")).mkString("\n").getBytes),
        Gen.InFile("vectors.txt", Seq.fill(20)(Gen.vector(r).mkString(",")).mkString("\n").getBytes))
  }

  private def landed(dir: Path, seed: Long): Map[String, Seq[Byte]] = {
    Gen.land(dir, inputs(seed))
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path])
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val root = Path.of(args.sliding(2).collectFirst { case Array("--root", r) => r }
      .getOrElse(sys.error("--root is required"))).toAbsolutePath

    test("same seed gives byte-identical inputs, another seed different ones") {
      val a = landed(root.resolve("gen-a"), 11)
      val b = landed(root.resolve("gen-b"), 11)
      val c = landed(root.resolve("gen-c"), 12)
      assert(a.nonEmpty && a == b, "seed 11 landed different bytes on two runs")
      assert(a.keySet == c.keySet, "file names depend on the seed")
      val same = a.keys.filter(k => a(k) == c(k)).toSeq.sorted
      // the fixed-content files (empty documents, planted malformed ones)
      // are the same for every seed; everything generated must differ
      assert(same.forall(k => k.contains("doc-003") || k.contains("doc-007") ||
        k.contains("doc-013") || k.contains("doc-017")), s"seed-independent files: $same")
    }

    test("tail percentile has at least ten samples beyond it") {
      val rnd = new SplittableRandom(5)
      Seq(1, 5, 10, 11, 12, 19, 20, 21, 39, 40, 99, 100, 1000, 10000).foreach { n =>
        val xs = Seq.fill(n)(rnd.nextDouble())
        val t = Stats.tail(xs)
        assert(t.samples == n, s"n=$n: reported ${t.samples} samples")
        if (n <= 20) assert(t.percentile == 50.0 && t.value == Stats.median(xs), s"n=$n: expected median, got $t")
        else if (n > 21) {
          assert(xs.count(_ > t.value) == 10, s"n=$n: ${xs.count(_ > t.value)} samples beyond the tail")
          assert(math.abs(t.percentile - 100.0 * (n - 10) / n) < 1e-9, s"n=$n: percentile ${t.percentile}")
        }
      }
      assert(Stats.tail((1 to 20).map(_.toDouble)) == Stats.Tail(50.0, 10.5, 20), "n=20 is the median")
      assert(Stats.tail((1 to 100).map(_.toDouble)) == Stats.Tail(90.0, 90.0, 100), "n=100 is p90")
      // no jump where the rule starts to apply: 19, 20 and 21 samples
      // of one distribution give nearly the same tail
      val base = (1 to 21).map(_.toDouble)
      val near = Seq(19, 20, 21).map(k => Stats.tail(base.take(k)).value)
      assert(near.max - near.min <= 1.0, s"tail jumps across 20 samples: $near")
    }

    test("merged-interval driver gap is never negative") {
      assert(Stats.gap(Seq(0L -> 10L, 5L -> 15L, 12L -> 20L), 0, 20) == 0, "chained overlap")
      assert(Stats.gap(Seq(2L -> 4L, 3L -> 5L, 8L -> 9L), 0, 10) == 6, "two merged runs")
      assert(Stats.gap(Seq(-5L -> 50L), 0, 10) == 0, "interval wider than the span")
      assert(Stats.gap(Nil, 3, 7) == 4, "no jobs")
      val rnd = new SplittableRandom(9)
      (0 until 2000).foreach { _ =>
        val lo = rnd.nextLong(0, 1000)
        val hi = lo + rnd.nextLong(0, 1000)
        val iv = Seq.fill(rnd.nextInt(30)) {
          val s = rnd.nextLong(-200, 2200)
          s -> (s + rnd.nextLong(0, 600))
        }
        val g = Stats.gap(iv, lo, hi)
        assert(g >= 0 && g <= hi - lo, s"gap $g outside [0, ${hi - lo}] for $iv in [$lo, $hi)")
        // the naive sum of job lengths can exceed the span; the merge cannot
        val naive = (hi - lo) - iv.map { case (s, e) => math.max(0L, math.min(e, hi) - math.max(s, lo)) }.sum
        assert(g >= naive, s"merged gap $g below naive $naive")
      }
    }

    val spark = Main.session(root.resolve("spark"))
    try {
      test("a planted wrong expectation makes the ingest checks fire") {
        val w = new IngestJsonl(spark, 3, root.resolve("jsonl"))
        w.setup(0)
        assert(w.failures.isEmpty, s"correct batch failed its checks: ${w.failures}")
        val batch = Gen.jsonlBatch(3, 0, w.Files, w.PerFile)
        val report = graft.ingest.JsonIngestor.IngestReport(w.Files, w.Files, 0,
          batch.records, Nil, 0.0)
        w.verify(batch, report, batch.records)
        assert(w.failures.isEmpty, s"re-checking the committed batch failed: ${w.failures}")
        w.verify(batch.copy(records = batch.records + 1), report, batch.records)
        assert(w.failures.exists(_.contains("records")), "wrong record count passed")
        w.failures.clear()
        val wrong = batch.sample.copy(row = batch.sample.row.updated("score", "0.0"))
        w.verify(batch.copy(sample = wrong), report, batch.records)
        assert(w.failures.exists(_.contains("sampled record")), "wrong sampled value passed")
        w.failures.clear()
        w.verify(batch.copy(rejected = Seq("b00000-part-000.jsonl")), report, batch.records)
        assert(w.failures.exists(_.contains("rejected files")), "unplanted rejection passed")
      }

      test("exact-mode checks tell a missing key (NULL) from a null value (\"\")") {
        val batch = Gen.docsBatch(3, 0, 20)
        assert(batch.sample.row("weight") == null && batch.sample.row("maybe") == "",
          s"sample lacks the NULL/empty contrast: ${batch.sample.row}")
        val dir = root.resolve("docs")
        Gen.land(dir, batch.files)
        val res = graft.ingest.JsonIngestor.ingest(spark, dir.toString)
        assert(res.report.totalRecords == batch.records,
          s"ingested ${res.report.totalRecords} records, expected ${batch.records}")
        assert(res.report.errors.map(_.file.split('/').last).sorted == batch.rejected.sorted,
          s"rejected ${res.report.errors.map(_.file)}, expected ${batch.rejected}")
        assert(res.data.columns.toSeq.sorted == batch.columns,
          s"columns ${res.data.columns.toSeq.sorted}, expected ${batch.columns}")
        val rows = res.data.where(org.apache.spark.sql.functions.col("rid") === batch.sample.key)
          .collect().toSeq
        val ok = Checks.row("sampled record", batch.sample.row, rows)
        assert(ok.isEmpty, s"correct expectation failed: ${ok.get}")
        val wrong = Checks.row("sampled record", batch.sample.row.updated("weight", ""), rows)
        assert(wrong.exists(_.contains("weight")), "\"\" accepted for a missing key")
      }
    } finally spark.stop()

    val failed = results.count(_._2.nonEmpty)
    println(s"${results.size - failed} passed, $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
