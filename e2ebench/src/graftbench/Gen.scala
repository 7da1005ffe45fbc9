package graftbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of its
  * arguments: the same seed gives byte-identical files and the same
  * expected answers, whatever ran before.
  */
object Gen {

  /** Independent stream `stream` of item `i` under `seed`. */
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      (stream + 1) * 0xC2B2AE3D27D4EB4FL ^ (i + 1) * 0x165667B19E3779F9L)

  /** A file to land: name and exact bytes. */
  final case class InFile(name: String, bytes: Array[Byte])

  /** Writes `files` into a fresh directory `dir`; returns bytes landed. */
  def land(dir: Path, files: Seq[InFile]): Long = {
    Files.createDirectories(dir)
    files.foreach(f => Files.write(dir.resolve(f.name), f.bytes))
    files.map(_.bytes.length.toLong).sum
  }

  /** One normalized row the sink must return: column → TEXT value,
    * `null` standing for SQL NULL.
    */
  final case class Sample(key: String, row: Map[String, String])

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  private def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  /** Two decimals, never 0 and never in exponent notation. */
  private def dec(r: SplittableRandom, maxAbs: Int): Double = {
    val cents = 1 + r.nextInt(maxAbs * 100)
    (if (r.nextBoolean()) cents else -cents) / 100.0
  }

  private val Words = Array("alpha", "beta", "gamma", "delta", "omega", "sigma",
    "kappa", "theta", "lambda", "zeta")

  // ------------------------------------------------------------ ingest_jsonl

  /** A batch of JSONL files plus what ingesting it must produce. */
  final case class JsonlBatch(files: Seq[InFile], records: Long,
      rejected: Seq[String], sample: Sample)

  /** Every third batch plants one corrupt line, which must reject the
    * whole file it sits in.
    */
  def corruptBatch(b: Int): Boolean = b % 3 == 1

  def jsonlBatch(seed: Long, b: Int, nFiles: Int, perFile: Int): JsonlBatch = {
    val bad = if (corruptBatch(b)) Some(b % nFiles) else None
    var sample: Option[Sample] = None
    val files = (0 until nFiles).map { f =>
      val fname = f"b$b%05d-part-$f%03d.jsonl"
      val r = rng(seed, 1, b.toLong * nFiles + f)
      val sb = new StringBuilder
      (0 until perFile).foreach { i =>
        val id = (b.toLong * nFiles + f) * perFile + i
        val score = if (r.nextInt(5) == 0) None else Some(dec(r, 10000))
        val active = r.nextBoolean()
        val tags = Seq.fill(r.nextInt(4))(Words(r.nextInt(Words.length)))
        val note = if (r.nextInt(10) < 7) None else Some(s"note-${r.nextInt(1000)}")
        val uid = r.nextInt(1000000)
        val user = obj(Seq(
          "geo" -> obj(Seq("city" -> q(s"c${r.nextInt(500)}"),
            "lat" -> dec(r, 89).toString, "lon" -> dec(r, 179).toString)),
          "id" -> uid.toString,
          "name" -> q(s"u$uid")))
        val name = s"n${Integer.toHexString(r.nextInt())}"
        sb.append(obj(Seq(
          "active" -> active.toString,
          "id" -> id.toString,
          "name" -> q(name),
          "note" -> note.fold("null")(q),
          "score" -> score.fold("null")(_.toString),
          "tags" -> arr(tags.map(q)),
          "user" -> user))).append('\n')
        if (bad.contains(f) && i == perFile / 2)
          sb.append(s"""{"id":$id,"name":"broken",""").append('\n')
        if (sample.isEmpty && !bad.contains(f) && score.isEmpty && tags.nonEmpty)
          sample = Some(Sample(id.toString, Map(
            "_source_file" -> fname,
            "active" -> active.toString, "id" -> id.toString, "name" -> name,
            "note" -> note.getOrElse(""), "score" -> "",
            "tags" -> arr(tags.map(q)), "user" -> user)))
      }
      InFile(fname, sb.toString.getBytes(UTF_8))
    }
    JsonlBatch(files, (nFiles - bad.size).toLong * perFile,
      bad.map(files(_).name).toSeq,
      sample.getOrElse(sys.error(s"batch $b drew no sample record")))
  }

  // ------------------------------------------------------ exact-mode documents

  /** A batch of multi-line JSON documents plus what ingesting it in
    * exact mode (`JsonIngestor.ingest`) must produce. The self-test uses
    * it; no timed workload does.
    */
  final case class DocsBatch(files: Seq[InFile], records: Long,
      rejected: Seq[String], columns: Seq[String], sample: Sample)

  private val DocKeys = Seq("city", "code", "count", "flag", "items", "maybe",
    "meta", "price", "rating", "title", "weight")

  /** File kinds by position: 0 is the sampled array file, 1 a single
    * object that carries `weight` (which file 0 lacks, so its row must
    * show SQL NULL there); fixed positions hold malformed, empty and
    * latin-1 files; the rest alternate arrays and single objects.
    */
  def docsBatch(seed: Long, b: Int, nFiles: Int): DocsBatch = {
    require(nFiles >= 18, "the docs layout needs at least 18 files")
    val malformed = Set(3, 13)
    val latin1 = Set(5, 15)
    val union = mutable.SortedSet.empty[String]
    var records = 0L
    var sample: Sample = null
    val files = (0 until nFiles).map { p =>
      val r = rng(seed, 2, b.toLong * nFiles + p)
      val name = f"b$b%05d-doc-$p%03d.json"
      if (malformed(p))
        InFile(name, s"""{"rid": "b$b-$p", "title": "cut""".getBytes(UTF_8))
      else if (p == 7) InFile(name, "{}".getBytes(UTF_8))
      else if (p == 17) InFile(name, "[ ]".getBytes(UTF_8))
      else {
        val keys = (DocKeys.filter(_ => r.nextInt(10) < 6).toSet ++
          (if (p == 0) Set("maybe", "meta") else Set.empty) ++
          (if (p == 1) Set("weight") else Set.empty) ++
          (if (latin1(p)) Set("title") else Set.empty) --
          (if (p == 0) Set("weight") else Set.empty)).toSeq.sorted
        // object counts depend on the position only, so every batch
        // holds the same number of records whatever the seed
        val n = if (p % 2 == 0) 1 + (p / 2) % 5 else 1
        val rows = (0 until n).map { i =>
          val rid = s"b$b-$p-$i"
          val vals = keys.map { k =>
            val raw: (String, String) = k match {
              case "city" => val c = s"city${r.nextInt(50)}"; (q(c), c)
              case "code" => val c = s"K${r.nextInt(9000)}"; (q(c), c)
              case "count" => val c = r.nextInt(1000).toString; (c, c)
              case "flag" => val c = r.nextBoolean().toString; (c, c)
              case "items" =>
                val xs = Seq.fill(1 + r.nextInt(3))(r.nextInt(100).toString)
                (arr(xs), arr(xs))
              case "maybe" =>
                if (i == 0 || r.nextInt(10) < 7) ("null", "")
                else { val c = s"m${r.nextInt(100)}"; (q(c), c) }
              case "meta" =>
                val o = obj(Seq("a" -> r.nextInt(100).toString, "b" -> q(Words(r.nextInt(Words.length)))))
                (o, o)
              case "price" => val c = dec(r, 500).toString; (c, c)
              case "rating" => val c = (1 + r.nextInt(5)).toString; (c, c)
              case "title" =>
                val c = if (latin1(p)) "caf\u00e9 " + r.nextInt(100) else s"t${r.nextInt(10000)}"
                (q(c), c)
              case "weight" => val c = dec(r, 90).toString; (c, c)
            }
            k -> raw
          }
          (rid, obj(("rid" -> q(rid)) +: vals.map { case (k, (j, _)) => k -> j }),
            vals.map { case (k, (_, t)) => k -> t }.toMap)
        }
        union ++= keys
        union += "rid"
        records += n
        if (p == 0) {
          val (rid, _, text) = rows.head
          sample = Sample(rid, text + ("rid" -> rid) + ("_source_file" -> name))
        }
        val body = if (p % 2 == 0) arr(rows.map(_._2)) else rows.head._2
        InFile(name, body.getBytes(if (latin1(p)) ISO_8859_1 else UTF_8))
      }
    }
    val columns = ("_source_file" +: union.toSeq).sorted
    val full = columns.map(c => c -> sample.row.getOrElse(c, null)).toMap
    DocsBatch(files, records, malformed.toSeq.sorted.map(files(_).name), columns,
      sample.copy(row = full))
  }

  // ---------------------------------------------------------- index_maintain

  val DocWords = 24
  val VocabSize = 2000
  val Dim = 64

  /** Document `id`'s text is decided by `kind`: fresh words, a copy of
    * `src` with one word replaced (a planted near-duplicate), or the
    * shared boilerplate footer with a few words of its own.
    */
  def freshText(r: SplittableRandom): Seq[String] =
    Seq.fill(DocWords)(s"w${r.nextInt(VocabSize)}")

  def nearCopy(r: SplittableRandom, src: Seq[String]): Seq[String] = {
    val pos = r.nextInt(src.size)
    src.updated(pos, s"x${r.nextInt(VocabSize)}")
  }

  private val Footer = Seq.tabulate(DocWords - 4)(i => s"footer$i")

  def boilerplate(r: SplittableRandom): Seq[String] =
    Seq.fill(4)(s"w${r.nextInt(VocabSize)}") ++ Footer

  def vector(r: SplittableRandom): Array[Double] =
    Array.fill(Dim)(math.round(r.nextGaussian() * 1000) / 1000.0)
}
