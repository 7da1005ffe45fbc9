package graft.ingest

import java.util.regex.Pattern

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path, RemoteIterator}

import scala.collection.mutable.ArrayBuffer

/** Source discovery: recursive directory walk with extension
  * classification and fnmatch-style include/exclude filtering.
  *
  * Re-expresses the reference's scanner (reference
  * src/scanners/file_scanner.py:80-143 — glob walk, ignore filter,
  * extension classifier) on the Hadoop FileSystem API so the same code
  * lists local dirs in tests and S3/HDFS prefixes on a cluster. Listing
  * uses the recursive `listFiles` iterator (a single bulk LIST per
  * prefix on object stores — not a per-directory walk).
  *
  * Spark's own readers take the discovered file list directly; for huge
  * prefixes prefer passing the root dir + `pathGlobFilter` to Spark and
  * using [[FileScanner.shouldIgnore]] semantics via that option instead
  * (driver-side listing of 10^8 files is the anti-pattern).
  */
object FileScanner {

  /** Extension → format, per reference file_scanner.py:15-30, extended
    * with the columnar/row lake formats the Spark-native engine also
    * ingests (orc → ing16, avro → ing20).
    */
  val ExtensionMap: Map[String, String] = Map(
    ".json" -> "json", ".jsonl" -> "json", ".ndjson" -> "json",
    ".csv" -> "csv", ".tsv" -> "csv", ".psv" -> "csv",
    ".parquet" -> "parquet", ".pq" -> "parquet", ".pqt" -> "parquet",
    ".orc" -> "orc", ".avro" -> "avro",
  )

  /** Default ignore patterns, per reference file_scanner.py:33-44. */
  val DefaultIgnorePatterns: Seq[String] = Seq(
    ".*", "~*", "*.tmp", "*.bak", "__pycache__", ".git*", ".DS_Store", "node_modules",
  )

  /** fnmatch-style glob → anchored regex ('*' any run, '?' one char). */
  private[ingest] def globToRegex(glob: String): Pattern = {
    val sb = new StringBuilder("^")
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    Pattern.compile(sb.append('$').toString, Pattern.CASE_INSENSITIVE)
  }

  /** Transparent-compression suffixes: a `.jsonl.gz` classifies as its
    * inner format because every reader in the engine decompresses
    * these natively (Spark's text/json/csv readers by extension; the
    * probe path via Hadoop's CompressionCodecFactory). Codecs
    * guaranteed on a stock Hadoop classpath are always listed;
    * `.zst`/`.lz4` are CLASSPATH-GATED ([[gatedExts]]) — they classify
    * only where their codec is actually usable at runtime, and stay
    * "unrecognized" (skipped, not crashed on) where it isn't.
    */
  /** Suffixes whose Hadoop codec is NOT guaranteed usable: zstd needs
    * the native libhadoop binding; lz4 is pure-Java since Hadoop 3.3
    * (lz4-java, which Spark bundles) but was native-only before.
    * (Declared BEFORE CompressionExts — object vals initialize in
    * declaration order.)
    */
  private[ingest] val GatedCompressionCandidates: Seq[String] = Seq(".zst", ".lz4")

  val CompressionExts: Seq[String] =
    Seq(".gz", ".bz2", ".deflate") ++ gatedExts(codecUsable)

  /** True iff Hadoop's CompressionCodecFactory resolves `ext` AND the
    * codec can construct a decompressor. The second half is the real
    * gate: ZStandardCodec always RESOLVES on a stock classpath but
    * throws at decompressor construction when the native lib is
    * absent — classifying on resolution alone would crash the read
    * later, the exact failure mode gating exists to avoid. Spark's
    * text/json/csv readers decompress through this same factory, so
    * "usable here" is precisely "readable by the engine". (Caveat
    * carried from the codec itself: Hadoop's Lz4Codec speaks the
    * Hadoop lz4 BLOCK framing, i.e. files written by Hadoop/Spark —
    * not the lz4 CLI frame format.)
    */
  def codecUsable(ext: String): Boolean =
    try {
      val factory = new org.apache.hadoop.io.compress.CompressionCodecFactory(
        new Configuration())
      val codec = factory.getCodec(new Path("probe" + ext))
      codec != null && { codec.createDecompressor(); true }
    } catch { case _: Throwable => false }

  /** The gated suffix list under an injectable usability probe — the
    * seam that lets a spec prove BOTH branches (classify where usable,
    * skip where not) regardless of what this container's classpath
    * happens to provide.
    */
  private[ingest] def gatedExts(usable: String => Boolean): Seq[String] =
    GatedCompressionCandidates.filter(usable)

  /** `name` with any [[CompressionExts]] suffix stripped — the name the
    * format classifier (and jsonl-vs-multiline dispatch) should see.
    */
  def decompressedName(name: String): String = {
    val lower = name.toLowerCase
    CompressionExts.find(lower.endsWith) match {
      case Some(ce) => name.substring(0, name.length - ce.length)
      case None => name
    }
  }

  def classify(fileName: String): Option[String] = {
    val stem = decompressedName(fileName)
    val dot = stem.lastIndexOf('.')
    val inner =
      if (dot < 0) None else ExtensionMap.get(stem.substring(dot).toLowerCase)
    // the see-through applies ONLY to text formats, whose readers
    // decompress by extension; a gzipped BINARY container
    // (.parquet.gz/.orc.gz/.avro.gz) would classify and then crash its
    // reader on the magic bytes — for those, unrecognized (skip) is
    // the correct verdict, exactly the .zst reasoning above
    if (stem.length != fileName.length &&
        !inner.forall(f => f == "json" || f == "csv")) None
    else inner
  }

  def matchesAny(name: String, patterns: Seq[String]): Boolean =
    matches(name, patterns.map(globToRegex))

  private def matches(name: String, patterns: Seq[Pattern]): Boolean =
    patterns.exists(_.matcher(name).matches())

  def shouldIgnore(name: String, ignore: Seq[String] = DefaultIgnorePatterns): Boolean =
    matchesAny(name, ignore)

  final case class Discovered(byFormat: Map[String, Seq[String]]) {
    def apply(format: String): Seq[String] = byFormat.getOrElse(format, Nil)
    def all: Seq[String] = byFormat.values.flatten.toSeq.sorted
  }

  /** Walk `dir`, classify by extension, apply ignore/include patterns
    * (each compiled once per call, not once per file).
    * Mirrors `FileScanner.discover_files` (file_scanner.py:80-143).
    */
  def discover(
      dir: String,
      fileTypes: Seq[String] = Seq("json"),
      recursive: Boolean = true,
      includePatterns: Seq[String] = Nil,
      excludePatterns: Seq[String] = DefaultIgnorePatterns,
      hadoopConf: Configuration = new Configuration(),
  ): Discovered = {
    val root = new Path(dir)
    val fs = root.getFileSystem(hadoopConf)
    val found = ArrayBuffer.empty[(String, String)] // (format, path)
    val exclude = excludePatterns.map(globToRegex)
    val include = includePatterns.map(globToRegex)
    if (fs.exists(root)) {
      val it: RemoteIterator[LocatedFileStatus] = fs.listFiles(root, recursive)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (!matches(name, exclude) && (include.isEmpty || matches(name, include))) {
          classify(name).filter(fileTypes.contains).foreach { fmt =>
            found += fmt -> st.getPath.toString
          }
        }
      }
    }
    Discovered(found.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq.sorted })
  }
}
