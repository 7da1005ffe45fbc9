package graft.ingest

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}

/** File utilities around ingestion (reference A21,
  * file_handler.py:181-371): copy/move/delete, content md5, atomic
  * write. Hadoop FileSystem API so the same code works on local disks
  * and object stores.
  */
object FileUtils {

  private def fs(p: Path, conf: Configuration) = p.getFileSystem(conf)

  def copy(src: String, dst: String, conf: Configuration = new Configuration()): Boolean = {
    val (s, d) = (new Path(src), new Path(dst))
    FileUtil.copy(fs(s, conf), s, fs(d, conf), d, false, conf)
  }

  def move(src: String, dst: String, conf: Configuration = new Configuration()): Boolean = {
    val (s, d) = (new Path(src), new Path(dst))
    fs(s, conf).rename(s, d)
  }

  def delete(path: String, recursive: Boolean = false,
      conf: Configuration = new Configuration()): Boolean = {
    val p = new Path(path)
    fs(p, conf).delete(p, recursive)
  }

  def exists(path: String, conf: Configuration = new Configuration()): Boolean = {
    val p = new Path(path)
    fs(p, conf).exists(p)
  }

  /** Recursive delete, tolerant of a missing path (Unit-returning so
    * lifecycle code calls it for effect) — the one shared spelling of
    * "remove this index/temp tree via the Hadoop FS API".
    */
  def rmr(path: String, conf: Configuration = new Configuration()): Unit = {
    delete(path, recursive = true, conf)
    ()
  }

  def mkdirs(path: String, conf: Configuration = new Configuration()): Boolean = {
    val p = new Path(path)
    fs(p, conf).mkdirs(p)
  }

  /** Create an empty marker file (create-if-absent, never overwrite —
    * the commit-marker semantics the persisted-index lifecycles need:
    * a marker can only appear once per batch dir).
    */
  def touch(path: String, conf: Configuration = new Configuration()): Unit = {
    val p = new Path(path)
    fs(p, conf).create(p, false).close()
  }

  /** Immediate child DIRECTORIES of `path` as fully-qualified path
    * strings, sorted; Nil when `path` doesn't exist. One listStatus
    * call — a single LIST per prefix on object stores.
    */
  def listSubdirs(path: String, conf: Configuration = new Configuration()): Seq[String] = {
    val p = new Path(path)
    val filesystem = fs(p, conf)
    if (!filesystem.exists(p)) Nil
    else filesystem.listStatus(p).toSeq
      .filter(_.isDirectory).map(_.getPath.toString).sorted
  }

  /** Immediate child FILES of `path` (same contract as
    * [[listSubdirs]] with the filter flipped).
    */
  def listChildFiles(path: String, conf: Configuration = new Configuration()): Seq[String] = {
    val p = new Path(path)
    val filesystem = fs(p, conf)
    if (!filesystem.exists(p)) Nil
    else filesystem.listStatus(p).toSeq
      .filter(_.isFile).map(_.getPath.toString).sorted
  }

  /** Run `body` holding an exclusive `_SAVING` lease under `root` —
    * the save-side half of the concurrency story whose append side is
    * [[claimSeqDir]]: a SAVE is a destructive replace (it clears prior
    * state before rewriting), so two concurrent savers would interleave
    * deletes and writes into one corrupt tree that no marker protocol
    * downstream can repair. The second saver fails LOUDLY here instead.
    * Saves, vacuums, retires and compactions all take this lease, and
    * the refusal names each of them, since it cannot tell which one
    * holds it. The lease is deleted on every exit (success or
    * failure); only a crashed JVM leaves it behind, and then the next
    * caller's error names the remedy (verify none is live, delete the
    * lease, retry) rather than silently proceeding into a possibly
    * half-dead writer's tree. Same local-scheme O_EXCL caveats as
    * [[createExclusive]].
    */
  def withSaveLease[T](root: String, conf: Configuration)(body: => T): T = {
    mkdirs(root, conf)
    val lease = s"$root/_SAVING"
    require(createExclusive(lease, conf),
      s"another save, vacuum, retire or compaction appears to be running " +
        s"on $root ($lease exists); if its JVM crashed, verify none of " +
        "these is live, delete the lease file, and retry")
    try body
    finally delete(lease, recursive = false, conf)
  }

  /** Immediate child DATA files of `path` with their byte lengths —
    * the input a compaction planner sizes its output from. Skips
    * marker/metadata names (`_SUCCESS`, `.crc`, claims); one
    * listStatus call, Nil when `path` doesn't exist.
    */
  def listDataFilesWithSize(path: String,
      conf: Configuration = new Configuration()): Seq[(String, Long)] = {
    val p = new Path(path)
    val filesystem = fs(p, conf)
    if (!filesystem.exists(p)) Nil
    else filesystem.listStatus(p).toSeq
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .map(st => (st.getPath.toString, st.getLen)).sortBy(_._1)
  }

  /** The claim/lease backend every atomic create below routes through
    * ([[ClaimBackend]]): `fs` (default) uses the filesystem's own
    * atomic no-overwrite create; `cput` (SPARK_GRAFT_CLAIM_BACKEND)
    * claims via the conditional-PUT token protocol over the Hadoop FS;
    * `s3` claims via the same protocol bound to the AWS SDK's real
    * If-None-Match PutObject ([[S3ConditionalStore]] — classpath-gated
    * on the SDK, fails loudly when absent).
    */
  @volatile private var claimBackendVar: ClaimBackend =
    sys.env.get("SPARK_GRAFT_CLAIM_BACKEND") match {
      case Some("cput") => new ConditionalPutClaimBackend(HadoopFsConditionalStore)
      case Some("s3") => new ConditionalPutClaimBackend(S3ConditionalStore.fromClasspath())
      case _ => FsClaimBackend
    }

  def claimBackend: ClaimBackend = claimBackendVar

  /** Scoped backend swap — a TEST seam (process-global, suites run
    * sequentially in the forked test JVM; not for concurrent use).
    */
  def withClaimBackend[T](b: ClaimBackend)(body: => T): T = {
    val prev = claimBackendVar
    claimBackendVar = b
    try body finally claimBackendVar = prev
  }

  /** Atomically create `path` as a claim marker IFF it does not exist:
    * true means THIS call created it (the claim is won), false means
    * someone else holds it — delegated to the configured
    * [[ClaimBackend]] (see there for the per-store atomicity story).
    */
  def createExclusive(path: String, conf: Configuration = new Configuration()): Boolean =
    claimBackendVar.createExclusive(path, conf)

  /** Claim the next sequence-numbered batch directory under `base`
    * (`<prefix><N>`), safely under CONCURRENT claimers: the id is
    * reserved by atomically creating a sibling `<prefix><N>.claim`
    * marker file BEFORE anything writes the directory, and a lost race
    * retries with the next id. Enumeration counts directories AND
    * claim files, so a claimed-but-not-yet-written id is already
    * visible to the next claimer — two appenders can never pick the
    * same id, the failure mode of a bare max(existing)+1 listing.
    * Claim files are never deleted (an abandoned claim's id is simply
    * never reused — the same tolerance the seal gives abandoned dirs,
    * see [[commitSeqDir]]); a lifecycle reset (save/vacuum) clears them
    * by removing `base` wholesale.
    */
  def claimSeqDir(base: String, prefix: String,
      conf: Configuration = new Configuration()): String = {
    mkdirs(base, conf)
    var attempt = 0
    while (attempt < 1000) {
      val ids = seqDirs(base, prefix, conf).map(_._1) ++ claimIds(base, prefix, conf)
      val id = if (ids.isEmpty) 0L else ids.max + 1
      if (createExclusive(claimFile(base, prefix, id), conf))
        return s"$base/$prefix$id"
      attempt += 1
    }
    throw new java.io.IOException(
      s"could not claim a batch id under $base after 1000 attempts")
  }

  // ---- the sealed-dir protocol -------------------------------------
  // Every persisted lifecycle (index batch trees, warehouse versions and
  // manifests, versioned compaction) commits alike: claim `<prefix><N>`
  // ([[claimSeqDir]]), write the dir, seal it with `_COMMITTED`. Readers
  // take sealed dirs only, newest by numeric id, so a crashed writer's
  // unsealed dir is never resolved. Only this module spells the format.

  private val SealMarker = "_COMMITTED"
  private val ClaimSuffix = ".claim"

  private def claimFile(base: String, prefix: String, id: Long) = s"$base/$prefix$id$ClaimSuffix"

  /** The N of a `<prefix><N>` path or name; None for others (`bands`, `b_x`). */
  def seqId(dir: String, prefix: String): Option[Long] = {
    val name = dir.substring(dir.lastIndexOf('/') + 1)
    if (name.startsWith(prefix)) name.substring(prefix.length).toLongOption else None
  }

  /** `<prefix><N>` child dirs of `base` as (N, path), ascending by N (b2 < b10); one listing. */
  def seqDirs(base: String, prefix: String, conf: Configuration): Seq[(Long, String)] =
    listSubdirs(base, conf).flatMap(d => seqId(d, prefix).map(_ -> d)).sortBy(_._1)

  /** The ids of `<prefix><N>.claim` files under `base`, ascending, written dir or not. */
  def claimIds(base: String, prefix: String, conf: Configuration): Seq[Long] =
    listChildFiles(base, conf).filter(_.endsWith(ClaimSuffix))
      .flatMap(f => seqId(f.stripSuffix(ClaimSuffix), prefix)).sorted

  /** Drop a dead id's claim — lease holders only: a live claim is never reused. */
  def unclaim(base: String, prefix: String, id: Long, conf: Configuration): Unit =
    delete(claimFile(base, prefix, id), recursive = false, conf): Unit

  def seal(dir: String, conf: Configuration): Unit = touch(s"$dir/$SealMarker", conf)

  /** One atomic op hides `dir` from readers — always BEFORE its bytes go. */
  def unseal(dir: String, conf: Configuration): Unit =
    delete(s"$dir/$SealMarker", recursive = false, conf): Unit

  def isSealed(dir: String, conf: Configuration): Boolean = exists(s"$dir/$SealMarker", conf)

  /** Claim the next `<prefix><N>` under `base`, `write` it, seal it, return it.
    * A failure leaves it unsealed: a half-landed seal is removed (best-effort)
    * before the failure surfaces.
    */
  def commitSeqDir(base: String, prefix: String, conf: Configuration)(
      write: String => Unit): String = {
    val dir = claimSeqDir(base, prefix, conf)
    try {
      write(dir)
      seal(dir, conf)
      dir
    } catch {
      case e: Exception =>
        try unseal(dir, conf) catch { case _: Exception => () }
        throw e
    }
  }

  /** Sealed `<prefix><N>` dirs under `base` as (N, path), ascending (newest
    * is `.last`): one listing plus one seal check per numbered dir.
    */
  def sealedDirs(base: String, prefix: String, conf: Configuration): Seq[(Long, String)] =
    seqDirs(base, prefix, conf).filter { case (_, d) => isSealed(d, conf) }

  /** Content md5 as lowercase hex (reference md5-hashes files <10MB;
    * streaming digest here has no size limit).
    */
  def md5(path: String, conf: Configuration = new Configuration()): String = {
    val p = new Path(path)
    val in = fs(p, conf).open(p)
    try {
      val digest = java.security.MessageDigest.getInstance("MD5")
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { digest.update(buf, 0, n); n = in.read(buf) }
      digest.digest().map("%02x".format(_)).mkString
    } finally in.close()
  }

  /** Timestamped backup copy next to the file (reference
    * `FileHandler._create_backup`, file_handler.py:387-392:
    * `<stem>.backup_<yyyyMMdd_HHmmss><ext>` sibling via copy). Returns
    * the backup path; same-second collisions get a numeric suffix (the
    * reference would silently overwrite — strictly safer here).
    */
  def backup(path: String, conf: Configuration = new Configuration()): String = {
    val p = new Path(path)
    val filesystem = fs(p, conf)
    require(filesystem.exists(p), s"cannot back up missing file: $path")
    val ts = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
    val (stem, ext) = p.getName.lastIndexOf('.') match {
      case i if i > 0 => (p.getName.substring(0, i), p.getName.substring(i))
      case _ => (p.getName, "")
    }
    var bak = new Path(p.getParent, s"$stem.backup_$ts$ext")
    var i = 1
    while (filesystem.exists(bak)) {
      bak = new Path(p.getParent, s"$stem.backup_${ts}_$i$ext")
      i += 1
    }
    copy(path, bak.toString, conf)
    bak.toString
  }

  /** Atomic text write: write to a temp sibling then rename into place
    * (reference's tmp-file atomic JSON write, file_handler.py:181-231).
    */
  def atomicWrite(path: String, content: String,
      conf: Configuration = new Configuration()): Unit = {
    val target = new Path(path)
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    val filesystem = fs(target, conf)
    val out = filesystem.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (filesystem.exists(target)) filesystem.delete(target, false)
    if (!filesystem.rename(tmp, target))
      throw new java.io.IOException(s"atomic rename failed: $tmp -> $target")
  }
}
