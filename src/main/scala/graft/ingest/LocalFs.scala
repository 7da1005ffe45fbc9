package graft.ingest

import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.{PosixFilePermission, UserPrincipal}

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path, PathFilter, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's checksummed
  * `LocalFileSystem` (`.crc` files kept) over [[LocalFs.Raw]], which
  * sets and reads POSIX permissions through java.nio instead of
  * starting a process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks `chmod`
  * for every file and directory it creates, and `ls -ld` for every
  * listed file whose permission, owner or group is read — which
  * `listFiles` does for each file it returns. A fork costs about 3 ms;
  * a landed JSONL batch started 15 and an index op about 60.
  *
  * [[graft.GraftSession.builder]] binds it (`fs.file.impl`). Hadoop
  * caches one filesystem per scheme and user, not per conf, so the
  * binding holds in a JVM whose first `file:` filesystem comes from a
  * session's conf.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  final class Raw extends RawLocalFileSystem {

    /** `chmod` with `permission`'s mode, without the process. Modes
      * outside 0777 (the sticky bit), targets that already carry
      * setuid, setgid or sticky bits (which GNU `chmod` keeps on a
      * directory for a numeric mode) and non-POSIX filesystems take
      * Hadoop's `chmod` path, so every mode comes out as `chmod` leaves
      * it.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = permission.toShort & 0xfff
      if (mode > 0x1ff || !unix(file) ||
          (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, posix(mode))
    }

    /** One directory's `listFiles` step: permission, owner and group
      * come from one nio attribute read per entry instead of an
      * `ls -ld`. Entries keep the status `listStatus` gives them.
      */
    override protected def listLocatedStatus(f: Path,
        filter: PathFilter): RemoteIterator[LocatedFileStatus] = {
      val it = listStatus(f, filter).iterator
      new RemoteIterator[LocatedFileStatus] {
        def hasNext: Boolean = it.hasNext
        def next(): LocatedFileStatus = located(it.next())
      }
    }

    private def located(st: FileStatus): LocatedFileStatus = {
      val blocks = if (st.isFile) getFileBlockLocations(st, 0, st.getLen) else null
      val file = pathToFile(st.getPath).toPath
      if (!unix(file)) new LocatedFileStatus(st, blocks)
      else {
        val a = Files.readAttributes(file, "unix:mode,owner,group", LinkOption.NOFOLLOW_LINKS)
        def name(k: String) = a.get(k).asInstanceOf[UserPrincipal].getName
        // the bits `ls -ld`'s symbolic mode carries: rwx and sticky
        val perm = new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort)
        new LocatedFileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, perm, name("owner"), name("group"),
          if (st.isSymlink) st.getSymlink else null, st.getPath, false, false, false, blocks)
      }
    }
  }

  private def unix(file: java.nio.file.Path): Boolean =
    file.getFileSystem.supportedFileAttributeViews.contains("unix")

  /** `mode`'s rwx bits; `PosixFilePermission` lists them high bit first. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(pp)
    }
    s
  }
}
