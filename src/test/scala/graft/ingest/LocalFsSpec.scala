package graft.ingest

import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

class LocalFsSpec extends SparkSpec {

  /** A new `file:` filesystem from the session's conf: the JVM-wide
    * cache holds whichever class the first `file:` lookup bound.
    */
  private def sessionFs(): FileSystem =
    FileSystem.newInstance(new URI("file:///"), spark.sessionState.newHadoopConf())

  /** Hadoop's own checksummed local filesystem, for comparison. */
  private def hadoopFs(): FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    FileSystem.newInstance(new URI("file:///"), conf)
  }

  private def hpath(p: java.nio.file.Path) = new Path(p.toUri.toString)

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** The command lines of the OS processes this thread starts in `body`. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val out = Files.createTempFile("localfs", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      rec.dump(out)
    } finally rec.close()
    val tid = Thread.currentThread.getId
    try RecordingFile.readAllEvents(out).asScala.toSeq
      .filter(e => e.getThread != null && e.getThread.getJavaThreadId == tid)
      .map(_.getString("command"))
    finally Files.delete(out)
  }

  /** mkdirs, create and a recursive listFiles reading every entry's
    * permission and owner; returns the listed names.
    */
  private def steps(fs: FileSystem, root: java.nio.file.Path): Seq[String] = {
    val dir = hpath(root.resolve("a/b"))
    assert(fs.mkdirs(dir))
    val out = fs.create(new Path(dir, "f.json"))
    out.write('x'); out.close()
    val it = fs.listFiles(hpath(root), true)
    val names = Seq.newBuilder[String]
    while (it.hasNext) {
      val st = it.next()
      assert(st.getPermission != null && st.getOwner.nonEmpty && st.getGroup.nonEmpty)
      names += st.getPath.getName
    }
    names.result()
  }

  test("create, mkdirs and listFiles start no OS process; checksums are kept") {
    val fs = sessionFs()
    assert(fs.isInstanceOf[LocalFs] && fs.isInstanceOf[LocalFileSystem], fs.getClass)
    val root = tmpDir("localfs")
    var names = Seq.empty[String]
    val started = processesStarted { names = steps(fs, root) }
    assert(started.isEmpty, started)
    assert(names == Seq("f.json"), names) // the .crc stays hidden from listings
    assert(Files.exists(root.resolve("a/b/.f.json.crc")))
    // without the native library, Hadoop's own filesystem forks for the same steps
    if (!NativeIO.isAvailable) {
      val forks = processesStarted(steps(hadoopFs(), tmpDir("localfs-hadoop")))
      assert(forks.exists(_.startsWith("chmod")) && forks.exists(_.startsWith("ls")), forks)
    }
  }

  test("setPermission: rwx modes read back as set, and as Hadoop's chmod leaves them") {
    val fs = sessionFs()
    val hadoop = hadoopFs()
    val root = tmpDir("localfs-modes")
    for ((m, sym) <- Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "700" -> "rwx------");
         kind <- Seq("file", "dir")) {
      val Seq(mine, theirs) = Seq("mine", "theirs").map { side =>
        val p = root.resolve(s"$kind-$m-$side")
        if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
        (if (side == "mine") fs else hadoop).setPermission(hpath(p), octal(m))
        p
      }
      assert(Files.getPosixFilePermissions(mine) == PosixFilePermissions.fromString(sym), s"$kind $m")
      assert(mode(mine) == mode(theirs), s"$kind $m")
    }
  }

  test("setPermission: the sticky bit applies; a setgid directory keeps what chmod keeps") {
    val fs = sessionFs()
    val root = tmpDir("localfs-special")
    val sticky = Files.createDirectory(root.resolve("sticky"))
    fs.setPermission(hpath(sticky), octal("1777"))
    assert(mode(sticky) == Integer.parseInt("1777", 8))
    val Seq(mine, theirs) = Seq("mine", "theirs").map { side =>
      val d = Files.createDirectory(root.resolve(s"setgid-$side"))
      Files.setAttribute(d, "unix:mode", Integer.parseInt("2755", 8))
      (if (side == "mine") fs else hadoopFs()).setPermission(hpath(d), octal("750"))
      d
    }
    assert(mode(mine) == mode(theirs), f"${mode(mine)}%o vs ${mode(theirs)}%o")
  }

  test("listFiles: permission, owner and group match nio's") {
    val fs = sessionFs()
    val root = tmpDir("localfs-owner")
    Files.writeString(root.resolve("a.json"), "{}")
    Files.createDirectories(root.resolve("d"))
    Files.writeString(root.resolve("d/b.json"), "{}")
    Files.setPosixFilePermissions(root.resolve("d/b.json"), PosixFilePermissions.fromString("rw-r-----"))
    val it = fs.listFiles(hpath(root), true)
    var n = 0
    while (it.hasNext) {
      val st = it.next()
      val p = java.nio.file.Paths.get(st.getPath.toUri)
      val a = Files.readAttributes(p, classOf[java.nio.file.attribute.PosixFileAttributes],
        LinkOption.NOFOLLOW_LINKS)
      assert(st.getOwner == a.owner.getName && st.getGroup == a.group.getName, p)
      assert(st.getPermission.toShort == mode(p).toShort, p)
      n += 1
    }
    assert(n == 2)
  }
}
