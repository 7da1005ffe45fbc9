package graft.ingest

import org.scalatest.funsuite.AnyFunSuite

class FileUtilsSpec extends AnyFunSuite {

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft-fileutils")

  test("backup: timestamped sibling copy with the reference's naming shape") {
    val dir = tmp()
    val f = dir.resolve("data.json")
    java.nio.file.Files.writeString(f, "{\"a\":1}")
    val bak = FileUtils.backup(f.toString)
    // <stem>.backup_<yyyyMMdd_HHmmss><ext> (file_handler.py:387-392)
    val name = new org.apache.hadoop.fs.Path(bak).getName
    assert(name.matches("""data\.backup_\d{8}_\d{6}(_\d+)?\.json"""), name)
    assert(FileUtils.exists(bak))
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(
      bak.stripPrefix("file:"))) == "{\"a\":1}")
    // original untouched
    assert(java.nio.file.Files.readString(f) == "{\"a\":1}")
    // same-second second backup gets a numeric suffix, not an overwrite
    val bak2 = FileUtils.backup(f.toString)
    assert(bak2 != bak)
    assert(FileUtils.exists(bak2))
  }

  test("backup of a missing file fails loudly") {
    val dir = tmp()
    intercept[IllegalArgumentException] {
      FileUtils.backup(dir.resolve("nope.json").toString)
    }
  }

  test("a held save lease is refused naming every step that takes it") {
    val root = tmp().toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val e = intercept[IllegalArgumentException] {
      FileUtils.withSaveLease(root, conf)(FileUtils.withSaveLease(root, conf)(()))
    }
    Seq("save", "vacuum", "retire", "compaction", s"$root/_SAVING", "delete the lease")
      .foreach(w => assert(e.getMessage.contains(w), e.getMessage))
    // the outer holder released the lease on its way out
    assert(FileUtils.withSaveLease(root, conf)(1) == 1)
  }
}
