package graft.ingest

import graft.SparkSpec
import graft.operators.{Layout, StateCatalog}

class FileUtilsSpec extends SparkSpec {

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

  // ---- the sealed-dir protocol ----------------------------------------

  private val hconf = new org.apache.hadoop.conf.Configuration()

  private def sealedDir(base: String, name: String): Unit = {
    FileUtils.mkdirs(s"$base/$name", hconf)
    FileUtils.seal(s"$base/$name", hconf)
  }

  private def names(dirs: Seq[(Long, String)]): Seq[String] =
    dirs.map(d => new org.apache.hadoop.fs.Path(d._2).getName)

  test("sealed dirs ascend by numeric id: the newest of b2 and b10 is b10") {
    val base = tmp().toString
    Seq("b10", "b2", "b1").foreach(sealedDir(base, _))
    val sealedDirs = FileUtils.sealedDirs(base, "b", hconf)
    assert(names(sealedDirs) == Seq("b1", "b2", "b10"))
    assert(sealedDirs.map(_._1) == Seq(1L, 2L, 10L))
    assert(sealedDirs.last._1 == 10L)
  }

  test("an unsealed dir and the names bands and b_x are ignored") {
    val base = tmp().toString
    sealedDir(base, "b0")
    Seq("bands", "b_x").foreach(sealedDir(base, _)) // sealed, but not b<N>
    FileUtils.mkdirs(s"$base/b1", hconf) // numbered, never sealed
    assert(names(FileUtils.seqDirs(base, "b", hconf)) == Seq("b0", "b1"))
    assert(names(FileUtils.sealedDirs(base, "b", hconf)) == Seq("b0"))
    assert(FileUtils.seqId("bands", "b").isEmpty && FileUtils.seqId("b_x", "b").isEmpty)
    assert(FileUtils.seqId(s"$base/b7", "b").contains(7L))
  }

  test("an abandoned claim is counted, and its id is never reused") {
    val base = tmp().toString
    val first = FileUtils.commitSeqDir(base, "v", hconf)(d => FileUtils.mkdirs(d, hconf): Unit)
    FileUtils.claimSeqDir(base, "v", hconf) // claimed, then abandoned
    assert(FileUtils.claimIds(base, "v", hconf) == Seq(0L, 1L))
    assert(FileUtils.seqDirs(base, "v", hconf).map(_._1) == Seq(0L),
      "an abandoned claim has no dir")
    val next = FileUtils.commitSeqDir(base, "v", hconf)(d => FileUtils.mkdirs(d, hconf): Unit)
    assert(FileUtils.seqId(first, "v").contains(0L) && FileUtils.seqId(next, "v").contains(2L))
    assert(FileUtils.sealedDirs(base, "v", hconf).map(_._1) == Seq(0L, 2L))
  }

  test("a throwing writer leaves its claimed dir unsealed") {
    val base = tmp().toString
    val e = intercept[IllegalStateException] {
      FileUtils.commitSeqDir(base, "e", hconf) { d =>
        FileUtils.mkdirs(s"$d/ids", hconf)
        throw new IllegalStateException("writer died")
      }
    }
    assert(e.getMessage == "writer died", "the writer's own failure surfaces")
    assert(FileUtils.claimIds(base, "e", hconf) == Seq(0L))
    assert(FileUtils.seqDirs(base, "e", hconf).map(_._1) == Seq(0L))
    assert(!FileUtils.isSealed(s"$base/e0", hconf))
    assert(FileUtils.sealedDirs(base, "e", hconf).isEmpty)
  }

  test("after two compactions and an abandoned third claim, the catalog's live version is what readCompacted reads") {
    import org.apache.spark.sql.functions.{col, max, min}
    val tmpRoot = tmp().toString
    try {
      val dst = s"$tmpRoot/compacted"
      spark.range(0, 10).write.parquet(s"$tmpRoot/a")
      spark.range(100, 150).write.parquet(s"$tmpRoot/b")
      Layout.compact(spark, s"$tmpRoot/a", dst, targetBytes = 1L << 20)
      Layout.compact(spark, s"$tmpRoot/b", dst, targetBytes = 1L << 20, clusterBy = Some("id"))
      FileUtils.claimSeqDir(dst, "v", hconf) // a third pass that crashed after its claim
      val r = StateCatalog.describeState(spark, dst).head
      assert(r.getAs[Long]("generation") == 1L)
      assert(r.getAs[String]("geometry") == "cluster_by=id")
      assert(r.getAs[Long]("committed_batches") == 2L)
      assert(r.getAs[Long]("abandoned_claims") == 1L)
      val read = Layout.readCompacted(spark, dst)
        .agg(min(col("id")), max(col("id")), org.apache.spark.sql.functions.count("*")).head
      assert((read.getLong(0), read.getLong(1), read.getLong(2)) == ((100L, 149L, 50L)),
        "readCompacted must read v1, the version the catalog reports live")
    } finally FileUtils.rmr(tmpRoot, hconf)
  }
}
