package graft.ingest

import graft.SparkSpec
import graft.ingest.TinyParquet.LongCol
import graft.operators.{Dedup, VectorIndex}

/** The shared batch-tree lifecycle: retire's save lease, and the
  * self-healing append's in-loop retry (a writer that fails mid-write,
  * and one that never succeeds).
  */
class BatchTreeSpec extends SparkSpec {

  private val conf = spark.sparkContext.hadoopConfiguration

  private def withRoot(body: String => Unit): Unit = {
    val root = tmpDir("batchtree").toString
    try body(root) finally FileUtils.rmr(root, conf)
  }

  private def committedBatch(root: String, id: Int): String = {
    val d = s"$root/batches/b$id"
    FileUtils.touch(s"$d/_COMMITTED", conf)
    d
  }

  Seq[(String, (String, Int) => Seq[Long])](
    "near-dup" -> ((p, k) => Dedup.retireIndexBatches(spark, p, k)),
    "vector" -> ((p, k) => VectorIndex.retireVectorIndexBatches(spark, p, k)),
  ).foreach { case (tag, retire) =>
    test(s"$tag retire refuses a held save lease and writes no marker") {
      withRoot { root =>
        val dirs = Seq(0, 1).map(committedBatch(root, _))
        FileUtils.touch(s"$root/_SAVING", conf)
        val e = intercept[IllegalArgumentException](retire(root, 1))
        assert(e.getMessage.contains("delete the lease"),
          s"$tag: error must name the lease remedy: ${e.getMessage}")
        assert(dirs.forall(d => !FileUtils.exists(s"$d/_RETIRED", conf)),
          s"$tag: a refused retire must not touch any batch")
        assert(FileUtils.exists(s"$root/_SAVING", conf),
          s"$tag: a refused retire must leave the holder's lease alone")
        FileUtils.delete(s"$root/_SAVING", recursive = false, conf)
        // lease free: the same call retires the older batch and releases
        // the lease it took
        assert(retire(root, 1) == Seq(0L))
        assert(FileUtils.exists(s"${dirs.head}/_RETIRED", conf))
        assert(!FileUtils.exists(s"$root/_SAVING", conf))
      }
    }
  }

  private val tree = BatchTree("id", Seq("t"))

  private def rows(dir: String): Seq[Long] =
    TinyParquet.read(s"$dir/t", conf, Seq(LongCol("id")))
      .map(_.head.asInstanceOf[Long]).sorted

  test("append retries a writer that fails mid-write into a fresh batch") {
    withRoot { root =>
      var attempts = 0
      tree.append(root, conf, "stale rows") {
        attempts += 1
        val attempt = attempts
        bdir => {
          TinyParquet.write(s"$bdir/t", conf, Seq(LongCol("id")),
            Seq(Seq(attempt * 10L), Seq(attempt * 10L + 1)))
          if (attempt == 1) throw new java.io.IOException("disk went away")
        }
      }
      assert(attempts == 2)
      val live = tree.liveDirs(root, conf)
      assert(live.size == 1, s"exactly one live batch, got $live")
      assert(rows(live.head) == Seq(20L, 21L), "the live batch holds attempt 2's rows")
      val failed = s"$root/batches/b0"
      assert(live.head != failed && FileUtils.exists(s"$failed/t", conf),
        "attempt 1 wrote its part file into b0")
      assert(!FileUtils.exists(s"$failed/_COMMITTED", conf),
        "the failed attempt's dir must stay uncommitted")
    }
  }

  test("append surfaces a persistent writer failure after the last attempt") {
    withRoot { root =>
      var attempts = 0
      val e = intercept[java.io.IOException](
        tree.append(root, conf, "stale rows") { _ =>
          attempts += 1
          throw new java.io.IOException(s"write failed on attempt $attempts")
        })
      assert(attempts == BatchTree.MaxAttempts)
      assert(e.getMessage == s"write failed on attempt ${BatchTree.MaxAttempts}",
        s"the writer's own exception must surface: ${e.getMessage}")
      val none = intercept[IllegalArgumentException](tree.liveDirs(root, conf))
      assert(none.getMessage.contains("no live committed index batches"))
    }
  }
}
