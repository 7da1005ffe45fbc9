package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The batch-tree lifecycle both persisted indexes share (Dedup's
  * near-dup index, VectorIndex's IVF-PQ index). Layout under a root:
  *  - `batches/b<N>/<table>` — one dir per save/append holding every
  *    table in `tables`, sealed by `_COMMITTED` (readers ignore
  *    markerless dirs; a retry always writes a FRESH dir) and hidden
  *    again by `_RETIRED`; a vacuum's compaction is `batches_g<N>/b0`
  *    once its generation marker commits ([[Generations]]);
  *  - `forgotten/f<N>/ids` — marker-sealed tombstones (one `idCol`
  *    column) every read filters out until a vacuum applies them;
  *  - `_SAVING`, `gen/`, `epoch/` — the exclusive lease of every
  *    destructive step, the generation markers, the save epoch.
  * An index keeps only its manifests (geometry, quantizers) and how
  * one batch's tables are written.
  */
final case class BatchTree(idCol: String, tables: Seq[String]) {

  /** Committed, unretired batch dirs of the LIVE generation (a staged
    * vacuum tree without its gen marker is invisible here): a retired
    * batch is out of every read the moment its marker lands, its bytes
    * gone at the next [[vacuum]]. Fails when no batch is live.
    */
  def liveDirs(root: String, conf: Configuration): Seq[String] = {
    val base = Generations.currentBatchesDir(root, conf)
    val dirs = FileUtils.listSubdirs(base, conf)
      .filter(d => FileUtils.exists(s"$d/_COMMITTED", conf) &&
        !FileUtils.exists(s"$d/_RETIRED", conf))
    require(dirs.nonEmpty, s"no live committed index batches under $base")
    dirs
  }

  /** A full REPLACE under the exclusive `_SAVING` lease (two savers
    * would interleave clears and rewrites into one corrupt tree):
    * reset to generation 0, clear the tombstones (a leftover set would
    * hide any NEW row reusing an erased id, and the next vacuum would
    * delete it), run the index's `replace` (manifests, then
    * [[commitBatch]]), and bump the save epoch LAST — after the new
    * state is fully written, which is what lets [[append]] read
    * "epoch unchanged at verify" as proof its state is the stored one
    * ([[Generations.saveEpoch]]).
    */
  def save(root: String, conf: Configuration)(replace: => Unit): Unit =
    FileUtils.withSaveLease(root, conf) {
      Generations.reset(root, conf)
      FileUtils.rmr(s"$root/forgotten", conf)
      replace
      Generations.bumpSaveEpoch(root, conf)
    }

  /** One-shot commit for [[save]]'s `replace` (the lease holder has
    * nothing to race). The id is claimed atomically BEFORE `write`
    * fills the dir ([[FileUtils.claimSeqDir]]), so two writers never
    * interleave part files under one `_COMMITTED`.
    */
  def commitBatch(root: String, conf: Configuration)(write: String => Unit): Unit = {
    val bdir = FileUtils.claimSeqDir(Generations.currentBatchesDir(root, conf), "b", conf)
    write(bdir)
    FileUtils.touch(s"$bdir/_COMMITTED", conf)
  }

  /** Append one batch, SELF-HEALING against concurrent maintenance.
    * `attempt` is evaluated per attempt AFTER the save epoch is read:
    * it loads the stored state the batch is encoded under and returns
    * the writer for the claimed dir. After committing, the append
    * waits out any `_SAVING` holder and verifies its fate
    * ([[Generations.verifyAppendCommit]], whose loud failure names
    * `what`): kept, folded into a vacuum's generation, or dead with a
    * replaced tree — then retracted and re-written against the CURRENT
    * state. Nothing is lost, nothing duplicates.
    */
  def append(root: String, conf: Configuration, what: String)(
      attempt: => String => Unit): Unit =
    untilDurable("append to", root) { last =>
      val committed =
        try {
          val epoch0 = Generations.saveEpoch(root, conf)
          val write = attempt
          val base = Generations.currentBatchesDir(root, conf)
          commitAttempt(base, "b", last, conf)(write).map((epoch0, base, _))
        } catch { case _: Exception if !last => None }
      Generations.awaitNoLease(root, conf)
      val done = committed.exists { case (epoch0, base, bdir) =>
        Generations.verifyAppendCommit(root, epoch0, base, bdir, what, conf)
      }
      // RETRACT before retrying: a dir that survived a save's reset
      // may hold stale-state rows AND would be duplicated by the retry
      // — marker first (one atomic op hides it), then the bytes
      if (!done) committed.foreach { case (_, _, bdir) =>
        try {
          FileUtils.delete(s"$bdir/_COMMITTED", recursive = false, conf): Unit
          FileUtils.rmr(bdir, conf)
        } catch { case _: Exception => () }
      }
      done
    }

  /** Retire every live batch but the newest `keepLast` with a
    * `_RETIRED` marker each (metadata-only). Under the `_SAVING` lease:
    * a save restarts the tree at `b0`, so an unleased late marker could
    * retire the REPLACEMENT index's only batch, and a vacuum folds the
    * batch into its next generation, so the marker would retire
    * nothing. Returns the newly retired batch ids.
    */
  def retire(root: String, conf: Configuration, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    FileUtils.withSaveLease(root, conf) {
      val retire = liveDirs(root, conf).sortBy(BatchTree.batchId).dropRight(keepLast)
      retire.foreach(d => FileUtils.touch(s"$d/_RETIRED", conf))
      retire.map(BatchTree.batchId)
    }
  }

  /** The committed tombstone ids, or None when nothing is forgotten. */
  def tombstones(s: SparkSession, root: String): Option[DataFrame] = {
    val conf = s.sparkContext.hadoopConfiguration
    val dirs = FileUtils.listSubdirs(s"$root/forgotten", conf)
      .filter(d => FileUtils.exists(s"$d/_COMMITTED", conf))
    if (dirs.isEmpty) None
    else Some(TinyParquet.readSpark(s, dirs.map(_ + "/ids"): _*)
      .select(col(idCol).cast("bigint").as(idCol)))
  }

  /** Each of `tables` unioned over `dirs`, tombstoned rows removed —
    * in `tables` order.
    */
  def read(s: SparkSession, root: String, dirs: Seq[String]): Seq[DataFrame] = {
    val tomb = tombstones(s, root)
    tables.map { t =>
      val df = TinyParquet.readSpark(s, dirs.map(d => s"$d/$t"): _*)
      tomb.fold(df)(df.join(_, Seq(idCol), "left_anti"))
    }
  }

  /** [[read]] over the live batches. */
  def read(s: SparkSession, root: String): Seq[DataFrame] =
    read(s, root, liveDirs(root, s.sparkContext.hadoopConfiguration))

  /** One table of the live batches tagged with a `batch_id` column,
    * tombstoned rows removed — the per-batch audits' input.
    */
  def readByBatch(s: SparkSession, root: String, table: String): DataFrame = {
    val stored = liveDirs(root, s.sparkContext.hadoopConfiguration)
      .map(d => TinyParquet.readSpark(s, s"$d/$table")
        .withColumn("batch_id", lit(BatchTree.batchId(d))))
      .reduce(_.unionByName(_))
    tombstones(s, root).fold(stored)(stored.join(_, Seq(idCol), "left_anti"))
  }

  /** Record `ids`' `srcCol` as a marker-sealed tombstone entry,
    * SELF-HEALING: a vacuum sweeps the log after folding ITS snapshot
    * in and a save clears it, so an entry committed in either window
    * could vanish unapplied. Post-commit, wait out any maintenance
    * writer and re-record if the entry is gone (idempotent) — a
    * governance request is never silently dropped.
    */
  def forget(root: String, ids: DataFrame, srcCol: String): Unit = {
    val conf = ids.sparkSession.sparkContext.hadoopConfiguration
    untilDurable("forget on", root) { last =>
      val fdir = commitAttempt(s"$root/forgotten", "f", last, conf)(d =>
        ids.select(col(srcCol).cast("bigint").as(idCol))
          .write.mode("overwrite").parquet(s"$d/ids"))
      Generations.awaitNoLease(root, conf)
      fdir.exists(d => FileUtils.exists(s"$d/_COMMITTED", conf))
    }
  }

  /** PHYSICAL erasure and compaction under the `_SAVING` lease: the
    * live batches minus tombstoned rows are STAGED as the next
    * generation's `b0` (invisible to readers), the consumed batch list
    * is recorded (so a racing [[append]] can tell "folded into b0" from
    * "died with the old tree"), and one atomic marker create flips the
    * generation live; a crash either side leaves one whole generation
    * serving. Manifests are untouched.
    */
  def vacuum(s: SparkSession, root: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    FileUtils.withSaveLease(root, conf) {
      val dirs = liveDirs(root, conf)
      val compacted = read(s, root, dirs)
      val (gen, stage) = Generations.stageNextGen(root, conf)
      tables.zip(compacted).foreach { case (t, df) => df.write.parquet(s"$stage/b0/$t") }
      FileUtils.touch(s"$stage/b0/_COMMITTED", conf)
      Generations.recordConsumed(root, gen, dirs, conf)
      require(Generations.commitGeneration(root, gen, conf),
        s"generation $gen of $root was committed concurrently — " +
          "another vacuum ran despite the save lease")
      // best-effort cleanup AFTER the commit point: old generations'
      // bytes and the now-applied tombstone log
      Generations.sweepStale(root, conf)
      FileUtils.rmr(s"$root/forgotten", conf)
    }
  }

  // The self-healing writes' retry bound: `attempt(last)` reports
  // whether its commit is durable.
  private def untilDurable(op: String, root: String)(attempt: Boolean => Boolean): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= BatchTree.MaxAttempts,
        s"$op $root kept losing maintenance races after ${BatchTree.MaxAttempts} attempts")
      done = attempt(attempts == BatchTree.MaxAttempts)
    }
  }

  // Claim a `<prefix><N>` dir under `base`, fill it, seal it. Before the
  // last attempt a failure is swallowed — a sweep can delete the tree
  // under a mid-flight write, leaving an invisible markerless dir, and
  // the caller goes around again; the last attempt's exception surfaces.
  private def commitAttempt(base: String, prefix: String, last: Boolean,
      conf: Configuration)(write: String => Unit): Option[String] =
    try {
      val d = FileUtils.claimSeqDir(base, prefix, conf)
      try {
        write(d)
        FileUtils.touch(s"$d/_COMMITTED", conf)
        Some(d)
      } catch {
        case _: Exception if !last =>
          // the marker op itself may have half-landed before the
          // failure — best-effort removal so a retry can never
          // double-commit into a tree that is actually live
          try FileUtils.delete(s"$d/_COMMITTED", recursive = false, conf): Unit
          catch { case _: Exception => () }
          None
      }
    } catch { case _: Exception if !last => None }
}

object BatchTree {

  /** Attempts a self-healing append or forget makes before failing. */
  val MaxAttempts = 8

  /** The numeric id of a `b<N>` batch dir (listings sort b10 < b2). */
  def batchId(dir: String): Long = new Path(dir).getName.stripPrefix("b").toLong
}
