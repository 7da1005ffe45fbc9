package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Generation pointer for the persisted indexes' batch trees — the
  * manifest swap that makes VACUUM crash-atomic (the trade both
  * vacuums previously documented as open: an in-place delete→rewrite
  * window in which a crash left the index half-gone).
  *
  * Protocol: generation 0 is the plain `batches` dir every save and
  * append writes; a vacuum STAGES its compacted replacement as a fresh
  * `batches_g<N>` tree (invisible — readers never resolve an
  * unmarked generation) and then commits it by atomically creating
  * the `gen/g<N>` marker file — one [[FileUtils.createExclusive]],
  * the same primitive every claim rides, so the commit is a single
  * atomic metadata operation on every store a [[ClaimBackend]]
  * supports. Readers resolve the HIGHEST committed marker. Crash
  * before the marker → readers still on the old generation, the
  * staged tree is an orphan the next vacuum sweeps; crash after →
  * readers on the new generation, stale bytes (old tree, applied
  * tombstones) linger harmlessly until the next vacuum's sweep
  * (tombstones re-filter rows the compaction already dropped — a
  * no-op).
  *
  * A SAVE is a full replace and resets to generation 0 ([[reset]]);
  * it runs under the exclusive `_SAVING` lease, as do vacuums, so
  * generation numbers are never contended (the marker create's
  * atomicity is a belt-and-braces backstop, not the locking story).
  */
object Generations {

  private def genNumbers(root: String, conf: Configuration): Seq[Long] =
    FileUtils.listChildFiles(s"$root/gen", conf).flatMap(FileUtils.seqId(_, "g"))

  private def dirNameOf(n: Long): String =
    if (n == 0L) "batches" else s"batches_g$n"

  /** Highest committed generation (0 when none was ever committed). */
  def currentGen(root: String, conf: Configuration): Long =
    genNumbers(root, conf).maxOption.getOrElse(0L)

  /** The LIVE batches dir readers, appenders, and retirers resolve. */
  def currentBatchesDir(root: String, conf: Configuration): String =
    s"$root/${dirNameOf(currentGen(root, conf))}"

  /** The staging dir for the next generation (current + 1) — written
    * in full, then flipped live with [[commitGeneration]]. Any orphan
    * tree of the same number (a predecessor that crashed between
    * staging and committing) is cleared first: an unmarked stage is
    * invisible to every reader by definition, and stagers hold the
    * exclusive save lease, so the retry can never collide with a live
    * writer — this is exactly what makes a crashed vacuum's retry
    * clean.
    */
  def stageNextGen(root: String, conf: Configuration): (Long, String) = {
    val n = currentGen(root, conf) + 1
    val stage = s"$root/${dirNameOf(n)}"
    FileUtils.rmr(stage, conf)
    (n, stage)
  }

  /** THE commit point: one atomic marker create. False = lost to a
    * concurrent committer of the same number (impossible under the
    * save lease both vacuums hold; surfaced loudly anyway).
    */
  def commitGeneration(root: String, n: Long, conf: Configuration): Boolean =
    FileUtils.createExclusive(s"$root/gen/g$n", conf)

  /** A batch dir qualified by its generation tree ("batches/b2",
    * "batches_g3/b0") — the name space consumed-manifests use, so a
    * batch id reused by a LATER generation can never alias an earlier
    * one.
    */
  def qualifiedName(batchDir: String): String = {
    val p = new Path(batchDir)
    s"${p.getParent.getName}/${p.getName}"
  }

  /** Record which batch dirs generation `n`'s compaction CONSUMED —
    * written beside the markers (never inside a sweepable tree, so the
    * record outlives the sweep) BEFORE the generation commits. This is
    * what lets a concurrent appender distinguish "my batch was folded
    * into the new generation" from "my batch landed after the
    * vacuum's read set and died with the old tree" ([[isConsumed]]).
    */
  def recordConsumed(root: String, n: Long, batchDirs: Seq[String],
      conf: Configuration): Unit =
    FileUtils.atomicWrite(s"$root/gen/g$n.consumed",
      batchDirs.map(qualifiedName).sorted.mkString("", "\n", "\n"), conf)

  /** Whether any committed generation's consumed-manifest lists this
    * qualified batch name — i.e. the batch's rows live on in the
    * compaction chain.
    */
  def isConsumed(root: String, qualified: String,
      conf: Configuration): Boolean =
    FileUtils.listChildFiles(s"$root/gen", conf)
      .filter(_.endsWith(".consumed"))
      .exists(f => HadoopFsConditionalStore.get(f, conf)
        .exists(b => new String(b, java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator.contains(qualified)))

  /** Monotonic SAVE epoch — the counter that closes the generation-0
    * ABA hole: a save's [[reset]] restores the index to generation 0
    * with the SAME `batches` dir name, so "marker survived in an
    * unchanged generation" alone cannot prove no save replaced the
    * quantizers/geometry between an append's model load and its
    * commit. Epoch markers live in `$root/epoch/` — which [[reset]]
    * never touches — so the counter is monotonic across every save,
    * and an append verifies `saveEpoch == the epoch it loaded under`.
    *
    * Saves bump the epoch as their LAST step (after the replacement
    * quantizers/meta are fully written, still under the `_SAVING`
    * lease). The ordering is what makes the check sound in BOTH
    * directions: an appender that read the pre-save epoch and loaded
    * the old model always sees a bumped epoch at verify (the bump
    * lands before the lease release that awaitNoLease waits for) and
    * retries; an appender that read the post-bump epoch can only load
    * the NEW model (the bump lands after the model is fully written),
    * so its codes are valid. A save that crashes mid-way leaves the
    * lease held and every append fails loudly via [[awaitNoLease]].
    */
  def saveEpoch(root: String, conf: Configuration): Long =
    FileUtils.listChildFiles(s"$root/epoch", conf)
      .flatMap(FileUtils.seqId(_, "e")).maxOption.getOrElse(0L)

  /** Advance the save epoch — callers hold the exclusive `_SAVING`
    * lease, so the atomic create can only lose to a lease violation;
    * surface that loudly instead of letting two saves share an epoch.
    */
  def bumpSaveEpoch(root: String, conf: Configuration): Unit = {
    val n = saveEpoch(root, conf) + 1
    require(FileUtils.createExclusive(s"$root/epoch/e$n", conf),
      s"$root/epoch/e$n already exists — a concurrent save bumped the " +
        "epoch under our exclusive lease; the lease protocol was violated")
    // hygiene: the protocol only ever reads the MAX marker, so sub-max
    // markers are dead weight — prune them so a much-re-saved index
    // lists one file per verification, not its whole save history.
    // Safe at any interleaving: e<n> is created FIRST, so a concurrent
    // saveEpoch read always sees the max; a stale appender comparing
    // an older epoch still mismatches (n > its capture) and retries.
    // Best-effort — a failed delete just leaves a marker for the next
    // save's prune.
    FileUtils.listChildFiles(s"$root/epoch", conf)
      .filter(FileUtils.seqId(_, "e").exists(_ < n))
      .foreach(f =>
        try FileUtils.delete(f, recursive = false, conf): Unit
        catch { case _: Exception => () })
  }

  /** Post-commit verification of the self-healing append
    * ([[BatchTree.append]]), run AFTER [[awaitNoLease]]: true ⟹ the committed batch is valid and
    * durable. Two arms:
    *
    *  - marker survived + generation unchanged + SAVE EPOCH unchanged
    *    ⟹ no maintenance replaced the index since the appender read
    *    its model/geometry (a vacuum flips the generation; a save —
    *    which keeps gen 0 and the same dir name — always bumps the
    *    monotonic epoch). Filesystem checks only, no parquet re-read.
    *  - the batch's qualified name is in a committed generation's
    *    consumed manifest (a concurrent vacuum folded it into the
    *    compaction chain) — valid ONLY if the epoch is ALSO unchanged:
    *    an append racing both a save and a vacuum can land a
    *    stale-model batch that the vacuum consumes before this check,
    *    laundering stale codes into the compacted generation. A
    *    consumed batch cannot be retracted (a retry would duplicate
    *    it), so an epoch mismatch here FAILS LOUDLY instead of
    *    returning false into a retry.
    *
    * False ⟹ the commit died with a replaced/swept tree (or survived
    * a save's reset holding possibly-stale codes): the caller retracts
    * the commit (marker first, then bytes) and retries under the
    * CURRENT model. `what` names the stale artifact in the loud
    * failure ("stale-model codes" / "stale-geometry bands").
    */
  def verifyAppendCommit(root: String, epoch0: Long, base: String,
      bdir: String, what: String, conf: Configuration): Boolean =
    (FileUtils.isSealed(bdir, conf) &&
      currentBatchesDir(root, conf) == base &&
      saveEpoch(root, conf) == epoch0) ||
    (isConsumed(root, qualifiedName(bdir), conf) && {
      require(saveEpoch(root, conf) == epoch0,
        s"append batch ${qualifiedName(bdir)} of $root was consumed " +
          "into a compacted generation, but the save epoch changed " +
          "since the appender read the index state — the batch may " +
          s"carry $what and can no longer be retracted (a retry would " +
          "duplicate it); rebuild or re-save the index rather than " +
          "trusting it")
      true
    })

  /** Wait out any in-flight maintenance writer's `_SAVING` lease —
    * the gate that makes a self-healing append/forget's post-commit
    * verification sound: once no lease is held at the moment of the
    * check, any FUTURE vacuum's read set necessarily includes our
    * already-committed state (its lease acquire, read, and flip all
    * happen after), so "my dir still exists" and "my name is in a
    * consumed manifest" between them decide the outcome exactly.
    * Bounded: a lease still held past the timeout means a live (or
    * crashed) maintenance writer — fail loudly rather than spin
    * forever. The default 120 s bound is sized for test-scale
    * maintenance; a production vacuum compacting a 100-TB index can
    * legitimately hold `_SAVING` far longer, so the bound is
    * configurable per-call or fleet-wide via
    * `graft.lease.timeout.ms` in the Hadoop conf (negative `timeoutMs`
    * defers to the conf). The failure message reports the lease's AGE
    * so the operator can tell a live long-running writer (young lease
    * → raise the timeout) from a probably-crashed one instead of being
    * handed the crash remedy for both. The live/crashed split is an
    * ABSOLUTE age threshold ([[LeaseCrashedAgeKey]], default 30 min) —
    * deliberately NOT a multiple of the caller's timeout: a
    * legitimately long production vacuum exceeds any small configured
    * bound many times over (the very case the configurable bound
    * exists for), and a relative rule would hand that live writer's
    * operator a delete remedy that re-opens the save/append race. Even
    * past the threshold the message keeps deletion a LAST resort,
    * conditional on verifying no writer process exists — mtime age is
    * a heuristic, not proof of death.
    */
  val LeaseTimeoutKey = "graft.lease.timeout.ms"

  /** Absolute lease age (ms) past which the timeout hint leans
    * "probably crashed" — see [[LeaseTimeoutKey]]'s scaladoc for why
    * this is not derived from the caller's timeout bound.
    */
  val LeaseCrashedAgeKey = "graft.lease.crashed.age.ms"

  def awaitNoLease(root: String, conf: Configuration,
      timeoutMs: Long = -1L): Unit = {
    val bound =
      if (timeoutMs >= 0L) timeoutMs else conf.getLong(LeaseTimeoutKey, 120000L)
    val lease = s"$root/_SAVING"
    val deadline = System.currentTimeMillis() + bound
    while (FileUtils.exists(lease, conf)) {
      if (System.currentTimeMillis() >= deadline) {
        val age =
          try {
            val p = new Path(lease)
            val st = p.getFileSystem(conf).getFileStatus(p)
            (System.currentTimeMillis() - st.getModificationTime) / 1000L
          } catch { case _: Exception => -1L } // lease vanished / stat failed
        if (age < 0L && !FileUtils.exists(lease, conf)) return // released at the wire
        val crashedAgeMs = conf.getLong(LeaseCrashedAgeKey, 1800000L)
        val hint =
          if (age >= 0L && age * 1000L <= crashedAgeMs)
            s"the lease is only ${age}s old — a maintenance writer " +
              s"(save/vacuum) is likely STILL RUNNING; raise $LeaseTimeoutKey " +
              "(or pass a longer timeout) and retry"
          else
            s"the lease is ${if (age >= 0L) s"${age}s old" else "of unknown age"} " +
              s"(past the $LeaseCrashedAgeKey threshold of ${crashedAgeMs}ms) — " +
              "the writer likely CRASHED, but age alone is not proof: " +
              "FIRST verify no save/vacuum process is live (and raise " +
              s"$LeaseTimeoutKey if one is); only then, as a last resort, " +
              "delete the lease and retry"
        throw new IllegalStateException(
          s"$lease still held after ${bound}ms; $hint")
      }
      Thread.sleep(100L)
    }
  }

  /** Sweep every non-live batch tree (older generations, orphaned
    * stages from crashed vacuums). Safe to re-run; never touches the
    * live tree or the markers.
    */
  def sweepStale(root: String, conf: Configuration): Unit = {
    val live = dirNameOf(currentGen(root, conf))
    FileUtils.listSubdirs(root, conf)
      .map(d => new Path(d).getName)
      .filter(n => (n == "batches" || n.startsWith("batches_g")) && n != live)
      .foreach(n => FileUtils.rmr(s"$root/$n", conf))
  }

  /** A save's full replace: every batch tree and every marker goes —
    * the index restarts at generation 0.
    */
  def reset(root: String, conf: Configuration): Unit = {
    FileUtils.listSubdirs(root, conf)
      .map(d => new Path(d).getName)
      .filter(n => n == "batches" || n.startsWith("batches_g"))
      .foreach(n => FileUtils.rmr(s"$root/$n", conf))
    FileUtils.rmr(s"$root/gen", conf)
  }
}
