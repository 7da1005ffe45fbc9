package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.ingest.FileUtils
import graft.sources.Tables

/** Persisted sketch warehouse WITH an erasure lifecycle — the missing
  * governance half of hll04/qs04's append-only register/state tables.
  *
  * Sketches cannot subtract: an HLL register max and a bottom-k
  * survivor both physically retain a forgotten key's contribution
  * forever, so the tombstone remedy the row-level indexes use
  * (Dedup.forgetFromIndex, VectorIndex tombstones) is structurally
  * unavailable — exactly the quantizer-resident-data situation sim16
  * resolves by REBUILD. This warehouse makes that remedy cheap by
  * partitioning the sketch state: per source partition, one
  * marker-sealed state dir; an erasure rebuilds ONLY the partitions
  * that contain the erased keys, from the source minus every erased
  * key recorded so far, and leaves the other partitions' bytes
  * untouched.
  *
  * Layout under `path`:
  *  - `meta`                  — (key_col, part_col) the warehouse was
  *    built with; erase/estimate read the STORED config (the
  *    saveNearDupIndex geometry contract).
  *  - `parts/p<v>/v<n>/...`   — partition v's state, one VERSION dir
  *    per (re)build, committed through FileUtils' sealed-dir protocol
  *    (claim, write, seal — `FileUtils.commitSeqDir`); readers take the
  *    newest sealed version (`FileUtils.sealedDirs`), so a crashed
  *    rebuild leaves the previous state live (never a half-written
  *    one) and versions are claimed race-safely.
  *  - `erased/e<n>/ids`       — sealed erasure manifests. Every
  *    rebuild excludes the UNION of all committed manifests, so
  *    repeated erasures touching the same partition compose instead of
  *    resurrecting earlier forgotten keys.
  *  - `retired/r<n>/parts/<v>.txt` — sealed retirement manifests.
  *
  * Scale shape: state per partition is O(registers) / O(k) rows; an
  * erasure's cost is (affected partitions) × (one scan of those
  * partitions' source rows) — never a whole-corpus rebuild, and never
  * proportional to warehouse history. The affected-partition collect
  * is bounded by the partition-value domain (required ≤ [[MaxParts]]).
  */
object SketchWarehouse {

  /** Partition-value domain cap: save collects the distinct partition
    * values and erase collects the affected subset — both driver-side
    * lists by design (they drive per-partition writes), so the domain
    * must be bounded (dates, shards, tenants — not a high-cardinality
    * key).
    */
  val MaxParts: Int = 4096

  /** Per-partition state builds are INDEPENDENT Spark jobs writing
    * distinct claimed dirs, so they run concurrently from the driver —
    * serializing them would make every save/erase/append latency-bound
    * on (partitions × per-job overhead), the actual bottleneck at
    * date-partitioned warehouse sizes. Bounded pool: enough to keep
    * the scheduler fed, small enough not to stack hundreds of
    * concurrent jobs. Override with SPARK_GRAFT_WH_PAR (1 = serial —
    * the A/B measurement dial).
    */
  private val PartBuildParallelism: Int =
    sys.env.get("SPARK_GRAFT_WH_PAR").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(8)

  private def forEachPart(parts: Seq[Long])(f: Long => Unit): Unit = {
    val par = math.min(PartBuildParallelism, parts.size)
    if (par <= 1) parts.foreach(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val futures = parts.map(p =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = f(p)
          }))
        futures.foreach { fu =>
          try fu.get()
          catch { // surface the real failure, not the wrapper
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } finally { pool.shutdownNow(); () }
    }
  }

  private def conf(df: DataFrame) =
    df.sparkSession.sparkContext.hadoopConfiguration

  /** Driver-side read of the 1-row warehouse meta manifest
    * (TinyParquet — bounded by [[MaxParts]], so no Spark job):
    * (kind, key_col, part_col, val_col, parts).
    */
  private def readMeta(hconf: org.apache.hadoop.conf.Configuration,
      path: String): (String, String, String, Option[String], Seq[Long]) = {
    import graft.ingest.TinyParquet.{LongArrayCol, StringCol}
    require(FileUtils.exists(s"$path/meta", hconf),
      s"$path has no warehouse meta — the save never completed " +
        "(meta commits last); re-run the save")
    val m = graft.ingest.TinyParquet.read(s"$path/meta", hconf,
      Seq(StringCol("kind"), StringCol("key_col"), StringCol("part_col"),
        StringCol("val_col"), LongArrayCol("parts"))).head
    (m(0).asInstanceOf[String], m(1).asInstanceOf[String],
      m(2).asInstanceOf[String],
      Option(m(3).asInstanceOf[String]).filter(_.nonEmpty),
      m(4).asInstanceOf[Seq[Long]])
  }

  /** Build + persist the per-partition HLL register warehouse for
    * `key` over `fact`, REPLACING anything at `path`.
    */
  def saveHllWarehouse(fact: DataFrame, path: String, key: String,
      partCol: String): Unit =
    saveWarehouse(fact, path, key, partCol, "hll")

  /** Build + persist the per-partition bottom-k quantile-sketch
    * warehouse for (`key`, `valCol`) over `fact`, REPLACING anything
    * at `path`. The per-partition states merge losslessly by
    * union-then-recut (qs02's monoid), so partition-scoped rebuilds
    * compose into the global sketch exactly.
    */
  def saveQuantileWarehouse(fact: DataFrame, path: String, key: String,
      valCol: String, partCol: String): Unit =
    saveWarehouse(fact, path, key, partCol, "quantile", Some(valCol))

  /** Build + persist the per-partition count-min cell warehouse for
    * `key` over `fact`, REPLACING anything at `path`. Cells merge by
    * cell-wise SUM (cms02's monoid), so partition-scoped rebuilds
    * compose into the corpus sketch exactly.
    */
  def saveCmsWarehouse(fact: DataFrame, path: String, key: String,
      partCol: String): Unit =
    saveWarehouse(fact, path, key, partCol, "cms")

  private def saveWarehouse(fact: DataFrame, path: String, key: String,
      partCol: String, kind: String, valCol: Option[String] = None): Unit = {
    val hconf = conf(fact)
    // destructive replace → exclusive lease (the saveNearDupIndex
    // contract): a second concurrent saver fails loudly instead of
    // interleaving the clears and rewrites below
    FileUtils.withSaveLease(path, hconf)(
      doSaveWarehouse(fact, path, key, partCol, kind, valCol))
  }

  private def doSaveWarehouse(fact: DataFrame, path: String, key: String,
      partCol: String, kind: String, valCol: Option[String]): Unit = {
    val hconf = conf(fact)
    // clear the warehouse's subtrees, not the root — the save lease
    // lives at the root and must survive the clear
    Seq("parts", "erased", "retired", "meta")
      .foreach(t => FileUtils.rmr(s"$path/$t", hconf))
    // bounded by contract: the partition domain drives per-partition
    // writes, so it must be small (see MaxParts)
    val parts = boundedParts(
      fact.select(col(partCol).cast("long").as("p")), partCol)
    // A fresh save builds EVERY partition's state, so it runs as ONE
    // distributed pass over the fact via the grouped sketch kernels
    // (the same kernels the per-group queries use — per-group rows are
    // identical to the per-slice builders by construction), written
    // partition-directory style in one job and moved into the claimed
    // version dirs driver-side. The previous shape ran one filtered
    // scan + aggregation + write PER partition (8-12 Spark jobs per
    // save; guide §1.2 — one pass was always sufficient). The claimed
    // v0-dir + seal layout is byte-compatible: append/erase
    // rebuilds (partition-scoped by design) keep the per-partition
    // writePartState path.
    val tagged = fact.withColumn("_wh_p", col(partCol).cast("long"))
    val state = kind match {
      case "hll" => Sketches.hllRegisterUpdatesBy(tagged, "_wh_p", key)
      case "quantile" => Sketches.quantileSketchBy(tagged, "_wh_p", key, valCol.get)
      case "cms" => Sketches.countMinCellsBy(tagged, "_wh_p", key)
      case other => sys.error(s"unknown warehouse kind: $other")
    }
    val vdirs = parts.map(p =>
      p -> FileUtils.claimSeqDir(s"$path/parts/p$p", "v", hconf)).toMap
    val staging = s"$path/_staging_save"
    state.write.mode("overwrite").partitionBy("_wh_p").parquet(staging)
    parts.foreach { p =>
      FileUtils.mkdirs(vdirs(p), hconf)
      require(FileUtils.move(s"$staging/_wh_p=$p", s"${vdirs(p)}/state", hconf),
        s"staging move failed for warehouse partition $p under $path")
      FileUtils.seal(vdirs(p), hconf)
    }
    FileUtils.rmr(staging, hconf)
    // meta LAST, carrying the full partition list: it is the
    // warehouse-level commit marker. A save that crashes mid-way leaves
    // no meta, so readers fail loudly instead of silently estimating
    // from a partial register set; readers also cross-check every
    // listed partition has a committed version (a deleted partition
    // dir cannot silently shrink the estimate either).
    // Driver-side write (TinyParquet): 1 bounded row, no Spark job.
    import graft.ingest.TinyParquet.{LongArrayCol, StringCol}
    graft.ingest.TinyParquet.write(s"$path/meta", hconf,
      Seq(StringCol("kind"), StringCol("key_col"), StringCol("part_col"),
        StringCol("val_col"), LongArrayCol("parts")),
      Seq(Seq(kind, key, partCol, valCol.getOrElse(""), parts.toSeq)))
  }

  // partition-domain collect shared by save and erase: bounded, sorted,
  // and NULL-free with a named contract error (a NULL would otherwise
  // surface as an opaque NPE from Row.getLong)
  private def boundedParts(pdf: DataFrame, partCol: String): Array[Long] = {
    val rows = pdf.distinct().orderBy("p").limit(MaxParts + 1).collect()
    require(rows.forall(!_.isNullAt(0)),
      s"warehouse partition column $partCol contains NULL (or values " +
        "that cast to NULL); every row must carry a non-NULL bounded " +
        "partition value")
    val parts = rows.map(_.getLong(0))
    require(parts.length <= MaxParts,
      s"warehouse partition column $partCol exceeds $MaxParts distinct " +
        "values; partition by a bounded domain (date, shard, tenant)")
    parts
  }

  /** One (re)build of partition `p`'s state, written as a fresh
    * claimed version dir + marker. Rebuilds driven by erasure
    * (`excludeErased = true`) read the manifest union AFTER claiming
    * the version dir — the ordering that makes CONCURRENT erasers
    * safe: version ids are totally ordered by claim-file creation, a
    * manifest always commits before its eraser's first claim, and
    * claim enumeration is what assigns the ids — so the HIGHEST
    * version's manifest read happened after every lower version's
    * manifest commit, and the winning state can never resurrect a key
    * a losing concurrent eraser committed (pinned in
    * SketchWarehouseSpec's concurrent-erase test).
    */
  private def writePartState(fact: DataFrame, path: String, kind: String,
      key: String, valCol: Option[String], partCol: String, p: Long,
      excludeErased: Option[SparkSession]): Unit = {
    FileUtils.commitSeqDir(s"$path/parts/p$p", "v", conf(fact)) { vdir =>
      // manifests read AFTER the claim (see scaladoc) — and always the
      // FULL committed union, so repeated erasures compose
      val erased = excludeErased.flatMap(s => erasedKeys(s, path))
      val slice0 = fact.filter(col(partCol).cast("long") === p)
      val slice = erased.fold(slice0)(e =>
        slice0.join(e, slice0(key).cast("long") === e("k"), "left_anti"))
      val state = kind match {
        case "hll" => Sketches.hllRegisterUpdates(slice, key)
        case "quantile" => Sketches.quantileSketch(slice, key, valCol.get)
        case "cms" => Sketches.countMinCells(slice, key)
        case other => sys.error(s"unknown warehouse kind in $path/meta: $other")
      }
      state.write.parquet(s"$vdir/state")
    }
    ()
  }

  /** Extend a saved warehouse with NEW partitions of `fact` — the
    * daily-ingestion shape (each batch arrives as fresh partition
    * values; hll04's append-a-delta story with partition-scoped
    * state). Only partitions absent from the warehouse are built; each
    * lands as a committed v0 state dir sealed by an `_APPENDED` sibling
    * marker created AFTER the state commits, so readers (which take
    * meta's list ∪ appended markers) can never see a half-appended
    * partition, and no meta rewrite is needed (meta stays the SAVE's
    * atomic commit marker). Appended builds exclude the committed
    * erasure-manifest union — a new batch cannot re-introduce a
    * forgotten key.
    *
    * CONTRACT: the warehouse's unit of append is the PARTITION — rows
    * of `fact` landing in already-known partitions are skipped, which
    * is exactly what makes a crashed append's retry safe (sealed
    * partitions no-op, the rest complete). A batch that needs to ADD
    * rows to an existing partition value is a different operation
    * (rebuild that partition, or land under a new value); the returned
    * (appended, skipped) partition lists let the caller tell the retry
    * no-op from the contract violation.
    */
  def appendWarehousePartitions(fact: DataFrame,
      path: String): (Seq[Long], Seq[Long]) = {
    val s = fact.sparkSession
    val hconf = conf(fact)
    val (kind, key, partCol, valCol, metaParts) = readMeta(hconf, path)
    // retired values count as known even after vacuum deleted their
    // dirs (and their _APPENDED markers): late-arriving data for an
    // expired window must NOT resurrect it
    val known = (metaParts ++ appendedParts(path, hconf)).toSet ++
      retiredParts(path, hconf)
    val batch = boundedParts(
      fact.select(col(partCol).cast("long").as("p")), partCol)
    val fresh = batch.filterNot(known)
    forEachPart(fresh.toSeq) { p =>
      writePartState(fact, path, kind, key, valCol, partCol, p, Some(s))
      // createExclusive, NOT touch: two concurrent appenders can both
      // reach the seal of a shared fresh partition (both built a
      // version — safe, claimed dirs; highest committed wins) and the
      // loser's marker create must be a no-op, not an abort that
      // strands its remaining fresh partitions
      FileUtils.createExclusive(s"$path/parts/p$p/_APPENDED", hconf): Unit
    }
    (fresh.toSeq, batch.filter(known).toSeq)
  }

  private def appendedParts(path: String,
      hconf: org.apache.hadoop.conf.Configuration): Seq[Long] =
    FileUtils.seqDirs(s"$path/parts", "p", hconf)
      .collect { case (p, d) if FileUtils.exists(s"$d/_APPENDED", hconf) => p }

  /** Committed retirement manifests' union — the partitions readers
    * must exclude. Kept as marker-sealed manifests (the erased/ idiom)
    * rather than a meta rewrite, so retirement needs no
    * read-modify-write of the warehouse-level commit marker and
    * concurrent retirers compose the same way concurrent erasers do.
    * Listings only, so StateCatalog's census reads it too.
    */
  private[operators] def retiredParts(path: String,
      hconf: org.apache.hadoop.conf.Configuration): Set[Long] =
    FileUtils.sealedDirs(s"$path/retired", "r", hconf)
      .flatMap { case (_, d) =>
        FileUtils.listChildFiles(s"$d/parts", hconf)
          .filter(_.endsWith(".txt"))
          .flatMap(f => new org.apache.hadoop.fs.Path(f)
            .getName.stripSuffix(".txt").toLongOption)
      }.toSet

  /** Age-based retention — the OTHER half of warehouse governance
    * next to [[eraseFromWarehouse]]'s by-key path: retire every stored
    * partition whose value is strictly below `cutoff` (partition
    * values are the warehouse's time axis — dates, epochs, shards with
    * a rolling window). Retirement is a marker-sealed manifest, cost
    * O(retired values), NO state rebuild and NO source scan — the
    * whole point of partitioning the sketch state by the retention
    * axis is that expiry is a metadata operation, in contrast to
    * erase-by-key's partition rebuilds. Readers exclude retired
    * partitions immediately; bytes disappear at [[vacuumRetired]].
    *
    * Retirement is DURABLE: a later append whose batch carries a
    * retired partition value skips it (the value stays "known"), so
    * late-arriving data for an expired window cannot resurrect it —
    * the contract a compliance window needs. Returns the newly
    * retired values (empty = nothing stored was old enough). Leased: a
    * retire racing a save would retire the replacement's partitions.
    */
  def retireWarehousePartitions(s: SparkSession, path: String,
      cutoff: Long): Seq[Long] = {
    val hconf = s.sparkContext.hadoopConfiguration
    FileUtils.withSaveLease(path, hconf) {
      val known = readMeta(hconf, path)._5 ++ appendedParts(path, hconf)
      val already = retiredParts(path, hconf)
      val fresh = known.distinct.filter(p => p < cutoff && !already(p))
      // one empty FILE per value, named by the value: the manifest is
      // pure metadata, so it never needs a Spark job (or a parquet
      // footer) to write or read
      if (fresh.nonEmpty)
        FileUtils.commitSeqDir(s"$path/retired", "r", hconf)(rdir =>
          fresh.foreach(p => FileUtils.touch(s"$rdir/parts/$p.txt", hconf)))
      fresh
    }
  }

  /** Physically delete every retired partition's state dirs. The
    * manifests stay (they are what keeps retirement durable against
    * late appends); only the bytes go. Safe to retry — deleting an
    * already-gone dir is a no-op. Leased: a vacuum listing the manifests
    * before a save would delete the replacement's fresh `parts/p<v>`.
    */
  def vacuumRetired(s: SparkSession, path: String): Unit = {
    val hconf = s.sparkContext.hadoopConfiguration
    FileUtils.withSaveLease(path, hconf)(
      retiredParts(path, hconf)
        .foreach(p => FileUtils.rmr(s"$path/parts/p$p", hconf)))
  }

  private def erasedKeys(s: SparkSession, path: String): Option[DataFrame] = {
    val dirs = FileUtils.sealedDirs(s"$path/erased", "e",
      s.sparkContext.hadoopConfiguration)
    if (dirs.isEmpty) None
    else Some(s.read.parquet(dirs.map(_._2 + "/ids"): _*)
      .select(col("k").cast("long").as("k")).distinct())
  }

  /** Right-to-erasure, the honest sketch remedy: record the keys
    * (first column of `eraseKeys`, cast to long) as a marker-sealed
    * manifest, then REBUILD every partition of `fact` that contains
    * them — from the source minus ALL committed manifests — as a new
    * committed version. Untouched partitions keep their bytes; after
    * the rebuild the erased keys' contributions are byte-absent from
    * every live state file (registers can't subtract, so recompute is
    * the only erasure that actually forgets).
    */
  def eraseFromWarehouse(fact: DataFrame, path: String,
      eraseKeys: DataFrame): Unit = {
    val s = fact.sparkSession
    val hconf = conf(fact)
    val (kind, key, partCol, valCol, metaParts) = readMeta(hconf, path)
    // manifest FIRST: a crash after the manifest commits but before the
    // rebuilds leaves the request durable — RETRYING the erase is the
    // documented repair (it recomputes this manifest's partitions, and
    // every rebuild excludes the full committed union anyway)
    // `mine` is pinned (reused for the affected scan); lazy, so its
    // checkpoint runs inside the commit, after the manifest's claim
    lazy val mine = eraseKeys.select(col(eraseKeys.columns.head).cast("long").as("k"))
      .distinct().localCheckpoint(eager = true)
    FileUtils.commitSeqDir(s"$path/erased", "e", hconf)(edir =>
      mine.write.parquet(s"$edir/ids"))
    // affected partitions of THIS call's keys only — an erase costs
    // (partitions its keys live in) × (one slice rebuild), independent
    // of how many erasures the warehouse has absorbed before (the
    // rebuilds themselves still exclude the FULL manifest union, so
    // composition never regresses) — INTERSECTED with the partitions
    // the warehouse actually holds: a key whose partition was never
    // saved/appended has nothing stored to rebuild (its future append
    // excludes the manifest anyway), and an unfiltered rebuild would
    // write orphan state dirs no reader ever sees
    // ... and MINUS retired partitions: their state is already out of
    // every reader's set (and possibly vacuumed), so rebuilding one
    // would only write orphan versions
    val known = (metaParts ++ appendedParts(path, hconf)).toSet --
      retiredParts(path, hconf)
    val affected = boundedParts(
      fact.join(mine, fact(key).cast("long") === mine("k"), "left_semi")
        .select(col(partCol).cast("long").as("p")), partCol)
      .filter(known)
    forEachPart(affected.toSeq)(p =>
      writePartState(fact, path, kind, key, valCol, partCol, p, Some(s)))
  }

  /** Newest committed state file per partition — the read set every
    * estimator merges. Driven by meta's partition LIST, not a dir
    * listing: meta is written LAST by save (the warehouse-level commit
    * marker), so a crashed partial save fails loudly here, and a
    * partition listed but missing a committed version (a deleted dir)
    * cannot silently shrink the estimate.
    */
  private def latestStates(s: SparkSession, path: String): Seq[String] = {
    val hconf = s.sparkContext.hadoopConfiguration
    val expected = (readMeta(hconf, path)._5 ++ appendedParts(path, hconf))
      .distinct.filterNot(retiredParts(path, hconf))
    require(expected.nonEmpty,
      s"warehouse at $path lists no live partitions (all saved " +
        "partitions may have been retired)")
    expected.map { p =>
      val live = FileUtils.sealedDirs(s"$path/parts/p$p", "v", hconf).lastOption
      require(live.nonEmpty,
        s"partition p$p of $path has no committed state — the " +
          "warehouse is damaged; re-run the save")
      live.get._2 + "/state"
    }
  }

  /** Corpus-level cardinality estimate from the live per-partition
    * registers: groupBy(reg).max merge (hll02's monoid) + the shared
    * estimator — never touches raw data.
    */
  def estimateHllWarehouse(s: SparkSession, path: String): DataFrame =
    Sketches.hllEstimateFromRegisters(
      s.read.parquet(latestStates(s, path): _*)
        .groupBy("reg").agg(max(col("max_rho")).as("max_rho")))

  /** The merged global bottom-k sketch from the live per-partition
    * states: distinct-(h, kk) union then recut (qs04's replay-tolerant
    * merge — partitions are disjoint by construction, but a retried
    * rebuild must stay idempotent).
    */
  def mergedQuantileWarehouse(s: SparkSession, path: String): DataFrame =
    s.read.parquet(latestStates(s, path): _*)
      .dropDuplicates(Seq("h", "kk"))
      .orderBy(col("h"), col("kk")).limit(Sketches.QsK)

  /** The merged global count-min cell table from the live
    * per-partition states: cell-wise SUM (cms02's monoid), ≤
    * depth×width rows whatever the partition count.
    */
  def mergedCmsWarehouse(s: SparkSession, path: String): DataFrame =
    s.read.parquet(latestStates(s, path): _*)
      .groupBy("j", "bucket").agg(sum(col("cnt")).as("cnt"))

  // Erase three customers from the per-partition register warehouse,
  // then estimate: the oracle replays the DIRECT whole-corpus HLL build
  // over orders WITHOUT those customers, so a hash match proves the
  // partition-scoped rebuild leaves estimates exactly as if the erased
  // keys had never been ingested (register merge is the hll02 monoid,
  // so partition-wise build == direct build). The spec separately pins
  // that untouched partitions keep their version-0 bytes and that
  // repeated erasures compose.
  private val gov03 = QueryDef(
    "gov03_sketch_erasure",
    (s, dir) => {
      val o = Tables(s, dir).orders
        .withColumn("part", pmod(col("o_custkey"), lit(8)))
      val path = java.nio.file.Files
        .createTempDirectory("graft_gov03_wh").toString
      try {
        import s.implicits._
        saveHllWarehouse(o, path, "o_custkey", "part")
        eraseFromWarehouse(o, path, Seq(97L, 194L, 388L).toDF("o_custkey"))
        val exact = o.filter(!col("o_custkey").isin(97, 194, 388))
          .agg(count_distinct(col("o_custkey")).as("n_exact"))
        estimateHllWarehouse(s, path)
          .crossJoin(broadcast(exact))
          .select(lit("warehouse_custkey_post_erasure").as("col_name"),
            col("n_exact"), col("n_est"),
            (abs(col("n_est") - col("n_exact")) <= lit(0.15) * col("n_exact"))
              .as("in_envelope"))
          .localCheckpoint(eager = true)
      } finally FileUtils.rmr(path, s.sparkContext.hadoopConfiguration)
    },
    Some(Sketches.hllSql(
      "(SELECT * FROM orders WHERE o_custkey NOT IN (97, 194, 388))",
      "o_custkey", "warehouse_custkey_post_erasure")),
  )

  // The count-min member of the erasure story: frequency cells can't
  // subtract safely either (deleting would need exact per-key counts —
  // the thing the sketch exists to avoid storing), so the same
  // partition-scoped rebuild runs, and the merged cells must serve
  // cms01's heavy-hitter probe over lineitem WITHOUT the erased part
  // keys — exact top-20, min-over-depths estimates, and the
  // probability-1 never-under flag, all hash-matched against the
  // direct build on the never-ingested corpus.
  private lazy val gov05 = QueryDef(
    "gov05_cms_erasure",
    (s, dir) => {
      val li = Tables(s, dir).lineitem
        .withColumn("part", pmod(col("l_partkey"), lit(8)))
      val path = java.nio.file.Files
        .createTempDirectory("graft_gov05_wh").toString
      try {
        import s.implicits._
        saveCmsWarehouse(li, path, "l_partkey", "part")
        eraseFromWarehouse(li, path, Seq(7L, 12L, 21L).toDF("l_partkey"))
        val survivors = li.filter(!col("l_partkey").isin(7, 12, 21))
        Sketches.cmsHeavyHitters(survivors,
            mergedCmsWarehouse(s, path), "l_partkey")
          .localCheckpoint(eager = true)
      } finally FileUtils.rmr(path, s.sparkContext.hadoopConfiguration)
    },
    Some(Sketches.cmsHeavySql(
      "(SELECT * FROM lineitem WHERE l_partkey NOT IN (7, 12, 21))")),
  )

  // The warehouse's APPEND lifecycle, end to end: save covers
  // partitions 0–5, the "next ingestion batch" appends 6–7, and the
  // merged estimate must hash-match the DIRECT whole-corpus HLL build
  // (the register merge is the hll02 monoid, so save-then-append ==
  // build-once — neither partition boundaries nor the _APPENDED
  // marker path can move the estimate). The spec separately pins that
  // an appended batch excludes previously-erased keys.
  private lazy val wh01 = QueryDef(
    "wh01_warehouse_append",
    (s, dir) => {
      val o = Tables(s, dir).orders
        .withColumn("part", pmod(col("o_custkey"), lit(8)))
      val path = java.nio.file.Files
        .createTempDirectory("graft_wh01").toString
      try {
        saveHllWarehouse(o.filter(col("part") < 6), path, "o_custkey", "part")
        appendWarehousePartitions(o, path)
        val exact = o.agg(count_distinct(col("o_custkey")).as("n_exact"))
        estimateHllWarehouse(s, path)
          .crossJoin(broadcast(exact))
          .select(lit("warehouse_custkey_appended").as("col_name"),
            col("n_exact"), col("n_est"),
            (abs(col("n_est") - col("n_exact")) <= lit(0.15) * col("n_exact"))
              .as("in_envelope"))
          .localCheckpoint(eager = true)
      } finally FileUtils.rmr(path, s.sparkContext.hadoopConfiguration)
    },
    Some(Sketches.hllSql("orders", "o_custkey", "warehouse_custkey_appended")),
  )

  // The quantile twin: bottom-k states can't subtract either (an
  // erased key's row may BE a survivor), so the same partition-scoped
  // rebuild runs, and the merged recut must equal the direct sketch of
  // the filtered corpus — qs01's whole envelope table, deciles and
  // rank audit included, over orders minus the erased keys.
  private lazy val gov04 = QueryDef(
    "gov04_quantile_erasure",
    (s, dir) => {
      val o = Tables(s, dir).orders
        .withColumn("part", pmod(col("o_orderkey"), lit(8)))
      val path = java.nio.file.Files
        .createTempDirectory("graft_gov04_wh").toString
      try {
        import s.implicits._
        saveQuantileWarehouse(o, path, "o_orderkey", "o_totalprice", "part")
        eraseFromWarehouse(o, path, Seq(3L, 11L, 20L).toDF("o_orderkey"))
        val survivors = o.filter(!col("o_orderkey").isin(3, 11, 20))
        Sketches.decileEnvelope(survivors, "o_totalprice",
            Sketches.quantileEstimates(mergedQuantileWarehouse(s, path)))
          .localCheckpoint(eager = true)
      } finally FileUtils.rmr(path, s.sparkContext.hadoopConfiguration)
    },
    Sketches.qs01Oracle.map { o =>
      // one anchored edit: qs01's f CTE sources the raw fact exactly once
      val anchored = "FROM orders)"
      require(o.indexOf(anchored) == o.lastIndexOf(anchored) && o.contains(anchored),
        "qs01 oracle fact CTE moved")
      o.replace(anchored, "FROM orders WHERE o_orderkey NOT IN (3, 11, 20))")
    },
  )

  // Age-based retention end to end: a date-partitioned warehouse (the
  // partition value IS the time axis) retires everything below the
  // cutoff — a metadata-only operation, no rebuild, no source scan —
  // then vacuums the bytes, and the estimate must hash-match the
  // DIRECT whole-corpus HLL build over only the retained window. The
  // spec separately pins that retired dirs are physically gone after
  // vacuum, that the estimate is identical before and after vacuum
  // (readers exclude retired state the moment the manifest commits),
  // and that a late append carrying a retired value skips it.
  private lazy val gov06 = QueryDef(
    "gov06_warehouse_retention",
    (s, dir) => {
      val o = Tables(s, dir).orders
        .withColumn("part", pmod(col("o_custkey"), lit(8)))
      val path = java.nio.file.Files
        .createTempDirectory("graft_gov06_wh").toString
      try {
        saveHllWarehouse(o, path, "o_custkey", "part")
        retireWarehousePartitions(s, path, cutoff = 2L)
        vacuumRetired(s, path)
        val retained = o.filter(col("part") >= 2)
        val exact = retained
          .agg(count_distinct(col("o_custkey")).as("n_exact"))
        estimateHllWarehouse(s, path)
          .crossJoin(broadcast(exact))
          .select(lit("warehouse_custkey_retained").as("col_name"),
            col("n_exact"), col("n_est"),
            (abs(col("n_est") - col("n_exact")) <= lit(0.15) * col("n_exact"))
              .as("in_envelope"))
          .localCheckpoint(eager = true)
      } finally FileUtils.rmr(path, s.sparkContext.hadoopConfiguration)
    },
    Some(Sketches.hllSql(
      "(SELECT * FROM orders WHERE o_custkey % 8 >= 2)",
      "o_custkey", "warehouse_custkey_retained")),
  )

  // Retention on the QUANTILE kind — the mechanism (latestStates
  // excludes retired partitions) is kind-agnostic, but the read paths
  // differ per kind (register max-merge vs bottom-k union-recut vs
  // cell sums), so the quantile member gets its own oracle row: after
  // retiring the sub-cutoff partitions the merged recut must equal
  // qs01's direct sketch of ONLY the retained window — deciles, rank
  // audit, and envelope included.
  private lazy val gov07 = QueryDef(
    "gov07_quantile_retention",
    (s, dir) => {
      val o = Tables(s, dir).orders
        .withColumn("part", pmod(col("o_orderkey"), lit(8)))
      val path = java.nio.file.Files
        .createTempDirectory("graft_gov07_wh").toString
      try {
        saveQuantileWarehouse(o, path, "o_orderkey", "o_totalprice", "part")
        retireWarehousePartitions(s, path, cutoff = 2L)
        vacuumRetired(s, path)
        val retained = o.filter(col("part") >= 2)
        Sketches.decileEnvelope(retained, "o_totalprice",
            Sketches.quantileEstimates(mergedQuantileWarehouse(s, path)))
          .localCheckpoint(eager = true)
      } finally FileUtils.rmr(path, s.sparkContext.hadoopConfiguration)
    },
    Sketches.qs01Oracle.map { o =>
      // gov04's anchored edit with the retention predicate
      val anchored = "FROM orders)"
      require(o.indexOf(anchored) == o.lastIndexOf(anchored) && o.contains(anchored),
        "qs01 oracle fact CTE moved")
      o.replace(anchored, "FROM orders WHERE o_orderkey % 8 >= 2)")
    },
  )

  // ... and on the COUNT-MIN kind, completing the retention triad the
  // way gov03/04/05 completed erasure: post-retirement the cell-wise
  // SUM of the live partitions must serve cms01's heavy-hitter probe
  // over only the retained window — exact top-20, min-over-depths
  // estimates, never-under flag — hash-matched against the direct
  // build on the retained rows.
  private lazy val gov08 = QueryDef(
    "gov08_cms_retention",
    (s, dir) => {
      val li = Tables(s, dir).lineitem
        .withColumn("part", pmod(col("l_partkey"), lit(8)))
      val path = java.nio.file.Files
        .createTempDirectory("graft_gov08_wh").toString
      try {
        saveCmsWarehouse(li, path, "l_partkey", "part")
        retireWarehousePartitions(s, path, cutoff = 2L)
        vacuumRetired(s, path)
        val retained = li.filter(col("part") >= 2)
        Sketches.cmsHeavyHitters(retained,
            mergedCmsWarehouse(s, path), "l_partkey")
          .localCheckpoint(eager = true)
      } finally FileUtils.rmr(path, s.sparkContext.hadoopConfiguration)
    },
    Some(Sketches.cmsHeavySql(
      "(SELECT * FROM lineitem WHERE l_partkey % 8 >= 2)")),
  )

  val defs: Seq[QueryDef] =
    Seq(gov03, gov04, gov05, gov06, gov07, gov08, wh01)
}
