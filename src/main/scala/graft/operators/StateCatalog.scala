package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.ingest.FileUtils
import graft.sources.Tables

/** Operator-state catalog — `DESCRIBE` for the engine's persisted
  * state roots (the reference's introspection instinct, app.py:243-251
  * `get_table_info`, applied to the engine's own lifecycles): one
  * surface that tells an operator what a state directory IS and what
  * shape it is in, without touching any stored data.
  *
  * Everything is derived from listings: FileUtils' sealed-dir
  * protocol reports the claim ids and the sealed `<prefix><N>` dirs
  * (`seqDirs`, `claimIds`, `sealedDirs` — no name is parsed here),
  * next to the `_RETIRED` / `_APPENDED` markers, manifest dirs and the
  * `_SAVING` lease. Beyond that there is ONE bounded read of the 1-row
  * `meta` manifest for the geometry string — never a
  * batch/state/corpus file. Cost is a handful of LISTs however
  * large the state is, so it is safe to run against a 100-TB
  * deployment's indexes from a laptop.
  *
  * Point-in-time caveats (inherent to a metadata census): a batch an
  * appender is writing RIGHT NOW shows as a claimed-abandoned id until
  * its seal lands, and `stale_saving_lease` is really
  * "a `_SAVING` lease exists" — the operator cross-checks against live
  * jobs before applying the lease error's named remedy.
  */
object StateCatalog {

  /** Census of one seq-claimed dir family (`<prefix><N>` dirs +
    * `<prefix><N>.claim` files — the claimSeqDir protocol).
    */
  private final case class SeqCensus(
      committed: Long, retired: Long, abandoned: Long)

  private def censusSeqDirs(base: String, prefix: String,
      conf: org.apache.hadoop.conf.Configuration): SeqCensus = {
    val committed = FileUtils.sealedDirs(base, prefix, conf)
    val retired = committed.count { case (_, d) => FileUtils.exists(s"$d/_RETIRED", conf) }
    // a claim whose dir was never sealed is abandoned (or mid-write —
    // see the point-in-time caveat above); its id is burned by
    // protocol, never reused
    val committedIds = committed.map(_._1).toSet
    val abandoned = FileUtils.claimIds(base, prefix, conf).count(!committedIds(_))
    SeqCensus(committed.size.toLong, retired.toLong, abandoned.toLong)
  }

  /** The 1-row meta manifest rendered as a stable `k=v,...` string —
    * the single read beyond listings (geometry is index identity, and
    * it lives nowhere else). For a compacted table the "geometry" is
    * the LIVE version's recorded cluster-by column (a 1-line marker
    * file — same cost class), empty for round-robin versions.
    */
  private def geometryOf(s: SparkSession, root: String,
      kind: String): String = {
    if (kind == "compacted_table") {
      val conf = s.sparkContext.hadoopConfiguration
      // the LIVE version: the newest sealed v<N>, which readCompacted reads
      return FileUtils.sealedDirs(root, "v", conf).lastOption
        .flatMap { case (_, d) =>
          graft.ingest.HadoopFsConditionalStore.get(s"$d/cluster_by", conf) }
        .map(b => "cluster_by=" + new String(b,
          java.nio.charset.StandardCharsets.UTF_8).trim)
        .getOrElse("")
    }
    val hconf = s.sparkContext.hadoopConfiguration
    if (!FileUtils.exists(s"$root/meta", hconf)) return ""
    // the 1-row meta manifest is read driver-side (TinyParquet) — the
    // catalog's "handful of LISTs" cost model, with no Spark job even
    // for its single bounded read
    import graft.ingest.TinyParquet.{IntCol, StringCol}
    kind match {
      case "near_dup_index" =>
        val m = graft.ingest.TinyParquet.read(s"$root/meta", hconf,
          Seq(IntCol("num_hashes"), IntCol("bands"))).head
        s"num_hashes=${m(0)},bands=${m(1)}"
      case "vector_index" =>
        val m = graft.ingest.TinyParquet.read(s"$root/meta", hconf,
          Seq(IntCol("n_cells"), IntCol("n_sub"), IntCol("sub_dim"))).head
        s"n_cells=${m(0)},n_sub=${m(1)},sub_dim=${m(2)}"
      case _ =>
        val m = graft.ingest.TinyParquet.read(s"$root/meta", hconf,
          Seq(StringCol("kind"), StringCol("key_col"),
            StringCol("part_col"), StringCol("val_col"))).head
        val vc = m(3).asInstanceOf[String]
        s"kind=${m(0)},key=${m(1)},part=${m(2)}" +
          (if (vc == null || vc.isEmpty) "" else s",val=$vc")
    }
  }

  /** One catalog row for the persisted state at `root`. Kind is
    * detected STRUCTURALLY (each lifecycle's layout is disjoint:
    * `centroids` ⇒ vector index, `parts` ⇒ sketch warehouse,
    * `batches`/`meta` ⇒ near-dup index, else root-level `v<N>`
    * versions/claims ⇒ compacted table); an unrecognizable root fails
    * loudly with the four known layouts named.
    *
    * Column semantics by kind — indexes: committed/retired/abandoned
    * count `batches/b<N>` (committed INCLUDES the retired subset),
    * tombstone_logs counts committed `forgotten/f<N>` erasure logs;
    * warehouse: committed/abandoned count state VERSION dirs summed
    * over `parts/p<v>`, erasure_manifests counts committed
    * `erased/e<N>`, live/retired_partitions split the listed `p<v>`
    * dirs by the retirement manifests; compacted table:
    * committed/abandoned count `v<N>` versions, `generation` is the
    * LIVE version id (highest committed — what Layout.readCompacted
    * resolves; -1 before the first commit), geometry is the live
    * version's recorded cluster-by column. `save_epochs` counts the
    * full saves an index root has absorbed (the monotonic epoch the
    * ABA-safe append verification rides; 0 for the per-partition /
    * per-version lifecycles). `stale_saving_lease` is the root
    * `_SAVING` marker.
    */
  def describeState(s: SparkSession, root: String): DataFrame = {
    val conf = s.sparkContext.hadoopConfiguration
    val kind =
      if (FileUtils.exists(s"$root/centroids", conf)) "vector_index"
      else if (FileUtils.exists(s"$root/parts", conf)) "sketch_warehouse"
      else if (FileUtils.exists(s"$root/batches", conf) ||
        FileUtils.exists(s"$root/meta", conf)) "near_dup_index"
      // root-level `v<N>` dirs or claims (claims land before any bytes,
      // so even a just-claimed root is recognizable)
      else if (FileUtils.seqDirs(root, "v", conf).nonEmpty ||
        FileUtils.claimIds(root, "v", conf).nonEmpty) "compacted_table"
      else sys.error(s"$root holds no recognizable engine state " +
        "(vector index: centroids/; sketch warehouse: parts/; " +
        "near-dup index: batches/ + meta/; compacted table: v<N>/)")
    val (batches, parts) =
      if (kind == "sketch_warehouse") {
        val retiredVals = SketchWarehouse.retiredParts(root, conf)
        val pds = FileUtils.seqDirs(s"$root/parts", "p", conf)
        val versions = pds.map { case (_, d) => censusSeqDirs(d, "v", conf) }
        (SeqCensus(versions.map(_.committed).sum, 0L,
          versions.map(_.abandoned).sum),
          (pds.count(p => !retiredVals(p._1)).toLong,
            pds.count(p => retiredVals(p._1)).toLong))
      } else if (kind == "compacted_table")
        (censusSeqDirs(root, "v", conf), (0L, 0L))
      else (censusSeqDirs(
        graft.ingest.Generations.currentBatchesDir(root, conf), "b", conf),
        (0L, 0L))
    // the LIVE vacuum generation (indexes; 0 = never vacuumed or a
    // fresh save) — the Generations marker the readers resolve — or,
    // for a compacted table, the live VERSION id its readers resolve
    val generation =
      if (kind == "sketch_warehouse") 0L
      else if (kind == "compacted_table")
        FileUtils.sealedDirs(root, "v", conf).lastOption.fold(-1L)(_._1)
      else graft.ingest.Generations.currentGen(root, conf)
    val tombstones =
      if (kind == "sketch_warehouse" || kind == "compacted_table") 0L
      else censusSeqDirs(s"$root/forgotten", "f", conf).committed
    val erasures =
      if (kind == "sketch_warehouse")
        censusSeqDirs(s"$root/erased", "e", conf).committed
      else 0L
    // how many full saves this root has absorbed — the monotonic epoch
    // the ABA-safe append verification rides (index lifecycles only;
    // the warehouse and compacted table version per-partition/per-dir
    // instead of replacing wholesale)
    val epochs =
      if (kind == "near_dup_index" || kind == "vector_index")
        graft.ingest.Generations.saveEpoch(root, conf)
      else 0L
    import s.implicits._
    Seq((kind, geometryOf(s, root, kind), generation, epochs,
      batches.committed, batches.retired, batches.abandoned, tombstones,
      erasures, parts._1, parts._2,
      FileUtils.exists(s"$root/_SAVING", conf)))
      .toDF("state_kind", "geometry", "generation", "save_epochs",
        "committed_batches", "retired_batches", "abandoned_claims",
        "tombstone_logs", "erasure_manifests", "live_partitions",
        "retired_partitions", "stale_saving_lease")
  }

  /** Per-partition drill-down for a sketch warehouse: one row per
    * listed `parts/p<v>` dir with its committed version count, the
    * LIVE version id (highest committed — what every estimator reads),
    * and the append/retire flags. Same listing-only cost model as
    * [[describeState]].
    */
  def describeWarehousePartitions(s: SparkSession, root: String): DataFrame = {
    val conf = s.sparkContext.hadoopConfiguration
    require(FileUtils.exists(s"$root/parts", conf),
      s"$root is not a sketch warehouse (no parts/)")
    val retiredVals = SketchWarehouse.retiredParts(root, conf)
    import s.implicits._
    FileUtils.seqDirs(s"$root/parts", "p", conf).map { case (p, d) =>
      val committed = FileUtils.sealedDirs(d, "v", conf)
      (p, committed.size.toLong, committed.lastOption.fold(-1L)(_._1),
        FileUtils.exists(s"$d/_APPENDED", conf), retiredVals(p))
    }.toDF("partition", "n_versions", "live_version", "appended",
      "retired").orderBy("partition")
  }

  /** Per-batch drill-down for the INDEX lifecycles
    * ([[describeWarehousePartitions]]'s shape applied to `b<N>`
    * batches): one row per claimed batch id under the LIVE generation
    * — committed/retired from the markers, the table dirs present
    * (codes for a vector index; bands+shingles for near-dup), whether
    * any data file exists — plus claim-only rows for abandoned ids
    * (a crashed appender's burned id shows as an uncommitted,
    * table-less row, never vanishes silently). Listings only; byte
    * sizes are deliberately NOT in the oracle-facing surface (parquet
    * encoding makes them unreplayable) — has_data_files carries the
    * envelope-safe form.
    */
  def describeIndexBatches(s: SparkSession, root: String): DataFrame = {
    val conf = s.sparkContext.hadoopConfiguration
    val kind =
      if (FileUtils.exists(s"$root/centroids", conf)) "vector_index"
      else if (FileUtils.exists(s"$root/batches", conf) ||
        FileUtils.exists(s"$root/meta", conf)) "near_dup_index"
      else sys.error(s"$root is not a persisted index root " +
        "(vector index: centroids/; near-dup index: batches/ + meta/)")
    val base = graft.ingest.Generations.currentBatchesDir(root, conf)
    val dirs = FileUtils.seqDirs(base, "b", conf).toMap
    import s.implicits._
    (dirs.keySet ++ FileUtils.claimIds(base, "b", conf)).toSeq.sorted.map { id =>
      dirs.get(id) match {
        case Some(d) =>
          val tables = FileUtils.listSubdirs(d, conf)
            .map(t => new org.apache.hadoop.fs.Path(t).getName).sorted
          (kind, id,
            FileUtils.isSealed(d, conf),
            FileUtils.exists(s"$d/_RETIRED", conf),
            tables.mkString(","),
            tables.exists(t =>
              FileUtils.listDataFilesWithSize(s"$d/$t", conf).nonEmpty))
        case None => (kind, id, false, false, "", false)
      }
    }.toDF("state_kind", "batch_id", "committed", "retired", "tables",
      "has_data_files")
      .orderBy("state_kind", "batch_id")
  }

  // ------------------------------------------------------------- ops01
  // The catalog proved against all three lifecycles at once, each
  // driven through save / append / govern / retire on DETERMINISTIC
  // inputs (the warehouse fact is a literal id range, so the affected-
  // partition set never depends on SF), then described: the oracle
  // recomputes every count independently from the same lifecycle
  // arithmetic (2 commits - 1 retirement, 1 tombstone log, 8 saved +
  // 2 appended partitions with 2 erase-rebuilt versions and 2 retired
  // values...) as literals. The spec separately pins the
  // failure-census rows (stale lease, abandoned claim) and unknown
  // roots.
  private val ops01 = QueryDef(
    "ops01_state_catalog",
    (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ops01_state").toString
      try {
        import s.implicits._
        // the catalog censuses STATE GEOMETRY (batches, manifests,
        // markers), which is invariant to corpus size — so the
        // lifecycle inputs are bounded slices and ops01's cost stays
        // flat across SFs
        val docs = Tables(s, dir).documents.filter(col("doc_id") < 120)
        val emb = Tables(s, dir).embeddings
        val nd = s"$tmp/nd"
        val vx = s"$tmp/vx"
        val wh = s"$tmp/wh"
        // The three lifecycles touch DISJOINT state roots and share no
        // in-flight state, so they run as three concurrent driver
        // threads (guide §2.6: overlap independent jobs — each
        // lifecycle is a chain of small jobs whose task tails the
        // scheduler back-fills with the other lifecycles' work).
        // Sequentially this query paid sum-of-lifecycles wall.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        // near-dup index: save + append + forget + retire-to-newest
        val fnd = Future {
          Dedup.saveNearDupIndex(docs.filter(col("doc_id") % 3 === 0), nd)
          Dedup.appendNearDupIndex(docs.filter(col("doc_id") % 3 =!= 0), nd)
          Dedup.forgetFromIndex(s, nd,
            docs.filter(col("doc_id") % 5 === 0).select("doc_id"))
          require(Dedup.retireIndexBatches(s, nd, keepLast = 1) == Seq(0L))
        }
        // vector index: save + append + forget a non-training id
        val fvx = Future {
          VectorIndex.saveVectorIndex(
            emb.filter(col("vec_id") < 32 || col("vec_id") % 3 === 0), vx)
          VectorIndex.appendVectorIndex(
            emb.filter(col("vec_id") >= 32 && col("vec_id") % 3 =!= 0), vx)
          VectorIndex.forgetFromVectorIndex(s, vx,
            emb.filter(col("vec_id") === 40).select("vec_id"))
        }
        // warehouse: 8 saved partitions + 2 appended; keys 9 and 18
        // erased (rebuilding p1 and p2); values < 2 retired (p0, p1)
        val fwh = Future {
          val fact = s.range(0, 64).select(col("id").as("k"),
            pmod(col("id"), lit(8)).as("part"))
          SketchWarehouse.saveHllWarehouse(fact, wh, "k", "part")
          val late = s.range(64, 80).select(col("id").as("k"),
            (pmod(col("id"), lit(2)) + 8).as("part"))
          require(SketchWarehouse.appendWarehousePartitions(late, wh)
            ._1.sorted == Seq(8L, 9L))
          SketchWarehouse.eraseFromWarehouse(fact, wh,
            Seq(9L, 18L).toDF("k"))
          require(SketchWarehouse.retireWarehousePartitions(s, wh,
            cutoff = 2L).sorted == Seq(0L, 1L))
        }
        // await ALL (even when one failed) so no lifecycle is still
        // mutating its root when the caller reacts to a failure
        val rs = Seq(fnd, fvx, fwh).map(f =>
          scala.util.Try(Await.result(f, Duration.Inf)))
        rs.foreach(_.get)
        describeState(s, nd)
          .unionByName(describeState(s, vx))
          .unionByName(describeState(s, wh))
          .orderBy("state_kind")
          .localCheckpoint(eager = true)
      } finally FileUtils.rmr(tmp, s.sparkContext.hadoopConfiguration)
    },
    Some("""SELECT * FROM (VALUES
        ('near_dup_index', 'num_hashes=32,bands=16', CAST(0 AS BIGINT),
          CAST(1 AS BIGINT),
          CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT),
          CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
          CAST(0 AS BIGINT), FALSE),
        ('sketch_warehouse', 'kind=hll,key=k,part=part', CAST(0 AS BIGINT),
          CAST(0 AS BIGINT),
          CAST(12 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
          CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(8 AS BIGINT),
          CAST(2 AS BIGINT), FALSE),
        ('vector_index', 'n_cells=16,n_sub=8,sub_dim=8', CAST(0 AS BIGINT),
          CAST(1 AS BIGINT),
          CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
          CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
          CAST(0 AS BIGINT), FALSE))
        AS t(state_kind, geometry, generation, save_epochs,
          committed_batches, retired_batches, abandoned_claims,
          tombstone_logs, erasure_manifests, live_partitions,
          retired_partitions, stale_saving_lease)
      ORDER BY state_kind"""),
  )

  // ------------------------------------------------------------- ops02
  // The per-partition drill-down over the same warehouse lifecycle:
  // p1 and p2 carry the erase-rebuilt v1 (p1 retired afterwards — its
  // history stays visible to the census), p8/p9 carry the _APPENDED
  // seal, everything else sits at its save-time v0.
  private val ops02 = QueryDef(
    "ops02_warehouse_partition_census",
    (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ops02_state").toString
      try {
        import s.implicits._
        val wh = s"$tmp/wh"
        val fact = s.range(0, 64).select(col("id").as("k"),
          pmod(col("id"), lit(8)).as("part"))
        SketchWarehouse.saveHllWarehouse(fact, wh, "k", "part")
        val late = s.range(64, 80).select(col("id").as("k"),
          (pmod(col("id"), lit(2)) + 8).as("part"))
        require(SketchWarehouse.appendWarehousePartitions(late, wh)
          ._1.sorted == Seq(8L, 9L))
        SketchWarehouse.eraseFromWarehouse(fact, wh,
          Seq(9L, 18L).toDF("k"))
        require(SketchWarehouse.retireWarehousePartitions(s, wh,
          cutoff = 2L).sorted == Seq(0L, 1L))
        describeWarehousePartitions(s, wh)
          .localCheckpoint(eager = true)
      } finally FileUtils.rmr(tmp, s.sparkContext.hadoopConfiguration)
    },
    Some("""SELECT * FROM (VALUES
        (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE, TRUE),
        (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), FALSE, TRUE),
        (CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), FALSE, FALSE),
        (CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE, FALSE),
        (CAST(4 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE, FALSE),
        (CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE, FALSE),
        (CAST(6 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE, FALSE),
        (CAST(7 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE, FALSE),
        (CAST(8 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), TRUE, FALSE),
        (CAST(9 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), TRUE, FALSE))
        AS t(partition, n_versions, live_version, appended, retired)
      ORDER BY partition"""),
  )

  // ------------------------------------------------------------- ops03
  // The FOURTH lifecycle in the catalog: a versioned compaction root
  // (Layout.compact's marker-sealed `v<N>` dirs — the cmp01/cmp02
  // state). Built in-query on a deterministic literal landing (state
  // geometry is invariant to corpus size — the ops01 principle): two
  // committed versions, plain then clustered — the clustered one is
  // LIVE and carries the recorded cluster-by column — plus one
  // abandoned version claim (a compactor that crashed before its
  // seal; its id is burned by protocol). The oracle replays the
  // lifecycle arithmetic as literals; the spec separately pins the
  // pre-commit root (claims only → generation -1) and the
  // unknown-root failure naming all four layouts.
  private val ops03 = QueryDef(
    "ops03_compaction_catalog",
    (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ops03_state").toString
      try {
        val conf = s.sparkContext.hadoopConfiguration
        val landing = s"$tmp/landing"
        s.range(0, 4096).select(col("id").as("k"),
            pmod(col("id"), lit(64)).as("g"))
          .repartition(16).write.parquet(landing)
        val dst = s"$tmp/compacted"
        Layout.compact(s, landing, dst, targetBytes = 1L << 20)
        Layout.compact(s, landing, dst, targetBytes = 1L << 20,
          clusterBy = Some("k"))
        // a compactor that claimed the next version and crashed
        // pre-seal — must census as abandoned, never as live
        val claimed = FileUtils.claimSeqDir(dst, "v", conf)
        require(claimed.endsWith("/v2"), s"expected to claim v2, got $claimed")
        describeState(s, dst).localCheckpoint(eager = true)
      } finally FileUtils.rmr(tmp, s.sparkContext.hadoopConfiguration)
    },
    Some("""SELECT * FROM (VALUES
        ('compacted_table', 'cluster_by=k', CAST(1 AS BIGINT),
          CAST(0 AS BIGINT),
          CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT),
          CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
          CAST(0 AS BIGINT), FALSE))
        AS t(state_kind, geometry, generation, save_epochs,
          committed_batches, retired_batches, abandoned_claims,
          tombstone_logs, erasure_manifests, live_partitions,
          retired_partitions, stale_saving_lease)"""),
  )

  // ------------------------------------------------------------- ops04
  // The per-batch drill-down over BOTH index lifecycles (ops02's
  // shape for batches): the near-dup index carries a retired save
  // batch, a live append batch, and an ABANDONED claim (a crashed
  // appender — its burned id must census as an uncommitted,
  // table-less row); the vector index carries its save + append
  // batches. Deterministic lifecycle arithmetic, replayed by the
  // oracle as literals (the ops01 pattern); bounded inputs keep the
  // cost flat across SFs.
  private val ops04 = QueryDef(
    "ops04_index_batch_census",
    (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ops04_state").toString
      try {
        val conf = s.sparkContext.hadoopConfiguration
        val docs = Tables(s, dir).documents.filter(col("doc_id") < 120)
        val emb = Tables(s, dir).embeddings
        val nd = s"$tmp/nd"
        val vx = s"$tmp/vx"
        // disjoint state roots → concurrent lifecycles (§2.6; the
        // ops01 pattern — see its comment for the await discipline)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        val fnd = Future {
          Dedup.saveNearDupIndex(docs.filter(col("doc_id") % 3 === 0), nd)
          Dedup.appendNearDupIndex(docs.filter(col("doc_id") % 3 =!= 0), nd)
          require(Dedup.retireIndexBatches(s, nd, keepLast = 1) == Seq(0L))
          // a crashed appender: id claimed, nothing written
          val claimed = FileUtils.claimSeqDir(s"$nd/batches", "b", conf)
          require(claimed.endsWith("/b2"), s"expected to claim b2, got $claimed")
        }
        val fvx = Future {
          VectorIndex.saveVectorIndex(
            emb.filter(col("vec_id") < 32 || col("vec_id") % 3 === 0), vx)
          VectorIndex.appendVectorIndex(
            emb.filter(col("vec_id") >= 32 && col("vec_id") % 3 =!= 0), vx)
        }
        val rs = Seq(fnd, fvx).map(f =>
          scala.util.Try(Await.result(f, Duration.Inf)))
        rs.foreach(_.get)
        describeIndexBatches(s, nd)
          .unionByName(describeIndexBatches(s, vx))
          .orderBy("state_kind", "batch_id")
          .localCheckpoint(eager = true)
      } finally FileUtils.rmr(tmp, s.sparkContext.hadoopConfiguration)
    },
    Some("""SELECT * FROM (VALUES
        ('near_dup_index', CAST(0 AS BIGINT), TRUE, TRUE,
          'bands,shingles', TRUE),
        ('near_dup_index', CAST(1 AS BIGINT), TRUE, FALSE,
          'bands,shingles', TRUE),
        ('near_dup_index', CAST(2 AS BIGINT), FALSE, FALSE, '', FALSE),
        ('vector_index', CAST(0 AS BIGINT), TRUE, FALSE, 'codes', TRUE),
        ('vector_index', CAST(1 AS BIGINT), TRUE, FALSE, 'codes', TRUE))
        AS t(state_kind, batch_id, committed, retired, tables,
          has_data_files)
      ORDER BY state_kind, batch_id"""),
  )

  val defs: Seq[QueryDef] = Seq(ops01, ops02, ops03, ops04)
}
