package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Z-order (Morton-curve) data layout — the multi-dimensional
  * clustering technique warehouse layouts use so that file/row-group
  * min-max statistics prune scans on EITHER clustered dimension
  * (SURVEY.md §2C extension; the reference has a single flat SQLite
  * table, sqlite_connector.py:131-165, with no layout control at all).
  *
  * Scale design: the z-value is pure per-row bit arithmetic (built-in
  * shift/and/or — stays inside whole-stage codegen); clustering a
  * corpus is ONE range exchange on the z-value plus a within-partition
  * sort — exactly the cost of a plain global sort on one column, but
  * the resulting files carry bounded min-max rectangles on BOTH
  * dimensions. At 100 TB the write is the same one-pass
  * repartitionByRange the sorted export already pays; every downstream
  * scan with a selective predicate on either dimension then skips the
  * complement of its rectangle.
  */
object Layout {

  /** 2-D Morton interleave: bit i of `x` lands at z-bit 2i, bit i of
    * `y` at 2i+1. Inputs must be non-negative and < 2^bits (higher
    * bits are not encoded — size `bits` to the key domain; 16 covers
    * the testdata keys at every SF shipped, and 31 is the safe ceiling
    * for int keys at 62 z-bits).
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x.cast("bigint"), i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y.cast("bigint"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Write `df` z-clustered on (xCol, yCol) into `nFiles` range-split
    * files: one range exchange + within-partition sort, then the
    * z-value column is dropped (it is a layout key, not data).
    */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, path: String,
      nFiles: Int = 32, bits: Int = 16): Unit =
    df.withColumn("_zval", zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(nFiles, col("_zval"))
      .sortWithinPartitions("_zval")
      .drop("_zval")
      .write.mode("overwrite").parquet(path)

  /** Per-z-bucket min-max rectangles over lineitem (l_partkey,
    * l_suppkey): the data-skipping evidence a z-layout produces. The
    * corpus z-range is split into 64 equal buckets (the z-max comes
    * from one 1-row aggregate, broadcast — never a driver collect);
    * each bucket's min/max on BOTH dimensions is the rectangle a scan
    * with a predicate on either column would prune against.
    */
  def zBucketStats(df: DataFrame, xCol: String, yCol: String,
      buckets: Int = 64, bits: Int = 16): DataFrame = {
    val z = df.select(col(xCol).cast("bigint").as("x"), col(yCol).cast("bigint").as("y"))
      .withColumn("zval", zValue(col("x"), col("y"), bits))
    val zmax = z.agg(max(col("zval")).as("zmax"))
    z.crossJoin(broadcast(zmax))
      .withColumn("zbucket", expr(s"(zval * $buckets) div (zmax + 1)"))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .orderBy("zbucket")
  }

  // The oracle replays the interleave (shift/mask/sum of disjoint
  // bits == bitwise-or), the scalar z-max, the integer bucket split,
  // and the rectangle aggregates.
  private val zo01 = QueryDef(
    "zo01_zorder_stats",
    (s, dir) => zBucketStats(Tables(s, dir).lineitem, "l_partkey", "l_suppkey"),
    Some("""WITH z AS (SELECT l_partkey AS x, l_suppkey AS y,
          CAST(list_sum(list_transform(range(16), i ->
            (((l_partkey >> i) & 1) << (2 * i)) +
            (((l_suppkey >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zval
        FROM lineitem)
      SELECT (zval * 64) // ((SELECT MAX(zval) FROM z) + 1) AS zbucket,
        COUNT(*) AS n,
        MIN(x) AS x_min, MAX(x) AS x_max,
        MIN(y) AS y_min, MAX(y) AS y_max
      FROM z GROUP BY 1 ORDER BY zbucket"""),
  )

  // ------------------------------------------------------------- dpp01
  /** Dynamic partition pruning: the join-driven twin of ing06's static
    * pruning. Orders are laid out partitioned by o_year (the 100 TB
    * fact layout); the filter arrives on the DIM side only (odd years),
    * so no static predicate exists on the fact — Spark inserts a
    * dynamic-pruning subquery into the fact scan's PartitionFilters,
    * and only the matching year directories are read at all. PlanSpec
    * pins `dynamicpruning` in the scan; at 1000 executors this is the
    * difference between scanning 2 years and scanning 30.
    *
    * The write is Overwrite into one per-(sf-dir, JVM) target: reused
    * across this JVM's bench passes, but never shared with a CONCURRENT
    * JVM (verify + bench over the same sf dir) whose Overwrite
    * delete-phase would yank files out from under this JVM's scan.
    * ing14's delete-before-return trick is not available here — the
    * result must stay a live scan over the partitioned files or there
    * is no partition pruning to demonstrate.
    */
  private val dpp01 = QueryDef(
    "dpp01_dynamic_pruning",
    (s, dir) => {
      val out = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        "graft_dpp01_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()).toString
      val o = Tables(s, dir).orders
        .withColumn("o_year", year(col("o_orderdate")))
      graft.sink.Sinks.saveParquet(o, out, partitionBy = Seq("o_year"))
      val fact = s.read.parquet(out)
      val dim = Tables(s, dir).orders
        .select(year(col("o_orderdate")).as("y")).distinct()
        .filter(col("y") % 2 === 1)
      fact.join(dim, fact("o_year") === dim("y"))
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
        .select(col("o_year").cast("bigint").as("o_year"),
          col("n_orders").cast("bigint").as("n_orders"), col("sum_price"))
        .orderBy("o_year")
    },
    Some("""WITH dim AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS y
          FROM orders WHERE year(o_orderdate) % 2 = 1)
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM orders JOIN dim ON CAST(year(o_orderdate) AS BIGINT) = dim.y
      GROUP BY 1 ORDER BY o_year"""),
  )

  // -------------------------------------------------------------- zo02
  /** The data-skipping benefit MEASURED, not asserted: the same corpus
    * bucketed two ways — z-ordered on (x, y) vs linearly sorted on x —
    * probed by a selective range predicate on EACH dimension. A bucket
    * must be scanned iff its min-max interval on the predicate column
    * intersects the range; the row set reports, per (layout,
    * predicate), how many of the 64 buckets survive pruning and how
    * many rows they hold. The headline is the y-predicate row pair:
    * the linear layout's buckets each span ~the full y domain (scan
    * everything), the z-layout's rectangles bound y too (scan a
    * fraction) — while the x-predicate rows show z-order gives up
    * little on the sort dimension. All integers, both layouts derived
    * in one pass each; rows_matched (the true selectivity) is layout-
    * invariant and rides along as the floor.
    */
  private val zo02 = QueryDef(
    "zo02_pruning_benefit",
    (s, dir) => {
      val base = Tables(s, dir).lineitem
        .select(col("l_partkey").cast("bigint").as("x"),
          col("l_suppkey").cast("bigint").as("y"))
        .withColumn("zval", zValue(col("x"), col("y")))
      // each tiny intermediate feeds several of the four output rows:
      // localCheckpoint so the fact is scanned once per aggregate, not
      // once per consumer (the sim10 `truth` pattern)
      val mx = base.agg(max(col("x")).as("xmax"), max(col("y")).as("ymax"),
        max(col("zval")).as("zmax")).localCheckpoint(true)
      val b = base.crossJoin(broadcast(mx))
      // only the MINs matter: the predicates are low ranges, so a
      // bucket is scanned iff its min clears the cut
      def stats(bucket: Column) = b.groupBy(bucket.as("bkt"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("x_min"), min(col("y")).as("y_min"))
        .localCheckpoint(true)
      val zb = stats(expr("(zval * 64) div (zmax + 1)"))
      val lb = stats(expr("(x * 64) div (xmax + 1)"))
      // predicates: the low eighth of each dimension
      val matched = b.agg(
        sum(when(col("x") <= expr("xmax div 8"), 1L).otherwise(0L)).as("m_x"),
        sum(when(col("y") <= expr("ymax div 8"), 1L).otherwise(0L)).as("m_y"))
        .localCheckpoint(true)
      def row(label: String, st: DataFrame, predCol: String, m: String) =
        st.crossJoin(broadcast(mx)).crossJoin(broadcast(matched))
          .agg(first(lit(label)).as("layout_pred"),
            count(lit(1)).cast("bigint").as("n_buckets"),
            sum(when(col(s"${predCol}_min") <= expr(s"${predCol}max div 8"), 1L)
              .otherwise(0L)).as("hit_buckets"),
            sum(when(col(s"${predCol}_min") <= expr(s"${predCol}max div 8"),
              col("n")).otherwise(0L)).as("rows_scanned"),
            first(col(m)).cast("bigint").as("rows_matched"))
          .select(col("layout_pred"), col("n_buckets"),
            col("hit_buckets").cast("bigint").as("hit_buckets"),
            col("rows_scanned").cast("bigint").as("rows_scanned"),
            col("rows_matched"))
      row("linear_x", lb, "x", "m_x")
        .unionByName(row("linear_y", lb, "y", "m_y"))
        .unionByName(row("zorder_x", zb, "x", "m_x"))
        .unionByName(row("zorder_y", zb, "y", "m_y"))
        .orderBy("layout_pred")
    },
    Some("""WITH z AS (SELECT l_partkey AS x, l_suppkey AS y,
          CAST(list_sum(list_transform(range(16), i ->
            (((l_partkey >> i) & 1) << (2 * i)) +
            (((l_suppkey >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zval
        FROM lineitem),
      mx AS (SELECT MAX(x) AS xmax, MAX(y) AS ymax, MAX(zval) AS zmax FROM z),
      zb AS (SELECT (zval * 64) // (SELECT zmax + 1 FROM mx) AS bkt,
          COUNT(*) AS n, MIN(x) AS x_min, MIN(y) AS y_min
        FROM z GROUP BY 1),
      lb AS (SELECT (x * 64) // (SELECT xmax + 1 FROM mx) AS bkt,
          COUNT(*) AS n, MIN(x) AS x_min, MIN(y) AS y_min
        FROM z GROUP BY 1),
      m AS (SELECT
          CAST(SUM(CASE WHEN x <= (SELECT xmax // 8 FROM mx) THEN 1 ELSE 0 END) AS BIGINT) AS m_x,
          CAST(SUM(CASE WHEN y <= (SELECT ymax // 8 FROM mx) THEN 1 ELSE 0 END) AS BIGINT) AS m_y
        FROM z)
      SELECT 'linear_x' AS layout_pred, (SELECT COUNT(*) FROM lb) AS n_buckets,
        (SELECT CAST(SUM(CASE WHEN x_min <= (SELECT xmax // 8 FROM mx) THEN 1 ELSE 0 END) AS BIGINT) FROM lb) AS hit_buckets,
        (SELECT CAST(SUM(CASE WHEN x_min <= (SELECT xmax // 8 FROM mx) THEN n ELSE 0 END) AS BIGINT) FROM lb) AS rows_scanned,
        (SELECT m_x FROM m) AS rows_matched
      UNION ALL
      SELECT 'linear_y', (SELECT COUNT(*) FROM lb),
        (SELECT CAST(SUM(CASE WHEN y_min <= (SELECT ymax // 8 FROM mx) THEN 1 ELSE 0 END) AS BIGINT) FROM lb),
        (SELECT CAST(SUM(CASE WHEN y_min <= (SELECT ymax // 8 FROM mx) THEN n ELSE 0 END) AS BIGINT) FROM lb),
        (SELECT m_y FROM m)
      UNION ALL
      SELECT 'zorder_x', (SELECT COUNT(*) FROM zb),
        (SELECT CAST(SUM(CASE WHEN x_min <= (SELECT xmax // 8 FROM mx) THEN 1 ELSE 0 END) AS BIGINT) FROM zb),
        (SELECT CAST(SUM(CASE WHEN x_min <= (SELECT xmax // 8 FROM mx) THEN n ELSE 0 END) AS BIGINT) FROM zb),
        (SELECT m_x FROM m)
      UNION ALL
      SELECT 'zorder_y', (SELECT COUNT(*) FROM zb),
        (SELECT CAST(SUM(CASE WHEN y_min <= (SELECT ymax // 8 FROM mx) THEN 1 ELSE 0 END) AS BIGINT) FROM zb),
        (SELECT CAST(SUM(CASE WHEN y_min <= (SELECT ymax // 8 FROM mx) THEN n ELSE 0 END) AS BIGINT) FROM zb),
        (SELECT m_y FROM m)
      ORDER BY layout_pred"""),
  )

  // ----------------------------------------------------------- compaction

  /** What a compaction pass did: the before/after file census a
    * table-maintenance job logs and alerts on.
    */
  final case class CompactionStats(filesBefore: Long, bytesBefore: Long,
      filesAfter: Long, bytesAfter: Long)

  /** SMALL-FILE COMPACTION — the table-maintenance operation every
    * streaming/incremental landing zone needs at scale: micro-batch
    * sinks and per-partition appends accumulate files far below the
    * scan-efficient size, and at 100 TB the overhead is dominated by
    * per-file costs (task scheduling, footer reads, one LIST + GET per
    * object on S3), not bytes. Compaction rewrites the landing dir's
    * data as `ceil(totalBytes / targetBytes)` evenly-sized files into
    * a `v<N>` VERSION dir under `dst`, committed through FileUtils'
    * sealed-dir protocol (claim, write, seal — the warehouse versioning
    * idiom), so readers ([[readCompacted]]: the newest sealed version)
    * always see a complete version, a crashed pass leaves the previous
    * version live, and a concurrent pass fails loudly on
    * the `_SAVING` lease (the exclusion that also lets
    * [[vacuumCompacted]] reclaim abandoned versions safely).
    * The source dir is untouched: cutover (pointing the catalog at the
    * new version, deleting the old) is the caller's atomic step.
    *
    * Sizing reads one file listing (never the data) and the rewrite is
    * ONE round-robin exchange — the even-file-size guarantee a plain
    * `coalesce` can't give (it concatenates whole input partitions, so
    * a skewed landing stays skewed). Pass `clusterBy` to instead
    * range-cluster the rewrite on a column (the zorderWrite shape):
    * same single exchange, and the compacted files carry useful
    * min-max bounds on that column for downstream skipping.
    *
    * This pass is an unconditional rewrite; a maintenance loop gates
    * on the returned census (e.g. skip when filesBefore is already ≤
    * the target count) rather than inside this call, so the policy
    * stays at the scheduler where it belongs.
    *
    * Layering note: `Sinks.compactParquet` (ing14) is the one-shot
    * PRIMITIVE — caller-chosen file count, plain overwrite, certified
    * content-identical by ing14's oracle. This is the MAINTENANCE
    * lifecycle built on the same rewrite: byte-budget sizing from the
    * listing, claim/commit versioning so readers and concurrent or
    * crashed passes can't interfere, and the clustered layout option.
    */
  def compact(s: org.apache.spark.sql.SparkSession, src: String, dst: String,
      targetBytes: Long, clusterBy: Option[String] = None): CompactionStats = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val conf = s.sparkContext.hadoopConfiguration
    // the exclusive `_SAVING` lease (the index save/vacuum discipline):
    // a concurrent pass fails loudly instead of running beside us, and
    // — the load-bearing half — [[vacuumCompacted]] holding this lease
    // PROVES no compactor is mid-write, so every non-live version it
    // sees is reclaimable, including abandoned claims above the live
    // id that would otherwise be indistinguishable from an in-flight
    // writer. (The version claim below still guards the namespace: a
    // crashed pass burns its id, never a reader-visible artifact.)
    graft.ingest.FileUtils.withSaveLease(dst, conf) {
      val before = graft.ingest.FileUtils.listDataFilesWithSize(src, conf)
      require(before.nonEmpty, s"nothing to compact under $src")
      val bytesBefore = before.map(_._2).sum
      // overflow-safe ceil(bytesBefore / targetBytes), floored at 1
      val nOutL = math.max(1L, (bytesBefore - 1) / targetBytes + 1)
      // a clear contract error, not a negative repartition count: a tiny
      // targetBytes against a huge landing can push the ceil past Int
      require(nOutL <= Int.MaxValue.toLong,
        s"compaction would need $nOutL output files (bytes=$bytesBefore, " +
          s"targetBytes=$targetBytes) — exceeds Spark's Int partition " +
          "count; raise targetBytes")
      val nOut = nOutL.toInt
      val vdir = graft.ingest.FileUtils.commitSeqDir(dst, "v", conf) { d =>
        val data = s.read.parquet(src)
        clusterBy.fold(data.repartition(nOut))(c =>
            data.repartitionByRange(nOut, col(c)).sortWithinPartitions(c))
          .write.parquet(s"$d/data")
        // record the layout decision beside the data, BEFORE the seal:
        // the state catalog (ops03) reports it from a 1-line read, and a
        // future maintenance pass can tell a clustered version from a
        // round-robin one without scanning a footer
        clusterBy.foreach(c => graft.ingest.FileUtils.atomicWrite(
          s"$d/cluster_by", c + "\n", conf))
      }
      val after = graft.ingest.FileUtils.listDataFilesWithSize(s"$vdir/data", conf)
      CompactionStats(before.size.toLong, bytesBefore,
        after.size.toLong, after.map(_._2).sum)
    }
  }

  /** What [[vacuumCompacted]] reclaimed: the live version it kept and
    * the superseded/abandoned versions (and their bytes) it dropped.
    */
  final case class CompactionVacuumStats(liveVersion: Long,
      droppedVersions: Long, droppedBytes: Long)

  /** COMPACTION-VERSION VACUUM — the missing retention half of the
    * [[compact]] lifecycle (the indexes have vacuumIndex/vacuumRetired,
    * the warehouse has vacuumRetired; versioned compaction roots
    * accumulated a full table copy PER PASS forever). Under the same
    * exclusive `_SAVING` lease compact holds, every version except the
    * newest committed one is reclaimed: superseded committed versions,
    * abandoned uncommitted dirs, and stale claim files — holding the
    * lease proves no compactor is mid-write, so an unclaimed-looking
    * dir above the live id is a crashed pass, never an in-flight one.
    * Per dead version the seal goes FIRST (one atomic op takes the
    * version out of every new reader's choice) and the bytes after —
    * a vacuum killed anywhere leaves the live version serving
    * (readers resolve the newest sealed version) and a re-run
    * finishes the sweep. Claim-id reuse after a vacuum is
    * clean by the same lease argument: the dir a reused id would
    * collide with was deleted while provably no writer held it.
    * Metadata-only except the deletes: one LIST of the root, never a
    * read of the data.
    */
  def vacuumCompacted(s: org.apache.spark.sql.SparkSession,
      dst: String): CompactionVacuumStats = {
    val conf = s.sparkContext.hadoopConfiguration
    import graft.ingest.FileUtils
    FileUtils.withSaveLease(dst, conf) {
      val dirs = FileUtils.seqDirs(dst, "v", conf)
      val committed = dirs.filter { case (_, d) => FileUtils.isSealed(d, conf) }
      require(committed.nonEmpty,
        s"no committed compaction under $dst — nothing is safely " +
          "reclaimable without a live version to keep serving")
      val live = committed.last._1
      val dead = dirs.filterNot(_._1 == live)
      var bytes = 0L
      dead.foreach { case (_, d) =>
        bytes += FileUtils.listDataFilesWithSize(s"$d/data", conf).map(_._2).sum
        try FileUtils.unseal(d, conf) catch { case _: Exception => () }
        FileUtils.rmr(d, conf)
      }
      // stale claims of dead ids (id monotonicity survives: the live
      // dir keeps the max visible to claimSeqDir's enumeration)
      FileUtils.claimIds(dst, "v", conf).filter(_ != live).foreach(v =>
        try FileUtils.unclaim(dst, "v", v, conf) catch { case _: Exception => () })
      CompactionVacuumStats(live, dead.size.toLong, bytes)
    }
  }

  /** The newest complete compaction under `dst` — readers never see a
    * mid-write version (the latestStates contract).
    */
  def readCompacted(s: org.apache.spark.sql.SparkSession, dst: String): DataFrame = {
    val live = graft.ingest.FileUtils.sealedDirs(dst, "v",
      s.sparkContext.hadoopConfiguration).lastOption
    require(live.nonEmpty, s"no committed compaction under $dst")
    s.read.parquet(live.get._2 + "/data")
  }

  // A 64-small-file landing of lineitem is compacted and read back
  // through the committed-version reader; the aggregate over the
  // compacted table must hash-match the same aggregate over the
  // ORIGINAL rows — compaction moves bytes between files, never a row.
  // The spec separately pins the file-count census, even sizing vs
  // coalesce on a skewed landing, crash/version semantics, and the
  // clusterBy min-max bounds.
  private val cmp01 = QueryDef(
    "cmp01_small_file_compaction",
    (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_cmp01").toString
      try {
        val landing = s"$tmp/landing"
        Tables(s, dir).lineitem.repartition(64)
          .write.mode("overwrite").parquet(landing)
        val stats = compact(s, landing, s"$tmp/compacted",
          targetBytes = 8L * 1024 * 1024)
        require(stats.filesAfter < stats.filesBefore,
          s"compaction did not reduce the file count: $stats")
        readCompacted(s, s"$tmp/compacted")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).cast("bigint").as("n_rows"),
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
              .as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(14,2)")).cast("double")
              .as("sum_price"))
          .orderBy("l_returnflag")
          .localCheckpoint(eager = true)
      } finally graft.ingest.FileUtils.rmr(tmp,
        s.sparkContext.hadoopConfiguration)
    },
    Some("""SELECT l_returnflag,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
  )

  // -------------------------------------------------------------- cmp02
  /** Clustered compaction's data-skipping benefit MEASURED (the zo02
    * treatment applied to cmp01's clusterBy option): the same 64-file
    * landing is compacted twice into exactly 8 files — plain
    * round-robin vs range-clustered on l_partkey — and probed by the
    * selective low-eighth predicate. The census is PHYSICAL: per
    * output file, min(l_partkey) and row count (a file must be
    * scanned iff its min clears the cut — the low-range mirror of
    * zo02's rule); plain files each span ~the whole key domain (scan
    * all 8), clustered files carry tight ranges (scan the low 1–2).
    *
    * Oracle shape: the exact quantities a replay can derive
    * (file counts pinned by construction, the plain layout's
    * scan-everything numbers, the true selectivity) are emitted
    * exactly; the clustered side's file split depends on
    * repartitionByRange's sampled boundaries (not replayable in SQL),
    * so its benefit is emitted as margin-safe booleans
    * (prunes-some-files, scans-at-most-half) — the gov03
    * envelope idiom — while the SPEC pins the strict physical
    * inequalities on the same census. In-query requires turn any
    * would-be literal mismatch into a loud named failure.
    */
  private val cmp02 = QueryDef(
    "cmp02_clustered_compaction_pruning",
    (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_cmp02").toString
      try {
        val conf = s.sparkContext.hadoopConfiguration
        val landing = s"$tmp/landing"
        Tables(s, dir).lineitem.repartition(64)
          .write.mode("overwrite").parquet(landing)
        // targetBytes = ceil(bytes/8) makes nOut exactly 8 (B >= 57),
        // so the file count is deterministic whatever parquet encodes
        val bytes = graft.ingest.FileUtils
          .listDataFilesWithSize(landing, conf).map(_._2).sum
        val target = (bytes - 1) / 8 + 1
        val plain = compact(s, landing, s"$tmp/plain", target)
        val clustered = compact(s, landing, s"$tmp/clustered", target,
          clusterBy = Some("l_partkey"))
        require(plain.filesAfter == 8 && clustered.filesAfter == 8,
          s"expected 8 output files each, got $plain / $clustered")
        def census(dst: String) = readCompacted(s, dst)
          .select(col("l_partkey"), input_file_name().as("f"))
          .groupBy("f")
          .agg(min(col("l_partkey")).as("mn"), count(lit(1)).as("n"))
          .localCheckpoint(true)
        // 1-row scalar (broadcast; the zo02 mx shape)
        val cut = Tables(s, dir).lineitem
          .agg(expr("CAST(MAX(l_partkey) AS BIGINT) div 8").as("cut"))
          .localCheckpoint(true)
        // 1-row driver reads: the census is 8 rows, the hit stats one
        def hits(st: DataFrame) = st.crossJoin(broadcast(cut))
          .agg(sum(when(col("mn") <= col("cut"), 1L).otherwise(0L))
              .as("files_hit"),
            sum(when(col("mn") <= col("cut"), col("n")).otherwise(0L))
              .as("rows_scanned"))
          .head
        val (ph, ch) = (hits(census(s"$tmp/plain")),
          hits(census(s"$tmp/clustered")))
        val (pf, pr) = (ph.getLong(0), ph.getLong(1))
        val (cf, cr) = (ch.getLong(0), ch.getLong(1))
        require(pf == 8L,
          s"plain round-robin files must all hit the low-range probe, got $pf")
        val matched = Tables(s, dir).lineitem.crossJoin(broadcast(cut))
          .agg(sum(when(col("l_partkey") <= col("cut"), 1L).otherwise(0L))
            .as("rows_matched")).head.getLong(0)
        import s.implicits._
        Seq((8L, matched, pf, pr, cf < pf, cr * 2 <= pr))
          .toDF("n_files_each", "rows_matched", "plain_files_hit",
            "plain_rows_scanned", "clustered_prunes_files",
            "clustered_scans_at_most_half")
          .localCheckpoint(eager = true)
      } finally graft.ingest.FileUtils.rmr(tmp,
        s.sparkContext.hadoopConfiguration)
    },
    Some("""SELECT CAST(8 AS BIGINT) AS n_files_each,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
          WHERE l_partkey <= (SELECT CAST(MAX(l_partkey) AS BIGINT) // 8
            FROM lineitem)) AS rows_matched,
        CAST(8 AS BIGINT) AS plain_files_hit,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
          AS plain_rows_scanned,
        TRUE AS clustered_prunes_files,
        TRUE AS clustered_scans_at_most_half"""),
  )

  // -------------------------------------------------------------- cmp03
  // The vacuum half of the compaction lifecycle end to end: two
  // committed passes (v0 superseded, v1 live) plus a crashed pass
  // (claimed v2, partial dir, no seal) are censused, vacuumed, and the
  // LIVE version must keep serving byte-identically — the aggregate
  // the oracle replays over the ORIGINAL rows, with the census
  // arithmetic as literal columns (in-query requires turn any census
  // mismatch into a loud named failure first). The spec separately
  // pins the killed-vacuum crash path, the lease exclusion against a
  // concurrent compact, and ops03's post-vacuum census.
  private val cmp03 = QueryDef(
    "cmp03_compaction_vacuum",
    (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_cmp03").toString
      try {
        val conf = s.sparkContext.hadoopConfiguration
        val landing = s"$tmp/landing"
        Tables(s, dir).lineitem.repartition(64)
          .write.mode("overwrite").parquet(landing)
        val bytes = graft.ingest.FileUtils
          .listDataFilesWithSize(landing, conf).map(_._2).sum
        val dst = s"$tmp/compacted"
        compact(s, landing, dst, (bytes - 1) / 8 + 1)
        compact(s, landing, dst, (bytes - 1) / 4 + 1)
        // a compactor that claimed v2 and crashed pre-seal, partial dir
        val claimed = graft.ingest.FileUtils.claimSeqDir(dst, "v", conf)
        require(claimed.endsWith("/v2"), s"expected to claim v2, got $claimed")
        graft.ingest.FileUtils.mkdirs(s"$claimed/data", conf)
        require(graft.ingest.FileUtils.listSubdirs(dst, conf).size == 3,
          "expected 3 version dirs before the vacuum")
        val stats = vacuumCompacted(s, dst)
        require(stats == CompactionVacuumStats(1L, 2L, stats.droppedBytes) &&
            stats.droppedBytes > 0L,
          s"vacuum must keep v1 and drop v0 + the abandoned v2: $stats")
        require(graft.ingest.FileUtils.listSubdirs(dst, conf).size == 1,
          "only the live version dir may survive the vacuum")
        readCompacted(s, dst)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).cast("bigint").as("n_rows"),
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
              .as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(14,2)")).cast("double")
              .as("sum_price"))
          .withColumn("versions_before", lit(3L))
          .withColumn("versions_after", lit(1L))
          .withColumn("live_version", lit(stats.liveVersion))
          .withColumn("dropped_versions", lit(stats.droppedVersions))
          .withColumn("reclaimed_bytes_positive", lit(stats.droppedBytes > 0L))
          .orderBy("l_returnflag")
          .localCheckpoint(eager = true)
      } finally graft.ingest.FileUtils.rmr(tmp,
        s.sparkContext.hadoopConfiguration)
    },
    Some("""SELECT l_returnflag,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
        CAST(3 AS BIGINT) AS versions_before,
        CAST(1 AS BIGINT) AS versions_after,
        CAST(1 AS BIGINT) AS live_version,
        CAST(2 AS BIGINT) AS dropped_versions,
        TRUE AS reclaimed_bytes_positive
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
  )

  val defs: Seq[QueryDef] = Seq(zo01, zo02, dpp01, cmp01, cmp02, cmp03)
}
