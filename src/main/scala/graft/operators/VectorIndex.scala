package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.ingest.FileUtils.rmr
import graft.ingest.TinyParquet
import graft.sources.Tables

/** Persisted IVF-PQ vector index — the dedup side's marker-sealed
  * index lifecycle (Dedup.saveNearDupIndex, dd16) applied to the ANN
  * family: a 100-TB retrieval deployment builds the index ONCE and
  * probes it incrementally, rather than re-deriving quantizers and
  * re-encoding the corpus per query run the way the from-scratch
  * searches (Similarity.ivfPqTopK) do by design.
  *
  * Layout under `path`:
  *  - `meta`      — (n_cells, n_sub, sub_dim) geometry. Append and
  *    probe read the STORED geometry and quantizers, so a probe
  *    against an index built with different parameters is
  *    structurally impossible (the saveNearDupIndex contract).
  *  - `centroids` — (cell, v) coarse quantizer, nCells rows.
  *  - `codebook`  — (code, rv) shared residual codebook, nCodes rows.
  *  - `batches/b<N>/codes` — (cid, cell, code_0..code_{nSub-1}), one
  *    dir per save/append, sealed by a `_COMMITTED` marker: readers
  *    ignore markerless dirs and a retried append always writes a
  *    FRESH dir, so a crash mid-append can neither leave the index
  *    half-updated nor a retry duplicate vectors.
  *
  * Scale shape: the stored image is the PQ-compressed corpus (one
  * int cell + nSub byte-range codes per vector — ~the FAISS IVFADC
  * layout, Jégou et al. 2011 §V), so probe cost is a map-only scan of
  * the code table plus one per-query top-k rank exchange; quantizer
  * state is nCells + nCodes rows (bounded collect). Appending a batch
  * encodes ONLY the batch — history is never re-read, so per-batch
  * cost is independent of index size.
  */
object VectorIndex {

  // The vector index's batch tree: every batch holds one code table,
  // keyed (and tombstoned) by cid.
  private val Tree = graft.ingest.BatchTree("cid", Seq("codes"))

  /** Persist a corpus's vector index at `path`, REPLACING any index
    * there (stale batches from a previous geometry must not survive a
    * re-save — a probe would union incompatible code tables). The
    * lifecycle (lease, reset, tombstone clear, epoch) is
    * [[graft.ingest.BatchTree.save]]; its tombstone clear is also what
    * the remedy for erasing a training vector relies on — the re-save
    * must not inherit the tombstone that prompted it.
    */
  def saveVectorIndex(emb: DataFrame, path: String, nCells: Int = 16,
      nSub: Int = 8, subDim: Int = 8, nCodes: Int = 16): Unit = {
    val conf = emb.sparkSession.sessionState.newHadoopConf()
    Tree.save(path, conf) {
      // ONE bounded collect serves training AND the persisted id list
      val pinned = Similarity.pinnedTrainRows(emb, nCells + nCodes)
      val model = Similarity.trainIvfPqPinned(pinned.map(_._2),
        nCells, nSub, subDim, nCodes)
      // geometry + quantizers FIRST: a code table without its quantizers
      // is unreadable, and append/probe trust the stored state only.
      // All four manifests are driver-known and bounded (nCells + nCodes
      // rows by contract), so they are written driver-side
      // (TinyParquet) — same files, no Spark job each (guide §1.2: the
      // save used to pay four scheduler round-trips for kilobytes).
      import graft.ingest.TinyParquet._
      graft.ingest.TinyParquet.write(s"$path/meta", conf,
        Seq(IntCol("n_cells"), IntCol("n_sub"), IntCol("sub_dim")),
        Seq(Seq(nCells, nSub, subDim)))
      // the EXACT vec_ids the quantizers were trained on — the erasure
      // guard checks membership here, not a dense-id heuristic, so it
      // stays correct after a rebuild leaves gaps in the id space
      graft.ingest.TinyParquet.write(s"$path/train_ids", conf,
        Seq(LongCol("vec_id")), pinned.map(r => Seq[Any](r._1)).toSeq)
      graft.ingest.TinyParquet.write(s"$path/centroids", conf,
        Seq(IntCol("cell"), DoubleArrayCol("v")),
        model.cen.zipWithIndex.map { case (v, i) => Seq[Any](i, v.toSeq) }.toSeq)
      graft.ingest.TinyParquet.write(s"$path/codebook", conf,
        Seq(IntCol("code"), DoubleArrayCol("rv")),
        model.rcb.zipWithIndex.map { case (v, i) => Seq[Any](i, v.toSeq) }.toSeq)
      Tree.commitBatch(path, conf)(writeCodes(emb, model, _))
    }
  }

  /** Extend a persisted index with a new batch, encoded under the
    * quantizers the index was SAVED with (append-only commits; the
    * index never rewrites history). Safe to retry: a failed attempt
    * leaves only an uncommitted dir readers never see. SELF-HEALING
    * against concurrent maintenance ([[graft.ingest.BatchTree.append]]):
    * a batch that died with a replaced or swept tree is re-encoded
    * against the CURRENT model, re-loaded per attempt, so stale-model
    * codes can never land in a retrained index.
    */
  def appendVectorIndex(batch: DataFrame, path: String): Unit = {
    val conf = batch.sparkSession.sessionState.newHadoopConf()
    Tree.append(path, conf, "stale-model codes") {
      val model = loadModel(path, conf)
      bdir => writeCodes(batch, model, bdir)
    }
  }

  private def writeCodes(batch: DataFrame, model: Similarity.IvfPqModel,
      bdir: String): Unit =
    Similarity.encodeIvfPq(batch, model)
      .write.mode("overwrite").parquet(s"$bdir/codes")

  /** Probe a persisted index: score `queries` (a bounded vector set
    * carrying vec_id + embedding) against the STORED code table via
    * per-(query, probed-cell) ADC lookup tables — identical arithmetic
    * to the from-scratch Similarity.ivfPqTopK (shared kernel), with
    * the corpus side read from parquet instead of re-encoded.
    */
  /** Hard ceiling on probe-batch size: each query vector becomes
    * nProbe broadcast ADC lookup tables, so the collect below is
    * driver-bounded by design — an unbounded query set must be chunked
    * by the caller, not silently OOM the driver.
    */
  val MaxProbeQueries: Int = 4096

  /** Shared probe state: stored quantizers + the tombstone-filtered
    * code table (logical erasure — tombstoned vectors are invisible to
    * every probe). Both probe entries read through here so the
    * protocol can never diverge between them.
    */
  private def loadCoded(s: SparkSession, path: String): (Similarity.IvfPqModel, DataFrame) = {
    val conf = s.sessionState.newHadoopConf()
    (loadModel(path, conf), Tree.read(s, path, conf).head)
  }

  /** Bounded query collect shared by the LUT probes: the limit(cap+1)
    * caps what can ever reach the driver BEFORE the overflow is
    * decided, and the at most `cap` rows kept are sorted by qid HERE,
    * on the driver — no distributed sort runs first, so a local query
    * set (a LocalRelation) collects without a Spark job. `None` = the
    * query set exceeds the cap — the caller either ROUTES to its bulk
    * twin (the three routed probes) or fails loudly
    * ([[boundedQueriesStrict]], for the one probe with no bulk twin).
    */
  private def boundedQueries(queries: DataFrame,
      extra: Seq[org.apache.spark.sql.Column],
      cap: Int): Option[Array[org.apache.spark.sql.Row]] = {
    val rows = queries
      .select(Seq(col("vec_id").cast("long").as("qid"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
        ++ extra: _*)
      .limit(cap + 1).collect()
    if (rows.length <= cap) Some(rows.sortBy(_.getLong(0))) else None
  }

  private def boundedQueriesStrict(queries: DataFrame,
      extra: Seq[org.apache.spark.sql.Column]): Array[org.apache.spark.sql.Row] =
    boundedQueries(queries, extra, MaxProbeQueries).getOrElse(
      throw new IllegalArgumentException(
        s"this probe takes at most $MaxProbeQueries query vectors per " +
          "call (each becomes nProbe broadcast ADC tables) and has no " +
          "distributed bulk twin; chunk the query set"))

  /** AUTO-ROUTED probe: query sets within `maxDriverQueries` run the
    * LUT plan (per-query broadcast ADC tables — the latency shape for
    * interactive top-k); larger sets DELEGATE to [[probeVectorIndexBulk]]
    * instead of failing — the two plans are proven row-identical
    * (sim24 shares sim11's oracle; the parity spec pins bulk == LUT
    * row-for-row), so the cap is a plan choice, not a correctness
    * boundary. `maxDriverQueries` is a test seam / tuning dial;
    * [[MaxProbeQueries]] is the documented driver-safety default.
    */
  def probeVectorIndex(s: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4,
      maxDriverQueries: Int = MaxProbeQueries): DataFrame =
    boundedQueries(queries, Nil, maxDriverQueries) match {
      case Some(rows) =>
        val (model, coded) = loadCoded(s, path)
        val q = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        Similarity.adcRank(coded, q, model, k, nProbe)
      case None => probeVectorIndexBulk(s, path, queries, k, nProbe)
    }

  /** INNER-PRODUCT (MIPS) probe of a persisted index — sim06's
    * retrieval objective (DPR-style retrievers score q·d, which ranks
    * differently from cosine/L2 whenever corpus norms vary) served
    * from the STORED code table: the ADC lookup tables are built for
    * dot-product (no residual-norm term; the q·centroid base dot adds
    * per probed cell), cells are probed by q·centroid DESCENDING, and
    * candidates rank by score DESC. Same kernel as [[probeVectorIndex]]
    * (Similarity.adcRank's mips mode over the same loadCoded state),
    * so the two objectives share quantizers, tombstone filtering, and
    * the bounded-query collect — a retrieval stack picks its scoring
    * function per query set without a second index.
    */
  def probeVectorIndexMips(s: SparkSession, path: String,
      queries: DataFrame, k: Int = 5, nProbe: Int = 4,
      maxDriverQueries: Int = MaxProbeQueries): DataFrame =
    boundedQueries(queries, Nil, maxDriverQueries) match {
      case Some(rows) =>
        val (model, coded) = loadCoded(s, path)
        val q = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        Similarity.adcRank(coded, q, model, k, nProbe, mips = true)
      case None => probeVectorIndexBulkMips(s, path, queries, k, nProbe)
    }

  /** ADC probe + EXACT COSINE REFINE from the stored index — the
    * deployment shape of a retrieval dense leg (sim17's refine repair
    * with the retrieval metric): the stored code table nominates the
    * candidates within the probed cells, and only those rows join the
    * raw-vector side `raw` (vec_id, embedding) for an exact cosine
    * re-rank. At nProbe = nCells the candidate set is every non-self
    * vector, so the output is EXACTLY the brute-force cosine top-k —
    * the endpoint hyb02 pins against hyb01's oracle; at deployment
    * nProbe ≪ nCells and the join touches only probed-cell rows
    * (candidate-bounded equi-join on cid, never a corpus broadcast).
    */
  def probeVectorIndexRefined(s: SparkSession, path: String,
      queries: DataFrame, raw: DataFrame, k: Int = 5,
      nProbe: Int = 4): DataFrame = {
    import s.implicits._
    val (model, coded) = loadCoded(s, path)
    // strict (no auto-route): this probe's refine metric is COSINE
    // (the retrieval dense leg); the distributed twin
    // [[probeVectorIndexBulkRefined]] re-scores in exact squared-L2
    // (sim17's repair objective), so silently routing would change
    // the ranking semantics, not just the plan
    val q = boundedQueriesStrict(queries, Nil)
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val cand = Similarity.adcRank(coded, q, model, Int.MaxValue, nProbe)
      .select("qid", "cid")
    val qdf = q.map { case (qid, v) => (qid, v.toSeq) }.toSeq.toDF("qid", "qv")
    val rawSide = raw.select(col("vec_id").cast("long").as("cid"),
      graft.functions.VectorFunctions.asDouble(col("embedding")).as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    cand.join(rawSide, "cid").join(broadcast(qdf), "qid")
      // the exact double sequence hyb01's from-raw dense leg runs
      .withColumn("sim",
        graft.functions.VectorFunctions.cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "cid", "sim", "rn")
      .orderBy("qid", "rn")
  }

  /** FILTERED probe of a persisted index — sim08's pre-filter contract
    * (restrict candidates by a metadata predicate BEFORE scoring)
    * applied to the stored code table: `meta` (vec_id, label) joins the
    * codes scan with the query labels pushed into ITS parquet scan
    * (PushedFilters In(label, ...), pinned in PlanSpec), so a
    * label-partitioned metadata table prunes to its shards and the
    * top-k fills from WITHIN the predicate — post-filtering an
    * unfiltered top-k under-fills k whenever matches are scarce in the
    * global neighborhood (the classic vector-DB bug; contrasted in
    * VectorIndexSpec). Scale shape: meta is corpus-sized, so the
    * codes⋈meta join is a co-partitioned equi-join on cid, never a
    * broadcast of the corpus; everything downstream is the shared ADC
    * kernel.
    */
  def probeVectorIndexFiltered(s: SparkSession, path: String,
      queries: DataFrame, meta: DataFrame, k: Int = 5,
      nProbe: Int = 4,
      maxDriverQueries: Int = MaxProbeQueries): DataFrame =
    boundedQueries(queries, Seq(col("label")), maxDriverQueries) match {
      case Some(rows) =>
        val (model, coded) = loadCoded(s, path)
        // fail fast on a NULL query label: isin/=== never match NULL, so
        // the probe would silently return ZERO candidates for that query —
        // indistinguishable from "no neighbors share the label"
        require(rows.forall(!_.isNullAt(2)),
          "filtered probe requires a non-NULL label on every query vector " +
            "(a NULL label matches no candidate under SQL equality)")
        val q = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        val labelOf: Map[Long, Any] = rows.map(r => r.getLong(0) -> r.get(2)).toMap
        val wanted = rows.map(_.get(2)).distinct.toSeq
        val fmeta = meta.filter(col("label").isin(wanted: _*))
          .select(col("vec_id").cast("long").as("cid"), col("label"))
        Similarity.adcRank(coded.join(fmeta, "cid"), q, model, k, nProbe,
          Some(labelOf))
      case None => probeVectorIndexBulkFiltered(s, path, queries, meta, k, nProbe)
    }

  /** Rehydrate the quantizer state — nCells + nCodes bounded rows.
    * The model always lands on the driver (the probe builds LUTs from
    * it), so the tables are read driver-side (TinyParquet): same
    * files, no Spark job per table — a probe used to pay three
    * scheduler round-trips before its first real stage.
    */
  private[operators] def loadModel(s: SparkSession, path: String): Similarity.IvfPqModel =
    loadModel(path, s.sessionState.newHadoopConf())

  private def loadModel(path: String,
      conf: org.apache.hadoop.conf.Configuration): Similarity.IvfPqModel = {
    import graft.ingest.TinyParquet._
    val m = graft.ingest.TinyParquet.read(s"$path/meta", conf,
      Seq(IntCol("n_cells"), IntCol("n_sub"), IntCol("sub_dim"))).head
    val (nCells, nSub, subDim) =
      (m(0).asInstanceOf[Int], m(1).asInstanceOf[Int], m(2).asInstanceOf[Int])
    val cen = graft.ingest.TinyParquet.read(s"$path/centroids", conf,
        Seq(IntCol("cell"), DoubleArrayCol("v")))
      .sortBy(_.head.asInstanceOf[Int])
      .map(_(1).asInstanceOf[Seq[Double]].toArray).toArray
    val rcb = graft.ingest.TinyParquet.read(s"$path/codebook", conf,
        Seq(IntCol("code"), DoubleArrayCol("rv")))
      .sortBy(_.head.asInstanceOf[Int])
      .map(_(1).asInstanceOf[Seq[Double]].toArray).toArray
    require(cen.length == nCells,
      s"$path/centroids holds ${cen.length} rows, geometry says $nCells")
    Similarity.IvfPqModel(nCells, nSub, subDim, cen, rcb)
  }

  // ----- right-to-erasure for the persisted vector index (sim13) -----

  /** Logical right-to-erasure (the Dedup.forgetFromIndex contract for
    * vectors): record `ids` (a `vec_id` column) as marker-sealed
    * tombstones; every subsequent [[probeVectorIndex]] filters them
    * out of the stored code table before scoring. Bytes disappear at
    * [[vacuumVectorIndex]].
    *
    * GUARDED governance caveat, unique to the vector index: the
    * quantizers EMBED the training vectors (each centroid is a pinned
    * vector; each codebook entry is a pinned vector's residual), so
    * erasing a training vector cannot be honored by tombstoning its
    * code row — its coordinates would live on in the model state. The
    * call REFUSES training ids and names the remedy (re-save without
    * them), rather than silently leaving the data resident.
    */
  def forgetFromVectorIndex(s: SparkSession, path: String, ids: DataFrame): Unit = {
    // a pre-train_ids index must fail LOUDLY with its remedy (the
    // rejectLegacyLayout idiom), not with a raw path-not-found from
    // the parquet reader
    val conf = s.sessionState.newHadoopConf()
    require(graft.ingest.FileUtils.exists(s"$path/train_ids", conf),
      s"$path predates the train_ids manifest; re-save it with " +
        "saveVectorIndex (or rebuildVectorIndex) before erasing from it")
    // membership against the STORED training set (not a dense-id
    // heuristic): a rebuilt index's training ids have gaps
    val trainIds = ids.select(col("vec_id").cast("long").as("vec_id"))
      .join(TinyParquet.readSpark(s, conf, s"$path/train_ids"), Seq("vec_id"), "left_semi")
      .count()
    require(trainIds == 0L,
      s"$trainIds forget ids are quantizer-training vectors — their " +
        "coordinates are embedded in centroids/codebook; rebuild the " +
        "index without them (rebuildVectorIndex) instead of tombstoning")
    Tree.forget(path, conf, ids, "vec_id")
  }

  /** PHYSICAL erasure: rewrite the code table without tombstoned rows
    * (one compacted committed batch) and clear the tombstones —
    * quantizer state is untouched because [[forgetFromVectorIndex]]
    * already refused training ids. CRASH-ATOMIC via the Generations
    * manifest swap under the save lease
    * ([[graft.ingest.BatchTree.vacuum]]: stage, one atomic marker
    * create, sweep) — and with no tombstones outstanding this is BATCH
    * COMPACTION: a maintenance vacuum folds an append-heavy index's
    * many b<N> dirs into one committed batch with identical probe
    * results (spec-pinned), shedding the per-batch file costs probes
    * pay.
    */
  def vacuumVectorIndex(s: SparkSession, path: String): Unit =
    Tree.vacuum(s, path, s.sessionState.newHadoopConf())

  /** The training-id refusal remedy, executed ([[forgetFromVectorIndex]]
    * names it): retrain the quantizers and re-encode on `corpus` MINUS
    * `erase` MINUS any ids already tombstoned, replacing the index at
    * `path` under its STORED geometry. After this, the erased training
    * vector's coordinates are byte-absent from centroids, codebook,
    * and every code row — the erasure a tombstone structurally cannot
    * deliver for quantizer-resident data (pinned in VectorIndexSpec).
    * Existing tombstones fold into the erase set (a save clears the
    * tombstone log, so leaving them out would RESURRECT previously
    * forgotten vectors); the replacement set is the union.
    *
    * Lease story: the rebuild's DESTRUCTIVE phase is the nested
    * [[saveVectorIndex]], which takes the exclusive `_SAVING` lease
    * itself (taking it here too would self-deadlock on the nested
    * acquire); the work before that point is reads only, materialized
    * (localCheckpoint) so nothing re-reads files the save deletes.
    *
    * GEOMETRY RESIZE: the optional `nCells`/`nSub`/`subDim`/`nCodes`
    * override the STORED geometry for the retrain (≤ 0 = keep stored,
    * the erasure-remedy default). This is the maintenance loop's
    * answer to a corpus that outgrew its save-time cell count — the
    * bulk probes' join parallelism is bounded by distinct cells
    * (production IVF sizes ~√N cells), and cells are pinned at save
    * time, so growth past the geometry previously required a manual
    * delete + re-save. A resize is exactly a retrain-and-replace:
    * the nested save re-pins training rows under the NEW geometry,
    * re-encodes every kept vector, replaces meta/centroids/codebook/
    * train_ids wholesale, and bumps the save epoch — no batch encoded
    * under the old geometry can survive (the save's reset clears
    * every batch tree; the saveVectorIndex stale-batch contract).
    */
  def rebuildVectorIndex(corpus: DataFrame, path: String,
      erase: DataFrame, nCells: Int = -1, nSub: Int = -1,
      subDim: Int = -1, nCodes: Int = -1): Unit = {
    val s = corpus.sparkSession
    import s.implicits._
    val conf = s.sessionState.newHadoopConf()
    // the stored geometry, parsed and cross-checked once (loadModel)
    val m = loadModel(path, conf)
    val (tc, ts, td, tk) = (
      if (nCells > 0) nCells else m.nCells,
      if (nSub > 0) nSub else m.nSub,
      if (subDim > 0) subDim else m.subDim,
      if (nCodes > 0) nCodes else m.rcb.length)
    // a resize may re-partition the subspaces but never the dimension:
    // the stored codes are replaced wholesale, but the CORPUS vectors
    // are nSub*subDim doubles and a mismatched product would encode
    // garbage silently (slice() pads short reads with null → poisoned
    // codes), so it fails here by name instead
    require(ts * td == m.nSub * m.subDim,
      s"target geometry nSub*subDim = ${ts * td} must preserve the " +
        s"vector dimension ${m.nSub * m.subDim} " +
        "(resize re-partitions subspaces, it cannot change the " +
        "embedding width)")
    // materialized BEFORE the re-save deletes the tombstone parquet it
    // reads from (the vacuumIndex localCheckpoint rationale)
    val gone = erase.select(col("vec_id").cast("long").as("vec_id"))
      .unionByName(Tree.tombstones(s, path, conf)
        .fold(Seq.empty[Long].toDF("vec_id"))(_.select(col("cid").as("vec_id"))))
      .distinct()
      .localCheckpoint(true)
    val kept = corpus.join(gone,
      corpus("vec_id").cast("long") === gone("vec_id"), "left_anti")
    saveVectorIndex(kept, path, tc, ts, td, tk)
  }

  /** QUANTIZER-DRIFT AUDIT — the maintenance loop's trigger for
    * [[rebuildVectorIndex]]: quantizers are pinned at SAVE time, so a
    * batch appended from a drifted distribution is encoded against
    * centroids/codebooks that no longer cover it, and every ADC score
    * over its rows silently degrades. The audit measures exactly that,
    * per committed live batch, as the PQ reconstruction error of the
    * STORED code rows: for each sampled vector,
    * `err = Σ_m ‖(v − cen[cell])_m − rcb[code_m]_m‖²` — the residual
    * the chosen codes failed to capture, i.e. the ADC-vs-exact score
    * error's vector-side term (FAISS's quantization-error metric). A
    * batch whose mean error clears `threshold` gets `drifted = true` —
    * the rebuild trigger.
    *
    * `raw` carries (vec_id, embedding) for the audited rows; the
    * deterministic sample keeps `cid % sampleMod == 0` (the sim04/sd02
    * sampling shape — at 100 TB the audit reads the code table once
    * and joins only the sampled slice of the raw corpus, an equi-join
    * on cid, never a broadcast). Error folds are subspace- and
    * dim-ascending, and the per-batch mean rides a decimal-exact sum,
    * so the stats are bit-deterministic (the oracle replays them).
    */
  def auditVectorIndexDrift(s: SparkSession, path: String, raw: DataFrame,
      threshold: Double, sampleMod: Int = 1): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val conf = s.sessionState.newHadoopConf()
    val model = loadModel(path, conf)
    // tombstoned rows are invisible to every probe (loadCoded), so
    // they must not steer the rebuild trigger either — a logically
    // erased outlier is leaving at the next vacuum, not drift
    val codes = Tree.readByBatch(s, path, "codes", conf)
    val sampled = codes.filter(pmod(col("cid"), lit(sampleMod)) === 0)
      .join(raw.select(col("vec_id").cast("long").as("cid"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v")),
        "cid")
    // the encodeIvfPq arithmetic replayed against the STORED codes:
    // per subspace, residual-vs-codebook-entry squared distance,
    // folded dim-ascending (functions.aggregate is a left fold) and
    // summed subspace-ascending — the oracle's list_sum shapes
    val err = (0 until model.nSub).map { m =>
      val cenSub = model.cen
        .map(_.slice(m * model.subDim, (m + 1) * model.subDim).toSeq).toSeq
      val rcbSub = model.rcbSub(m).map(_.toSeq).toSeq
      val sub = zip_with(
        slice(col("v"), m * model.subDim + 1, model.subDim),
        element_at(typedLit(cenSub), col("cell") + 1),
        (x, cc) => x - cc)
      val diff = zip_with(sub,
        element_at(typedLit(rcbSub), col(s"code_$m") + 1),
        (x, r) => x - r)
      aggregate(diff, lit(0.0d), (acc, x) => acc + x * x)
    }.reduce(_ + _)
    sampled.withColumn("err", err)
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("err").cast("decimal(30,15)")).cast("double").as("sum_err"),
        max(col("err")).as("max_err"))
      .select(col("batch_id"), col("n_sampled"),
        (col("sum_err") / col("n_sampled").cast("double")).as("mean_err"),
        col("max_err"))
      .withColumn("drifted", col("mean_err") > lit(threshold))
      .orderBy("batch_id")
  }

  /** ROLLING-WINDOW retention for the vector index — batches are the
    * arrival order, so a freshness-bounded retrieval corpus (serve
    * only the last N ingestion windows) retires every committed batch
    * except the newest `keepLast`: one `_RETIRED` marker per expired
    * batch, metadata-only, probes exclude them immediately, bytes
    * drop at [[vacuumVectorIndex]]. The QUANTIZERS are untouched — a
    * retired batch's vectors stop being candidates, which is what
    * retention means; it is NOT right-to-erasure (a training vector's
    * coordinates still live in the model — that path stays
    * [[rebuildVectorIndex]], and [[forgetFromVectorIndex]] still
    * refuses training ids). Runs under the save lease, so it fails
    * loudly while a save or vacuum is running. Returns the newly
    * retired batch ids.
    */
  def retireVectorIndexBatches(s: SparkSession, path: String,
      keepLast: Int): Seq[Long] =
    Tree.retire(path, s.sessionState.newHadoopConf(), keepLast)

  // Save the WHOLE corpus, then probe the loaded index: the output
  // must be byte-identical to sim07's from-scratch search (they share
  // the oracle, which rebuilds the entire pipeline in DuckDB).
  private val sim11 = QueryDef(
    "sim11_index_probe",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim11_vindex").toString
      try {
        saveVectorIndex(emb, path)
        probeVectorIndex(s, path, emb.filter(col("vec_id") < 3))
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle,
  )

  // Save on a subset (which must contain the pinned training vectors,
  // vec_id < 32 — the quantizers ARE the index identity), append the
  // rest, probe: identical to from-scratch over the full corpus,
  // proving appended batches are encoded under the STORED quantizers.
  private val sim12 = QueryDef(
    "sim12_index_append",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim12_vindex").toString
      try {
        saveVectorIndex(emb.filter(col("vec_id") < 32 || col("vec_id") % 3 === 0), path)
        appendVectorIndex(emb.filter(col("vec_id") >= 32 && col("vec_id") % 3 =!= 0), path)
        probeVectorIndex(s, path, emb.filter(col("vec_id") < 3))
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle,
  )

  // Right-to-erasure over the index: forget a deterministic set of
  // NON-training vectors (vec_id >= 32, ≡ 5 mod 7), vacuum, probe —
  // the post-vacuum ranking must equal from-scratch search over the
  // corpus WITHOUT the erased vectors under the same pinned quantizers
  // (the oracle is sim07's full rebuild with the erased ids excluded
  // from the candidate set; queries and training vectors are disjoint
  // from the forget set by construction). The spec separately pins
  // tombstone-probe == vacuum-probe, physical absence of erased cids
  // in the rewritten parquet, and the refusal of training-vector ids.
  private val sim13 = QueryDef(
    "sim13_index_erasure",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim13_vindex").toString
      try {
        saveVectorIndex(emb, path)
        forgetFromVectorIndex(s, path,
          emb.filter(col("vec_id") >= 32 && col("vec_id") % 7 === 5)
            .select("vec_id"))
        vacuumVectorIndex(s, path)
        probeVectorIndex(s, path, emb.filter(col("vec_id") < 3))
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle.map { o =>
      val anchored = "WHERE a.cid <> p.qid"
      require(o.contains(anchored), "sim07 oracle candidate filter moved")
      o.replace(anchored,
        anchored + " AND NOT (a.cid >= 32 AND a.cid % 7 = 5)")
    },
  )

  // Filtered probe of the persisted index: each query ranks ONLY
  // candidates sharing its label (pre-filter, sim08's contract), over
  // the stored code table. The oracle is sim07's full rebuild with the
  // label predicate applied to the candidate set before ranking — a
  // hash match proves the filter ran BEFORE scoring (post-filtering
  // would keep the global top-5 and return its label-matching subset,
  // a different, shorter list).
  private val sim15 = QueryDef(
    "sim15_filtered_index_probe",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim15_vindex").toString
      try {
        saveVectorIndex(emb, path)
        probeVectorIndexFiltered(s, path, emb.filter(col("vec_id") < 3),
          emb.select("vec_id", "label"))
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle.map { o =>
      val anchored = "WHERE a.cid <> p.qid"
      require(o.contains(anchored), "sim07 oracle candidate filter moved")
      o.replace(anchored,
        anchored +
          " AND (SELECT el.label FROM embeddings el WHERE el.vec_id = a.cid)" +
          " = (SELECT eq.label FROM embeddings eq WHERE eq.vec_id = p.qid)")
    },
  )

  // Refused-erasure → rebuild → clean probe, end to end: a NON-training
  // id (40) is tombstoned normally, a TRAINING id (20) is refused (its
  // coordinates live in the quantizers), and the documented remedy runs
  // — rebuildVectorIndex retrains on the corpus minus {20} with the
  // tombstone folded in (minus {40} too). The oracle replays sim07's
  // full rebuild over embeddings WITHOUT ids 20/40: the centroid set is
  // unchanged (both ids ≥ 16), the residual codebook re-pins to the
  // first 16 SURVIVING vectors past the centroids ({16..19, 21..32},
  // re-indexed densely), and candidates exclude both ids. The spec
  // separately pins byte-absence of the erased training vector from
  // quantizer state.
  private val sim16 = QueryDef(
    "sim16_index_rebuild_erasure",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim16_vindex").toString
      try {
        saveVectorIndex(emb, path)
        forgetFromVectorIndex(s, path,
          emb.filter(col("vec_id") === 40).select("vec_id"))
        val refused =
          try {
            forgetFromVectorIndex(s, path,
              emb.filter(col("vec_id") === 20).select("vec_id"))
            false
          } catch { case _: IllegalArgumentException => true }
        require(refused, "training-id tombstone must be refused")
        rebuildVectorIndex(emb, path,
          emb.filter(col("vec_id") === 20).select("vec_id"))
        probeVectorIndex(s, path, emb.filter(col("vec_id") < 3))
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle.map { o =>
      val a1 = "c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),"
      val a2 = "SELECT c.cid - 16 AS kk,"
      val a3 = "WHERE c.cid >= 16 AND c.cid < 32),"
      Seq(a1, a2, a3).foreach(a =>
        require(o.contains(a), s"sim07 oracle anchor moved: $a"))
      o.replace(a1,
          "c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv" +
            " FROM embeddings WHERE vec_id NOT IN (20, 40)),")
        .replace(a2, "SELECT ROW_NUMBER() OVER (ORDER BY c.cid) - 1 AS kk,")
        .replace(a3, "WHERE c.cid >= 16 AND c.cid <= 32),")
    },
  )

  // Incremental SEMANTIC near-dup audit over the persisted index —
  // sd01's SemDeDup idea composed with the save/append lifecycle the
  // way a continuously-growing corpus runs it: the corpus arrives in
  // two installments (save vec_id < 400 — which pins the same 0..31
  // training set as a full-corpus save — then append the rest), and a
  // deterministic sample of the appended batch is probed ADC-top-1
  // against the WHOLE stored index; a nearest-neighbor distance at or
  // below the threshold flags the new vector as a semantic
  // near-duplicate. Per-batch cost is one encode at append plus the
  // sampled probes; history is never re-encoded. The threshold (1.36)
  // sits ≥ 0.008 from every adist at both test SFs, so the flag can
  // never hinge on a last-ulp divergence — and it splits the sample
  // (dups AND non-dups exist) at every SF, so the oracle certifies
  // both outcomes.
  private val sd02 = QueryDef(
    "sd02_incremental_semdedup",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sd02_vindex").toString
      try {
        saveVectorIndex(emb.filter(col("vec_id") < 400), path)
        appendVectorIndex(emb.filter(col("vec_id") >= 400), path)
        probeVectorIndex(s, path,
          emb.filter(col("vec_id") >= 400 && col("vec_id") % 50 === 0), k = 1)
          .select(col("qid").as("vec_id"), col("cid").as("nn_cid"),
            col("adist"), (col("adist") <= lit(1.36)).as("is_dup"))
          .orderBy("vec_id")
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle.map { o =>
      // anchored edits (never bare "cid < 3" — it is a substring of
      // the rcb CTE's "c.cid < 32"): retarget the query set to the
      // appended-batch sample, cut at top-1, emit the dup verdict
      val a1 = "AND cid < 3),"
      val a2 = "FROM c WHERE cid < 3),"
      val a3 = "SELECT qid, cid, adist, rn FROM r2 WHERE rn <= 5 ORDER BY qid, rn"
      Seq(a1, a2, a3).foreach(a =>
        require(o.contains(a), s"sim07 oracle anchor moved: $a"))
      o.replace(a1, "AND cid >= 400 AND cid % 50 = 0),")
        .replace(a2, "FROM c WHERE cid >= 400 AND cid % 50 = 0),")
        .replace(a3,
          "SELECT qid AS vec_id, cid AS nn_cid, adist, " +
            "adist <= 1.36 AS is_dup FROM r2 WHERE rn <= 1 ORDER BY vec_id")
    },
  )

  // MIPS probe of the persisted index, end to end: the oracle rebuilds
  // the ENTIRE pipeline with the dot-product ADC derivation — probe
  // lists by q·centroid DESC, cell-independent q·residual LUTs, score =
  // base + Σ_m lut, rank DESC — so a hash match certifies the stored
  // index serves the inner-product objective exactly (on this corpus
  // the MIPS and L2 rankings genuinely disagree; pinned in
  // VectorIndexSpec).
  private val sim18 = QueryDef(
    "sim18_index_mips_probe",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim18_vindex").toString
      try {
        saveVectorIndex(emb, path)
        probeVectorIndexMips(s, path, emb.filter(col("vec_id") < 3))
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle.map { o =>
      // keep sim07's index-construction prefix (c..codes CTEs) intact;
      // replace everything from the probe-list CTE on with the MIPS
      // derivation
      val cut = "probes AS (SELECT cid AS qid, k AS cell FROM rk WHERE r <= 4 AND cid < 3),"
      val i = o.indexOf(cut)
      require(i >= 0, "sim07 oracle probe CTE moved")
      o.substring(0, i) +
        """q AS (SELECT cid AS qid, cv AS qv FROM c WHERE cid < 3),
      pd AS (SELECT q.qid, cen.k AS cell,
          list_sum(list_transform(range(64), i -> q.qv[i + 1] * cen.kv[i + 1])) AS pscore
        FROM q, cen),
      probes AS (SELECT qid, cell, pscore FROM (SELECT qid, cell, pscore,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY pscore DESC, cell) AS r
        FROM pd) WHERE r <= 4),
      lut AS (SELECT q.qid, m, rcb.kk AS code,
          list_sum(list_transform(range(8), i ->
            q.qv[m * 8 + i + 1] * rcb.rv[m * 8 + i + 1])) AS pdot
        FROM q, range(8) r(m), rcb),
      cand AS (SELECT p.qid, a.cid, a.cell, p.pscore
        FROM probes p JOIN assign a ON a.cell = p.cell WHERE a.cid <> p.qid),
      ad AS (SELECT cand.qid, cand.cid,
          cand.pscore + list_sum(list(l.pdot ORDER BY l.m)) AS score
        FROM cand
        JOIN codes ON codes.cid = cand.cid
        JOIN lut l ON l.qid = cand.qid AND l.m = codes.m AND l.code = codes.code
        GROUP BY cand.qid, cand.cid, cand.pscore),
      r2 AS (SELECT qid, cid, score,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS BIGINT) AS rn
        FROM ad)
      SELECT qid, cid, score, rn FROM r2 WHERE rn <= 5 ORDER BY qid, rn"""
    },
  )

  // Shared by StreamingParity's str18: the streamed MIPS probe must
  // emit the exact ranking the one-shot probe derives, so it checks
  // against the SAME oracle rebuild.
  private[operators] def sim18Oracle: Option[String] = sim18.oracle
  private[operators] def sim22Oracle: Option[String] = sim22.oracle
  // Shared by StreamingParity's str22: the streamed BULK probe must
  // emit the exact ranking the one-shot bulk probe derives.
  private[operators] def sim24Oracle: Option[String] = sim24.oracle

  /** BULK probe — the unbounded-queries answer to [[MaxProbeQueries]]:
    * queries stay a DataFrame end to end (no driver collect, no
    * per-query broadcast LUTs), so a 100-TB deployment can ANN-join a
    * full corpus against the stored index in one distributed plan.
    * Topology: each query row computes its `nProbe` coarse cells with
    * the codegen'd [[graft.functions.TextExpressions.nearest_centroids]]
    * (the encode-side kernel, same (dist, cell) tie-break as the
    * oracle), explodes to (qid, qv, cell), and SHUFFLE-JOINS the
    * tombstone-filtered stored code table on `cell`; the ADC distance
    * is then computed per candidate directly from (qv, cell, codes)
    * with the quantizers baked in as literals (the audit's expression
    * shape — subspace- and dim-ascending folds, so the arithmetic is
    * bit-identical to the LUT path and the DuckDB replay). One shuffle
    * on the ~|Q|·nProbe exploded side; per-cell candidate volume is
    * the IVF pruning (nProbe/nCells of the corpus per query); the
    * final top-k is a per-qid window over the joined candidates.
    * Scale note: the join's parallelism is bounded by DISTINCT CELLS,
    * so nCells must be sized to the corpus and cluster (production
    * IVF uses ~√N cells — thousands-plus at 100 TB, far above this
    * test geometry's 16), and AQE's skew-join split absorbs hot
    * cells; the window stays per-qid, which is never skewed by cells.
    */
  def probeVectorIndexBulk(s: SparkSession, path: String,
      queries: DataFrame, k: Int = 5, nProbe: Int = 4): DataFrame = {
    val (model, coded) = loadCoded(s, path)
    val q = queries.select(col("vec_id").cast("long").as("qid"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("qv"))
      .withColumn("cell", explode(
        graft.functions.TextExpressions.nearest_centroids(
          col("qv"), model.cen, nProbe)))
    val cand = coded.join(q, Seq("cell"))
      .filter(col("cid") =!= col("qid"))
    // ONE codegen'd kernel call per candidate (quantizers baked in) —
    // the HOF formulation (zip_with/aggregate per subspace) ran
    // interpreted and broke whole-stage codegen: 18.3 s → ~4.5 s at
    // sf0.1 for the full-corpus probe, measured same-session
    val adist = graft.functions.TextExpressions.adc_distance(
      col("qv"), col("cell"),
      array((0 until model.nSub).map(m => col(s"code_$m")): _*),
      model.cen, model.rcb, model.subDim, mips = false)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    cand.withColumn("adist", adist)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "cid", "adist", "rn")
      .orderBy("qid", "rn")
  }

  /** BULK probe, MIPS objective — [[probeVectorIndexBulk]]'s topology
    * with the decomposed dot score: q·x̂ = q·cen(cell) +
    * Σ_m q_m·rcb(code_m)_m. Cells probe by q·centroid DESCENDING
    * (the codegen'd top_dot_cells kernel, tie by cell ascending —
    * the oracle's ORDER BY pscore DESC, cell), the base term and the
    * per-subspace residual dots are computed per candidate from
    * quantizer literals with sim18's exact add order (base + the
    * subspace-ascending fold), and candidates rank score DESC. Same
    * single shuffle join on `cell`; no driver collect.
    */
  def probeVectorIndexBulkMips(s: SparkSession, path: String,
      queries: DataFrame, k: Int = 5, nProbe: Int = 4): DataFrame = {
    val (model, coded) = loadCoded(s, path)
    val q = queries.select(col("vec_id").cast("long").as("qid"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("qv"))
      .withColumn("cell", explode(
        graft.functions.TextExpressions.top_dot_cells(
          col("qv"), model.cen, nProbe)))
    val cand = coded.join(q, Seq("cell"))
      .filter(col("cid") =!= col("qid"))
    // same codegen'd kernel, MIPS objective (base + subspace fold —
    // the LUT path's exact add order)
    val score = graft.functions.TextExpressions.adc_distance(
      col("qv"), col("cell"),
      array((0 until model.nSub).map(m => col(s"code_$m")): _*),
      model.cen, model.rcb, model.subDim, mips = true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    cand.withColumn("score", score)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "cid", "score", "rn")
      .orderBy("qid", "rn")
  }

  /** Ceiling on the DISTINCT LABEL domain the bulk filtered probe
    * collects to build its pushed-down metadata filter. This is a
    * bound on the label VOCABULARY (languages, sources, licenses —
    * small by nature), not on queries or corpus: a 100-TB corpus with
    * billions of queries still has a collectable label domain. A
    * domain past the cap fails loudly — the predicate would no longer
    * be expressible as a pushed In-filter anyway.
    */
  val MaxFilterLabels: Int = 65536

  /** FILTERED bulk probe — sim15's pre-filter contract composed with
    * [[probeVectorIndexBulk]]'s distributed topology: the filtered ANN
    * JOIN (restrict candidates to rows sharing the query's label,
    * THEN rank) with queries staying a DataFrame end to end. The only
    * driver state is the distinct label DOMAIN (bounded by the label
    * vocabulary — [[MaxFilterLabels]] — never by |Q| or the corpus),
    * collected to push an In(label, ...) filter into the metadata
    * parquet scan (PushedFilters, pinned in PlanSpec) so a
    * label-partitioned metadata table prunes to its shards. Topology:
    * codes ⋈ metadata is a co-partitioned equi-join on cid (both
    * corpus-sized — never a broadcast), the query side explodes to
    * (qid, qv, cell) and shuffle-joins on `cell`, candidates keep
    * only label == qlabel BEFORE scoring (pre-filter: k fills from
    * WITHIN the predicate — post-filtering an unfiltered top-k
    * under-fills whenever matches are scarce in the global
    * neighborhood), then the shared codegen'd ADC kernel and the
    * per-qid window. Same arithmetic as the LUT filtered path
    * (spec-pinned row-for-row).
    *
    * `mips = true` flips the scoring objective to inner product (the
    * retrieval deployment's filtered dense leg — DPR-style scoring
    * restricted by a metadata predicate): cells probe by q·centroid
    * descending via the codegen'd top_dot_cells kernel, the score is
    * the decomposed dot with sim18's exact add order, the rank flips
    * to score DESC, and the column is named `score` (sim06/sim18's
    * shape). Everything else — domain collect, pushed metadata
    * filter, cid equi-join, cell shuffle, pre-filter-before-scoring —
    * is the same topology, so the two objectives cannot drift.
    */
  def probeVectorIndexBulkFiltered(s: SparkSession, path: String,
      queries: DataFrame, meta: DataFrame, k: Int = 5,
      nProbe: Int = 4, mips: Boolean = false): DataFrame = {
    val (model, coded) = loadCoded(s, path)
    // label DOMAIN, not query, collect — and a NULL label anywhere in
    // it fails fast (isin/=== never match NULL: the affected queries
    // would silently return zero candidates)
    val wantedRows = queries.select(col("label")).distinct()
      .limit(MaxFilterLabels + 1).collect()
    require(wantedRows.length <= MaxFilterLabels,
      s"bulk filtered probe pushes the query-label domain into the " +
        s"metadata scan as an In filter; $MaxFilterLabels distinct " +
        "labels exceeded — this predicate shape no longer fits a " +
        "pushed filter")
    require(wantedRows.forall(!_.isNullAt(0)),
      "filtered probe requires a non-NULL label on every query vector " +
        "(a NULL label matches no candidate under SQL equality)")
    val wanted = wantedRows.map(_.get(0)).toSeq
    val fmeta = meta.filter(col("label").isin(wanted: _*))
      .select(col("vec_id").cast("long").as("cid"), col("label"))
    val cells =
      if (mips) graft.functions.TextExpressions.top_dot_cells(
        col("qv"), model.cen, nProbe)
      else graft.functions.TextExpressions.nearest_centroids(
        col("qv"), model.cen, nProbe)
    val q = queries.select(col("vec_id").cast("long").as("qid"),
        col("label").as("qlabel"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("qv"))
      .withColumn("cell", explode(cells))
    val cand = coded.join(fmeta, "cid").join(q, Seq("cell"))
      .filter(col("cid") =!= col("qid") && col("label") === col("qlabel"))
    val scoreName = if (mips) "score" else "adist"
    val score = graft.functions.TextExpressions.adc_distance(
      col("qv"), col("cell"),
      array((0 until model.nSub).map(m => col(s"code_$m")): _*),
      model.cen, model.rcb, model.subDim, mips = mips)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(if (mips) col(scoreName).desc else col(scoreName), col("cid"))
    cand.withColumn(scoreName, score)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "cid", scoreName, "rn")
      .orderBy("qid", "rn")
  }

  /** REFINED bulk probe — sim17's exact-refine repair as a fully
    * distributed pipeline: the bulk ADC plan nominates the top-`topR`
    * candidates per query (approximate scores order the SHORTLIST
    * only), then ONE equi-join back to the raw vector table `raw`
    * (vec_id, embedding) re-scores each nominee EXACTLY — the
    * index-ascending squared-L2 fold, sim17's double sequence — and
    * the final top-k ranks on the exact distances. No driver collect
    * anywhere: nomination is [[probeVectorIndexBulk]]'s single
    * cell-join, the refine joins touch |Q|·topR rows against the
    * corpus-sized raw side (co-partitioned on cid) and the query side
    * (co-partitioned on qid) — never a broadcast of either. Endpoints
    * (spec-pinned): topR = k degenerates to re-scoring the ADC top-k;
    * topR = everything is the exact re-rank of all probed-cell
    * candidates (sim17's `truth`).
    */
  def probeVectorIndexBulkRefined(s: SparkSession, path: String,
      queries: DataFrame, raw: DataFrame, k: Int = 5, topR: Int = 10,
      nProbe: Int = 4): DataFrame = {
    require(topR >= k, s"topR ($topR) must be >= k ($k): the refine " +
      "stage can only re-rank what the ADC stage nominated")
    val cand = probeVectorIndexBulk(s, path, queries, topR, nProbe)
      .select("qid", "cid")
    val qdf = queries.select(col("vec_id").cast("long").as("qid"),
      graft.functions.VectorFunctions.asDouble(col("embedding")).as("qv"))
    val rawSide = raw.select(col("vec_id").cast("long").as("cid"),
      graft.functions.VectorFunctions.asDouble(col("embedding")).as("cv"))
    // exact refine distance: sequential (a_i-b_i)^2 fold, index-
    // ascending — the same double sequence sim17's oracle list_sum runs
    val diff = zip_with(col("qv"), col("cv"), (a, b) => a - b)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("exd"), col("cid"))
    cand.join(rawSide, "cid").join(qdf, "qid")
      .withColumn("exd", graft.functions.VectorFunctions.dotD(diff, diff))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "cid", "exd", "rn")
      .orderBy("qid", "rn")
  }

  // The bulk probe proved at full width: EVERY corpus vector is a
  // query (the embedding-dedup / all-pairs-ANN shape), against the
  // stored index — sharing sim07's oracle with the query restriction
  // lifted, so a hash match certifies the distributed join path
  // computes exactly what the LUT path computes, per-cell candidates,
  // tie-breaks, and all.
  private val sim24 = QueryDef(
    "sim24_bulk_index_probe",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim24_vindex").toString
      try {
        saveVectorIndex(emb, path)
        probeVectorIndexBulk(s, path, emb).localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle.map { o =>
      val pAnchor =
        "probes AS (SELECT cid AS qid, k AS cell FROM rk WHERE r <= 4 AND cid < 3),"
      val qAnchor = "q AS (SELECT cid AS qid, cv AS qv FROM c WHERE cid < 3),"
      Seq(pAnchor, qAnchor).foreach(a =>
        require(o.contains(a), s"sim07 oracle anchor moved: $a"))
      o.replace(pAnchor,
          "probes AS (SELECT cid AS qid, k AS cell FROM rk WHERE r <= 4),")
        .replace(qAnchor, "q AS (SELECT cid AS qid, cv AS qv FROM c),")
    },
  )

  // Rolling-window retention end to end: the save batch (which pins
  // the 0..31 training set, the sim12 subset shape) is retired after a
  // recent batch is appended, and the probe must rank candidates from
  // ONLY the live window — under the ORIGINAL quantizers (retention
  // expires candidate rows, not the model; erasing training data stays
  // rebuildVectorIndex's job). The oracle replays sim07's full rebuild
  // with the candidate set cut to the appended batch; on this corpus
  // the retired batch holds top-5 entries at both test SFs (6 of 15
  // rows at sf0.001), so a hash match proves candidates were actually
  // dropped, and fresh vs retained quantizers genuinely differ.
  private val sim20 = QueryDef(
    "sim20_index_retention",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim20_vindex").toString
      try {
        saveVectorIndex(emb.filter(col("vec_id") < 32 || col("vec_id") % 3 === 0), path)
        appendVectorIndex(emb.filter(col("vec_id") >= 32 && col("vec_id") % 3 =!= 0), path)
        val retired = retireVectorIndexBatches(s, path, keepLast = 1)
        require(retired == Seq(0L), s"expected to retire batch 0, got $retired")
        probeVectorIndex(s, path, emb.filter(col("vec_id") < 3))
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle.map { o =>
      val anchored = "WHERE a.cid <> p.qid"
      require(o.contains(anchored), "sim07 oracle candidate filter moved")
      o.replace(anchored,
        anchored + " AND a.cid >= 32 AND a.cid % 3 <> 0")
    },
  )

  // Quantizer-drift audit end to end: the corpus arrives in two
  // installments — the save batch (vec_id < 400, pinning the 0..31
  // training set) in-distribution, the appended batch DELIBERATELY
  // distribution-shifted (every coordinate x → 3x + 1, ids moved to
  // +100000) — and the audit must report, per stored batch, the PQ
  // reconstruction error of a deterministic half sample (cid even),
  // flagging only the shifted batch against the threshold. The oracle
  // replays sim07's full index construction with the union corpus and
  // derives each vector's error as the sum of its chosen codes'
  // residual distances (the cd rows the codes CTE selected) — so a
  // hash match certifies the audit measures exactly what the stored
  // encoding lost. The threshold (8.0) sits far inside the gap
  // between the two batches' means at both test SFs (~1.0 vs ~58 at
  // sf0.001); the spec pins the strict ordering and the
  // rebuild-trigger flag split.
  private val sim22 = QueryDef(
    "sim22_index_drift_audit",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim22_vindex").toString
      try {
        val asD = graft.functions.VectorFunctions.asDouble(col("embedding"))
        val base = emb.filter(col("vec_id") < 400)
        val shifted = emb.filter(col("vec_id") >= 400)
          .select((col("vec_id") + 100000).as("vec_id"),
            transform(asD, x => x * lit(3.0d) + lit(1.0d)).as("embedding"))
        saveVectorIndex(base, path)
        appendVectorIndex(shifted, path)
        val raw = base.select(col("vec_id").cast("long").as("vec_id"),
            asD.as("embedding"))
          .unionByName(shifted)
        auditVectorIndexDrift(s, path, raw, threshold = 8.0, sampleMod = 2)
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle.map { o =>
      val cAnchor =
        "WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),"
      require(o.contains(cAnchor), "sim07 oracle corpus CTE moved")
      val cut =
        "probes AS (SELECT cid AS qid, k AS cell FROM rk WHERE r <= 4 AND cid < 3),"
      val i = o.indexOf(cut)
      require(i >= 0, "sim07 oracle probe CTE moved")
      o.substring(0, i).replace(cAnchor,
        """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id < 400
        UNION ALL
        SELECT vec_id + 100000,
            list_transform(embedding::DOUBLE[], x -> x * 3.0 + 1.0)
          FROM embeddings WHERE vec_id >= 400),""") +
        """errs AS (SELECT cd.cid, list_sum(list(cd.dist ORDER BY cd.m)) AS err
          FROM cd JOIN codes ON codes.cid = cd.cid AND codes.m = cd.m
            AND codes.code = cd.kk
          GROUP BY cd.cid),
      lab AS (SELECT CASE WHEN cid >= 100000 THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS batch_id, err
          FROM errs WHERE cid % 2 = 0),
      agg AS (SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_sampled,
          CAST(SUM(CAST(err AS DECIMAL(30,15))) AS DOUBLE) AS sum_err,
          MAX(err) AS max_err
        FROM lab GROUP BY batch_id)
      SELECT batch_id, n_sampled,
        sum_err / CAST(n_sampled AS DOUBLE) AS mean_err, max_err,
        sum_err / CAST(n_sampled AS DOUBLE) > 8.0 AS drifted
      FROM agg ORDER BY batch_id"""
    },
  )

  // The audit→remedy loop CLOSED (dd18's spec-pinned remedy-loop
  // standard applied to the vector side): the corpus regime moves —
  // the appended batch is TRANSLATED (x → x + 5, ids +100000), same
  // shape and scale as the base but far from the save-time centroids
  // — so audit round 1 trips exactly the shifted batch; the remedy
  // sim22 names (rebuildVectorIndex) retrains on the current regime
  // (the translated distribution IS the corpus now — base has aged
  // out); audit round 2, run with the SAME threshold, reports the
  // rebuilt index clean. Translation is the honest choice here: PQ is
  // translation-EQUIVARIANT (centroids/codebook of x+5 are those of x
  // shifted by 5; residuals identical), so one threshold is provably
  // right before and after the remedy — a scaled shift would move the
  // post-rebuild noise floor and smuggle in a second tuned constant.
  // The oracle replays BOTH audits around the replayed rebuild: chain
  // 1 derives from sim07's construction with the translated union
  // corpus (the sim22 surgery); chain 2 re-runs the construction on
  // the post-rebuild corpus, whose pinned training rows are its 32
  // LOWEST ids (100400..100431 — dense ids, the pinnedTrainRows
  // contract), centroids the first 16 (k = cid - 100400), codebook
  // residuals the next 16 (kk = cid - 100416). In-query requires turn
  // a missed trip or a dirty post-rebuild audit into loud failures.
  private val sim23 = QueryDef(
    "sim23_drift_remedy_loop",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim23_vindex").toString
      try {
        val asD = graft.functions.VectorFunctions.asDouble(col("embedding"))
        val base = emb.filter(col("vec_id") < 400)
        val shifted = emb.filter(col("vec_id") >= 400)
          .select((col("vec_id") + 100000).as("vec_id"),
            transform(asD, x => x + lit(5.0d)).as("embedding"))
        saveVectorIndex(base, path)
        appendVectorIndex(shifted, path)
        val raw1 = base.select(col("vec_id").cast("long").as("vec_id"),
            asD.as("embedding"))
          .unionByName(shifted)
        val audit1 = auditVectorIndexDrift(s, path, raw1,
          threshold = 8.0, sampleMod = 2).localCheckpoint(eager = true)
        val tripped = audit1.filter(col("drifted")).select("batch_id")
          .collect().map(_.getLong(0)).toSeq
        require(tripped == Seq(1L),
          s"the audit must trip exactly the shifted batch, got $tripped")
        rebuildVectorIndex(shifted, path, shifted.select("vec_id").limit(0))
        val audit2 = auditVectorIndexDrift(s, path, shifted,
          threshold = 8.0, sampleMod = 2).localCheckpoint(eager = true)
        require(audit2.filter(col("drifted")).count() == 0L,
          "the post-rebuild audit must be clean at the SAME threshold")
        audit1.withColumn("audit_round", lit(1L))
          .unionByName(audit2.withColumn("audit_round", lit(2L)))
          .select("audit_round", "batch_id", "n_sampled", "mean_err",
            "max_err", "drifted")
          .orderBy("audit_round", "batch_id")
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle.map { o =>
      val cAnchor =
        "WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),"
      require(o.contains(cAnchor), "sim07 oracle corpus CTE moved")
      val cut =
        "probes AS (SELECT cid AS qid, k AS cell FROM rk WHERE r <= 4 AND cid < 3),"
      val i = o.indexOf(cut)
      require(i >= 0, "sim07 oracle probe CTE moved")
      o.substring(0, i).replace(cAnchor,
        """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id < 400
        UNION ALL
        SELECT vec_id + 100000,
            list_transform(embedding::DOUBLE[], x -> x + 5.0)
          FROM embeddings WHERE vec_id >= 400),""") +
        """errs AS (SELECT cd.cid, list_sum(list(cd.dist ORDER BY cd.m)) AS err
          FROM cd JOIN codes ON codes.cid = cd.cid AND codes.m = cd.m
            AND codes.code = cd.kk
          GROUP BY cd.cid),
      lab AS (SELECT CASE WHEN cid >= 100000 THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS batch_id, err
          FROM errs WHERE cid % 2 = 0),
      agg AS (SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_sampled,
          CAST(SUM(CAST(err AS DECIMAL(30,15))) AS DOUBLE) AS sum_err,
          MAX(err) AS max_err
        FROM lab GROUP BY batch_id),
      c2 AS (SELECT vec_id + 100000 AS cid,
          list_transform(embedding::DOUBLE[], x -> x + 5.0) AS cv
        FROM embeddings WHERE vec_id >= 400),
      cen2 AS (SELECT cid - 100400 AS k, cv AS kv FROM c2 WHERE cid < 100416),
      d2 AS (SELECT cid, k,
          list_sum(list_transform(range(64), i ->
            (cv[i + 1] - kv[i + 1]) * (cv[i + 1] - kv[i + 1]))) AS dist
        FROM c2, cen2),
      rk2 AS (SELECT cid, k,
          ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist, k) AS r FROM d2),
      assign2 AS (SELECT cid, k AS cell FROM rk2 WHERE r = 1),
      rcb2 AS (SELECT c2.cid - 100416 AS kk,
          list_transform(range(64), i -> c2.cv[i + 1] - cen2.kv[i + 1]) AS rv
        FROM c2 JOIN assign2 a ON a.cid = c2.cid JOIN cen2 ON cen2.k = a.cell
        WHERE c2.cid >= 100416 AND c2.cid < 100432),
      res2 AS (SELECT c2.cid, a.cell,
          list_transform(range(64), i -> c2.cv[i + 1] - cen2.kv[i + 1]) AS rv
        FROM c2 JOIN assign2 a ON a.cid = c2.cid JOIN cen2 ON cen2.k = a.cell),
      cd2 AS (SELECT res2.cid, m, rcb2.kk,
          list_sum(list_transform(range(8), i ->
            (res2.rv[m * 8 + i + 1] - rcb2.rv[m * 8 + i + 1]) *
            (res2.rv[m * 8 + i + 1] - rcb2.rv[m * 8 + i + 1]))) AS dist
        FROM res2, range(8) r(m), rcb2),
      crk2 AS (SELECT cid, m, kk,
          ROW_NUMBER() OVER (PARTITION BY cid, m ORDER BY dist, kk) AS r FROM cd2),
      codes2 AS (SELECT cid, m, kk AS code FROM crk2 WHERE r = 1),
      errs2 AS (SELECT cd2.cid, list_sum(list(cd2.dist ORDER BY cd2.m)) AS err
          FROM cd2 JOIN codes2 ON codes2.cid = cd2.cid AND codes2.m = cd2.m
            AND codes2.code = cd2.kk
          GROUP BY cd2.cid),
      agg2 AS (SELECT CAST(0 AS BIGINT) AS batch_id,
          CAST(COUNT(*) AS BIGINT) AS n_sampled,
          CAST(SUM(CAST(err AS DECIMAL(30,15))) AS DOUBLE) AS sum_err,
          MAX(err) AS max_err
        FROM errs2 WHERE cid % 2 = 0)
      SELECT CAST(1 AS BIGINT) AS audit_round, batch_id, n_sampled,
          sum_err / CAST(n_sampled AS DOUBLE) AS mean_err, max_err,
          sum_err / CAST(n_sampled AS DOUBLE) > 8.0 AS drifted
        FROM agg
      UNION ALL
      SELECT CAST(2 AS BIGINT), batch_id, n_sampled,
          sum_err / CAST(n_sampled AS DOUBLE), max_err,
          sum_err / CAST(n_sampled AS DOUBLE) > 8.0
        FROM agg2
      ORDER BY audit_round, batch_id"""
    },
  )

  // The MIPS twin at full width, sharing sim18's oracle with the
  // query restriction lifted.
  private val sim25 = QueryDef(
    "sim25_bulk_mips_probe",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim25_vindex").toString
      try {
        saveVectorIndex(emb, path)
        probeVectorIndexBulkMips(s, path, emb).localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    sim18Oracle.map { o =>
      val qAnchor = "q AS (SELECT cid AS qid, cv AS qv FROM c WHERE cid < 3),"
      require(o.contains(qAnchor), "sim18 oracle query CTE moved")
      o.replace(qAnchor, "q AS (SELECT cid AS qid, cv AS qv FROM c),")
    },
  )

  // The FILTERED ANN join at full width: every corpus vector queries
  // the stored index restricted to candidates sharing its label —
  // sim15's replay (sim07's oracle + the label predicate on the
  // candidate set) with the query restriction lifted. A hash match
  // proves the distributed pre-filter ran BEFORE scoring for every
  // query at once; the under-fill contrast (post-filtering would
  // return a different, shorter list) and the PushedFilters pin live
  // in the specs.
  private val sim26 = QueryDef(
    "sim26_bulk_filtered_probe",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim26_vindex").toString
      try {
        saveVectorIndex(emb, path)
        probeVectorIndexBulkFiltered(s, path, emb,
          emb.select("vec_id", "label"))
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle.map { o =>
      val pAnchor =
        "probes AS (SELECT cid AS qid, k AS cell FROM rk WHERE r <= 4 AND cid < 3),"
      val qAnchor = "q AS (SELECT cid AS qid, cv AS qv FROM c WHERE cid < 3),"
      val fAnchor = "WHERE a.cid <> p.qid"
      Seq(pAnchor, qAnchor, fAnchor).foreach(a =>
        require(o.contains(a), s"sim07 oracle anchor moved: $a"))
      o.replace(pAnchor,
          "probes AS (SELECT cid AS qid, k AS cell FROM rk WHERE r <= 4),")
        .replace(qAnchor, "q AS (SELECT cid AS qid, cv AS qv FROM c),")
        .replace(fAnchor,
          fAnchor +
            " AND (SELECT el.label FROM embeddings el WHERE el.vec_id = a.cid)" +
            " = (SELECT eq.label FROM embeddings eq WHERE eq.vec_id = p.qid)")
    },
  )

  // The exact-refine repair at full width: the bulk plan nominates the
  // ADC top-10 per query, one join back to the raw vectors re-scores
  // exactly, and the final top-5 ranks on the exact distances —
  // sim17's adrn/ex derivation appended to sim07's oracle with the
  // query restriction lifted. A hash match certifies nomination,
  // refine join, and exact fold for every corpus vector as a query;
  // the topR endpoint proofs and bulk==LUT-shaped parity live in the
  // spec.
  private val sim28 = QueryDef(
    "sim28_bulk_refined_probe",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim28_vindex").toString
      try {
        saveVectorIndex(emb, path)
        probeVectorIndexBulkRefined(s, path, emb, emb, k = 5, topR = 10)
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    Similarity.sim07Oracle.map { o =>
      val pAnchor =
        "probes AS (SELECT cid AS qid, k AS cell FROM rk WHERE r <= 4 AND cid < 3),"
      val qAnchor = "q AS (SELECT cid AS qid, cv AS qv FROM c WHERE cid < 3),"
      val endAnchor =
        "SELECT qid, cid, adist, rn FROM r2 WHERE rn <= 5 ORDER BY qid, rn"
      Seq(pAnchor, qAnchor, endAnchor).foreach(a =>
        require(o.contains(a), s"sim07 oracle anchor moved: $a"))
      o.replace(pAnchor,
          "probes AS (SELECT cid AS qid, k AS cell FROM rk WHERE r <= 4),")
        .replace(qAnchor, "q AS (SELECT cid AS qid, cv AS qv FROM c),")
        .replace(endAnchor,
          """,
      adrn AS (SELECT qid, cid, adist,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, cid) AS ad_rn
        FROM ad),
      ex AS (SELECT a.qid, a.cid,
          list_sum(list_transform(range(64), i ->
            (q.qv[i + 1] - cc.cv[i + 1]) * (q.qv[i + 1] - cc.cv[i + 1]))) AS exd
        FROM adrn a JOIN q ON q.qid = a.qid JOIN c cc ON cc.cid = a.cid
        WHERE a.ad_rn <= 10),
      r3 AS (SELECT qid, cid, exd,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY exd, cid) AS BIGINT) AS rn
        FROM ex)
      SELECT qid, cid, exd, rn FROM r3 WHERE rn <= 5 ORDER BY qid, rn""")
    },
  )

  // GEOMETRY-RESIZE rebuild end to end — the maintenance move the bulk
  // probes' scale note demands (join parallelism ∝ distinct cells, so
  // a growing corpus needs more cells than its save-time geometry):
  // the corpus starts SMALL (saved at 8 cells / 8 codes — the √N-ish
  // sizing for its first installment), grows past it (append), and the
  // maintenance loop rebuilds AT THE LARGER geometry (16/16) without a
  // manual delete+re-save. The rebuilt index must be INDISTINGUISHABLE
  // from one saved fresh at the target geometry — same pinned training
  // rows, same codes, same probes — which is exactly what sharing
  // sim07's oracle certifies (the fresh-save construction IS the
  // oracle's). In-query requires turn a surviving old-geometry batch
  // or an unbumped save epoch into loud failures; the spec pins both
  // independently plus the dimension-preservation guard.
  private val sim27 = QueryDef(
    "sim27_geometry_resize_rebuild",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim27_vindex").toString
      val conf = s.sessionState.newHadoopConf()
      try {
        saveVectorIndex(emb.filter(col("vec_id") < 400), path,
          nCells = 8, nSub = 8, subDim = 8, nCodes = 8)
        appendVectorIndex(emb.filter(col("vec_id") >= 400), path)
        val epochBefore = graft.ingest.Generations.saveEpoch(path, conf)
        rebuildVectorIndex(emb, path, emb.select("vec_id").limit(0),
          nCells = 16, nCodes = 16)
        require(graft.ingest.Generations.saveEpoch(path, conf) > epochBefore,
          "the resize rebuild must bump the save epoch (appenders must " +
            "be able to detect the geometry replacement)")
        val storedCells = graft.ingest.TinyParquet.read(s"$path/meta", conf,
          Seq(graft.ingest.TinyParquet.IntCol("n_cells")))
          .head.head.asInstanceOf[Int]
        require(storedCells == 16,
          s"stored geometry must be the resize target, got $storedCells cells")
        // no batch encoded under the 8-cell geometry may survive: the
        // nested save's reset cleared every batch tree, leaving ONE
        // fresh full-corpus batch
        val dirs = Tree.liveDirs(path, conf)
        require(dirs.size == 1,
          s"old-geometry batches must not survive the resize, found $dirs")
        probeVectorIndex(s, path, emb.filter(col("vec_id") < 3))
          .localCheckpoint(eager = true)
      } finally rmr(path, conf)
    },
    Similarity.sim07Oracle,
  )

  // The filtered ANN join under the RETRIEVAL objective: every corpus
  // vector MIPS-queries the stored index restricted to candidates
  // sharing its label — sim18's full MIPS rebuild with the query
  // restriction lifted and the label predicate on the candidate set
  // (sim26's surgery applied to the dot-product derivation). A hash
  // match proves the pre-filter composes with the decomposed-dot
  // scoring and descending rank exactly; this completes the bulk
  // matrix: {L2, MIPS} x {plain, filtered} + exact-refine.
  private val sim29 = QueryDef(
    "sim29_bulk_filtered_mips_probe",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val path = java.nio.file.Files
        .createTempDirectory("graft_sim29_vindex").toString
      try {
        saveVectorIndex(emb, path)
        probeVectorIndexBulkFiltered(s, path, emb,
          emb.select("vec_id", "label"), mips = true)
          .localCheckpoint(eager = true)
      } finally rmr(path, s.sessionState.newHadoopConf())
    },
    sim18Oracle.map { o =>
      val qAnchor = "q AS (SELECT cid AS qid, cv AS qv FROM c WHERE cid < 3),"
      val fAnchor = "WHERE a.cid <> p.qid)"
      Seq(qAnchor, fAnchor).foreach(a =>
        require(o.contains(a), s"sim18 oracle anchor moved: $a"))
      o.replace(qAnchor, "q AS (SELECT cid AS qid, cv AS qv FROM c),")
        .replace(fAnchor,
          "WHERE a.cid <> p.qid" +
            " AND (SELECT el.label FROM embeddings el WHERE el.vec_id = a.cid)" +
            " = (SELECT eq.label FROM embeddings eq WHERE eq.vec_id = p.qid))")
    },
  )

  val defs: Seq[QueryDef] =
    Seq(sim11, sim12, sim13, sim15, sim16, sim18, sim20, sim22, sim23,
      sim24, sim25, sim26, sim27, sim28, sim29, sd02)
}
