package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (north-star LLM-pipeline additions, SURVEY.md §2C).
  *
  *  - [[bruteTopK]]: exact baseline — broadcast the (small) query set
  *    against the corpus, score with codegen'd double-precision folds,
  *    per-query top-k via window rank. One corpus scan, no shuffle
  *    except the final rank; linear in corpus × queries.
  *  - [[lshTopK]]: the scale path — sign-bit LSH restricts scoring to
  *    same-bucket candidates (contrast with brute force's full scan);
  *    recall measured against the baseline in ScalaTest.
  *
  * Cosine scores are bit-deterministic (sequential double fold,
  * verified equal to DuckDB's list arithmetic) which is what lets the
  * brute-force query be oracle-checked including rank order.
  */
object Similarity {

  def bruteTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 5): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
    val c = emb.select(col("vec_id").as("cid"), asDouble(col("embedding")).as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "cid", "sim", "rn")
      .orderBy("qid", "rn")
  }

  /** Multi-table sign-bit LSH: `tables` independent hash tables of
    * `bitsPerTable` hyperplane sign bits each; a candidate is scored if
    * it shares a bucket with the query in ANY table (union over tables
    * raises recall — the standard LSH recall/cost dial). Candidates per
    * query ≈ tables · corpus / 2^bits, versus the full corpus for brute
    * force.
    */
  def lshTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 5,
      bitsPerTable: Int = 4, tables: Int = 8, dim: Int = 64): DataFrame = {
    // md5-derived Rademacher planes: portable, so the DuckDB oracle
    // regenerates the exact buckets (see VectorFunctions)
    val allPlanes = rademacherPlanes(bitsPerTable * tables, dim)
    val bucketCols = (0 until tables).map { t =>
      struct(lit(t).as("t"),
        lshBucket(col("cv"), allPlanes.slice(t * bitsPerTable, (t + 1) * bitsPerTable)).as("h"))
    }
    val c = emb.select(col("vec_id").as("cid"), asDouble(col("embedding")).as("cv"))
      .withColumn("bucket", explode(array(bucketCols: _*)))
    val q = c.filter(col("cid") < nQueries)
      .select(col("cid").as("qid"), col("cv").as("qv"), col("bucket"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("qv"), col("cv"))
      .distinct() // a pair may collide in several tables
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "cid", "sim", "rn")
      .orderBy("qid", "rn")
  }

  /** Train an IVF coarse quantizer: plain Lloyd k-means over a bounded,
    * deterministically-chosen sample, on the driver (centroid count and
    * sample are small and fixed; the expensive assignment runs
    * distributed via the NearestCentroids expression).
    */
  def trainCentroids(emb: DataFrame, k: Int, sampleN: Int = 2000,
      iters: Int = 8): Array[Array[Double]] = {
    val sample = emb.orderBy(col("vec_id")).limit(sampleN)
      .select(asDouble(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k, s"need >= $k sample vectors")
    val dim = sample.head.length
    // deterministic init: evenly spaced sample vectors
    var centroids = Array.tabulate(k)(i => sample(i * sample.length / k).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val x = v(i) - centroids(c)(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k)(c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c)))
    }
    centroids
  }

  /** IVF top-k: corpus vectors are assigned to their nearest centroid
    * (inverted lists); a query scores only vectors in its `nProbe`
    * nearest cells. Candidates per query ≈ nProbe/nCells of the corpus —
    * the standard recall/cost dial for billion-vector search.
    */
  def ivfTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 5,
      nCells: Int = 16, nProbe: Int = 4): DataFrame =
    ivfSearch(emb, trainCentroids(emb, nCells), nQueries, k, nProbe)

  /** IVF with a FIXED coarse quantizer — the centroids are simply the
    * embedding vectors with `vec_id < nCells` — no k-means. Same
    * distributed machinery as [[ivfTopK]] (NearestCentroids assignment,
    * nProbe probing, cell-equijoin candidate generation, cosine rank),
    * but with the quantizer pinned the entire pipeline is
    * SQL-expressible, so the DuckDB oracle checks it end to end;
    * [[ivfTopK]]'s trained quantizer keeps its recall bound in
    * ScalaTest.
    */
  def ivfFixedTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 5,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    // bounded collect: exactly nCells rows form the quantizer
    val centroids = emb.filter(col("vec_id") < nCells).orderBy(col("vec_id"))
      .select(asDouble(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    ivfSearch(emb, centroids, nQueries, k, nProbe)
  }

  private def ivfSearch(emb: DataFrame, centroids: Array[Array[Double]],
      nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    import graft.functions.TextExpressions.nearest_centroids
    val c = emb.select(col("vec_id").as("cid"), asDouble(col("embedding")).as("cv"))
      .withColumn("cell", element_at(nearest_centroids(col("cv"), centroids, 1), 1))
    val q = c.filter(col("cid") < nQueries)
      .select(col("cid").as("qid"), col("cv").as("qv"),
        explode(nearest_centroids(col("cv"), centroids, nProbe)).as("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    c.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "cid", "sim", "rn")
      .orderBy("qid", "rn")
  }

  private val sim01 = QueryDef(
    "sim01_knn_brute",
    (s, dir) => bruteTopK(Tables(s, dir).embeddings),
    Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
      s AS (SELECT qid, cid,
        list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2])) /
          (sqrt(list_sum(list_transform(qv, x -> x * x))) *
           sqrt(list_sum(list_transform(cv, x -> x * x)))) AS sim
        FROM c, q WHERE qid <> cid),
      r AS (SELECT qid, cid, sim,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rn
        FROM s)
      SELECT qid, cid, sim, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""),
    headline = true,
  )

  // Full-pipeline oracle: DuckDB regenerates the 8 hash tables of 4
  // Rademacher sign bits each (global plane index t*4+b), the
  // any-table candidate union, and the cosine top-k rank. Recall vs
  // brute force stays pinned in ScalaTest.
  private val sim02 = QueryDef(
    "sim02_knn_lsh",
    (s, dir) => lshTopK(Tables(s, dir).embeddings),
    Some("""WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
      bk AS (SELECT cid, t,
          CAST(list_sum(list_transform(range(4), b ->
            CASE WHEN list_sum(list_transform(range(64), i ->
                cv[i + 1] * CASE WHEN ('0x' || substr(md5('pl:' || (t * 4 + b) || ':' || i), 1, 1))::INT >= 8
                  THEN 1.0 ELSE -1.0 END)) >= 0
              THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS h
        FROM c, range(8) r(t)),
      cand AS (SELECT DISTINCT q.cid AS qid, b2.cid
        FROM bk q JOIN bk b2 ON q.t = b2.t AND q.h = b2.h
        WHERE q.cid < 3 AND q.cid <> b2.cid),
      s AS (SELECT cand.qid, cand.cid,
          list_sum(list_transform(list_zip(cq.cv, cc.cv), x -> x[1] * x[2])) /
            (sqrt(list_sum(list_transform(cq.cv, x -> x * x))) *
             sqrt(list_sum(list_transform(cc.cv, x -> x * x)))) AS sim
        FROM cand
        JOIN c cq ON cq.cid = cand.qid
        JOIN c cc ON cc.cid = cand.cid),
      r AS (SELECT qid, cid, sim,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rn
        FROM s)
      SELECT qid, cid, sim, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""),
  )

  private val sim03 = QueryDef(
    "sim03_knn_ivf",
    (s, dir) => ivfTopK(Tables(s, dir).embeddings),
    None, // centroid training is engine-specific; recall vs brute in ScalaTest
  )

  // Fixed-quantizer IVF: DuckDB replays the nearest-centroid assignment
  // (sequential squared-L2 fold, centroid-index tie-break), the
  // nProbe=4 probe list, the cell-join candidate union, and the cosine
  // top-k — the whole IVF pipeline, exact.
  private val sim03v = QueryDef(
    "sim03v_ivf_fixed",
    (s, dir) => ivfFixedTopK(Tables(s, dir).embeddings),
    Some("""WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
      cen AS (SELECT cid AS k, cv AS kv FROM c WHERE cid < 16),
      d AS (SELECT cid, k,
          list_sum(list_transform(range(64), i ->
            (cv[i + 1] - kv[i + 1]) * (cv[i + 1] - kv[i + 1]))) AS dist
        FROM c, cen),
      rk AS (SELECT cid, k,
          ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist, k) AS r FROM d),
      assign AS (SELECT cid, k AS cell FROM rk WHERE r = 1),
      probes AS (SELECT cid AS qid, k AS cell FROM rk WHERE r <= 4 AND cid < 3),
      cand AS (SELECT DISTINCT p.qid, a.cid
        FROM probes p JOIN assign a ON a.cell = p.cell WHERE a.cid <> p.qid),
      s AS (SELECT cand.qid, cand.cid,
          list_sum(list_transform(list_zip(cq.cv, cc.cv), x -> x[1] * x[2])) /
            (sqrt(list_sum(list_transform(cq.cv, x -> x * x))) *
             sqrt(list_sum(list_transform(cc.cv, x -> x * x)))) AS sim
        FROM cand
        JOIN c cq ON cq.cid = cand.qid
        JOIN c cc ON cc.cid = cand.cid),
      r AS (SELECT qid, cid, sim,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rn
        FROM s)
      SELECT qid, cid, sim, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""),
  )

  /** Scalar (int8) quantization of the embedding column — the
    * compression step an ANN index runs before vectors ship to
    * serving: per-dimension min/max over the corpus define a uniform
    * 256-level grid, each vector stores one byte per dim, and the
    * reconstruction error is reported per vector.
    *
    * 100 TB shape: pass 1 computes the 64 per-dim ranges (posexplode →
    * groupBy(pos) with map-side combine — output is 64 rows no matter
    * the corpus size); those ranges come back as LITERAL arrays (the
    * one bounded collect, same contract as the IVF quantizer) so pass
    * 2 quantizes in a single codegen'd map — no join against the
    * stats, no shuffle. floor() (not round) keeps the grid assignment
    * free of rounding-mode divergence, and error sums fold the arrays
    * sequentially, so DuckDB reproduces every double bit-for-bit.
    */
  def quantizeScalar(emb: DataFrame): DataFrame = {
    val c = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // bounded collect: exactly dim rows of (min, max)
    val stats = c.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy("pos")
      .collect()
    val mns = stats.map(_.getDouble(1)).toSeq
    val mxs = stats.map(_.getDouble(2)).toSeq
    val mnL = typedLit(mns)
    val mxL = typedLit(mxs)
    def mnAt(i: Column) = element_at(mnL, i + 1)
    def mxAt(i: Column) = element_at(mxL, i + 1)
    // consistent 256-level codec: encode splits the span into 256 cells
    // (floor((x-mn)*256/span), clamped so x=mx lands in cell 255) and
    // decode returns the SAME cell's center — a 255-step encode against
    // a 256-step decode would bias every reconstruction
    val dim = mns.length
    c.withColumn("q", transform(col("v"), (x, i) =>
        least(floor(((x - mnAt(i)) * lit(256.0)) / (mxAt(i) - mnAt(i))), lit(255.0))
          .cast("bigint")))
      .withColumn("dq", transform(col("q"), (qi, i) =>
        mnAt(i) + (qi.cast("double") + lit(0.5)) * (mxAt(i) - mnAt(i)) / lit(256.0)))
      .withColumn("qsum", expr("aggregate(q, 0L, (a, x) -> a + x)"))
      .withColumn("mse",
        expr("aggregate(zip_with(v, dq, (x, d) -> (x - d) * (x - d)), cast(0.0 as double), (a, e) -> a + e)")
          / lit(dim.toDouble))
      .select(col("vec_id"), col("qsum"), element_at(col("q"), 1).as("q0"), col("mse"))
      .orderBy("vec_id")
  }

  private val sq01 = QueryDef(
    "sq01_quantize_embed",
    (s, dir) => quantizeScalar(Tables(s, dir).embeddings),
    Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      e AS (SELECT vec_id, i, v[i + 1] AS x FROM c, range(64) r(i)),
      st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM e GROUP BY i),
      lists AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM st),
      qz AS (SELECT vec_id, v,
          list_transform(range(64), i ->
            CAST(least(floor(((v[i + 1] - mns[i + 1]) * 256.0) / (mxs[i + 1] - mns[i + 1])), 255.0) AS BIGINT)) AS q
        FROM c, lists),
      dq AS (SELECT vec_id, q,
          CAST(list_sum(q) AS BIGINT) AS qsum,
          list_sum(list_transform(range(64), i ->
            (v[i + 1] - (mns[i + 1] + (CAST(q[i + 1] AS DOUBLE) + 0.5) * (mxs[i + 1] - mns[i + 1]) / 256.0))
            * (v[i + 1] - (mns[i + 1] + (CAST(q[i + 1] AS DOUBLE) + 0.5) * (mxs[i + 1] - mns[i + 1]) / 256.0))))
            / 64.0 AS mse
        FROM qz, lists)
      SELECT vec_id, qsum, q[1] AS q0, mse FROM dq ORDER BY vec_id"""),
  )

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs via
    * cluster-then-compare — assign every vector to its nearest
    * centroid, compare cosine similarity ONLY within a cluster, and
    * flag pairs above the threshold (downstream retention keeps the
    * lower id — the dd07/dd08 machinery applies unchanged).
    *
    * 100 TB shape: the quadratic pair comparison is confined to a
    * cell (candidates ≈ n²/nCells per cell vs n² global); the
    * self-join shuffles by cell once. A FIXED nCells is still
    * quadratic-per-cell as the corpus grows — [[semDedupAuto]] derives
    * k from corpus size and `maxCellSize` bounds skewed cells (see
    * [[semDedupWithCentroids]]); sd01 pins nCells=16 with the cap off
    * so the oracle replays exact within-cell pairing.
    * Quantizer pinned to the first nCells vectors (the sim03v
    * contract) so the WHOLE pipeline — assignment, pairing, scoring —
    * is replayed exactly by the DuckDB oracle; a trained quantizer
    * drops in without changing the plan.
    */
  def semDedupPairs(emb: DataFrame, nCells: Int = 16, threshold: Double = 0.45,
      maxCellSize: Int = Int.MaxValue): DataFrame = {
    import graft.functions.TextExpressions.nearest_centroids
    val centroids = emb.filter(col("vec_id") < nCells).orderBy(col("vec_id"))
      .select(asDouble(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    semDedupWithCentroids(emb, centroids, threshold, maxCellSize)
  }

  /** SemDeDup with k derived from corpus size — the scale-correct
    * entrypoint. Real SemDeDup holds cell POPULATION roughly constant
    * as the corpus grows (k ≈ n / targetCellSize), so within-cell
    * pairing stays ~n·targetCellSize total instead of n²/k at any
    * fixed k; `maxCellSize` additionally bounds skewed cells (see
    * [[semDedupWithCentroids]]). The quantizer stays pinned to the
    * first-k vectors (the sim03v contract) — a trained quantizer drops
    * in without changing the plan.
    */
  def semDedupAuto(emb: DataFrame, threshold: Double = 0.45,
      targetCellSize: Int = 512, maxCellSize: Int = 4096): DataFrame = {
    val n = emb.count()
    val k = math.max(1L, (n + targetCellSize - 1) / targetCellSize).toInt
    semDedupPairs(emb, nCells = k, threshold = threshold, maxCellSize = maxCellSize)
  }

  /** Shared core: assign cells, optionally split oversized cells, pair
    * within (sub-)cells, score.
    *
    * `maxCellSize` is the skew guard: a cell with population p >
    * maxCellSize is SPLIT into ceil(p / maxCellSize) deterministic
    * sub-cells (xxhash64 of the vector id), and pairing runs within a
    * sub-cell — so per-cell pair work is bounded by
    * ~maxCellSize²·ceil(p/maxCellSize) instead of p², no matter how
    * skewed the quantizer assignment. The documented degradation: pairs
    * straddling two sub-cells of one oversized cell are missed — the
    * standard SemDeDup accuracy/cost dial (equivalent to sampling the
    * cell), pinned in SimilaritySpec. The default Int.MaxValue disables
    * splitting (exact within-cell pairing, what sd01's oracle checks).
    *
    * Norms are computed ONCE per vector before the pair join (n pairs
    * share them), not per pair: sim = dot/(n1*n2) performs the exact
    * same double ops as dot/(sqrt(xx)*sqrt(yy)), so the hoist is
    * bit-invisible to the oracle while removing 2/3 of the per-pair
    * fold work on the candidate pairs.
    */
  private def semDedupWithCentroids(emb: DataFrame, centroids: Array[Array[Double]],
      threshold: Double, maxCellSize: Int): DataFrame = {
    import graft.functions.TextExpressions.nearest_centroids
    val assigned = emb.select(col("vec_id").as("cid"), asDouble(col("embedding")).as("cv"))
      .withColumn("cell", element_at(nearest_centroids(col("cv"), centroids, 1), 1))
      .withColumn("nrm", norm2(col("cv")))
    val c =
      if (maxCellSize == Int.MaxValue) assigned.withColumn("subcell", lit(0L))
      else assigned
        .withColumn("_p", count(lit(1)).over(Window.partitionBy(col("cell"))))
        .withColumn("_nsub", ceil(col("_p").cast("double") / lit(maxCellSize.toDouble)).cast("bigint"))
        .withColumn("subcell", pmod(xxhash64(col("cid")), col("_nsub")))
        .drop("_p", "_nsub")
    val a = c.select(col("cell"), col("subcell"), col("cid").as("id1"),
      col("cv").as("v1"), col("nrm").as("n1"))
    val b = c.select(col("cell"), col("subcell"), col("cid").as("id2"),
      col("cv").as("v2"), col("nrm").as("n2"))
    a.join(b, Seq("cell", "subcell"))
      .filter(col("id1") < col("id2"))
      .withColumn("sim", dotD(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("sim") >= threshold)
      .select(col("id1"), col("id2"), col("cell").cast("bigint").as("cell"), col("sim"))
      .orderBy("id1", "id2")
  }

  private val sd01 = QueryDef(
    "sd01_semdedup",
    (s, dir) => semDedupPairs(Tables(s, dir).embeddings),
    Some("""WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
      cen AS (SELECT cid AS k, cv AS kv FROM c WHERE cid < 16),
      d AS (SELECT cid, k,
          list_sum(list_transform(range(64), i ->
            (cv[i + 1] - kv[i + 1]) * (cv[i + 1] - kv[i + 1]))) AS dist
        FROM c, cen),
      rk AS (SELECT cid, k,
          ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist, k) AS r FROM d),
      assign AS (SELECT cid, k AS cell FROM rk WHERE r = 1),
      p AS (SELECT a.cid AS id1, b.cid AS id2, a.cell
        FROM assign a JOIN assign b ON a.cell = b.cell AND a.cid < b.cid),
      s AS (SELECT id1, id2, CAST(cell AS BIGINT) AS cell,
          list_sum(list_transform(list_zip(c1.cv, c2.cv), x -> x[1] * x[2])) /
            (sqrt(list_sum(list_transform(c1.cv, x -> x * x))) *
             sqrt(list_sum(list_transform(c2.cv, x -> x * x)))) AS sim
        FROM p JOIN c c1 ON c1.cid = p.id1 JOIN c c2 ON c2.cid = p.id2)
      SELECT id1, id2, cell, sim FROM s WHERE sim >= 0.45 ORDER BY id1, id2"""),
  )

  /** Product quantization (Jégou et al. 2011): the 64-dim vector splits
    * into 8 subspaces of 8 dims; each subspace is quantized against its
    * own 16-entry codebook, so a vector stores 8 nibbles instead of 64
    * floats (32x compression vs sq01's 4x, at correspondingly higher
    * reconstruction error — both reported here so the trade-off is
    * measurable). Codebooks are pinned to the first-16 vectors'
    * subvectors (the sim03v contract): assignment, code checksum, and
    * reconstruction error are all replayed exactly by the oracle; real
    * k-means codebooks drop in without changing the plan.
    *
    * 100 TB shape: assignment is 8 NearestCentroids expressions over
    * array slices — map-only, codegen'd, zero shuffle (the codebooks
    * ride along as literals exactly like sq01's ranges); the only
    * exchange is the presentation sort.
    */
  def productQuantize(emb: DataFrame, nSub: Int = 8, subDim: Int = 8,
      nCodes: Int = 16): DataFrame = {
    import graft.functions.TextExpressions.nearest_centroids
    // bounded collect: nCodes rows pin the codebooks
    val pinned = emb.filter(col("vec_id") < nCodes).orderBy(col("vec_id"))
      .select(asDouble(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    val c = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val parts = (0 until nSub).map { m =>
      val cb = pinned.map(_.slice(m * subDim, (m + 1) * subDim))
      val sub = slice(col("v"), m * subDim + 1, subDim)
      val code = element_at(nearest_centroids(sub, cb, 1), 1)
      val chosen = element_at(typedLit(cb.map(_.toSeq).toSeq), code + 1)
      val dist = aggregate(
        zip_with(sub, chosen, (x, cc) => (x - cc) * (x - cc)),
        lit(0.0), (a, e) => a + e)
      (code.cast("bigint"), dist)
    }
    c.withColumn("codesum", parts.map(_._1).reduce(_ + _))
      .withColumn("mse", parts.map(_._2).reduce(_ + _) / lit((nSub * subDim).toDouble))
      .select("vec_id", "codesum", "mse")
      .orderBy("vec_id")
  }

  private val pq01 = QueryDef(
    "pq01_product_quantize",
    (s, dir) => productQuantize(Tables(s, dir).embeddings),
    Some("""WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
      cen AS (SELECT cid AS k, cv AS kv FROM c WHERE cid < 16),
      d AS (SELECT cid, m, k,
          list_sum(list_transform(range(8), i ->
            (cv[m * 8 + i + 1] - kv[m * 8 + i + 1]) * (cv[m * 8 + i + 1] - kv[m * 8 + i + 1]))) AS dist
        FROM c, range(8) r(m), cen),
      rk AS (SELECT cid, m, k, dist,
          ROW_NUMBER() OVER (PARTITION BY cid, m ORDER BY dist, k) AS r FROM d),
      ch AS (SELECT cid, m, k AS code, dist FROM rk WHERE r = 1),
      agg AS (SELECT cid AS vec_id,
          CAST(list_sum(list(code ORDER BY m)) AS BIGINT) AS codesum,
          list_sum(list(dist ORDER BY m)) / 64.0 AS mse
        FROM ch GROUP BY cid)
      SELECT vec_id, codesum, mse FROM agg ORDER BY vec_id"""),
  )

  /** PQ-ADC search (Jégou et al. 2011 §IV): score queries against the
    * PQ CODES instead of the raw vectors — the memory-bound regime of
    * billion-scale ANN, where the corpus holds 8 nibbles per vector
    * and a query precomputes one 16-entry lookup table per subspace
    * (LUT[m][c] = ‖q_m − codebook_m[c]‖²), so per-vector scoring is 8
    * table lookups + adds, never a 64-dim float fold.
    *
    * 100 TB shape: codebooks and query LUTs are driver-side constants
    * (bounded collects: nCodes + nQueries rows — the sim03v/pq01
    * contract) shipped as literals; the scan is map-only codegen
    * (NearestCentroids per subspace + element_at adds), the only
    * exchange is the per-query top-k rank. Codebooks stay pinned to
    * the first-nCodes vectors so the oracle replays bit-exactly;
    * trained codebooks drop in without changing the plan.
    */
  def pqAdcTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 5,
      nSub: Int = 8, subDim: Int = 8, nCodes: Int = 16): DataFrame = {
    import graft.functions.TextExpressions.nearest_centroids
    // bounded collects: nCodes codebook rows + nQueries query rows
    val pinned = emb.filter(col("vec_id") < nCodes).orderBy(col("vec_id"))
      .select(asDouble(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    val queries = emb.filter(col("vec_id") < nQueries).orderBy(col("vec_id"))
      .select(col("vec_id").cast("long").as("qid"), asDouble(col("embedding")).as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // LUT[q][m][c] = ||q_sub - codebook entry||², summed dim-ascending —
    // the exact double sequence the oracle's list_sum(range(subDim)) runs
    def lutFor(qv: Array[Double], m: Int): Seq[Double] =
      pinned.map { cb =>
        var d = 0.0; var i = 0
        while (i < subDim) {
          val x = qv(m * subDim + i) - cb(m * subDim + i); d += x * x; i += 1
        }
        d
      }.toSeq
    val c = emb.select(col("vec_id").cast("long").as("cid"),
      asDouble(col("embedding")).as("v"))
    // per-vector codes: computed once, shared by every query's LUT scan
    val coded = (0 until nSub).foldLeft(c) { (df, m) =>
      val cb = pinned.map(_.slice(m * subDim, (m + 1) * subDim))
      df.withColumn(s"code_$m",
        element_at(nearest_centroids(slice(col("v"), m * subDim + 1, subDim), cb, 1), 1))
    }
    val perQuery = queries.map { case (qid, qv) =>
      val adist = (0 until nSub).map(m =>
          element_at(typedLit(lutFor(qv, m)), col(s"code_$m") + 1))
        .reduce(_ + _) // subspace-ascending add order, same as the oracle
      struct(lit(qid).as("qid"), adist.as("adist"))
    }
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    coded.select(col("cid"), explode(array(perQuery: _*)).as("qa"))
      .select(col("qa.qid").as("qid"), col("cid"), col("qa.adist").as("adist"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "cid", "adist", "rn")
      .orderBy("qid", "rn")
  }

  // The oracle rebuilds codes (pq01's CTEs) AND the ADC tables from the
  // same pinned codebooks, so a hash match certifies both the lookup
  // arithmetic and the ranking.
  private val sim05 = QueryDef(
    "sim05_pq_adc",
    (s, dir) => pqAdcTopK(Tables(s, dir).embeddings),
    Some("""WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
      cen AS (SELECT cid AS k, cv AS kv FROM c WHERE cid < 16),
      d AS (SELECT cid, m, k,
          list_sum(list_transform(range(8), i ->
            (cv[m * 8 + i + 1] - kv[m * 8 + i + 1]) * (cv[m * 8 + i + 1] - kv[m * 8 + i + 1]))) AS dist
        FROM c, range(8) r(m), cen),
      rk AS (SELECT cid, m, k, dist,
          ROW_NUMBER() OVER (PARTITION BY cid, m ORDER BY dist, k) AS r FROM d),
      ch AS (SELECT cid, m, k AS code FROM rk WHERE r = 1),
      q AS (SELECT cid AS qid, cv AS qv FROM c WHERE cid < 3),
      pd AS (SELECT q.qid, ch.cid, ch.m,
          list_sum(list_transform(range(8), i ->
            (q.qv[ch.m * 8 + i + 1] - cen.kv[ch.m * 8 + i + 1]) *
            (q.qv[ch.m * 8 + i + 1] - cen.kv[ch.m * 8 + i + 1]))) AS pdist
        FROM q, ch JOIN cen ON cen.k = ch.code),
      a AS (SELECT qid, cid, list_sum(list(pdist ORDER BY m)) AS adist
        FROM pd GROUP BY qid, cid),
      r AS (SELECT qid, cid, adist,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, cid) AS BIGINT) AS rn
        FROM a WHERE qid <> cid)
      SELECT qid, cid, adist, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""),
  )

  /** IVF-PQ search (Jégou et al. 2011 §V — the FAISS IVFADC layout):
    * the two index structures above COMPOSED, which is how
    * billion-vector ANN actually deploys — the IVF coarse quantizer
    * prunes the corpus to nProbe inverted lists, and within a list
    * vectors are stored as PQ codes of their RESIDUAL (v − centroid),
    * scored by per-(query, probed-cell) ADC lookup tables
    * LUT[m][c] = ‖(q − centroid)_m − rcb_m[c]‖². Residual encoding is
    * the part that matters: residuals are centered near zero, so one
    * shared codebook covers every cell at far lower distortion than
    * PQ over raw vectors (sim05).
    *
    * Quantizers are pinned for oracle replay (the sim03v/pq01
    * contract): coarse centroids are the first-nCells vectors, and the
    * residual codebook entries are the residuals of the NEXT nCodes
    * vectors (vec_id in [nCells, nCells+nCodes)) — their own residuals
    * are nonzero because they are not centroids. Trained quantizers
    * drop in without changing the plan.
    *
    * 100 TB shape: one bounded collect (nCells + nCodes + nQueries
    * rows) pins everything; corpus assignment + residual + 8 codes are
    * a single codegen'd map (NearestCentroids per subspace — the
    * stored index is (cell, 8 nibbles) per vector); the query side
    * ships nQueries·nProbe·nSub·nCodes literal LUT doubles and scores
    * candidates with 8 element_at adds. The only exchange is the
    * per-query top-k rank. The cell-match filter after the explode IS
    * the inverted-list probe: a row is scored only under the ≤ nProbe
    * (query, cell) structs matching its own cell.
    */
  /** The pinned IVF-PQ quantizer pair + geometry — the trainable state
    * a persisted index stores ([[VectorIndex]]) and a from-scratch
    * search derives per run ([[ivfPqTopK]]). All scalar math lives
    * here so the two paths are the SAME doubles by construction:
    * cell assignment is a full-dim ascending squared-L2 fold with
    * strict < (lowest index wins ties, matching NearestCentroids), and
    * the ADC LUT folds dim-ascending — the exact double sequence the
    * oracle's list_sum(range(subDim)) runs.
    */
  private[operators] final case class IvfPqModel(
      nCells: Int, nSub: Int, subDim: Int,
      cen: Array[Array[Double]], rcb: Array[Array[Double]]) {
    val dim: Int = nSub * subDim
    def cellOf(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < nCells) {
        var d = 0.0; var i = 0
        while (i < dim) { val x = v(i) - cen(c)(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    def probesOf(qv: Array[Double], nProbe: Int): Seq[Int] = {
      val d = Array.tabulate(nCells) { c =>
        var s = 0.0; var i = 0
        while (i < dim) { val x = qv(i) - cen(c)(i); s += x * x; i += 1 }
        s
      }
      d.zipWithIndex.sortBy { case (dd, i) => (dd, i) }.take(nProbe).map(_._2).toSeq
    }
    // LUT[m][c] = ||(q - cen_cell)_m - rcb[c]_m||²
    def lutFor(qv: Array[Double], cell: Int, m: Int): Seq[Double] =
      rcb.map { r =>
        var d = 0.0; var i = 0
        while (i < subDim) {
          val j = m * subDim + i
          val x = (qv(j) - cen(cell)(j)) - r(j); d += x * x; i += 1
        }
        d
      }.toSeq
    def rcbSub(m: Int): Array[Array[Double]] =
      rcb.map(_.slice(m * subDim, (m + 1) * subDim))
    // ---- MIPS (inner-product) probe kernel: x̂ = cen(cell) + rcb(code)
    //      decomposes q·x̂ = q·cen(cell) + Σ_m q_m·rcb(code_m)_m, so the
    //      ADC machinery serves dot-product scoring by dropping the
    //      residual-norm term and adding the per-cell base dot ----
    /** Inverted-list probe order for MIPS: cells by q·centroid
      * DESCENDING (the cell whose reconstruction base scores highest),
      * ties to the lower index — the dual of [[probesOf]]'s ascending
      * L2.
      */
    def mipsProbesOf(qv: Array[Double], nProbe: Int): Seq[Int] = {
      val d = Array.tabulate(nCells)(c => mipsBase(qv, c))
      // same explicit descending comparator as TextOps.topDotCells (its
      // codegen'd twin): negating doubles would flip a +0.0/-0.0 tie
      // relative to Double.compare's total order, and the two paths
      // must pick IDENTICAL probe lists bit-for-bit (sim25 == sim18)
      (0 until nCells).sortWith { (a, b) =>
        val c = java.lang.Double.compare(d(b), d(a))
        if (c != 0) c < 0 else a < b
      }.take(nProbe)
    }
    /** q·cen(cell), the cell-constant term of the decomposed dot. */
    def mipsBase(qv: Array[Double], cell: Int): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += qv(i) * cen(cell)(i); i += 1 }
      s
    }
    /** MIPS LUT for subspace m: q_m · rcb[c]_m — CELL-independent
      * (the residual term of the decomposed dot), dim-ascending fold
      * like [[lutFor]].
      */
    def mipsLutFor(qv: Array[Double], m: Int): Seq[Double] =
      rcb.map { r =>
        var s = 0.0; var i = 0
        while (i < subDim) { val j = m * subDim + i; s += qv(j) * r(j); i += 1 }
        s
      }.toSeq
  }

  /** The pinned training set: the corpus's FIRST `n` vectors in vec_id
    * order (on a dense-id corpus this is `vec_id < n`, the sim03v/pq01
    * replayable-training contract; on a gapped corpus — e.g. a rebuild
    * minus erased ids — it is the first n SURVIVORS, still fully
    * deterministic). One bounded collect, re-sorted driver-side so the
    * array order never depends on task completion order.
    */
  private[operators] def pinnedTrainRows(emb: DataFrame,
      n: Int): Array[(Long, Array[Double])] =
    emb.select(col("vec_id").cast("long").as("vec_id"),
        asDouble(col("embedding")).as("v"))
      .orderBy(col("vec_id")).limit(n)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Pin the quantizers from the corpus's first nCells + nCodes
    * vectors ([[pinnedTrainRows]]) — one bounded collect; trained
    * quantizers drop in without changing anything downstream.
    */
  private[operators] def trainIvfPq(emb: DataFrame, nCells: Int,
      nSub: Int, subDim: Int, nCodes: Int): IvfPqModel =
    trainIvfPqPinned(pinnedTrainRows(emb, nCells + nCodes).map(_._2),
      nCells, nSub, subDim, nCodes)

  /** Pure training from ALREADY-collected pinned rows (vec_id order) —
    * the entry for callers that also need the training ids
    * (saveVectorIndex persists them), so one collect serves both.
    */
  private[operators] def trainIvfPqPinned(pinned: Array[Array[Double]],
      nCells: Int, nSub: Int, subDim: Int, nCodes: Int): IvfPqModel = {
    val dim = nSub * subDim
    require(pinned.length == nCells + nCodes,
      s"IVF-PQ training needs ${nCells + nCodes} vectors, corpus has ${pinned.length}")
    val cen = pinned.take(nCells)
    val m0 = IvfPqModel(nCells, nSub, subDim, cen, Array.empty)
    // shared residual codebook: residual of each base vector vs ITS cell
    val rcb = pinned.drop(nCells).map { b =>
      val cc = cen(m0.cellOf(b))
      Array.tabulate(dim)(i => b(i) - cc(i))
    }
    IvfPqModel(nCells, nSub, subDim, cen, rcb)
  }

  /** The stored index image: (cid, cell, code_0..code_{nSub-1}) — each
    * code from the SUB-residual against the shared sub-codebook, all
    * in a single codegen'd map over the corpus (no shuffle).
    */
  private[operators] def encodeIvfPq(emb: DataFrame, model: IvfPqModel): DataFrame = {
    import graft.functions.TextExpressions.nearest_centroids
    val c = emb.select(col("vec_id").cast("long").as("cid"),
      asDouble(col("embedding")).as("v"))
      .withColumn("cell", element_at(nearest_centroids(col("v"), model.cen, 1), 1))
    (0 until model.nSub).foldLeft(c) { (df, m) =>
      val cenSub = model.cen.map(_.slice(m * model.subDim, (m + 1) * model.subDim))
        .map(_.toSeq).toSeq
      val subRes = zip_with(
        slice(col("v"), m * model.subDim + 1, model.subDim),
        element_at(typedLit(cenSub), col("cell") + 1),
        (x, cc) => x - cc)
      df.withColumn(s"code_$m",
        element_at(nearest_centroids(subRes, model.rcbSub(m), 1), 1))
    }.drop("v")
  }

  /** ADC scoring over an encoded corpus: per-(query, probed-cell) LUTs
    * ship as literals, candidates are scored with nSub element_at adds
    * (subspace-ascending, same as the oracle), and the only exchange
    * is the per-query top-k rank. The cell-match filter after the
    * explode IS the inverted-list probe.
    */
  /** `queryLabels`, when present, adds the vector-database PRE-filter
    * (the sim08 contract applied to an encoded corpus): `coded` must
    * then carry a `label` column, and a candidate scores only when its
    * label equals the query's — the restriction applies BEFORE the
    * top-k rank, so k is filled from within the predicate, never
    * under-filled by post-filtering a global top-k. The ADC doubles
    * are untouched (same lutFor/probesOf kernel).
    */
  /** `mips = true` flips the scoring objective from approximate
    * squared-L2 to approximate INNER PRODUCT (the decomposition
    * documented on [[IvfPqModel.mipsBase]]): probe order becomes
    * q·centroid descending, the per-candidate score becomes
    * base + Σ_m lut_m[code_m] (base added LAST, matching the oracle's
    * `pscore + list_sum(...)` association), the rank flips to score
    * DESC, and the score column is named `score` (sim06's shape)
    * instead of `adist`. Everything else — bounded query structs, the
    * cell-match inverted-list filter, the one top-k rank exchange — is
    * the same kernel, so the two objectives cannot drift structurally.
    */
  private[operators] def adcRank(coded: DataFrame,
      queries: Array[(Long, Array[Double])], model: IvfPqModel,
      k: Int, nProbe: Int,
      queryLabels: Option[Map[Long, Any]] = None,
      mips: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    val s = coded.sparkSession
    val scoreName = if (mips) "score" else "adist"
    // One probe-table row per (query, probed cell), with that pair's
    // ADC lookup tables as DATA: `luts(m)(code)` is the subspace-m
    // score contribution, `base` the cell-constant MIPS dot (0 for
    // L2, where lutFor already folds the cell in). The pre-rewrite
    // shape shipped every LUT as a typedLit inside an exploded struct
    // array — O(nQ·nProbe·nSub·nCodes) doubles of PLAN, so driver
    // planning/codegen dominated many-query probes (sd02 measured 3 s
    // of driver gap on 11 jobs), and every coded row materialized all
    // nQ·nProbe structs before the cell filter. As a broadcast hash
    // join the plan is constant-size, the LUTs cross the wire once as
    // broadcast data, and candidates are hash-matched on `cell`
    // instead of generated-and-filtered (guide §2.4/§3.1).
    val rows = queries.toSeq.flatMap { case (qid, qv) =>
      val cells =
        if (mips) model.mipsProbesOf(qv, nProbe) else model.probesOf(qv, nProbe)
      // MIPS LUTs are CELL-independent (the residual term of the
      // decomposed dot) — computed once per query, shared by its rows
      val mipsLuts = if (mips)
        Some((0 until model.nSub).map(m => model.mipsLutFor(qv, m))) else None
      cells.map { cell =>
        val luts = mipsLuts.getOrElse(
          (0 until model.nSub).map(m => model.lutFor(qv, cell, m)))
        val base = if (mips) model.mipsBase(qv, cell) else 0.0
        val fields = Seq[Any](qid, cell, base, luts) ++
          queryLabels.map(_(qid))
        org.apache.spark.sql.Row(fields: _*)
      }
    }
    // label type mirrors what lit(value) would have inferred
    val labelField = queryLabels.map(m => StructField("qlabel",
      org.apache.spark.sql.catalyst.expressions.Literal(
        m.values.head).dataType))
    val schema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("pcell", IntegerType, nullable = false),
      StructField("base", DoubleType, nullable = false),
      StructField("luts", ArrayType(ArrayType(DoubleType, false), false),
        nullable = false)) ++ labelField)
    val probeTbl = s.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    // subspace-ascending add order in both modes, same as the oracle;
    // MIPS adds the base LAST-to-FIRST exactly as before:
    // base + ((l0 + l1) + ...)
    val lutSum = (0 until model.nSub).map(m =>
        element_at(element_at(col("luts"), m + 1), col(s"code_$m") + 1))
      .reduce(_ + _)
    val sc = if (mips) col("base") + lutSum else lutSum
    val w = Window.partitionBy(col("qid")).orderBy(
      if (mips) col(scoreName).desc else col(scoreName), col("cid"))
    val cellMatch = col("pcell") === col("cell") && col("qid") =!= col("cid")
    val cond = queryLabels
      .fold(cellMatch)(_ => cellMatch && col("qlabel") === col("label"))
    val ranked = coded.join(broadcast(probeTbl), cond)
      .select(col("qid"), col("cid"), sc.as(scoreName))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "cid", scoreName, "rn")
    // A finite k bounds the result to k·nQ rows, and the rank filter
    // becomes a window group limit applied before the rank exchange,
    // so the window stage's input is bounded too: one task orders it,
    // with no range-sort sampling job and map stage. The k = MaxValue
    // candidate legs (the refine probes) keep every probed-cell row
    // and stay a distributed sort.
    if (k < Int.MaxValue) ranked.coalesce(1).sortWithinPartitions("qid", "rn")
    else ranked.orderBy("qid", "rn")
  }

  /** Bounded collect of the query vectors (nQueries rows). */
  private[operators] def queryVectors(emb: DataFrame, nQueries: Int): Array[(Long, Array[Double])] =
    emb.filter(col("vec_id") < nQueries).orderBy(col("vec_id"))
      .select(col("vec_id").cast("long").as("qid"), asDouble(col("embedding")).as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  def ivfPqTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 5,
      nCells: Int = 16, nProbe: Int = 4, nSub: Int = 8, subDim: Int = 8,
      nCodes: Int = 16): DataFrame = {
    val model = trainIvfPq(emb, nCells, nSub, subDim, nCodes)
    adcRank(encodeIvfPq(emb, model), queryVectors(emb, nQueries), model, k, nProbe)
  }

  // The oracle rebuilds the ENTIRE index: coarse assignment (sim03v's
  // CTEs), the residual codebook from vectors 16..31's own residuals,
  // per-vector residual codes, the probe lists, the per-(query, cell)
  // ADC tables, and the ranked scan — so a hash match certifies the
  // composed pipeline end to end.
  private val sim07 = QueryDef(
    "sim07_ivfpq",
    (s, dir) => ivfPqTopK(Tables(s, dir).embeddings),
    Some("""WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
      cen AS (SELECT cid AS k, cv AS kv FROM c WHERE cid < 16),
      d AS (SELECT cid, k,
          list_sum(list_transform(range(64), i ->
            (cv[i + 1] - kv[i + 1]) * (cv[i + 1] - kv[i + 1]))) AS dist
        FROM c, cen),
      rk AS (SELECT cid, k,
          ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist, k) AS r FROM d),
      assign AS (SELECT cid, k AS cell FROM rk WHERE r = 1),
      rcb AS (SELECT c.cid - 16 AS kk,
          list_transform(range(64), i -> c.cv[i + 1] - cen.kv[i + 1]) AS rv
        FROM c JOIN assign a ON a.cid = c.cid JOIN cen ON cen.k = a.cell
        WHERE c.cid >= 16 AND c.cid < 32),
      res AS (SELECT c.cid, a.cell,
          list_transform(range(64), i -> c.cv[i + 1] - cen.kv[i + 1]) AS rv
        FROM c JOIN assign a ON a.cid = c.cid JOIN cen ON cen.k = a.cell),
      cd AS (SELECT res.cid, m, rcb.kk,
          list_sum(list_transform(range(8), i ->
            (res.rv[m * 8 + i + 1] - rcb.rv[m * 8 + i + 1]) *
            (res.rv[m * 8 + i + 1] - rcb.rv[m * 8 + i + 1]))) AS dist
        FROM res, range(8) r(m), rcb),
      crk AS (SELECT cid, m, kk,
          ROW_NUMBER() OVER (PARTITION BY cid, m ORDER BY dist, kk) AS r FROM cd),
      codes AS (SELECT cid, m, kk AS code FROM crk WHERE r = 1),
      probes AS (SELECT cid AS qid, k AS cell FROM rk WHERE r <= 4 AND cid < 3),
      q AS (SELECT cid AS qid, cv AS qv FROM c WHERE cid < 3),
      lut AS (SELECT p.qid, p.cell, m, rcb.kk AS code,
          list_sum(list_transform(range(8), i ->
            ((q.qv[m * 8 + i + 1] - cen.kv[m * 8 + i + 1]) - rcb.rv[m * 8 + i + 1]) *
            ((q.qv[m * 8 + i + 1] - cen.kv[m * 8 + i + 1]) - rcb.rv[m * 8 + i + 1]))) AS pdist
        FROM probes p JOIN q ON q.qid = p.qid JOIN cen ON cen.k = p.cell,
          range(8) r(m), rcb),
      cand AS (SELECT p.qid, a.cid, a.cell
        FROM probes p JOIN assign a ON a.cell = p.cell WHERE a.cid <> p.qid),
      ad AS (SELECT cand.qid, cand.cid,
          list_sum(list(l.pdist ORDER BY l.m)) AS adist
        FROM cand
        JOIN codes ON codes.cid = cand.cid
        JOIN lut l ON l.qid = cand.qid AND l.cell = cand.cell
          AND l.m = codes.m AND l.code = codes.code
        GROUP BY cand.qid, cand.cid),
      r2 AS (SELECT qid, cid, adist,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, cid) AS BIGINT) AS rn
        FROM ad)
      SELECT qid, cid, adist, rn FROM r2 WHERE rn <= 5 ORDER BY qid, rn"""),
  )

  /** FILTERED similarity search — the vector-database staple the plain
    * top-k queries above don't exercise: restrict candidates by a
    * metadata predicate (here: the query's own `label`) BEFORE
    * scoring. Pre-filtering matters twice at scale: (1) post-filtering
    * an unfiltered top-k under-fills k whenever matches are scarce in
    * the global neighborhood (the classic vector-DB bug); (2) the
    * predicate rides the scan as a pushed filter / partition prune, so
    * a label-partitioned corpus scores only its own shard. Exact
    * within the filter (brute baseline); the LSH/IVF index paths
    * compose the same way — bucket within (label, bucket) keys.
    */
  def filteredTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 5): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        asDouble(col("embedding")).as("qv"))
    val c = emb.select(col("vec_id").as("cid"), col("label"),
      asDouble(col("embedding")).as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    c.join(broadcast(q),
        col("label") === col("qlabel") && col("qid") =!= col("cid"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "label", "cid", "sim", "rn")
      .orderBy("qid", "rn")
  }

  private val sim08 = QueryDef(
    "sim08_filtered_knn",
    (s, dir) => filteredTopK(Tables(s, dir).embeddings),
    Some("""WITH q AS (SELECT vec_id AS qid, label AS qlabel,
        embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS cid, label, embedding::DOUBLE[] AS cv FROM embeddings),
      s AS (SELECT qid, label, cid,
        list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2])) /
          (sqrt(list_sum(list_transform(qv, x -> x * x))) *
           sqrt(list_sum(list_transform(cv, x -> x * x)))) AS sim
        FROM c JOIN q ON c.label = q.qlabel AND qid <> cid),
      r AS (SELECT qid, label, cid, sim,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rn
        FROM s)
      SELECT qid, label, cid, sim, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""),
  )

  /** KNN LABEL IMPUTATION (weak supervision): the 10% of vectors with
    * a masked label receive the MAJORITY label of their 5 nearest
    * labeled neighbors — the embedding-space label-propagation step a
    * training pipeline uses to extend sparse annotations, with the
    * per-vector verdict against the held-out truth making it an
    * accuracy eval at the same time. Ties break deterministically
    * (vote count desc, then smaller label), scoring is the sim01
    * cosine contract, and the labeled pool joins the broadcast masked
    * set — one corpus scan, one rank exchange.
    */
  def knnImpute(emb: DataFrame, k: Int = 5): DataFrame = {
    val masked = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("label").as("label_true"),
        asDouble(col("embedding")).as("qv"))
    val pool = emb.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("cid"), col("label").as("clabel"),
        asDouble(col("embedding")).as("cv"))
    val wS = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    val wV = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("clabel"))
    pool.join(broadcast(masked), col("qid") =!= col("cid"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(wS))
      .filter(col("rn") <= k)
      .groupBy("qid", "label_true", "clabel")
      .agg(count(lit(1)).as("votes"))
      .withColumn("rv", row_number().over(wV))
      .filter(col("rv") === 1)
      .select(col("qid").as("vec_id"), col("label_true"),
        col("clabel").as("label_imputed"),
        (col("clabel") === col("label_true")).as("correct"))
      .orderBy("vec_id")
  }

  private val sim09 = QueryDef(
    "sim09_knn_impute",
    (s, dir) => knnImpute(Tables(s, dir).embeddings),
    Some("""WITH m AS (SELECT vec_id AS qid, label AS label_true,
          embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 10 = 0),
      p AS (SELECT vec_id AS cid, label AS clabel, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id % 10 <> 0),
      s AS (SELECT qid, label_true, cid, clabel,
        list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2])) /
          (sqrt(list_sum(list_transform(qv, x -> x * x))) *
           sqrt(list_sum(list_transform(cv, x -> x * x)))) AS sim
        FROM p, m WHERE qid <> cid),
      top AS (SELECT qid, label_true, clabel FROM s
        QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) <= 5),
      v AS (SELECT qid, label_true, clabel, COUNT(*) AS votes
        FROM top GROUP BY 1, 2, 3)
      SELECT qid AS vec_id, label_true, clabel AS label_imputed,
        clabel = label_true AS correct
      FROM v
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, clabel) = 1
      ORDER BY vec_id"""),
  )

  /** Recall@k of the LSH index against the brute-force ground truth —
    * the evaluation operator every ANN deployment runs before trusting
    * an index (recall is THE quality/cost dial being tuned; sim02's
    * ScalaTest recall bound is a one-off assertion, this is the
    * continuously-runnable metric). Both pipelines are the declared
    * operators above; the metric is one small join on their outputs.
    */
  def annRecall(emb: DataFrame, nQueries: Int = 3, k: Int = 5): DataFrame = {
    val truth = bruteTopK(emb, nQueries, k).select(col("qid"), col("cid"))
    val approx = lshTopK(emb, nQueries, k).select(col("qid"), col("cid"))
    val hits = truth.join(approx, Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    truth.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("recall_at_k", col("hits").cast("double") / lit(k.toDouble))
      .orderBy("qid")
  }

  // The oracle recomputes BOTH pipelines (sim01's brute-force scores
  // and sim02's 8-table LSH buckets) and joins their top-k sets — so a
  // hash match certifies the recall arithmetic against two
  // independently-proven result sets.
  private val sim04 = QueryDef(
    "sim04_ann_recall",
    (s, dir) => annRecall(Tables(s, dir).embeddings),
    Some("""WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
      bs AS (SELECT q.cid AS qid, x.cid,
          list_sum(list_transform(list_zip(q.cv, x.cv), z -> z[1] * z[2])) /
            (sqrt(list_sum(list_transform(q.cv, v -> v * v))) *
             sqrt(list_sum(list_transform(x.cv, v -> v * v)))) AS sim
        FROM c q JOIN c x ON q.cid <> x.cid WHERE q.cid < 3),
      br AS (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM bs),
      truth AS (SELECT qid, cid FROM br WHERE rn <= 5),
      bk AS (SELECT cid, t,
          CAST(list_sum(list_transform(range(4), b ->
            CASE WHEN list_sum(list_transform(range(64), i ->
                cv[i + 1] * CASE WHEN ('0x' || substr(md5('pl:' || (t * 4 + b) || ':' || i), 1, 1))::INT >= 8
                  THEN 1.0 ELSE -1.0 END)) >= 0
              THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS h
        FROM c, range(8) r(t)),
      cand AS (SELECT DISTINCT q.cid AS qid, b2.cid
        FROM bk q JOIN bk b2 ON q.t = b2.t AND q.h = b2.h
        WHERE q.cid < 3 AND q.cid <> b2.cid),
      ls AS (SELECT cand.qid, cand.cid,
          list_sum(list_transform(list_zip(cq.cv, cc.cv), z -> z[1] * z[2])) /
            (sqrt(list_sum(list_transform(cq.cv, v -> v * v))) *
             sqrt(list_sum(list_transform(cc.cv, v -> v * v)))) AS sim
        FROM cand
        JOIN c cq ON cq.cid = cand.qid
        JOIN c cc ON cc.cid = cand.cid),
      lr AS (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM ls),
      approx AS (SELECT qid, cid FROM lr WHERE rn <= 5)
      SELECT t.qid, COUNT(a.cid) AS hits,
        CAST(COUNT(a.cid) AS DOUBLE) / 5 AS recall_at_k
      FROM truth t LEFT JOIN approx a ON a.qid = t.qid AND a.cid = t.cid
      GROUP BY t.qid ORDER BY t.qid"""),
  )

  // -------------------------------------------------------------- sim06
  /** Maximum-inner-product search (MIPS) — the retrieval objective of
    * dot-product-trained embedding models (DPR-style retrievers score
    * q·d, NOT cosine; the two rank differently whenever corpus norms
    * vary). Same broadcast-queries shape as [[bruteTopK]] with the
    * codegen'd double fold as the score — no normalization. At scale
    * the standard reduction (Bachrach et al. 2014) augments vectors
    * with sqrt(M² − ‖x‖²) so MIPS becomes cosine and the sim02/sim03
    * index paths apply unchanged; the exact scan here is the ground
    * truth that reduction is validated against.
    */
  def mipsTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 5): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
    val c = emb.select(col("vec_id").as("cid"), asDouble(col("embedding")).as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("score", dotD(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "cid", "score", "rn")
      .orderBy("qid", "rn")
  }

  private val sim06 = QueryDef(
    "sim06_mips",
    (s, dir) => mipsTopK(Tables(s, dir).embeddings),
    Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
      s AS (SELECT qid, cid,
        list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2])) AS score
        FROM c, q WHERE qid <> cid),
      r AS (SELECT qid, cid, score,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS BIGINT) AS rn
        FROM s)
      SELECT qid, cid, score, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""),
  )

  // -------------------------------------------------------------- sim19
  /** MIPS served by the COSINE machinery via the norm-augmentation
    * reduction (Bachrach et al. 2014) — the scale path [[mipsTopK]]'s
    * doc names, executed: append one coordinate sqrt(M² − ‖x‖²) to
    * every corpus vector (M = the max corpus norm, a 1-row broadcast)
    * and 0 to every query. Every augmented corpus vector then has norm
    * exactly M, so the augmented-space COSINE ranking IS the original
    * inner-product ranking — and every cosine index path (sign-bit
    * LSH sim02, IVF sim03v, the persisted index) applies to MIPS
    * unchanged. Output is the augmented-space cosine top-k; the spec
    * pins rank-for-rank equality with sim06's exact dot scan, and the
    * oracle replays the reduction itself (norms, max, augmentation,
    * cosine) so a hash match certifies the construction, not just the
    * ordering. Honest float caveat: the equality is exact wherever dot
    * scores are DISTINCT; two candidates with exactly-tied dots can
    * tie-break differently (the augmented norm n2 + fl(√(M²−n2))²
    * differs from M² by per-vector ulps, perturbing tied sims before
    * the cid tie-break) — the guarantee is the mathematical ranking,
    * and the oracle replays the same floats either way. Scale shape: one extra corpus pass for norms + a 1-row
    * max broadcast on top of the brute scan — nothing leaves the
    * map side.
    */
  def mipsReducedTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 5): DataFrame = {
    val c0 = emb.select(col("vec_id").as("cid"), asDouble(col("embedding")).as("cv"))
      .withColumn("n2", dotD(col("cv"), col("cv")))
    val m2 = c0.agg(max(col("n2")).as("m2"))
    // m2 − n2 ≥ 0 exactly (max over the same doubles), so the sqrt is
    // total; the max-norm vector augments with exactly 0.0
    val c = c0.crossJoin(broadcast(m2))
      .withColumn("av", concat(col("cv"), array(sqrt(col("m2") - col("n2")))))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"),
        concat(asDouble(col("embedding")), array(lit(0.0))).as("qav"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("sim", cosine(col("qav"), col("av")))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("qid", "cid", "sim", "rn")
      .orderBy("qid", "rn")
  }

  private val sim19 = QueryDef(
    "sim19_mips_reduction",
    (s, dir) => mipsReducedTopK(Tables(s, dir).embeddings),
    Some("""WITH c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
      n AS (SELECT cid, cv, list_sum(list_transform(cv, v -> v * v)) AS n2 FROM c0),
      m AS (SELECT MAX(n2) AS m2 FROM n),
      c AS (SELECT cid, list_append(cv, sqrt(m2 - n2)) AS av FROM n, m),
      q AS (SELECT vec_id AS qid, list_append(embedding::DOUBLE[], CAST(0 AS DOUBLE)) AS qav
        FROM embeddings WHERE vec_id < 3),
      s AS (SELECT qid, cid,
        list_sum(list_transform(list_zip(qav, av), x -> x[1] * x[2])) /
          (sqrt(list_sum(list_transform(qav, x -> x * x))) *
           sqrt(list_sum(list_transform(av, x -> x * x)))) AS sim
        FROM c, q WHERE qid <> cid),
      r AS (SELECT qid, cid, sim,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rn
        FROM s)
      SELECT qid, cid, sim, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""),
  )

  // -------------------------------------------------------------- rp01
  /** First hex nibble of md5(s) — the Scala twin of the oracle's
    * `('0x' || substr(md5(s), 1, 1))::INT` so plane signs can be
    * PRE-COMPUTED and embedded as literals (the runtime then does zero
    * hashing — the projection is a codegen'd fold over constant sign
    * arrays), while the oracle re-derives the same signs from md5 in
    * SQL, cross-checking the derivation end to end.
    */
  private def md5Nibble(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    (d(0) >> 4) & 0xF
  }

  /** Johnson–Lindenstrauss random projection audit: every embedding is
    * projected onto k=16 md5-derived Rademacher planes (y_j = Σ_i
    * v_i·s_ji, s∈{±1}) and the squared-norm preservation ratio
    * ‖y‖²/(k·‖v‖²) is reported per vector — E[ratio] = 1 exactly under
    * random signs, and the concentration around 1 is the JL guarantee
    * dimensionality reduction rests on. The k-dim sketch is what a
    * 100 TB pipeline ships to downstream ANN instead of the full
    * vector (4× here; the ratio column is the quality audit).
    *
    * Scale/determinism: sign matrices are plan-time literals (no
    * runtime hashing, no join, no shuffle — pure map, one pass);
    * every float is cast to double before multiplying and each y_j is
    * a fixed-order sequential fold, so Spark and DuckDB agree to the
    * hash canonicalization digits.
    */
  private val rpPlanes = 16
  private val rpDim = 64

  private val rp01 = QueryDef(
    "rp01_random_projection",
    (s, dir) => {
      def signArr(j: Int): String =
        (0 until rpDim).map(i =>
          if (md5Nibble(s"rp:$j:$i") >= 8) "1.0D" else "-1.0D")
          .mkString("array(", ", ", ")")
      val ys = (0 until rpPlanes).map { j =>
        expr(s"aggregate(zip_with(embedding, ${signArr(j)}, (v, sg) -> cast(v as double) * sg), 0D, (a, x) -> a + x)").as(s"y$j")
      }
      val n2o = expr(
        "aggregate(embedding, 0D, (a, v) -> a + cast(v as double) * cast(v as double))")
        .as("norm2_orig")
      val proj = (0 until rpPlanes).map(j => s"y$j * y$j").mkString(" + ")
      Tables(s, dir).embeddings
        .select((col("vec_id") +: n2o +: ys): _*)
        .withColumn("norm2_proj", expr(s"($proj) / ${rpPlanes}.0D"))
        .select(col("vec_id"), col("norm2_orig"), col("norm2_proj"),
          (col("norm2_proj") / col("norm2_orig")).as("ratio"))
        .orderBy("vec_id")
    },
    Some {
      val yCols = (0 until rpPlanes).map { j =>
        s"""list_sum(list_transform(range($rpDim), i -> cv[i + 1] *
            CASE WHEN ('0x' || substr(md5('rp:$j:' || i), 1, 1))::INT >= 8
              THEN 1.0 ELSE -1.0 END)) AS y$j"""
      }.mkString(",\n          ")
      val proj = (0 until rpPlanes).map(j => s"y$j * y$j").mkString(" + ")
      s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
        y AS (SELECT vec_id,
          list_sum(list_transform(range($rpDim), i -> cv[i + 1] * cv[i + 1])) AS n2o,
          $yCols
        FROM c)
      SELECT vec_id, n2o AS norm2_orig,
        ($proj) / $rpPlanes.0 AS norm2_proj,
        (($proj) / $rpPlanes.0) / n2o AS ratio
      FROM y ORDER BY vec_id"""
    },
  )

  // -------------------------------------------------------------- neg01
  /** Deterministic random-negative mining for contrastive training:
    * each anchor document draws candidate negatives by md5 (10
    * oversampled draws), maps each draw to a document through its
    * dense corpus POSITION, excludes the anchor itself and any
    * near-duplicate of it (a near-dup used as a "negative" teaches the
    * model to push apart semantically identical text — the classic
    * false-negative bug in contrastive pipelines), and keeps the first
    * 4 surviving draws in draw order. Every step is md5-derived, so
    * the sample is reproducible across runs, retries, and engines.
    *
    * The exclusion is EXACT Jaccard, verified DIRECTLY on each drawn
    * (anchor, candidate) pair — so the guarantee is "no negative has
    * Jaccard ≥ 0.5 with its anchor", with cost proportional to the
    * DRAWN pairs (10·n, bounded by construction), not to a corpus-wide
    * similarity join: the draw set already names exactly the pairs
    * whose similarity matters. (The spec cross-checks the surviving
    * set against [[Dedup.prefixFilterPairs]]' global exact pair list.)
    *
    * 100 TB shape: draws are map-side (explode 10 per anchor); the
    * position lookup is one equi-join on the position key (positions
    * come from the [[Sharded]] hierarchical rank, never a global
    * row_number); the exclusion is two doc-keyed shingle joins + one
    * exact Jaccard per drawn pair; the per-anchor keep-first-4 is a
    * window partitioned by anchor. n (corpus size) is the only
    * broadcast scalar.
    */
  private val neg01 = QueryDef(
    "neg01_negative_mining",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir).documents.select("doc_id")
      val sharded = docs.withColumn("shard", expr("doc_id div 64"))
      val wIn = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      val ranked = sharded.withColumn("rn_in", row_number().over(wIn).cast("bigint"))
      val bases = Sharded.prefixSumBases(
        sharded.groupBy(col("shard")).agg(count(lit(1)).as("tot")),
        "shard", Seq("tot" -> "base"))
      val pos = ranked.join(broadcast(bases), "shard")
        .select(col("doc_id"), (col("base") + col("rn_in") - 1).as("pos"))
      val n = docs.agg(count(lit(1)).as("n"))
      val draws = docs.select(col("doc_id").as("anchor_id"))
        .crossJoin(broadcast(n))
        .select(col("anchor_id"), explode(sequence(lit(0), lit(9))).as("j"), col("n"))
        .withColumn("cand_pos",
          expr("cast(conv(substr(md5(concat('neg:42:', cast(anchor_id as string), " +
            "':', cast(j as string))), 1, 8), 16, 10) as bigint) % n"))
      val cands = draws
        .join(pos.select(col("pos").as("cand_pos"), col("doc_id").as("neg_id")), "cand_pos")
        .filter(col("neg_id") =!= col("anchor_id"))
      // exact-Jaccard exclusion verified per DRAWN pair (10·n pairs,
      // bounded) — not a corpus-wide similarity join. The shingle
      // table feeds BOTH pair legs; localCheckpoint materializes the
      // one tokenize+shingle pass so the second join reuses it
      // instead of re-shingling the corpus.
      val sh = Dedup.withShingles(Tables(s, dir).documents)
        .select(col("doc_id"), col("shingles"))
        .localCheckpoint(true)
      val clean = cands
        .join(sh.select(col("doc_id").as("anchor_id"), col("shingles").as("sa")), "anchor_id")
        .join(sh.select(col("doc_id").as("neg_id"), col("shingles").as("sb")), "neg_id")
        .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))) < 0.5)
        // two draws can hit the same doc: keep the earliest draw
        .groupBy("anchor_id", "neg_id").agg(min(col("j")).as("j"))
      val wA = Window.partitionBy(col("anchor_id")).orderBy(col("j"), col("neg_id"))
      clean.withColumn("neg_rank", row_number().over(wA).cast("bigint"))
        .filter(col("neg_rank") <= 4)
        .select(col("anchor_id"), col("neg_rank"), col("neg_id"))
        .orderBy("anchor_id", "neg_rank")
    },
    Some(s"""WITH d AS (SELECT doc_id FROM documents),
      pos AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS pos FROM d),
      n AS (SELECT COUNT(*) AS n FROM d),
      draws AS (SELECT doc_id AS anchor_id, j,
          ('0x' || substr(md5('neg:42:' || CAST(doc_id AS VARCHAR) || ':' ||
            CAST(j AS VARCHAR)), 1, 8))::BIGINT % n.n AS cand_pos
        FROM d, range(10) r(j), n),
      cand AS (SELECT anchor_id, j, p.doc_id AS neg_id
        FROM draws JOIN pos p ON p.pos = draws.cand_pos
        WHERE p.doc_id <> draws.anchor_id),
      t AS (SELECT doc_id, ${OracleSql.Toks} AS toks FROM documents),
      g AS (SELECT doc_id, ${OracleSql.Shingles3} AS shingles FROM t),
      clean AS (SELECT anchor_id, neg_id, MIN(j) AS j
        FROM cand
        JOIN g ga ON ga.doc_id = cand.anchor_id
        JOIN g gb ON gb.doc_id = cand.neg_id
        WHERE CAST(len(list_intersect(ga.shingles, gb.shingles)) AS DOUBLE) /
          len(list_distinct(list_concat(ga.shingles, gb.shingles))) < 0.5
        GROUP BY anchor_id, neg_id),
      rk AS (SELECT anchor_id, neg_id, j,
          CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY j, neg_id)
            AS BIGINT) AS neg_rank
        FROM clean)
      SELECT anchor_id, neg_rank, neg_id FROM rk WHERE neg_rank <= 4
      ORDER BY anchor_id, neg_rank"""),
  )

  // -------------------------------------------------------------- sim10
  /** The IVF recall/cost TUNING CURVE: recall@k of the fixed-quantizer
    * IVF as nProbe sweeps 1 → nCells — the measurement an ANN
    * deployment runs to pick its operating point (sim04 measures one
    * LSH config; this sweeps the IVF dial). The endpoint is a built-in
    * proof: probing ALL nCells cells makes the candidate set every
    * non-self vector, so recall at nProbe = 16 must be EXACTLY 1.0 —
    * pinned by the spec and the oracle alike. Truth is the brute-force
    * top-k (computed once, joined per config); recall is one division
    * of exact integers, bit-identical cross-engine.
    */
  def ivfProbeSweep(emb: DataFrame, probes: Seq[Int] = Seq(1, 2, 4, 8, 16),
      nQueries: Int = 3, k: Int = 5, nCells: Int = 16): DataFrame = {
    val truth = bruteTopK(emb, nQueries, k).select(col("qid"), col("cid"))
      .localCheckpoint(true) // computed once, reused by every config
    val nt = truth.agg(count(lit(1)).as("n_true"))
    probes.map { p =>
      val det = ivfFixedTopK(emb, nQueries, k, nCells, nProbe = p)
        .select("qid", "cid")
      det.join(truth, Seq("qid", "cid"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(broadcast(nt))
        .select(lit(p.toLong).as("n_probe"),
          col("hits").cast("bigint").as("hits"), col("n_true"),
          (col("hits").cast("double") / col("n_true")).as("recall_at_k"))
    }.reduce(_.unionByName(_)).orderBy("n_probe")
  }

  // one oracle block per probe count: probe list, cell-join candidates,
  // cosine top-5 (sim03v's pipeline with r <= P)
  private def sweepBlock(p: Int): String = s"""
      probes$p AS (SELECT cid AS qid, k AS cell FROM rk WHERE r <= $p AND cid < 3),
      cand$p AS (SELECT DISTINCT pr.qid, a.cid
        FROM probes$p pr JOIN assign a ON a.cell = pr.cell WHERE a.cid <> pr.qid),
      s$p AS (SELECT cand$p.qid, cand$p.cid,
          list_sum(list_transform(list_zip(cq.cv, cc.cv), x -> x[1] * x[2])) /
            (sqrt(list_sum(list_transform(cq.cv, x -> x * x))) *
             sqrt(list_sum(list_transform(cc.cv, x -> x * x)))) AS sim
        FROM cand$p
        JOIN c cq ON cq.cid = cand$p.qid
        JOIN c cc ON cc.cid = cand$p.cid),
      r$p AS (SELECT qid, cid FROM (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        FROM s$p) WHERE rn <= 5)"""

  private def sweepRow(p: Int): String = s"""
      SELECT ${p}::BIGINT AS n_probe,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM r$p JOIN truth USING (qid, cid)) AS hits,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
        CAST((SELECT COUNT(*) FROM r$p JOIN truth USING (qid, cid)) AS DOUBLE)
          / (SELECT COUNT(*) FROM truth) AS recall_at_k"""

  private val SweepProbes = Seq(1, 2, 4, 8, 16)

  private val sim10 = QueryDef(
    "sim10_probe_sweep",
    (s, dir) => ivfProbeSweep(Tables(s, dir).embeddings),
    Some(s"""WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
      cen AS (SELECT cid AS k, cv AS kv FROM c WHERE cid < 16),
      d AS (SELECT cid, k,
          list_sum(list_transform(range(64), i ->
            (cv[i + 1] - kv[i + 1]) * (cv[i + 1] - kv[i + 1]))) AS dist
        FROM c, cen),
      rk AS (SELECT cid, k,
          ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist, k) AS r FROM d),
      assign AS (SELECT cid, k AS cell FROM rk WHERE r = 1),
      bs AS (SELECT q.cid AS qid, x.cid,
          list_sum(list_transform(list_zip(q.cv, x.cv), z -> z[1] * z[2])) /
            (sqrt(list_sum(list_transform(q.cv, v -> v * v))) *
             sqrt(list_sum(list_transform(x.cv, v -> v * v)))) AS sim
        FROM c q JOIN c x ON q.cid <> x.cid WHERE q.cid < 3),
      truth AS (SELECT qid, cid FROM (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        FROM bs) WHERE rn <= 5),
      ${SweepProbes.map(sweepBlock).mkString(",")}
      ${SweepProbes.map(sweepRow).mkString("\n      UNION ALL\n")}
      ORDER BY n_probe"""),
  )

  /** Matryoshka-truncation recall (Kusupati et al. 2022): recall@k of
    * PREFIX-dimension cosine rankings against the full-dimension brute
    * truth, swept over truncation widths — the measurement that decides
    * how many dimensions a matryoshka-trained embedding deployment
    * actually stores/ships (truncation is free at query time: slice
    * the arrays, no re-embedding). The final width equals the full
    * dimension, so its recall is EXACTLY 1.0 — a built-in endpoint
    * proof, the sim10 pattern. Scale shape: same broadcast-queries
    * scan as bruteTopK, one pass per width over the corpus with the
    * sliced codegen'd fold; only the per-(width, query) top-k ranks
    * exchange.
    */
  def matryoshkaRecall(emb: DataFrame, nQueries: Int = 3, k: Int = 5,
      dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
    val c = emb.select(col("vec_id").as("cid"), asDouble(col("embedding")).as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    val truth = c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select("qid", "cid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val approx = dims.map { d =>
      c.join(broadcast(q), col("qid") =!= col("cid"))
        .withColumn("sim", cosine(slice(col("qv"), 1, d), slice(col("cv"), 1, d)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(lit(d.toLong).as("trunc_dim"), col("qid"), col("cid"), lit(1L).as("hit"))
    }.reduce(_.unionByName(_))
    val out = dims.map(_.toLong).toDF("trunc_dim").crossJoin(truth)
      .join(approx, Seq("trunc_dim", "qid", "cid"), "left")
      .groupBy("trunc_dim", "qid")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .withColumn("recall_at_k", col("hits").cast("double") / k)
      .orderBy("trunc_dim", "qid")
      .localCheckpoint(eager = true)
    truth.unpersist(blocking = false)
    out
  }

  private val sim14 = QueryDef(
    "sim14_matryoshka_recall",
    (s, dir) => matryoshkaRecall(Tables(s, dir).embeddings),
    Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
      ts AS (SELECT qid, cid,
          list_sum(list_transform(list_zip(qv, cv), z -> z[1] * z[2])) /
            (sqrt(list_sum(list_transform(qv, v -> v * v))) *
             sqrt(list_sum(list_transform(cv, v -> v * v)))) AS sim
        FROM c, q WHERE qid <> cid),
      tr AS (SELECT qid, cid FROM (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        FROM ts) WHERE rn <= 5),
      ds AS (SELECT d FROM (VALUES (8), (16), (32), (64)) v(d)),
      ss AS (SELECT d, qid, cid,
          list_sum(list_transform(range(d), i -> qv[i + 1] * cv[i + 1])) /
            (sqrt(list_sum(list_transform(range(d), i -> qv[i + 1] * qv[i + 1]))) *
             sqrt(list_sum(list_transform(range(d), i -> cv[i + 1] * cv[i + 1])))) AS sim
        FROM c, q, ds WHERE qid <> cid),
      ap AS (SELECT d, qid, cid FROM (SELECT d, qid, cid,
          ROW_NUMBER() OVER (PARTITION BY d, qid ORDER BY sim DESC, cid) AS rn
        FROM ss) WHERE rn <= 5)
      SELECT CAST(ds.d AS BIGINT) AS trunc_dim, t.qid AS qid,
        CAST(COUNT(a.cid) AS BIGINT) AS hits,
        CAST(COUNT(a.cid) AS DOUBLE) / 5 AS recall_at_k
      FROM ds CROSS JOIN tr t
      LEFT JOIN ap a ON a.d = ds.d AND a.qid = t.qid AND a.cid = t.cid
      GROUP BY ds.d, t.qid ORDER BY trunc_dim, t.qid"""),
  )

  /** The swept candidate-list widths — ONE definition feeding both the
    * Spark sweep's default and the oracle's per-R blocks, so they
    * cannot silently diverge.
    */
  private[operators] val RefineRs = Seq(5, 10, 20, 1000000)

  /** IVFADC + REFINE (Jégou et al. 2011 §V.C): take the ADC top-R
    * candidates per query, re-score them EXACTLY (squared L2 against a
    * raw-vector side table), keep the top k ≤ R — the standard recall
    * repair for PQ's quantization error, swept over R at FIXED nProbe
    * (the sim10 dial pattern). Truth is the exact re-rank of the FULL
    * probed-cell candidate set, so the R = everything endpoint is a
    * built-in exact-recall proof (recall 1.0), and the R = k row IS
    * plain ADC's recall (re-scoring k candidates reorders but cannot
    * change the set) — the sweep's span is precisely the refine gain.
    * Scale shape: candidates score map-side off the code table; only
    * the ADC top-R rows (R·nQueries, bounded) join the raw-vector
    * table — the side table is corpus-sized, so that is a
    * co-partitioned equi-join on cid, never a corpus broadcast; the
    * per-query rank exchanges are top-k sized.
    */
  def ivfPqRefineSweep(emb: DataFrame,
      rs: Seq[Int] = RefineRs, nQueries: Int = 3,
      k: Int = 5, nCells: Int = 16, nProbe: Int = 4, nSub: Int = 8,
      subDim: Int = 8, nCodes: Int = 16): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val model = trainIvfPq(emb, nCells, nSub, subDim, nCodes)
    val q = queryVectors(emb, nQueries)
    val candAll = adcRank(encodeIvfPq(emb, model), q, model,
        Int.MaxValue, nProbe)
      .withColumnRenamed("rn", "ad_rn")
    val qdf = q.map { case (qid, v) => (qid, v.toSeq) }.toSeq.toDF("qid", "qv")
    val raw = emb.select(col("vec_id").cast("long").as("cid"),
      asDouble(col("embedding")).as("cv"))
    // exact refine distance: sequential (a_i-b_i)^2 fold, index-
    // ascending — the same double sequence the oracle's list_sum runs
    val diff = zip_with(col("qv"), col("cv"), (a, b) => a - b)
    val scored = candAll.join(raw, "cid").join(broadcast(qdf), "qid")
      .withColumn("exd", graft.functions.VectorFunctions.dotD(diff, diff))
      .select("qid", "cid", "ad_rn", "exd")
      .localCheckpoint(true) // scored once, re-cut per R
    val w = Window.partitionBy(col("qid")).orderBy(col("exd"), col("cid"))
    val truth = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select("qid", "cid")
      .localCheckpoint(true)
    val nt = truth.agg(count(lit(1)).as("n_true"))
    rs.map { r =>
      scored.filter(col("ad_rn") <= r)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .join(truth, Seq("qid", "cid"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(broadcast(nt))
        .select(lit(r.toLong).as("r_cand"),
          col("hits").cast("bigint").as("hits"), col("n_true"),
          (col("hits").cast("double") / col("n_true")).as("recall_at_k"))
    }.reduce(_.unionByName(_)).orderBy("r_cand")
  }

  private def refineBlock(r: Int): String = s"""
      ref$r AS (SELECT qid, cid FROM (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY exd, cid) AS rn
        FROM ex WHERE ad_rn <= $r) WHERE rn <= 5)"""

  private def refineRow(r: Int): String = s"""
      SELECT ${r}::BIGINT AS r_cand,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM ref$r JOIN truth USING (qid, cid)) AS hits,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
        CAST((SELECT COUNT(*) FROM ref$r JOIN truth USING (qid, cid)) AS DOUBLE)
          / (SELECT COUNT(*) FROM truth) AS recall_at_k"""

  // The oracle extends sim07's full index rebuild past its `ad` CTE:
  // ADC-rank every candidate, exact-re-score each (the same index-
  // ascending squared-L2 fold), cut the refine set per R, and score
  // recall against the exact re-rank of ALL candidates.
  private val sim17 = QueryDef(
    "sim17_ivfpq_refine",
    (s, dir) => ivfPqRefineSweep(Tables(s, dir).embeddings),
    sim07.oracle.map { o =>
      val anchored = "SELECT qid, cid, adist, rn FROM r2 WHERE rn <= 5 ORDER BY qid, rn"
      require(o.contains(anchored), "sim07 oracle final select moved")
      o.replace(anchored, s""",
      adrn AS (SELECT qid, cid, adist,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, cid) AS ad_rn
        FROM ad),
      ex AS (SELECT a.qid, a.cid, a.ad_rn,
          list_sum(list_transform(range(64), i ->
            (q.qv[i + 1] - cc.cv[i + 1]) * (q.qv[i + 1] - cc.cv[i + 1]))) AS exd
        FROM adrn a JOIN q ON q.qid = a.qid JOIN c cc ON cc.cid = a.cid),
      truth AS (SELECT qid, cid FROM (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY exd, cid) AS rn
        FROM ex) WHERE rn <= 5),
      ${RefineRs.map(refineBlock).mkString(",")}
      ${RefineRs.map(refineRow).mkString("\n      UNION ALL\n")}
      ORDER BY r_cand""")
    },
  )

  // Shared by VectorIndex's sim11/sim12: a loaded-index probe must emit
  // the exact ranking the from-scratch search derives, so they are
  // checked against the SAME oracle rebuild.
  private[operators] def sim07Oracle: Option[String] = sim07.oracle

  val defs: Seq[QueryDef] = Seq(sim01, sim02, sim03, sim03v, sq01, sd01, pq01, sim04, sim05, sim06, sim07, sim08, sim09, sim10, sim14, sim17, sim19, rp01, neg01)
}
