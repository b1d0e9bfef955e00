package graft.queries

import graft.{GQuery, Tables}
import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (array<float>[64]).
  *
  * Two paths, per the north star:
  *   - brute-force cosine top-k: exact baseline. The query side is broadcast
  *     with its norm precomputed, the corpus side streams — at 100 TB the
  *     corpus never shuffles and the top-k is a TakeOrderedAndProject
  *     (per-partition heaps + driver merge), so cost is one scan with a
  *     native one-loop-per-row cosine kernel.
  *   - LSH / IVF bucketed top-k: candidates found via packed-long bucket
  *     keys; only candidate ids are deduplicated and only candidate vectors
  *     are scored. Trades recall for a corpus-scan-free plan once the bucket
  *     column is a partition or Z-order key in storage.
  */
object Similarity {

  private def emb(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "embeddings")

  /** Vector `id` of `e`, collected to the driver as a probe query. */
  private def queryVec(e: DataFrame, id: Int): Array[Double] =
    e.where(col("vec_id") === id)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  /** The batch-serving rows' 8-query batch. */
  private def batchQueries(e: DataFrame): DataFrame =
    e.where(col("vec_id") < 8).select(col("vec_id"), col("embedding"))

  /** Per-query top-10 of a batch probe's candidates, self excluded. */
  private def batchTop10(cands: DataFrame, sim: String): DataFrame = {
    import graft.plans.GroupedTopKOps
    GroupedTopKOps.ensureInstalled(cands.sparkSession)
    GroupedTopKOps.groupedTopK(cands.where(col("vec_id") =!= col("q_id")),
      Seq(col("q_id")), Seq(col(sim).desc, col("vec_id")), k = 10)
      .orderBy(col("q_id"), col(sim).desc, col("vec_id"))
  }

  // The stored indexes the serving rows share, each built on first touch.
  private def ivfStore(e: => DataFrame, dir: String): String = {
    val store = graft.StoredArtifacts.dir(dir, "ivf_index_v1")
    if (!graft.StoredArtifacts.ready(s"$store/cells")) writeIvfIndex(e, store, iters = 2)
    store
  }

  private def ivfPqStore(e: DataFrame, dir: String): String = {
    val store = graft.StoredArtifacts.dir(dir, "ivfpq_index_v2")
    if (!graft.StoredArtifacts.ready(s"$store/codes"))
      writeIvfPqIndex(e, store, iters = 2, m = 8, kSub = 16)
    store
  }

  private def ivfPqResidualStore(e: DataFrame, dir: String): String = {
    val store = graft.StoredArtifacts.dir(dir, "ivfpqr_index_v2")
    if (!graft.StoredArtifacts.ready(s"$store/codes"))
      writeIvfPqResidualIndex(e, store, iters = 2, m = 8, kSub = 16)
    store
  }

  private def ivfSq8Store(e: DataFrame, dir: String): String = {
    val store = graft.StoredArtifacts.dir(dir, "ivf_sq8_index_v1")
    if (!graft.StoredArtifacts.ready(s"$store/codes")) writeIvfSq8Index(e, store, iters = 2)
    store
  }

  /** x07/x109's LSH index rows: (vec_id, tbl, bucket) over `nTables`
    * tables of 4 hyperplanes.
    */
  private def lshBucketed(e: DataFrame, nTables: Int): DataFrame = e
    .select(col("vec_id"),
      posexplode(VectorOps.lshBuckets(col("embedding"), nPlanes = 4, nTables = nTables)))
    .select(col("vec_id"), col("pos").as("tbl"), col("col").as("bucket"))

  /** Exact cosine top-20 of the LSH candidates against vector 0. */
  private def scoreTop20(candIds: DataFrame, e: DataFrame): DataFrame =
    candIds.join(e, Seq("vec_id"))
      .join(broadcast(querySide(e)))
      .select(col("vec_id"),
        VectorOps.cosinePreNorm(col("embedding"), col("qvec"), col("qnorm")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(20)

  /** Broadcast-ready query side: vector plus hoisted norm. */
  private def querySide(e: DataFrame): DataFrame =
    e.where(col("vec_id") === 0)
      .select(col("embedding").as("qvec"),
        VectorOps.l2norm(col("embedding")).as("qnorm"))

  // Exact cosine top-20 neighbors of vec_id = 0.
  private val x06 = GQuery(
    "x06_cosine_topk", "ext-similarity",
    (s, dir) => {
      val e = emb(s, dir)
      e.join(broadcast(querySide(e)))
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"),
          VectorOps.cosinePreNorm(col("embedding"), col("qvec"), col("qnorm")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    },
    // list_* functions accumulate left-to-right in double like the native
    // kernel — exactness verified against DuckDB in OracleParity tooling.
    Some("""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
              list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))
                / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                 * sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])))) AS sim
            FROM embeddings e, q
            WHERE e.vec_id <> 0
            ORDER BY sim DESC, e.vec_id LIMIT 20"""))

  // Multi-table LSH approximate top-k: 16 independent tables of 4 hyperplane
  // sign bits each; candidates share a bucket in any table (union-of-tables
  // recall, equi-join cost). Table count is sized for the synthetic corpus,
  // whose nearest neighbors sit at cosine ~0.3 (near-random): recall 0.9 at
  // test scale. A production corpus with true near-dups (cosine > 0.8)
  // collides reliably with fewer tables and more planes.
  //
  // Scale shape: the bucketing projection carries
  // only (vec_id, packed-long bucket) — vectors are never exploded or
  // shuffled; candidate ids are deduplicated id-only, then exactly the
  // candidate vectors are re-fetched by key (AQE broadcasts the tiny id set)
  // and scored with the hoisted-norm native kernel. At corpus scale the
  // bucket array is precomputed at ingest and the join shuffles only
  // (table, bucket, id).
  private val x07 = GQuery(
    "x07_ann_lsh_topk", "ext-similarity-ann",
    (s, dir) => {
      val e = emb(s, dir)
      val bucketed = lshBucketed(e, nTables = 16)
      val qBuckets = bucketed.where(col("vec_id") === 0).select("tbl", "bucket")
      val candIds = bucketed.join(broadcast(qBuckets), Seq("tbl", "bucket"))
        .where(col("vec_id") =!= 0)
        .select("vec_id")
        .distinct()
      scoreTop20(candIds, e)
    },
    None) // approximate (hash-seeded planes): rows-only check + SimilaritySpec

  /** Multiprobe LSH candidates (Lv et al. 2007): besides the query's own
    * bucket, probe every bucket at sign-bit Hamming distance 1 — the
    * buckets a near-neighbor most likely fell into when one hyperplane
    * projection landed on the other side. The memory economics are the
    * point at scale: recall that took T tables single-probe costs ~T/2
    * tables multiprobed, and the TABLE COUNT is what the 100-TB ingest
    * pays for (every table is one more (tbl, bucket, id) row per vector
    * in the index); the perturbation is query-side arithmetic — `bucket
    * XOR (1<<p)` — on the (tbl, bucket) pairs only, so the probe set
    * grows (nPlanes+1)× while the stored index does not grow at all.
    * Corpus side is untouched: vectors still bucket once at ingest.
    */
  def multiprobeCandidates(bucketed: DataFrame, qId: Long,
      nPlanes: Int): DataFrame = {
    val qb = bucketed.where(col("vec_id") === qId)
      .select(col("tbl"), explode(concat(
        array(col("bucket")),
        expr(s"transform(sequence(0, ${nPlanes - 1}), " +
          "p -> bucket ^ shiftleft(1L, p))"))).as("bucket"))
      .distinct()
    bucketed.join(broadcast(qb), Seq("tbl", "bucket"))
      .where(col("vec_id") =!= qId)
      .select("vec_id")
      .distinct()
  }

  // x07's serving shape at HALF the tables: 8 multiprobed tables reach the
  // recall 16 single-probe tables buy (SimilaritySpec pins candidates ⊇
  // single-probe at equal tables, recall ≥ the same 0.6 bar, and the
  // index-side row count at exactly half of x07's).
  private val x109 = GQuery(
    "x109_ann_lsh_multiprobe", "ext-similarity-ann multiprobe",
    (s, dir) => {
      val e = emb(s, dir)
      val bucketed = lshBucketed(e, nTables = 8)
      val candIds = multiprobeCandidates(bucketed, qId = 0L, nPlanes = 4)
      scoreTop20(candIds, e)
    },
    None) // approximate (hash-seeded planes): rows-only check + SimilaritySpec

  // Per-label corpus stats: counts and dimensionality checks — the sanity
  // gate a training-data pipeline runs before indexing. Integer-only, so the
  // oracle is exact.
  private val x08 = GQuery(
    "x08_embedding_stats", "ext-similarity",
    (s, dir) =>
      emb(s, dir)
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_vecs"),
          countDistinct(col("vec_id")).as("n_ids"),
          min(size(col("embedding"))).cast("long").as("min_dim"),
          max(size(col("embedding"))).cast("long").as("max_dim"))
        .orderBy("label"),
    Some("""SELECT label, COUNT(*) AS n_vecs, COUNT(DISTINCT vec_id) AS n_ids,
              CAST(MIN(len(embedding)) AS BIGINT) AS min_dim,
              CAST(MAX(len(embedding)) AS BIGINT) AS max_dim
            FROM embeddings GROUP BY label ORDER BY label"""))

  // Embedding-cosine near-duplicate pairs against a bounded reference set
  // (vec_id < 8) — the embedding flavor of x05's candidate verification.
  // Reference norms are hoisted into the 8-row broadcast side.
  private val x09 = GQuery(
    "x09_embedding_near_dup", "ext-dedup-fuzzy ext-similarity",
    (s, dir) => {
      val e = emb(s, dir)
      val refs = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("ref_id"), col("embedding").as("rvec"),
          VectorOps.l2norm(col("embedding")).as("rnorm"))
      e.join(broadcast(refs), col("vec_id") > col("ref_id"))
        .select(col("ref_id"), col("vec_id"),
          VectorOps.cosinePreNorm(col("embedding"), col("rvec"), col("rnorm")).as("sim"))
        .where(col("sim") >= 0.3)
        .orderBy("ref_id", "vec_id")
    },
    Some("""WITH refs AS (SELECT vec_id AS ref_id, embedding AS rvec
                          FROM embeddings WHERE vec_id < 8)
            SELECT r.ref_id, e.vec_id,
              list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(r.rvec AS DOUBLE[]))
                / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                 * sqrt(list_dot_product(CAST(r.rvec AS DOUBLE[]), CAST(r.rvec AS DOUBLE[])))) AS sim
            FROM embeddings e JOIN refs r ON e.vec_id > r.ref_id
            WHERE list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(r.rvec AS DOUBLE[]))
                / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                 * sqrt(list_dot_product(CAST(r.rvec AS DOUBLE[]), CAST(r.rvec AS DOUBLE[])))) >= 0.3
            ORDER BY r.ref_id, e.vec_id"""))

  // IVF (inverted-file) approximate top-k: coarse quantization by per-label
  // centroid (labels play the coarse-cluster role a k-means pass fills at
  // ingest), nprobe=6 nearest centroids searched. At corpus scale the
  // centroid table is broadcast (tiny), assignments are precomputed at
  // ingest as a partition/cluster key, and a probe scans only nprobe
  // partitions — the classic IVF-flat layout expressed relationally. This
  // entry is the inline-build demonstration; x62 is that layout as a
  // STORED artifact (probe-only read path), x65 its incremental append,
  // and x68 the PQ-compressed composition.
  // nprobe=6 (of 10 coarse cells) is sized for the synthetic corpus, where
  // the true top-20 spreads across all labels; a clustered production corpus
  // concentrates neighbors in few cells and probes far fewer.
  private val x07b = GQuery(
    "x07b_ann_ivf_topk", "ext-similarity-ann",
    (s, dir) => {
      val e = emb(s, dir)
      // centroid per label: element-wise mean of member vectors
      val centroids = e
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("col")).as("c"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("label"), expr("transform(pc, x -> x.c)").as("centroid"))
      val q = querySide(e)
      // nprobe=6 closest centroids to the query
      val probed = centroids.crossJoin(broadcast(q))
        .select(col("label"), col("qvec"), col("qnorm"),
          VectorOps.cosinePreNorm(col("centroid"), col("qvec"), col("qnorm")).as("csim"))
        .orderBy(col("csim").desc)
        .limit(6)
        .select(col("label"), col("qvec"), col("qnorm"))
      // scan only the probed inverted lists
      e.join(broadcast(probed), Seq("label"))
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"),
          VectorOps.cosinePreNorm(col("embedding"), col("qvec"), col("qnorm")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    },
    None) // approximate (probe subset): rows-only check + SimilaritySpec recall

  /** Build + persist the IVF-FLAT index — the ingest-time artifact behind
    * x62's probe-only read path. Two parquet tables:
    *   - `centroids`: (cluster, centroid) — k rows, one file (the coarse
    *     quantizer; broadcast-sized by the IVF contract);
    *   - `cells`: (vec_id, embedding) PARTITIONED BY cluster — the inverted
    *     lists as a physical layout, so a probe's cluster filter is static
    *     PARTITION PRUNING: nprobe directories read, the rest never opened.
    * Centroids are Lloyd-refined from the per-label seed (x40's build), and
    * the cell assignment is the canonical narrow argmin against the FINAL
    * centroids — vectors reach their cell directory through one write
    * shuffle and never move again.
    */
  def writeIvfIndex(e: DataFrame, outDir: String, iters: Int): Unit = {
    val centroids = writeCoarse(e, outDir, iters)
    graft.operators.KMeans.assign(e.select(col("vec_id"), col("embedding")), centroids)
      .select(col("id").as("vec_id"), col("vec").as("embedding"), col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$outDir/cells")
  }

  /** Every IVF writer's coarse quantizer: k-means over `e`'s (vec_id,
    * embedding), seeded by per-label means, refined `iters` rounds and
    * written to `<outDir>/centroids` (cluster, centroid).
    */
  private def writeCoarse(e: DataFrame, outDir: String, iters: Int): Seq[Array[Double]] = {
    import graft.operators.KMeans
    val seed = KMeans.seedFromGroups(
      e.select(col("label"), col("embedding")), "label", "embedding")
    val (_, coarse, _) = KMeans.refine(e.select(col("vec_id"), col("embedding")), seed, iters)
    centroidTable(e.sparkSession, coarse)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/centroids")
    coarse
  }

  private def centroidTable(s: SparkSession, coarse: Seq[Array[Double]]): DataFrame = {
    import s.implicits._
    coarse.zipWithIndex.map { case (c, j) => (j, c) }.toDF("cluster", "centroid")
  }

  /** Byte-packed PQ codes of `vec` per row, stored cluster-partitioned
    * under `<outDir>/codes` — the IVF-PQ, OPQ and residual writers' one
    * encode step.
    */
  private def writePqCodes(rows: DataFrame, id: Column, vec: Column,
      cb: graft.operators.ProductQuantizer.Codebooks, outDir: String): Unit =
    rows.select(id.as("vec_id"),
        VectorOps.pqEncode(vec, cb.m, cb.dsub, cb.flat.toSeq, packed = true).as("codes"),
        col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$outDir/codes")

  /** Stored coarse quantizer, restored to the driver in cluster order —
    * the k×dim move, required anyway to inline centroids as assign/probe
    * literals.
    */
  def readIvfCentroids(s: SparkSession, indexDir: String): Seq[Array[Double]] =
    s.read.parquet(s"$indexDir/centroids")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2).toSeq

  private def dotd(a: Array[Double], b: Array[Double]): Double = {
    var i = 0; var d = 0.0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    d
  }

  /** Driver-side coarse-cell selection shared by EVERY IVF probe: cosine
    * of the query against each stored centroid, top-`nprobe` under the
    * (-sim, index) tie-break. One definition on purpose — the batch≡single
    * equality specs pin this exact ordering, so a probe with its own copy
    * could drift out of the pinned agreement.
    *
    * Delegates to [[graft.operators.CentroidIndex]]: exact linear scan at
    * fixture-scale k (bit-identical to the historical arithmetic), a
    * content-cached deterministic HNSW above
    * [[graft.operators.CentroidIndex.ExactScanCeiling]] — sublinear cell
    * selection at production cell counts (k ~ 10⁵–10⁶), recall-gated by
    * CentroidIndexSpec.
    */
  private[queries] def selectCells(coarse: Seq[Array[Double]],
      qvec: Array[Double], qnorm: Double, nprobe: Int): Seq[Int] =
    graft.operators.CentroidIndex.select(coarse, qvec, qnorm, nprobe)

  /** INCREMENTAL index maintenance — the write-side companion of the probe
    * path: a new batch joins the index by narrow argmin against the STORED
    * centroids (no Lloyd, no base-segment read) and lands as a separate
    * cluster-partitioned DELTA segment. The probe unions base + deltas —
    * the base-plus-delta segment layout every serving index uses (rebuild/
    * re-clustering is a periodic compaction, not a per-batch cost), and
    * overwriting the delta keeps the operation idempotent per batch.
    */
  def appendIvfDelta(batch: DataFrame, indexDir: String, segment: String): Unit = {
    val s = batch.sparkSession
    graft.operators.KMeans
      .assign(batch.select(col("vec_id"), col("embedding")),
        readIvfCentroids(s, indexDir))
      .select(col("id").as("vec_id"), col("vec").as("embedding"), col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$indexDir/$segment")
  }

  /** The compactions' re-cell step: `all` (vec_id, embedding) assigned to
    * the centroids warm-started from `warm` and refined `iters` rounds
    * (0 keeps `warm`), written as cluster-partitioned cells to `cellsDir`
    * and the centroids to `centroidsDir`.
    */
  private[queries] def writeRecelled(all: DataFrame, warm: Seq[Array[Double]], iters: Int,
      cellsDir: String, centroidsDir: String): Unit = {
    val cs =
      if (iters == 0) warm
      else graft.operators.KMeans.refine(all, warm, iters)._2
    graft.operators.KMeans.assign(all, cs)
      .select(col("id").as("vec_id"), col("vec").as("embedding"), col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(cellsDir)
    centroidTable(all.sparkSession, cs)
      .coalesce(1).write.mode("overwrite").parquet(centroidsDir)
  }

  /** Probe-only IVF read path: scores the stored index's nprobe most
    * query-similar cells against a LITERAL query vector and returns
    * (vec_id, sim) candidates — no Lloyd iterations, no scan of the source
    * corpus, no scan of the k - nprobe cold cells. The nprobe cell ids are
    * collected (nprobe ints — the k×dim-style driver move) so the cell
    * filter is a LITERAL IN over the partition column: static partition
    * pruning the scan proves in its plan (StoredAnnSpec pins it). Callers
    * apply their own exclusions and top-k on the returned candidates.
    *
    * @param segments cell segments to search — base `cells` plus any
    *                 [[appendIvfDelta]] deltas; each is partition-pruned
    *                 to the same nprobe cells
    */
  def probeStoredIvf(s: SparkSession, indexDir: String, qvec: Array[Double],
      nprobe: Int, segments: Seq[String] = Seq("cells")): DataFrame = {
    // cell selection is pure driver arithmetic — the coarse table is k×dim,
    // already a driver value by the IVF contract (same discipline as the
    // residual probe), and reading it here is where the query/index
    // dimension mismatch fails FAST instead of scoring all-null
    val coarse = readIvfCentroids(s, indexDir)
    require(coarse.nonEmpty, s"empty centroid table under $indexDir")
    require(qvec.length == coarse.head.length,
      s"query dim ${qvec.length} != index dim ${coarse.head.length}")
    val qn = math.sqrt(qvec.map(x => x * x).sum)
    val cells = selectCells(coarse, qvec, qn, nprobe)
    scanStoredCells(s, indexDir, cells, qvec, qn, segments)
  }

  /** The partition-pruned cell scan + cosine scoring EVERY single-query
    * stored-IVF probe runs — extracted (round 14) so the trained serving
    * path ([[probeStoredIvf]]) and its x404 exact twin share one
    * definition and cannot drift (the x396/ivfIndexStats discipline
    * applied to the SERVING read path). The cell list is a driver
    * literal, so the scan is statically partition-pruned in both
    * callers.
    */
  private[queries] def scanStoredCells(s: SparkSession, indexDir: String,
      cells: Seq[Int], qvec: Array[Double], qn: Double,
      segments: Seq[String]): DataFrame = {
    val qcol = typedLit(qvec)
    val qnorm = lit(qn)
    segments.map { seg =>
      s.read.parquet(s"$indexDir/$seg")
        .where(col("cluster").isin(cells: _*))
        .select(col("vec_id"),
          VectorOps.cosinePreNorm(col("embedding"), qcol, qnorm).as("sim"))
    }.reduce(_ unionAll _)
  }

  /** The batch probes' one query-batch read: (id, vector) rows collected
    * to the driver, rejected when empty, above the 10⁴-query serving
    * constant, or when a vector's length differs from the index dim.
    */
  private def queryBatch(queries: DataFrame, dim: Int): Array[(Long, Array[Double])] = {
    val qRows = queries.select(
        col(queries.columns(0)).cast("long"),
        col(queries.columns(1)).cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    require(qRows.nonEmpty, "empty query batch")
    require(qRows.length <= 10000,
      s"batch of ${qRows.length}: the query batch must stay a driver-sized " +
        "serving constant (micro-batch larger streams into <= 10000-query calls)")
    qRows.foreach { case (id, q) =>
      require(q.length == dim, s"query $id dim ${q.length} != index dim $dim")
    }
    qRows
  }

  /** BATCH serving probe — [[probeStoredIvf]] generalized from one
    * driver-resident query vector to a whole query TABLE, the shape real
    * serving runs (thousands of queries per pass, not one `.head()`):
    *
    *   1. the batch is collected to the driver (the coordinator move
    *      every batch probe in this module makes — see
    *      [[probeIvfPqBatch]]) and per-query cells are chosen by the
    *      SAME [[selectCells]] call as the single probe: exact at small
    *      k, sublinear HNSW above [[graft.operators.CentroidIndex.ExactScanCeiling]].
    *      No centroid ever enters the plan — plan size is CONSTANT in k
    *      (the old form inlined all k centroids as a literal and scored
    *      them in-plan, coupling plan size to the index);
    *   2. the UNION of probed cells is a driver literal (≤ k ints,
    *      batch-independent) so the cell scan is statically partition-
    *      pruned — and it runs ONCE for the whole batch, not once per
    *      query;
    *   3. each scanned cell row joins the broadcast (q_id, cluster, qvec,
    *      qnorm) probe table on `cluster`, so a row is scored against
    *      exactly the queries probing its cell.
    *
    * Returns (q_id, vec_id, sim) candidates; callers exclude and top-k
    * per query (GroupedTopK). Per-query results are identical to N
    * single-vector probes — StoredAnnSpec pins the equality and the
    * one-scan plan.
    *
    * The intended batch ceiling is B ≲ 10⁴ queries per call (the shared
    * serving-constant bound: the broadcast probe table is B·nprobe rows
    * of dim-length vectors); micro-batch larger streams into calls of
    * this size.
    *
    * @param queries first column: query id (long), second: vector. A
    *                query whose vector length differs from the index dim
    *                fails fast — the single probe's guard, applied
    *                per-row now that the batch is driver-resident.
    */
  def probeStoredIvfBatch(s: SparkSession, indexDir: String, queries: DataFrame,
      nprobe: Int, segments: Seq[String] = Seq("cells")): DataFrame = {
    val coarse = readIvfCentroids(s, indexDir)
    require(coarse.nonEmpty, s"empty centroid table under $indexDir")
    val qRows = queryBatch(queries, coarse.head.length)
    val qnorms = qRows.map { case (_, q) => math.sqrt(dotd(q, q)) }
    val probeRows = qRows.zipWithIndex.flatMap { case ((qid, q), qi) =>
      selectCells(coarse, q, qnorms(qi), nprobe)
        .map(cell => (qid, cell, q.toSeq, qnorms(qi)))
    }
    import s.implicits._
    val probeSel = probeRows.toSeq.toDF("q_id", "cluster", "qvec", "qnorm")
    val cells = probeRows.map(_._2).distinct.sorted.toSeq
    segments.map { seg =>
      s.read.parquet(s"$indexDir/$seg")
        .where(col("cluster").isin(cells: _*))
    }.reduce(_ unionAll _)
      .join(broadcast(probeSel), Seq("cluster"))
      .select(col("q_id"), col("vec_id"),
        VectorOps.cosinePreNorm(col("embedding"), col("qvec"), col("qnorm")).as("sim"))
  }

  // ANN top-k from the STORED IVF index — the serving shape x07b's scaladoc
  // promised ("assignments precomputed at ingest as a partition key"): built
  // on first touch (graft.StoredArtifacts), then every invocation is
  // probe-only — broadcast-sized centroid read, nprobe pruned cell
  // directories, cosine re-rank, TakeOrderedAndProject top-20. No k-means
  // runs and the embeddings source table is never opened except for the
  // 1-row query-vector fetch. StoredAnnSpec gates recall (>= x07b's 0.6
  // bar) and pins the pruned, corpus-free plan.
  private val x62 = GQuery(
    "x62_ann_ivf_stored", "ext-similarity-ann stored-artifact serving-path",
    (s, dir) => {
      val e = emb(s, dir)
      val store = ivfStore(e, dir)
      val qvec = queryVec(e, 0)
      probeStoredIvf(s, store, qvec, nprobe = 6)
        .where(col("vec_id") =!= 0)
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    },
    None) // approximate (probe subset): rows-only check + StoredAnnSpec recall

  // Int8 quantization of the embedding column: per-vector symmetric scale
  // (127 / max|x|), values floored into [-128, 127] — the 4x storage and
  // bandwidth compression step before ANN serving. Pure narrow projection,
  // no shuffle; all arithmetic is double-precision IEEE identical to the
  // oracle (floats cast exactly, floor has no rounding ties).
  private val x26 = GQuery(
    "x26_embedding_quantize", "ext-similarity compression",
    (s, dir) => {
      val maxabs = array_max(expr("transform(embedding, x -> abs(cast(x as double)))"))
      emb(s, dir)
        .select(col("vec_id"),
          (lit(127.0) / greatest(maxabs, lit(1e-30))).as("scale"),
          col("embedding"))
        .select(col("vec_id"), col("scale"),
          // joined to a string: the oracle compare handles scalars only —
          // a consumer would keep the array<tinyint> column instead
          concat_ws(",",
            expr("transform(embedding, x -> cast(floor(cast(x as double) * scale) as bigint))"))
            .as("q"))
        .orderBy("vec_id")
    },
    Some("""WITH s AS (SELECT vec_id, embedding,
                         127.0 / greatest(list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-30) AS scale
                       FROM embeddings)
            SELECT vec_id, scale,
              array_to_string(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * scale) AS BIGINT)), ',') AS q
            FROM s ORDER BY vec_id"""))

  // Batch k-NN join: top-5 cosine neighbors for EVERY query in a batch
  // (vec_id < 10), not just one — the retrieval/dedup shape production
  // actually runs. Composes the two custom pieces: the hoisted-norm native
  // cosine kernel scores one streaming corpus scan against the broadcast
  // query batch, and GroupedTopK (partial/final bounded heaps) keeps the
  // per-query top-k with <= k rows per query per partition crossing the
  // shuffle and no sort of the |corpus| x |batch| scored stream (the
  // window idiom's WindowGroupLimit path bounds its shuffle too, but
  // fully sorts every partition of scored pairs first).
  private val x27 = GQuery(
    "x27_knn_join", "ext-similarity-batch custom-operator custom-expression",
    (s, dir) => {
      import graft.plans.GroupedTopKOps
      GroupedTopKOps.ensureInstalled(s)
      val e = emb(s, dir)
      val batch = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
          VectorOps.l2norm(col("embedding")).as("qnorm"))
      val scored = e.where(col("vec_id") >= 10).join(broadcast(batch))
        .select(col("q_id"), col("vec_id"),
          VectorOps.cosinePreNorm(col("embedding"), col("qvec"), col("qnorm")).as("sim"))
      GroupedTopKOps.groupedTopK(scored, Seq(col("q_id")),
        Seq(col("sim").desc, col("vec_id")), k = 5)
        .orderBy(col("q_id"), col("sim").desc, col("vec_id"))
    },
    Some("""WITH q AS (SELECT vec_id AS q_id, embedding AS qvec
                       FROM embeddings WHERE vec_id < 10),
            scored AS (
              SELECT q.q_id, e.vec_id,
                list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))
                  / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])))) AS sim
              FROM embeddings e, q WHERE e.vec_id >= 10)
            SELECT q_id, vec_id, sim FROM (
              SELECT q_id, vec_id, sim,
                ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
              FROM scored) WHERE rn <= 5
            ORDER BY q_id, sim DESC, vec_id"""))

  // IVF index build: refine the coarse per-label centroids (x07b's seed)
  // with two distributed Lloyd iterations — graft.operators.KMeans. The
  // assignment pass is a narrow per-row argmin against centroid literals
  // (vectors never shuffle); the update pass shuffles only
  // (cluster, dim, partial mean). Output: final cell assignment per vector.
  private val x40 = GQuery(
    "x40_kmeans_refine", "ext-similarity index-build custom-operator",
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"), col("label"))
      val seed = graft.operators.KMeans.seedFromGroups(e, "label", "embedding")
      val (assigned, _, _) =
        graft.operators.KMeans.refine(e.select(col("vec_id"), col("embedding")), seed, 2)
      assigned.withColumnRenamed("id", "vec_id").orderBy("vec_id")
    },
    None) // iterative (driver-coordinated rounds): gated by KMeansSpec

  // Per-cluster outlier audit: the 3 vectors least similar to their own
  // label's centroid — the embedding-quality diagnostic behind "find the
  // mislabeled / off-distribution examples in each cluster" (and the eviction
  // test an IVF cell runs before accepting its assignment). Composes x07b's
  // centroid build with the native cosine kernel and a bounded per-group
  // bottom-k.
  //
  // Scale shape: the centroid table is |labels| rows and broadcasts; the
  // scoring pass is one narrow corpus scan (vectors never shuffle); the
  // per-label bottom-3 is a bounded window (GroupedTopK at 100 TB). The
  // per-dimension avg differs from DuckDB's in summation order — last-ulp
  // noise the driver's rounded hash compare absorbs, with outlier ranks
  // separated by far more than an ulp on real (and these synthetic) vectors.
  private val x48 = GQuery(
    "x48_centroid_outliers", "ext-similarity cluster-audit",
    (s, dir) => {
      val e = emb(s, dir)
      val centroids = e
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("col").cast("double")).as("c"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("label"), expr("transform(pc, x -> x.c)").as("centroid"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label")).orderBy(col("sim").asc, col("vec_id"))
      e.join(broadcast(centroids), "label")
        .select(col("label"), col("vec_id"),
          VectorOps.cosine(col("embedding"), col("centroid")).as("sim"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select(col("label"), col("rank"), col("vec_id"), col("sim"))
        .orderBy("label", "rank")
    },
    Some("""WITH dims AS (
              SELECT label, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
              FROM embeddings, unnest(range(1, len(embedding) + 1)) r(i)),
            cent AS (
              SELECT label, list(c ORDER BY dim) AS centroid FROM (
                SELECT label, dim, AVG(v) AS c FROM dims GROUP BY label, dim)
              GROUP BY label),
            scored AS (
              SELECT e.label, e.vec_id,
                list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
                  / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(c.centroid, c.centroid))) AS sim
              FROM embeddings e JOIN cent c USING (label))
            SELECT label, rank, vec_id, sim FROM (
              SELECT *, CAST(row_number() OVER (
                PARTITION BY label ORDER BY sim ASC, vec_id) AS BIGINT) AS rank
              FROM scored)
            WHERE rank <= 3 ORDER BY label, rank"""))

  // Hard-negative mining: for each query vector, the 3 most similar vectors
  // with a DIFFERENT label — the contrastive-training data op (high-cosine,
  // wrong-class examples are the negatives that actually teach an embedding
  // model). Same broadcast-batch × streaming-corpus × GroupedTopK shape as
  // x27 with the label-disagreement predicate applied before scoring ever
  // shuffles.
  private val x50 = GQuery(
    "x50_hard_negatives", "ext-similarity contrastive-mining",
    (s, dir) => {
      import graft.plans.GroupedTopKOps
      GroupedTopKOps.ensureInstalled(s)
      val e = emb(s, dir)
      val batch = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("qvec"), VectorOps.l2norm(col("embedding")).as("qnorm"))
      val scored = e.where(col("vec_id") >= 10).join(broadcast(batch))
        .where(col("label") =!= col("q_label"))
        .select(col("q_id"), col("vec_id"),
          VectorOps.cosinePreNorm(col("embedding"), col("qvec"), col("qnorm")).as("sim"))
      GroupedTopKOps.groupedTopK(scored, Seq(col("q_id")),
        Seq(col("sim").desc, col("vec_id")), k = 3)
        .orderBy(col("q_id"), col("sim").desc, col("vec_id"))
    },
    Some("""WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qvec
                       FROM embeddings WHERE vec_id < 10),
            scored AS (
              SELECT q.q_id, e.vec_id,
                list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))
                  / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])))) AS sim
              FROM embeddings e, q
              WHERE e.vec_id >= 10 AND e.label <> q.q_label)
            SELECT q_id, vec_id, sim FROM (
              SELECT q_id, vec_id, sim,
                ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
              FROM scored) WHERE rn <= 3
            ORDER BY q_id, sim DESC, vec_id"""))

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then within each cluster flag members
    * whose cosine to the cluster's kept representative exceeds `tau` —
    * catching near-duplicate MEANING that lexical dedup (MinHash/SimHash
    * over tokens) cannot see.
    *
    * Exposed as a function so the spec can run it on a corpus with planted
    * semantic near-dups; x55 runs it on the fixture embeddings.
    *
    * Scale shape — composition of already-verified pieces, no new
    * machinery:
    *   1. k-means assignment ([[graft.operators.KMeans]].assign on the
    *      FINAL refined centroids): centroids are broadcast literals, the
    *      argmin is a narrow per-row projection — vectors never shuffle to
    *      get their cluster (joining back refine's (id, cluster) table
    *      would exchange the whole vector corpus by id, which is why the
    *      assignment is recomputed narrowly instead).
    *   2. Representative per cluster = member most similar to its own
    *      centroid, via GroupedTopK top-1: bounded heaps mean at most ONE
    *      member row per cluster per partition crosses the shuffle — the
    *      only movement of vectors in the whole plan, k rows final.
    *   3. Dup flagging = one narrow pass against the broadcast |clusters|-
    *      row representative table. Members are scored against exactly one
    *      representative — n rows scored, never the n²/cluster pairwise
    *      matrix, and cross-cluster pairs are never formed at all.
    *
    * @param iters Lloyd refinements of the per-label seed; 0 = cluster on
    *              the seed centroids as-is
    */
  /** The standing semantic index x55 derives and [[semDedupIncremental]]
    * probes: final centroids (k×dim, a driver value by the k-means
    * contract) and the per-cluster kept representative (cluster, rep_id,
    * rvec, rnorm) — k rows, broadcast-sized. These two tables are the
    * ENTIRE state a semantic-dedup ingest pipeline persists; the corpus
    * itself is never part of the index.
    */
  def semIndex(e: DataFrame, iters: Int): (Seq[Array[Double]], DataFrame) = {
    import graft.plans.GroupedTopKOps
    GroupedTopKOps.ensureInstalled(e.sparkSession)
    val spark = e.sparkSession
    import spark.implicits._
    val seed = graft.operators.KMeans.seedFromGroups(
      e.select(col("label"), col("embedding")), "label", "embedding")
    val centroids =
      if (iters == 0) seed
      else graft.operators.KMeans.refine(
        e.select(col("vec_id"), col("embedding")), seed, iters)._2
    val centDf = centroids.zipWithIndex
      .map { case (c, j) => (j, c, math.sqrt(c.map(x => x * x).sum)) }
      .toDF("cluster", "centroid", "cnorm")
    // membership = narrow argmin against the FINAL centroids (a fresh
    // Lloyd assign — the canonical cell for each vector)
    val members = graft.operators.KMeans
      .assign(e.select(col("vec_id"), col("embedding")), centroids)
      .select(col("id").as("vec_id"), col("vec").as("embedding"), col("cluster"))
    // representative = member closest (cosine) to its cluster centroid;
    // ties break to the lowest vec_id, so the choice is deterministic
    val scored = members.join(broadcast(centDf), "cluster")
      .select(col("cluster"), col("vec_id"), col("embedding"),
        VectorOps.cosinePreNorm(col("embedding"), col("centroid"), col("cnorm")).as("csim"))
    val reps = GroupedTopKOps.groupedTopK(scored, Seq(col("cluster")),
      Seq(col("csim").desc, col("vec_id")), k = 1)
      .select(col("cluster"), col("vec_id").as("rep_id"),
        col("embedding").as("rvec"), VectorOps.l2norm(col("embedding")).as("rnorm"))
    (centroids, reps)
  }

  def semDedup(e: DataFrame, iters: Int, tau: Double): DataFrame = {
    val (centroids, reps) = semIndex(e, iters)
    val members = graft.operators.KMeans
      .assign(e.select(col("vec_id"), col("embedding")), centroids)
      .select(col("id").as("vec_id"), col("vec").as("embedding"), col("cluster"))
    members.join(broadcast(reps), "cluster")
      .select(col("vec_id"), col("cluster"), col("rep_id"),
        VectorOps.cosinePreNorm(col("embedding"), col("rvec"), col("rnorm")).as("sim_to_rep"))
      .withColumn("is_semantic_dup",
        col("vec_id") =!= col("rep_id") && col("sim_to_rep") >= tau)
      .orderBy("vec_id")
  }

  /** INCREMENTAL SemDeDup — x52's probe discipline applied to the semantic
    * index: verdict a NEW batch against the standing index WITHOUT touching
    * the standing corpus. Each batch vector is assigned to its stored
    * centroid by the same narrow argmin (centroids are literals — no join,
    * no shuffle), then scored against ONLY that cluster's stored
    * representative via one broadcast join with the k-row rep table. Every
    * operation is batch-cardinality: the standing corpus contributed its
    * centroids and representatives at ingest and is never rescanned
    * (IncrementalSemDedupSpec pins plan and scans). A batch vector ≥ tau to
    * a STANDING representative is a semantic dup of standing content —
    * there is no self-match exclusion because batch ids are disjoint from
    * the index by construction.
    */
  def semDedupIncremental(batch: DataFrame, centroids: Seq[Array[Double]],
      reps: DataFrame, tau: Double): DataFrame = {
    val members = graft.operators.KMeans
      .assign(batch.select(col("vec_id"), col("embedding")), centroids)
      .select(col("id").as("vec_id"), col("vec").as("embedding"), col("cluster"))
    members.join(broadcast(reps), "cluster")
      .select(col("vec_id"), col("cluster"), col("rep_id"),
        VectorOps.cosinePreNorm(col("embedding"), col("rvec"), col("rnorm")).as("sim_to_rep"))
      .withColumn("is_semantic_dup", col("sim_to_rep") >= tau)
      .orderBy("vec_id")
  }

  /** Persist / load the standing semantic index (the serving artifact
    * [[semDedupIncremental]] probes). Centroids restore to the driver —
    * the k×dim move, required anyway to inline them as assign literals.
    */
  def writeSemIndex(spark: SparkSession, centroids: Seq[Array[Double]],
      reps: DataFrame, outDir: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, j) => (j, c) }
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/centroids")
    reps.coalesce(1).write.mode("overwrite").parquet(s"$outDir/reps")
  }

  def readSemIndex(spark: SparkSession, dir: String): (Seq[Array[Double]], DataFrame) = {
    val centroids = spark.read.parquet(s"$dir/centroids")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2).toSeq
    (centroids, spark.read.parquet(s"$dir/reps"))
  }

  // Semantic dedup over the fixture embeddings: 2 Lloyd refinements from the
  // per-label seed, tau = 0.9. The synthetic vectors are near-orthogonal
  // (nearest neighbors ~0.3 cosine), so few fixture rows flag — the planted-
  // near-dup behavior is gated by SemDedupSpec on a corpus with true
  // semantic duplicates; this registry entry pins the end-to-end plan and
  // per-vector output (all rows emitted with their verdict, rows > 0).
  // This is the full-corpus batch form; x64 is the incremental ingest-cycle
  // form probing the same index as a stored artifact.
  private val x55 = GQuery(
    "x55_semantic_dedup", "ext-dedup-semantic ext-similarity custom-operator",
    (s, dir) => semDedup(emb(s, dir), iters = 2, tau = 0.9),
    None) // iterative k-means upstream: gated by SemDedupSpec

  // The SemDeDup paper's actual deployment shape: semantic dedup joined
  // into the corpus-cleaning pipeline ALONGSIDE lexical dedup — the two
  // catch disjoint duplicate classes (rewordings share a meaning vector
  // but no shingles; boilerplate shares shingles but may embed apart), so
  // production runs both and a document must survive both. Cross-modal by
  // id: embeddings.vec_id IS documents.doc_id for the embedded slice of
  // the corpus; docs without an embedding carry no semantic verdict and
  // pass that gate (left join + coalesce false), exactly how a pipeline
  // treats the not-yet-embedded tail.
  //
  // Scale shape: both flag tables carry ONLY ids (longs) into the verdict
  // joins; document text is never selected, and the semantic side reuses
  // x55's no-shuffled-join plan. At 100 TB the verdict join shuffles
  // 8-byte ids — the same discipline as x31's flag joins.
  private val x57 = GQuery(
    "x57_semantic_clean", "ext-dedup-semantic pipeline-composite",
    (s, dir) => {
      val d = graft.Tables(s, dir, "documents")
      val lexKeep = Dedup.cleanCorpus(d)
        .select(col("doc_id"), lit(true).as("lex_keep"))
      val semDup = semDedup(emb(s, dir), iters = 2, tau = 0.9)
        .where(col("is_semantic_dup"))
        .select(col("vec_id").as("doc_id"), lit(true).as("sem_dup"))
      d.select(col("doc_id"), col("lang"))
        .join(lexKeep, Seq("doc_id"), "left")
        .join(semDup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("lex_keep"), lit(false)).as("lex_keep"),
          coalesce(col("sem_dup"), lit(false)).as("sem_dup"))
        .withColumn("keep", col("lex_keep") && !col("sem_dup"))
        .orderBy("doc_id")
    },
    None) // semantic half is k-means-derived: gated by SemDedupSpec

  // Incremental IVF index maintenance — the ingest cycle of the x62 serving
  // architecture: the standing slice (vec_id < 250) built the base index
  // once; each new batch (vec_id >= 250) joins by narrow argmin against the
  // STORED centroids and lands as a cluster-partitioned DELTA segment — no
  // Lloyd, no base-segment read, cost scales with the batch. The probe
  // unions base + delta under the same nprobe partition pruning, so newly
  // ingested vectors are immediately searchable. StoredAnnSpec pins that a
  // planted batch vector is found through the merged probe and that the
  // append path runs no k-means.
  private val x65 = GQuery(
    "x65_ann_ivf_append", "ext-similarity-ann incremental-index stored-artifact",
    (s, dir) => {
      val e = emb(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "ivf_index_incr_v1")
      if (!graft.StoredArtifacts.ready(s"$store/cells"))
        writeIvfIndex(e.where(col("vec_id") < 250), store, iters = 2)
      if (!graft.StoredArtifacts.ready(s"$store/delta"))
        appendIvfDelta(e.where(col("vec_id") >= 250), store, "delta")
      val qvec = queryVec(e, 0)
      probeStoredIvf(s, store, qvec, nprobe = 6, segments = Seq("cells", "delta"))
        .where(col("vec_id") =!= 0)
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    },
    None) // approximate (probe subset): rows-only check + StoredAnnSpec

  // PQ-compressed ANN scan — the memory format of billion-scale serving
  // (Jégou et al. 2011): vectors stored as 8 codebook indexes instead of 64
  // floats (8x here, 32x once byte-packed), scored by asymmetric distance —
  // the query's m×k lookup tables are built once on the driver and each
  // row's cosine estimate is m table additions in one kernel node. The
  // index (per-subspace k-means codebooks + codes table) is a stored
  // artifact built on first touch; the scan never reads a float vector.
  // PqSpec gates the estimator (ADC == exact cosine of the reconstruction,
  // planted near-dups recovered, corrupt vectors → null); this entry pins
  // the end-to-end serving plan.
  private val x67 = GQuery(
    "x67_ann_pq_adc", "ext-similarity-ann compression stored-artifact",
    (s, dir) => {
      import graft.operators.ProductQuantizer
      val e = emb(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "pq_index_v2")
      if (!graft.StoredArtifacts.ready(s"$store/codes")) {
        val cb = ProductQuantizer.train(
          e.select(col("vec_id"), col("embedding")), m = 8, k = 16, iters = 2)
        ProductQuantizer.writeIndex(s, cb,
          ProductQuantizer.encode(e.select(col("vec_id"), col("embedding")), cb,
            packed = true),
          store)
      }
      val cb = ProductQuantizer.readCodebooks(s, store)
      val qvec = queryVec(e, 0)
      s.read.parquet(s"$store/codes")
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"),
          ProductQuantizer.adcScore(col("codes"), cb, qvec).as("sim_adc"))
        .orderBy(col("sim_adc").desc, col("vec_id"))
        .limit(20)
    },
    None) // quantized estimator: gated by PqSpec, rows-only here

  // SQ8 serving — the OTHER standard compression format next to PQ (x67):
  // per-dim byte quantization, 4× smaller than float32, no codebook
  // training (one min/max aggregation is the model). The probe scans ONLY
  // the byte codes through the Sq8AdcScore kernel — exact cosine of the
  // query with each row's reconstruction, all query×table cross terms
  // driver-folded. Where PQ owns the billion-scale RAM budget (32×), SQ8
  // owns the near-lossless tier: Sq8Spec pins reconstruction error to the
  // per-dim bound and recall against the exact scan.
  private val x81 = GQuery(
    "x81_ann_sq8", "ext-similarity-ann compression stored-artifact",
    (s, dir) => {
      import graft.operators.ScalarQuantizer
      val e = emb(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "sq8_index_v1")
      if (!graft.StoredArtifacts.ready(s"$store/codes")) {
        val model = ScalarQuantizer.train(e.select(col("vec_id"), col("embedding")))
        ScalarQuantizer.writeIndex(s, model,
          ScalarQuantizer.encode(e.select(col("vec_id"), col("embedding")), model),
          store)
      }
      val model = ScalarQuantizer.readModel(s, store)
      val qvec = queryVec(e, 0)
      s.read.parquet(s"$store/codes")
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"),
          ScalarQuantizer.adcScore(col("codes"), model, qvec).as("sim_sq8"))
        .orderBy(col("sim_sq8").desc, col("vec_id"))
        .limit(20)
    },
    None) // quantized estimator: gated by Sq8Spec, rows-only here

  /** Build the IVF-SQ8 index — x62's partition pruning composed with
    * x81's byte quantization: the near-LOSSLESS compressed serving tier
    * (FAISS `IVF…,SQ8`). Same one-narrow-pass ingest as IVF-PQ: cell
    * (argmin vs coarse literals) and code (Sq8Encode) computed in a
    * single projection, the float vector read once and stored nowhere.
    * Where IVF-PQ owns the RAM-budget tier (m bytes/vector, reconstruction
    * error from codebook granularity), IVF-SQ8 keeps dim bytes/vector
    * with per-dim error ≤ Δ/510 — recall is near-exact, so no re-rank
    * stage is needed for most serving points.
    */
  def writeIvfSq8Index(e: DataFrame, outDir: String, iters: Int): Unit = {
    import graft.operators.{KMeans, ScalarQuantizer}
    val s = e.sparkSession
    import s.implicits._
    val vecs = e.select(col("vec_id"), col("embedding"))
    val coarse = writeCoarse(e, outDir, iters)
    val model = ScalarQuantizer.train(vecs)
    model.mins.indices.map(d => (d, model.mins(d), model.deltas(d)))
      .toDF("d", "mn", "dl")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/model")
    KMeans.assign(vecs, coarse)
      .select(col("id").as("vec_id"),
        graft.functions.VectorOps.sq8Encode(col("vec"),
          model.mins.toSeq, model.deltas.toSeq).as("codes"),
        col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$outDir/codes")
  }

  /** IVF-SQ8 probe: nprobe partition-pruned byte-code directories scored
    * through the driver-folded [[graft.operators.ScalarQuantizer.adcScore]]
    * kernel — (vec_id, sim_sq8) candidates, callers exclude and top-k.
    */
  def probeIvfSq8(s: SparkSession, indexDir: String, qvec: Array[Double],
      nprobe: Int): DataFrame = {
    import graft.operators.ScalarQuantizer
    val model = ScalarQuantizer.readModel(s, indexDir)
    require(qvec.length == model.dim,
      s"query dim ${qvec.length} != index dim ${model.dim}")
    val coarse = readIvfCentroids(s, indexDir)
    val cells = selectCells(coarse, qvec,
      math.sqrt(qvec.map(x => x * x).sum), nprobe)
    s.read.parquet(s"$indexDir/codes")
      .where(col("cluster").isin(cells: _*))
      .select(col("vec_id"),
        ScalarQuantizer.adcScore(col("codes"), model, qvec).as("sim_sq8"))
  }

  private val x86 = GQuery(
    "x86_ann_ivf_sq8", "ext-similarity-ann compression stored-artifact",
    (s, dir) => {
      val e = emb(s, dir)
      val store = ivfSq8Store(e, dir)
      val qvec = queryVec(e, 0)
      probeIvfSq8(s, store, qvec, nprobe = 6)
        .where(col("vec_id") =!= 0)
        .orderBy(col("sim_sq8").desc, col("vec_id"))
        .limit(20)
    },
    None) // quantized + probe subset: gated by Sq8Spec's IVF composition

  /** The batch code probes' one pruned scan: the code directories of
    * every probed cell, joined to the broadcast (q_id, q_idx, cluster)
    * pairs the kernel scores.
    */
  private def probedCodes(s: SparkSession, indexDir: String,
      pairs: Array[(Long, Int, Int)]): DataFrame = {
    import s.implicits._
    s.read.parquet(s"$indexDir/codes")
      .where(col("cluster").isin(pairs.map(_._3).distinct.sorted: _*))
      .join(broadcast(pairs.toSeq.toDF("q_id", "q_idx", "cluster")), Seq("cluster"))
  }

  /** BATCH IVF-SQ8 probe — [[probeIvfPqBatch]]'s one-scan batch shape at
    * the near-lossless tier, completing the batch-serving matrix across
    * every compression format (flat x71, PQ x75, residual PQ x77, SQ8
    * here). SQ8 splits by query-dependence even more cleanly than PQ: the
    * reconstruction norm (`nLin`/`nQuad`/`n2Base`) is query-independent
    * and stored once in the kernel; only the folded dot weights
    * (`aDot`, B·dim doubles), `dotBase`, and `qnorms` stack per query.
    * The batch is collected to the driver (the same coordinator move as
    * every LUT-based probe — the weights are built where the query
    * vectors are), cells are selected with the single probe's driver
    * arithmetic, and one pruned scan of the unioned cells scores each
    * code row against exactly the queries probing its cell through ONE
    * [[graft.functions.Sq8AdcScoreMulti]] node — bit-identical per query
    * to [[probeIvfSq8]] (Sq8Spec pins scores AND the one-scan plan).
    *
    * The intended batch ceiling is B ≲ 10⁴ queries per call (the
    * [[probeIvfPqBatch]] bound: the folded weights are B·dim doubles,
    * broadcast); micro-batch larger streams into calls of this size.
    *
    * Returns (q_id, vec_id, sim_sq8); callers exclude/top-k.
    */
  def probeIvfSq8Batch(s: SparkSession, indexDir: String, queries: DataFrame,
      nprobe: Int): DataFrame = {
    import graft.operators.ScalarQuantizer
    val model = ScalarQuantizer.readModel(s, indexDir)
    val coarse = readIvfCentroids(s, indexDir)
    val dim = model.dim
    val qRows = queryBatch(queries, dim)
    // per-query folded tables from the SAME loop as the single probe
    val aDot = new Array[Double](qRows.length * dim)
    val dotBase = new Array[Double](qRows.length)
    val qnorms = new Array[Double](qRows.length)
    var nLin: Array[Double] = null
    var nQuad: Array[Double] = null
    var n2Base = 0.0
    for (((_, q), qi) <- qRows.zipWithIndex) {
      val (ad, nl, nq, db, n2, qn) = ScalarQuantizer.adcTables(model, q)
      System.arraycopy(ad, 0, aDot, qi * dim, dim)
      dotBase(qi) = db; qnorms(qi) = qn
      nLin = nl; nQuad = nq; n2Base = n2 // query-independent: same every qi
    }
    // per-query nprobe cells — identical driver arithmetic to the single
    // probe, so identical cells chosen
    val pairs = qRows.zipWithIndex.flatMap { case ((qid, _), qi) =>
      selectCells(coarse, qRows(qi)._2, qnorms(qi), nprobe)
        .map(cell => (qid, qi, cell))
    }
    probedCodes(s, indexDir, pairs)
      .select(col("q_id"), col("vec_id"),
        VectorOps.sq8AdcScoreMulti(col("codes"), col("q_idx"),
          aDot.toSeq, nLin.toSeq, nQuad.toSeq, dotBase.toSeq, n2Base,
          qnorms.toSeq).as("sim_sq8"))
  }

  /** FILTERED ANN probe — the metadata-predicate + vector-search
    * composition every production serving system ships (FAISS
    * `IDSelector`, Milvus/Vespa filtered search): candidates must both
    * be near the query AND satisfy a predicate that lives outside the
    * index. The predicate arrives as an `allowed` id table — the general
    * form, since the index stores no metadata — and is applied as a
    * PRE-filter: a broadcast semi join on `vec_id` between the pruned
    * cell scan and the allowed set, BEFORE any scoring work, so the
    * cosine kernel runs only on rows that can be returned.
    *
    * Scale notes, in scaladoc because they decide real deployments:
    * (a) the broadcast pre-filter is right when the filter is selective
    * (the usual case — a tenant, a language, a date range); a
    * non-selective filter is better POST-applied to the unfiltered
    * probe's top-C (skip the join entirely) — the two give identical
    * results (spec-pinned), the choice is pure economics; (b) low
    * selectivity inside the probed cells starves top-k — production
    * raises nprobe as selectivity drops (Milvus's adaptive rule);
    * the fixture predicate keeps ~half the corpus, so nprobe stays at
    * the unfiltered setting.
    */
  def probeStoredIvfFiltered(s: SparkSession, indexDir: String,
      qvec: Array[Double], nprobe: Int, allowed: DataFrame): DataFrame = {
    val coarse = readIvfCentroids(s, indexDir)
    require(coarse.nonEmpty, s"empty centroid table under $indexDir")
    require(qvec.length == coarse.head.length,
      s"query dim ${qvec.length} != index dim ${coarse.head.length}")
    val qn = math.sqrt(qvec.map(x => x * x).sum)
    val cells = selectCells(coarse, qvec, qn, nprobe)
    val ids = allowed.select(col(allowed.columns(0)).cast("long").as("vec_id"))
    s.read.parquet(s"$indexDir/cells")
      .where(col("cluster").isin(cells: _*))
      .join(broadcast(ids), Seq("vec_id"), "left_semi")
      .select(col("vec_id"),
        VectorOps.cosinePreNorm(col("embedding"), typedLit(qvec), lit(qn))
          .as("sim"))
  }

  // Filtered serving over the stored IVF index: even-label vectors only,
  // top-20 among them — the predicate rides a broadcast id semi join
  // ahead of the scoring kernel. FilteredAnnSpec pins pre ≡ post filter
  // identity, predicate purity of the results, recall vs the exact
  // filtered scan, and the intact pruned-scan plan.
  private val x91 = GQuery(
    "x91_ann_filtered", "ext-similarity-ann stored-artifact filtered-serving",
    (s, dir) => {
      val e = emb(s, dir)
      val store = ivfStore(e, dir)
      val qvec = queryVec(e, 0)
      val allowed = e.where(pmod(col("label"), lit(2)) === 0 &&
        col("vec_id") =!= 0).select(col("vec_id"))
      probeStoredIvfFiltered(s, store, qvec, nprobe = 6, allowed)
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    },
    None) // probe subset: gated by FilteredAnnSpec

  // Batch serving at the near-lossless tier — one pruned scan of byte
  // codes serves an 8-query batch, per-(row, query) scoring through a
  // single stacked-weight SQ8 kernel node, per-query top-10 via
  // GroupedTopK. Completes the batch matrix: every stored compression
  // format (flat / PQ / residual PQ / SQ8) now has a one-scan batch
  // probe. Shares x86's artifact; Sq8Spec pins per-query bit-identity
  // with B single probes and the one-scan plan.
  private val x88 = GQuery(
    "x88_ann_ivf_sq8_batch",
    "ext-similarity-ann compression stored-artifact batch-serving",
    (s, dir) => {
      val e = emb(s, dir)
      val store = ivfSq8Store(e, dir)
      val queries = batchQueries(e)
      batchTop10(probeIvfSq8Batch(s, store, queries, nprobe = 6), "sim_sq8")
    },
    None) // quantized + probe subset: gated by Sq8Spec, rows-only here

  /** Build the IVF-PQ index — x62's partition pruning COMPOSED with x67's
    * compression, the billion-scale serving layout proper: codes (not
    * vectors) stored cluster-partitioned, so a probe reads nprobe
    * directories of m-int codes and float vectors exist nowhere on the
    * read path. PQ here quantizes raw vectors — the simpler estimator;
    * [[writeIvfPqResidualIndex]]/x70 is the residual refinement (encode
    * x − coarse_centroid, per-cell LUTs at probe time) on this same
    * layout.
    */
  def writeIvfPqIndex(e: DataFrame, outDir: String, iters: Int,
      m: Int, kSub: Int): Unit = {
    import graft.operators.{KMeans, ProductQuantizer}
    val s = e.sparkSession
    val vecs = e.select(col("vec_id"), col("embedding"))
    val coarse = writeCoarse(e, outDir, iters)
    val cb = ProductQuantizer.train(vecs, m, kSub, iters)
    ProductQuantizer.writeCodebooks(s, cb, s"$outDir/codebooks")
    // one narrow pass computes BOTH the cell (argmin vs coarse literals)
    // and the code (PqEncode) — the vector is read once and never stored
    writePqCodes(KMeans.assign(vecs, coarse), col("id"), col("vec"), cb, outDir)
  }

  /** IVF-PQ probe: nprobe partition-pruned code directories, ADC-scored —
    * returns (vec_id, sim_adc) candidates; callers exclude and top-k.
    */
  def probeIvfPq(s: SparkSession, indexDir: String, qvec: Array[Double],
      nprobe: Int): DataFrame = {
    import graft.operators.ProductQuantizer
    val cb = ProductQuantizer.readCodebooks(s, indexDir)
    require(qvec.length == cb.m * cb.dsub,
      s"query dim ${qvec.length} != index dim ${cb.m * cb.dsub}")
    // driver-arithmetic cell selection (see probeStoredIvf): the coarse
    // table is already a driver value, and the dim guard above fails fast
    // before any scan is planned
    val coarse = readIvfCentroids(s, indexDir)
    val cells = selectCells(coarse, qvec,
      math.sqrt(qvec.map(x => x * x).sum), nprobe)
    s.read.parquet(s"$indexDir/codes")
      .where(col("cluster").isin(cells: _*))
      .select(col("vec_id"),
        ProductQuantizer.adcScore(col("codes"), cb, qvec).as("sim_adc"))
  }

  /** BATCH IVF-PQ probe — [[probeStoredIvfBatch]]'s one-scan batch shape
    * at PQ compression: the whole query batch is served by a single scan
    * of the unioned nprobe cells of byte-packed codes, each code row
    * scored against exactly the queries probing its cell through ONE
    * multi-query ADC kernel node ([[graft.functions.VectorExpressions.PqAdcScoreMulti]]).
    *
    * Unlike the IVF-flat batch probe (whose queries stay distributed),
    * the batch is COLLECTED to the driver here: ADC's whole point is
    * per-query lookup tables, and those are built where the query
    * vectors are — B·m×k stacked doubles, the coordinator move every
    * LUT-based ANN serving system makes (FAISS batches exactly so).
    * Cell selection is the same driver arithmetic as the single probe,
    * so per-query candidates and scores are identical to B single
    * probes (PqSpec pins both, and the one-scan plan).
    *
    * The intended batch ceiling is B ≲ 10⁴ queries per call (the same
    * driver-sized serving constant as [[rerankExactBatch]]'s topC): the
    * LUT stack is B·m·k doubles and the probe table B·nprobe rows, both
    * broadcast. A larger stream of queries micro-batches into calls of
    * this size — it does not belong in one call.
    *
    * Returns (q_id, vec_id, sim_adc); callers exclude/top-k/re-rank.
    */
  def probeIvfPqBatch(s: SparkSession, indexDir: String, queries: DataFrame,
      nprobe: Int): DataFrame = {
    import graft.operators.ProductQuantizer
    val cb = ProductQuantizer.readCodebooks(s, indexDir)
    val coarse = readIvfCentroids(s, indexDir)
    val qRows = queryBatch(queries, cb.m * cb.dsub)
    // one norm per query, shared by cell selection AND the kernel divisor
    val qnorms = qRows.map { case (_, q) => math.sqrt(q.map(x => x * x).sum) }
    // per-query nprobe cells: B×k driver dots, same tie-break as the
    // single probe — identical cells chosen
    val pairs = qRows.zipWithIndex.flatMap { case ((qid, q), qi) =>
      selectCells(coarse, q, qnorms(qi), nprobe).map(cell => (qid, qi, cell))
    }
    val mk = cb.m * cb.k
    // lutNorm (centroid norms) is query-independent — stored once;
    // lutDot stacks per query, built in the SAME (sub, c, d) loop order
    // as ProductQuantizer.adcScore so scores are bit-identical
    val lutNorm = new Array[Double](mk)
    for (sub <- 0 until cb.m; c <- 0 until cb.k) {
      var n2 = 0.0
      for (d <- 0 until cb.dsub) {
        val cd = cb.flat((sub * cb.k + c) * cb.dsub + d)
        n2 += cd * cd
      }
      lutNorm(sub * cb.k + c) = n2
    }
    val lutDot = new Array[Double](qRows.length * mk)
    for (((_, q), qi) <- qRows.zipWithIndex) {
      for (sub <- 0 until cb.m; c <- 0 until cb.k) {
        var d0 = 0.0
        for (d <- 0 until cb.dsub)
          d0 += q(sub * cb.dsub + d) * cb.flat((sub * cb.k + c) * cb.dsub + d)
        lutDot(qi * mk + sub * cb.k + c) = d0
      }
    }
    probedCodes(s, indexDir, pairs)
      .select(col("q_id"), col("vec_id"),
        VectorOps.pqAdcScoreMulti(col("codes"), col("q_idx"), cb.k,
          lutDot.toSeq, lutNorm.toSeq, qnorms.toSeq).as("sim_adc"))
  }

  // Batch serving × compression — x71's one-scan batch shape over x68's
  // byte-packed IVF-PQ index: an 8-query batch served by one pruned scan
  // of code directories, per-(row, query) ADC through a single stacked-LUT
  // kernel node, per-query top-10 via GroupedTopK. No float vector on the
  // read path AND no per-query pass — the two serving economics composed.
  // Shares x68's stored artifact; PqSpec pins per-query equality with B
  // single probes and the one-scan plan.
  private val x75 = GQuery(
    "x75_ann_ivfpq_batch", "ext-similarity-ann compression stored-artifact batch-serving",
    (s, dir) => {
      val e = emb(s, dir)
      val store = ivfPqStore(e, dir)
      val queries = batchQueries(e)
      batchTop10(probeIvfPqBatch(s, store, queries, nprobe = 6), "sim_adc")
    },
    None) // quantized + probe subset: gated by PqSpec, rows-only here

  /** SQL serving surface for a stored index — the probes were Scala-only
    * APIs, which locked `spark.sql` users out of every index. This
    * registers a probe and the index's metadata as TEMP VIEWS, so plain
    * SQL can select, join, filter, and top-k over index hits:
    *
    * {{{
    *   Similarity.sqlRegister(spark, dir, "ann", qvec, nprobe = 6)
    *   spark.sql("SELECT vec_id, sim FROM ann_hits ORDER BY sim DESC LIMIT 10")
    * }}}
    *
    * Views registered: `<prefix>_hits` (the probe — lazy: the pruned cell
    * scan runs when the SQL runs), `<prefix>_centroids` (the coarse
    * quantizer table). Layout is auto-detected: a manifest-committed
    * index resolves through [[AnnManifest.probe]] (single-snapshot,
    * tombstone-subtracted); the plain layout through [[probeStoredIvf]].
    * Re-registering with the same prefix replaces the views — the
    * serving-side idiom for "new query vector".
    *
    * A view is a NAMED LAZY PLAN, so SQL parity with the Scala probe is
    * structural (SqlSurfaceSpec pins row-identity anyway, plus the join
    * composability that is the point of the SQL surface).
    */
  def sqlRegister(s: SparkSession, indexDir: String, prefix: String,
      qvec: Array[Double], nprobe: Int): Unit = {
    val (hits, centroidsPath) =
      if (graft.StoredManifest.exists(indexDir)) {
        val (gen, _) = graft.StoredManifest.read(indexDir)
        (AnnManifest.probe(s, indexDir, qvec, nprobe),
          s"$indexDir/$gen/centroids")
      } else
        (probeStoredIvf(s, indexDir, qvec, nprobe), s"$indexDir/centroids")
    hits.createOrReplaceTempView(s"${prefix}_hits")
    s.read.parquet(centroidsPath).createOrReplaceTempView(s"${prefix}_centroids")
  }

  /** Fully LAZY distributed batch probe over the stored IVF index — the
    * serving path for the SQL surface and for query tables past the
    * driver-batch ceiling: nothing is collected at plan-build time, so a
    * view over this plan re-evaluates the query table at every SELECT.
    * Cell routing moves IN-PLAN: queries score against the broadcast
    * centroid table and a bounded-heap top-nprobe (GroupedTopK)
    * reproduces [[selectCells]]' exact `(-sim, cell)` ordering; the
    * routed (q, cell) pairs then join the cluster-partitioned cell
    * segment on its partition key (broadcast build side → dynamic
    * partition pruning at production cell counts). Parity with the
    * driver-batch probe is exact in the exact-routing regime
    * (k ≤ CentroidIndex.ExactScanCeiling — SqlSurfaceSpec pins row
    * identity); above the ceiling the batch API's HNSW routing is
    * approximate anyway, and this path's exact in-plan routing is the
    * stronger contract.
    */
  def probeStoredIvfLazy(s: SparkSession, indexDir: String, queries: DataFrame,
      nprobe: Int, segments: Seq[String] = Seq("cells")): DataFrame = {
    import graft.plans.GroupedTopKOps
    GroupedTopKOps.ensureInstalled(s)
    val cents = s.read.parquet(s"$indexDir/centroids")
      .select(col("cluster"), col("centroid"))
    val q = queries.select(
        col(queries.columns(0)).cast("long").as("q_id"),
        col(queries.columns(1)).cast("array<double>").as("qvec"))
      .withColumn("qnorm", VectorOps.l2norm(col("qvec")))
    // deliberate bounded fan-out: |Q| × k coarse scores, never corpus-sized
    val scored = q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("qvec"), col("qnorm"), col("cluster"),
        VectorOps.cosinePreNorm(col("centroid"), col("qvec"), col("qnorm"))
          .as("csim"))
    val routed = GroupedTopKOps.groupedTopK(scored, Seq(col("q_id")),
      Seq(col("csim").desc, col("cluster")), nprobe)
      .select(col("q_id"), col("cluster"), col("qvec"), col("qnorm"))
    segments.map(seg => s.read.parquet(s"$indexDir/$seg")).reduce(_ unionAll _)
      .join(routed.hint("broadcast"), Seq("cluster"))
      .select(col("q_id"), col("vec_id"),
        VectorOps.cosinePreNorm(col("embedding"), col("qvec"), col("qnorm"))
          .as("sim"))
  }

  /** Batch form of [[sqlRegister]]: register a LAZY probe over an
    * existing temp view/table of (q_id, qvec) as `<prefix>_hits`
    * (q_id, vec_id, sim). Nothing resolves at registration — the view
    * re-reads the query table at every SELECT (the
    * [[HnswAnn.sqlRegister]] discipline, via [[probeStoredIvfLazy]]), so
    * rows that appear in the query table appear in the probe with no
    * re-registration, and there is no driver-batch ceiling.
    */
  def sqlRegisterBatch(s: SparkSession, indexDir: String, prefix: String,
      queriesTable: String, nprobe: Int): Unit =
    probeStoredIvfLazy(s, indexDir, s.table(queriesTable), nprobe)
      .createOrReplaceTempView(s"${prefix}_hits")

  /** Build the OPQ-rotated IVF-PQ index — faiss's `OPQ..,IVF..,PQ..`
    * default quality step ([[graft.operators.Opq]]): a learned orthogonal
    * rotation is trained alternately with the codebooks, then the ENTIRE
    * existing IVF-PQ build runs in the rotated space (coarse quantizer,
    * cell assignment, byte-packed codes — zero new machinery). The index
    * stores the rotation as one extra model-sized table; everything else
    * is byte-identical to [[writeIvfPqIndex]]'s layout, which is what
    * lets every probe/batch/re-rank path serve it unmodified.
    */
  def writeIvfOpqIndex(e: DataFrame, outDir: String, iters: Int,
      m: Int, kSub: Int, opqIters: Int): Unit = {
    import graft.operators.{KMeans, Opq, ProductQuantizer}
    val s = e.sparkSession
    val vecs = e.select(col("vec_id"), col("embedding"))
    val (model, cb, trace) = Opq.train(vecs, m, kSub, pqIters = iters,
      opqIters = opqIters)
    Opq.writeModel(s, model, s"$outDir/rotation")
    // convergence diagnostics beside the index — (iter, mse, rot_delta),
    // the record an operator queries to size opqIters (OpqSpec gates the
    // monotone trace through this artifact)
    Opq.writeTrace(s, trace, s"$outDir/opq_trace")
    ProductQuantizer.writeCodebooks(s, cb, s"$outDir/codebooks")
    val rotated = e.select(col("vec_id"),
      model.rotateCol(col("embedding")).as("embedding"), col("label"))
    val coarse = writeCoarse(rotated, outDir, iters)
    writePqCodes(KMeans.assign(rotated.select(col("vec_id"), col("embedding")), coarse),
      col("id"), col("vec"), cb, outDir)
  }

  /** OPQ probe: rotate the query driver-side (the ONLY OPQ-specific move
    * at serve time — model-sized matvec), then the stored index IS an
    * IVF-PQ index in the rotated frame and [[probeIvfPq]] serves it
    * unchanged. Cosine is rotation-invariant, so `sim_adc` approximates
    * the cosine against the ORIGINAL vectors exactly as x68's does —
    * just with the smaller quantization error the rotation buys.
    */
  def probeIvfOpq(s: SparkSession, indexDir: String, qvec: Array[Double],
      nprobe: Int): DataFrame = {
    val model = graft.operators.Opq.readModel(s, s"$indexDir/rotation")
    probeIvfPq(s, indexDir, model.rotate(qvec), nprobe)
  }

  /** Batch OPQ probe — rotate the query column in-frame (one narrow
    * matvec per query row), then [[probeIvfPqBatch]]'s stacked-LUT
    * one-scan path serves the rotated index unchanged. Per-query
    * bit-identity with [[probeIvfOpq]] is inherited from the PQ batch
    * path's pinned identity (OpqSpec re-pins it through the rotation).
    */
  def probeIvfOpqBatch(s: SparkSession, indexDir: String, queries: DataFrame,
      nprobe: Int): DataFrame = {
    val model = graft.operators.Opq.readModel(s, s"$indexDir/rotation")
    val rotated = queries.select(col(queries.columns(0)).as("q_id"),
      model.rotateCol(col(queries.columns(1))).as("qvec"))
    probeIvfPqBatch(s, indexDir, rotated, nprobe)
  }

  // OPQ serving — the learned-rotation tier between raw PQ (x68) and
  // residual PQ (x70): same byte-packed codes, same ADC kernels, same
  // probe plans, strictly lower quantization error (OpqSpec pins the
  // strict MSE win and the batch≡single identity through the rotation).
  private val x111 = GQuery(
    "x111_ann_ivf_opq", "ext-similarity-ann compression stored-artifact learned-rotation",
    (s, dir) => {
      val e = emb(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "ivfopq_index_v2")
      if (!graft.StoredArtifacts.ready(s"$store/codes"))
        writeIvfOpqIndex(e, store, iters = 2, m = 8, kSub = 16, opqIters = 3)
      val qvec = queryVec(e, 0)
      probeIvfOpq(s, store, qvec, nprobe = 6)
        .where(col("vec_id") =!= 0)
        .orderBy(col("sim_adc").desc, col("vec_id"))
        .limit(20)
    },
    None) // quantized + probe subset: gated by OpqSpec

  /** Build the RESIDUAL IVF-PQ index — the refinement x68's scaladoc
    * names, and what faiss's IVFPQ does by default: codes quantize
    * x − c_cell instead of x, so each subspace codebook covers only the
    * within-cell spread (smaller reconstruction error at the same code
    * budget). Residuals are computed in the same ingest pass as the cell
    * assignment; the zip_with arithmetic is interpreted HOF — acceptable
    * at ingest, never on the read path.
    */
  def writeIvfPqResidualIndex(e: DataFrame, outDir: String, iters: Int,
      m: Int, kSub: Int): Unit = {
    import graft.operators.{KMeans, ProductQuantizer}
    val s = e.sparkSession
    val vecs = e.select(col("vec_id"), col("embedding"))
    val coarse = writeCoarse(e, outDir, iters)
    // residual = vec − cell centroid via a BROADCAST join on the cluster
    // key (the centroid table is k-sized — broadcastable by the IVF
    // contract), not an element_at over a k×dim plan literal: the last
    // build-side plan payload that grew with the quantizer
    val resid = KMeans.assign(vecs, coarse)
      .join(broadcast(centroidTable(s, coarse)), Seq("cluster"))
      .select(col("id").as("vec_id"),
        zip_with(col("vec").cast("array<double>"),
          col("centroid"),
          (a, b) => a - b).as("resid"),
        col("cluster"))
      .localCheckpoint(true) // residuals feed trainer AND encoder
    val cb = ProductQuantizer.train(resid.select(col("vec_id"), col("resid")), m, kSub, iters)
    ProductQuantizer.writeCodebooks(s, cb, s"$outDir/codebooks")
    writePqCodes(resid, col("vec_id"), col("resid"), cb, outDir)
  }

  /** Residual IVF-PQ probe: cell selection is PURE DRIVER arithmetic (the
    * coarse table is already k×dim in memory), the per-cell LUTs (incl.
    * the centroid×residual cross terms raw PQ doesn't need) are built
    * once per query, and the scan is nprobe pruned directories of codes
    * scored by one kernel node.
    */
  def probeIvfPqResidual(s: SparkSession, indexDir: String, qvec: Array[Double],
      nprobe: Int): DataFrame = {
    import graft.operators.ProductQuantizer
    val cb = ProductQuantizer.readCodebooks(s, indexDir)
    val coarse = readIvfCentroids(s, indexDir)
    require(qvec.length == cb.m * cb.dsub,
      s"query dim ${qvec.length} != index dim ${cb.m * cb.dsub}")
    val qnorm = math.sqrt(qvec.map(x => x * x).sum)
    val cells = selectCells(coarse, qvec, qnorm, nprobe)
    val mk = cb.m * cb.k
    val lutDot = new Array[Double](mk)
    val lutResidNorm = new Array[Double](mk)
    for (sub <- 0 until cb.m; c <- 0 until cb.k) {
      val cent = cb.centroid(sub, c)
      var d = 0.0; var n2 = 0.0
      for (i <- 0 until cb.dsub) {
        d += qvec(sub * cb.dsub + i) * cent(i)
        n2 += cent(i) * cent(i)
      }
      lutDot(sub * cb.k + c) = d
      lutResidNorm(sub * cb.k + c) = n2
    }
    val lutCross = new Array[Double](cells.length * mk)
    val qDotCell = new Array[Double](cells.length)
    val cellNorm2 = new Array[Double](cells.length)
    for ((cell, ci) <- cells.zipWithIndex) {
      val cc = coarse(cell)
      qDotCell(ci) = dotd(qvec, cc)
      cellNorm2(ci) = dotd(cc, cc)
      for (sub <- 0 until cb.m; c <- 0 until cb.k) {
        val cent = cb.centroid(sub, c)
        var x = 0.0
        for (i <- 0 until cb.dsub) x += cc(sub * cb.dsub + i) * cent(i)
        lutCross(ci * mk + sub * cb.k + c) = x
      }
    }
    s.read.parquet(s"$indexDir/codes")
      .where(col("cluster").isin(cells: _*))
      .select(col("vec_id"),
        graft.functions.VectorOps.pqAdcResidualScore(
          col("codes"), col("cluster"), cb.k, cells,
          lutDot.toSeq, lutResidNorm.toSeq, lutCross.toSeq,
          qDotCell.toSeq, cellNorm2.toSeq, qnorm).as("sim_adc"))
  }

  /** BATCH residual IVF-PQ probe — [[probeIvfPqBatch]]'s one-scan batch
    * shape on the residual layout, closing the family's last single-query
    * asymmetry. The residual decomposition is batch-friendly by
    * construction: the expensive cross-term table (`lutCross`, cell
    * centroid × residual centroids) plus `lutResidNorm`/`cellNorm2` are
    * QUERY-INDEPENDENT — built once for the probed-cell union — and only
    * the small query-side tables stack per query (`lutDot` B·m×k,
    * `qDotCell` B×cells, `qnorms`). One pruned scan of the unioned code
    * cells scores every (row, probing query) pair through a single
    * [[graft.functions.VectorExpressions.PqAdcResidualScoreMulti]] node,
    * bit-identical per query to [[probeIvfPqResidual]] (PqSpec pins it).
    *
    * The intended batch ceiling is B ≲ 10⁴ queries per call (the
    * [[probeIvfPqBatch]] bound — here the stacked side is B·m·k +
    * B·cells doubles); micro-batch larger streams into calls of this
    * size.
    */
  def probeIvfPqResidualBatch(s: SparkSession, indexDir: String,
      queries: DataFrame, nprobe: Int): DataFrame = {
    import graft.operators.ProductQuantizer
    val cb = ProductQuantizer.readCodebooks(s, indexDir)
    val coarse = readIvfCentroids(s, indexDir)
    val qRows = queryBatch(queries, cb.m * cb.dsub)
    val qnorms = qRows.map { case (_, q) => math.sqrt(q.map(x => x * x).sum) }
    val perQueryCells = qRows.zipWithIndex.map { case ((_, q), qi) =>
      selectCells(coarse, q, qnorms(qi), nprobe)
    }
    val cells = perQueryCells.flatten.distinct.sorted.toSeq
    val mk = cb.m * cb.k
    // query-independent tables, once per batch — same loop order as the
    // single probe so scores are bit-identical
    val lutResidNorm = new Array[Double](mk)
    for (sub <- 0 until cb.m; c <- 0 until cb.k) {
      val cent = cb.centroid(sub, c)
      var n2 = 0.0
      for (i <- 0 until cb.dsub) n2 += cent(i) * cent(i)
      lutResidNorm(sub * cb.k + c) = n2
    }
    val lutCross = new Array[Double](cells.length * mk)
    val cellNorm2 = new Array[Double](cells.length)
    for ((cell, ci) <- cells.zipWithIndex) {
      val cc = coarse(cell)
      cellNorm2(ci) = dotd(cc, cc)
      for (sub <- 0 until cb.m; c <- 0 until cb.k) {
        val cent = cb.centroid(sub, c)
        var x = 0.0
        for (i <- 0 until cb.dsub) x += cc(sub * cb.dsub + i) * cent(i)
        lutCross(ci * mk + sub * cb.k + c) = x
      }
    }
    // query-dependent tables, stacked
    val lutDot = new Array[Double](qRows.length * mk)
    val qDotCell = new Array[Double](qRows.length * cells.length)
    for (((_, q), qi) <- qRows.zipWithIndex) {
      for (sub <- 0 until cb.m; c <- 0 until cb.k) {
        val cent = cb.centroid(sub, c)
        var d = 0.0
        for (i <- 0 until cb.dsub) d += q(sub * cb.dsub + i) * cent(i)
        lutDot(qi * mk + sub * cb.k + c) = d
      }
      for ((cell, ci) <- cells.zipWithIndex)
        qDotCell(qi * cells.length + ci) = dotd(q, coarse(cell))
    }
    val pairs = qRows.zipWithIndex.flatMap { case ((qid, _), qi) =>
      perQueryCells(qi).map(cell => (qid, qi, cell))
    }
    probedCodes(s, indexDir, pairs)
      .select(col("q_id"), col("vec_id"),
        VectorOps.pqAdcResidualScoreMulti(col("codes"), col("cluster"),
          col("q_idx"), cb.k, cells, lutDot.toSeq, lutResidNorm.toSeq,
          lutCross.toSeq, qDotCell.toSeq, cellNorm2.toSeq, qnorms.toSeq)
          .as("sim_adc"))
  }

  // Batch residual serving — x75's batch economics on x70's residual
  // layout (the faiss-default form): the cross-term LUTs amortize over
  // the whole batch because they never depended on the query, and the
  // per-query additions are the same m table lookups. Shares x70's
  // stored artifact; PqSpec pins per-query bit-identity with the
  // single-query residual probe.
  private val x77 = GQuery(
    "x77_ann_ivfpqr_batch",
    "ext-similarity-ann compression stored-artifact batch-serving",
    (s, dir) => {
      val e = emb(s, dir)
      val store = ivfPqResidualStore(e, dir)
      val queries = batchQueries(e)
      batchTop10(probeIvfPqResidualBatch(s, store, queries, nprobe = 6), "sim_adc")
    },
    None) // quantized + probe subset: gated by PqSpec, rows-only here

  /** MMR diversified re-rank (Carbonell & Goldstein 1998, maximal
    * marginal relevance) — the serving stage that trades raw similarity
    * for coverage: from a probe's top-C candidates, greedily build a
    * k-set maximizing `λ·rel(i) − (1−λ)·max_{j∈S} sim(i, j)`, so each
    * pick is relevant to the query AND far from what's already chosen.
    * At λ = 1 this is exactly the plain top-k (spec-pinned); lower λ
    * spends rank positions on diversity — the dedup-at-serving-time
    * every RAG/retrieval stack runs when its corpus has near-dup
    * clusters (which is why it lives next to the dedup family here).
    *
    * Scale shape: the greedy loop is inherently sequential in |S| and
    * runs on the DRIVER over the top-C candidates — C is a serving
    * constant (100s–1000s), independent of corpus size, and every
    * production implementation (Vespa/Elastic/LangChain rerankers) does
    * exactly this coordinator-side. The distributed work is what
    * precedes it: the probe's pruned scan and the C-row vector fetch
    * (x72's broadcast id join). The C×C pairwise sims are computed
    * lazily — only the k·C pairs the greedy loop actually inspects.
    */
  def mmrRerank(s: SparkSession, candidates: DataFrame, corpus: DataFrame,
      k: Int, lambda: Double, topC: Int): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1]: $lambda")
    require(k >= 1 && topC >= k, s"need topC >= k >= 1: k=$k topC=$topC")
    require(topC <= 10000,
      s"topC=$topC: the candidate set must stay a driver-sized serving constant")
    val cc = candidates.columns
    val topCands = candidates
      .orderBy(col(cc(1)).desc, col(cc(0)))
      .limit(topC)
      .select(col(cc(0)).cast("long").as("vec_id"),
        col(cc(1)).cast("double").as("rel"))
    val fetched = corpus
      .select(col(corpus.columns(0)).cast("long").as("vec_id"),
        col(corpus.columns(1)).cast("array<double>").as("v"))
      .join(broadcast(topCands), Seq("vec_id"))
      .select(col("vec_id"), col("rel"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray))
      .sortBy { case (id, rel, _) => (-rel, id) }
    require(fetched.nonEmpty, "no candidate vectors found in the corpus")
    val norms = fetched.map { case (_, _, v) => math.sqrt(v.map(x => x * x).sum) }
    def sim(i: Int, j: Int): Double = {
      val (vi, vj) = (fetched(i)._3, fetched(j)._3)
      var d = 0.0; var t = 0
      while (t < vi.length) { d += vi(t) * vj(t); t += 1 }
      val den = norms(i) * norms(j)
      if (den == 0.0) 0.0 else d / den
    }
    val picked = mmrGreedy(fetched.map(_._2), sim, k, lambda)
    import s.implicits._
    picked.zipWithIndex.map { case (i, r) =>
      (r.toLong, fetched(i)._1, fetched(i)._2)
    }.toSeq.toDF("rank", "vec_id", "rel")
  }

  /** The MMR greedy selection itself, over candidates PRESORTED by
    * (rel desc, id): repeatedly take the first strict-max of
    * `λ·rel(i) − (1−λ)·max_{j∈S} sim(i, j)` (bare `rel` for the first
    * pick — same argmax, λ-scaling is monotone), updating each
    * survivor's max-sim against the new member lazily. Extracted
    * (round 12) so x377's integer-scored oracled twin drives the SAME
    * loop the float serving path (x92) runs — every selection decision
    * the twin's DuckDB recursive-CTE oracle hash-verifies is a decision
    * this code made. Returns indices into the presorted candidate
    * order, in pick order.
    */
  private[queries] def mmrGreedy(rel: IndexedSeq[Double],
      sim: (Int, Int) => Double, k: Int, lambda: Double): Seq[Int] = {
    val n = rel.length
    val picked = scala.collection.mutable.ArrayBuffer[Int]()
    val maxSim = Array.fill(n)(0.0)
    val in = Array.fill(n)(false)
    while (picked.length < math.min(k, n)) {
      var best = -1; var bestScore = Double.NegativeInfinity
      for (i <- 0 until n if !in(i)) {
        val score =
          if (picked.isEmpty) rel(i)
          else lambda * rel(i) - (1.0 - lambda) * maxSim(i)
        // strict > with rel-then-id presort makes ties deterministic
        if (score > bestScore) { best = i; bestScore = score }
      }
      in(best) = true
      picked += best
      for (i <- 0 until n if !in(i))
        maxSim(i) = math.max(maxSim(i), sim(i, best))
    }
    picked.toSeq
  }

  // Diversified serving: the stored-IVF probe's top-100 re-ranked by MMR
  // at λ = 0.7 — near-duplicate candidates stop crowding the result page.
  // MmrSpec pins the λ = 1 reduction to plain top-k, the planted-cluster
  // coverage win, and determinism.
  private val x92 = GQuery(
    "x92_ann_mmr_rerank", "ext-similarity-ann filtered-serving diversity",
    (s, dir) => {
      val e = emb(s, dir)
      val store = ivfStore(e, dir)
      val qvec = queryVec(e, 0)
      val cands = probeStoredIvf(s, store, qvec, nprobe = 6)
        .where(col("vec_id") =!= 0)
      mmrRerank(s, cands, e.select(col("vec_id"), col("embedding")),
        k = 20, lambda = 0.7, topC = 100)
        .orderBy("rank")
    },
    None) // probe subset + greedy floats: gated by MmrSpec

  /** Recall-evaluation harness — the continuous-monitoring op every
    * ANN deployment runs: per query, |approx top-k ∩ exact top-k| / k,
    * computed as one inner join on (q_id, vec_id) plus a per-query
    * count. Takes ANY (q_id, vec_id)-shaped result pair, so every
    * stored tier (flat/PQ/residual/SQ8, filtered, re-ranked) can be
    * scored against the brute-force scan — or against another tier —
    * with the same code. Integer counts only; the recall ratio is left
    * to the caller so the output stays exact.
    *
    * Scale shape: both sides are top-k result sets — B·k rows, serving
    * constants — so the join broadcasts; the heavy work (the probe, the
    * exact scan) happens upstream in whatever produced the inputs. The
    * exact side over a real corpus is itself a one-pass GroupedTopK
    * (x27's kNN-join shape), so the harness costs one extra scan, which
    * is exactly what a production recall monitor pays.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val a = approx.select(col(approx.columns(0)).cast("long").as("q_id"),
      col(approx.columns(1)).cast("long").as("vec_id"))
    val e = exact.select(col(exact.columns(0)).cast("long").as("q_id"),
      col(exact.columns(1)).cast("long").as("vec_id"))
    val hits = a.join(e, Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    e.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        lit(k.toLong).as("k"))
      .orderBy("q_id")
  }

  // The recall monitor as a registry query: the batch IVF-flat probe's
  // per-query top-10 scored against the brute-force exact top-10 over
  // the same batch — the number a serving team alarms on. Exact side =
  // one GroupedTopK scan; probe side reuses x71's stored index. Spec
  // pins the self-recall identity (exact vs exact = k/k) and a recall
  // floor for the probe.
  private val x95 = GQuery(
    "x95_ann_recall_eval", "ext-similarity-ann evaluation stored-artifact",
    (s, dir) => {
      import graft.plans.GroupedTopKOps
      GroupedTopKOps.ensureInstalled(s)
      val e = emb(s, dir)
      val store = ivfStore(e, dir)
      val queries = batchQueries(e)
      val probed = probeStoredIvfBatch(s, store, queries, nprobe = 6)
        .where(col("vec_id") =!= col("q_id"))
      val approxTop = GroupedTopKOps.groupedTopK(probed, Seq(col("q_id")),
        Seq(col("sim").desc, col("vec_id")), k = 10)
      val batch = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qvec"),
        VectorOps.l2norm(col("embedding")).as("qnorm"))
      val exactAll = e.select(col("vec_id"), col("embedding"))
        .join(broadcast(batch))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          VectorOps.cosinePreNorm(col("embedding"), col("qvec"),
            col("qnorm")).as("sim"))
      val exactTop = GroupedTopKOps.groupedTopK(exactAll, Seq(col("q_id")),
        Seq(col("sim").desc, col("vec_id")), k = 10)
      recallAtK(approxTop.select("q_id", "vec_id"),
        exactTop.select("q_id", "vec_id"), k = 10)
    },
    None) // probe-derived: gated by RecallEvalSpec

  // ------------------------------------------------------------------- x376
  // Recall harness, ORACLED END-TO-END (the r11 "convertible twin" for
  // x95): the SAME recallAtK join-and-count over two tiers that are BOTH
  // cross-engine exact — the approx side is SQ8-cosine serving done the
  // production way (normalize, quantize each coordinate to
  // ⌊127·x/‖v‖ + ½⌋, rank by INTEGER dot product — every step either
  // integer or deterministic IEEE double), the truth side is x06's
  // bit-reproducible double-cosine kernel. What x95 can't oracle is only
  // its seeded IVF probe; the harness arithmetic — per-query top-10 sets,
  // the (q_id, vec_id) hit join, the left-join zero-fill — hash-verifies
  // here, and the measured number is real: SQ8's quantization recall loss
  // (79/80 at sf0.01). Scale shape: query batch broadcast (8 rows), one
  // corpus scan per tier, GroupedTopK bounded heaps — no global sort, no
  // corpus shuffle.
  /** The two cross-engine-exact serving tiers behind x376/x385/x386:
    * per query (vec_id < 8), the SQ8 normalize-quantize-integer-dot
    * top-10 and the x06-kernel exact-cosine top-10, both with dense
    * per-query positions. ONE definition so the recall, nDCG and MRR
    * monitors can never disagree about what tier they are grading.
    */
  private def sq8AndExactTop10(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.plans.GroupedTopKOps
    GroupedTopKOps.ensureInstalled(s)
    val z = emb(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("zv", expr(
        "transform(emb, x -> cast(floor(127.0 * x / " +
          "sqrt(aggregate(emb, 0.0d, (a, v) -> a + v * v)) + 0.5d) as bigint))"))
    val q = z.where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("emb").as("qd"), col("zv").as("qz"),
        VectorOps.l2norm(col("emb")).as("qnorm"))
    val approxAll = z.join(broadcast(q.select(col("q_id"), col("qz"))))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        expr("aggregate(zip_with(zv, qz, (a, b) -> a * b), 0L, (acc, v) -> acc + v)")
          .as("dot"))
    val wA = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("dot").desc, col("vec_id"))
    val approxTop = GroupedTopKOps.groupedTopK(approxAll, Seq(col("q_id")),
      Seq(col("dot").desc, col("vec_id")), k = 10)
      .withColumn("pos", row_number().over(wA).cast("long"))
    val exactAll = z.join(broadcast(q.select(col("q_id"), col("qd"), col("qnorm"))))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        VectorOps.cosinePreNorm(col("emb"), col("qd"), col("qnorm")).as("sim"))
    val wE = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val exactTop = GroupedTopKOps.groupedTopK(exactAll, Seq(col("q_id")),
      Seq(col("sim").desc, col("vec_id")), k = 10)
      .withColumn("pos", row_number().over(wE).cast("long"))
    (approxTop.select("q_id", "vec_id", "pos"),
      exactTop.select("q_id", "vec_id", "pos"))
  }

  private val x376 = GQuery(
    "x376_ann_recall_sq8_exact",
    "ext-similarity-ann evaluation oracled-twin",
    (s, dir) => {
      val (approxTop, exactTop) = sq8AndExactTop10(s, dir)
      recallAtK(approxTop.select("q_id", "vec_id"),
        exactTop.select("q_id", "vec_id"), k = 10)
    },
    Some("""WITH z AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
              list_transform(CAST(embedding AS DOUBLE[]),
                x -> CAST(floor((127.0 * x)
                  / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) + 0.5)
                  AS BIGINT)) AS zv
            FROM embeddings),
          q AS (SELECT vec_id AS q_id, emb AS qd, zv AS qz
                FROM z WHERE vec_id < 8),
          ax AS (SELECT q.q_id, z.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                     list_dot_product(CAST(z.zv AS DOUBLE[]),
                                      CAST(q.qz AS DOUBLE[])) DESC,
                     z.vec_id) AS rn
                 FROM z, q WHERE z.vec_id <> q.q_id),
          ex AS (SELECT q.q_id, z.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                     (list_dot_product(z.emb, q.qd)
                       / (sqrt(list_dot_product(z.emb, z.emb))
                        * sqrt(list_dot_product(q.qd, q.qd)))) DESC,
                     z.vec_id) AS rn
                 FROM z, q WHERE z.vec_id <> q.q_id),
          hits AS (SELECT a.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
                   FROM (SELECT q_id, vec_id FROM ax WHERE rn <= 10) a
                   JOIN (SELECT q_id, vec_id FROM ex WHERE rn <= 10) e
                     USING (q_id, vec_id)
                   GROUP BY 1)
          SELECT q.q_id, COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
            CAST(10 AS BIGINT) AS k
          FROM (SELECT DISTINCT q_id FROM q) q LEFT JOIN hits h USING (q_id)
          ORDER BY q_id"""))

  // ------------------------------------------------------------------- x377
  // MMR greedy selection, ORACLED (the r11 "convertible twin" for x92):
  // the SAME mmrGreedy loop x92's float serving path runs — presort by
  // (rel desc, id), first pick by bare rel, then strict-first-max of
  // 0.7·rel − 0.3·maxSim with lazy max-sim updates — but with every
  // score cross-engine exact: rel(i) and sim(i, j) are 24-bit md5
  // integers (integer-valued doubles, so λ-arithmetic is deterministic
  // IEEE in both engines), and the DuckDB oracle replays the greedy as
  // a RECURSIVE CTE whose step-k argmax is ORDER BY (score DESC,
  // rel DESC, id) LIMIT 1 — equivalent to the loop's strict > over the
  // presorted order. Every selection decision the loop makes is
  // hash-verified; x92 adds only float cosine scores on top. The
  // candidate fetch (scan, filter, rel projection through Spark's md5)
  // is the distributed part; the greedy is coordinator-side over a
  // serving-constant candidate set, exactly as in x92.
  private val x377 = GQuery(
    "x377_mmr_rerank_exact",
    "ext-similarity-ann filtered-serving oracled-twin",
    (s, dir) => {
      val fetched = emb(s, dir).where(col("vec_id") < 24)
        .select(col("vec_id"),
          expr("cast(conv(substring(md5(concat('rel:', cast(vec_id as string))), 1, 6), 16, 10) as long)")
            .as("rel"))
        .collect() // 24 rows — a driver-sized serving constant, as in x92
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (id, rel) => (-rel, id) }
      def simInt(a: Long, b: Long): Double = {
        val (lo, hi) = (math.min(a, b), math.max(a, b))
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"sim:$lo:$hi".getBytes("UTF-8"))
        md.take(3).foldLeft(0L)((acc, x) => (acc << 8) | (x & 0xffL)).toDouble
      }
      val picked = mmrGreedy(fetched.map(_._2.toDouble),
        (i, j) => simInt(fetched(i)._1, fetched(j)._1), k = 8, lambda = 0.7)
      import s.implicits._
      picked.zipWithIndex.map { case (i, r) =>
        (r.toLong, fetched(i)._1, fetched(i)._2)
      }.toSeq.toDF("rank", "vec_id", "rel")
    },
    Some("""WITH RECURSIVE
          cand AS (
            SELECT vec_id,
              CAST(CAST(CONCAT('0x', substr(md5('rel:' ||
                CAST(vec_id AS VARCHAR)), 1, 6)) AS INT) AS DOUBLE) AS rel
            FROM embeddings WHERE vec_id < 24),
          pick(step, picked) AS (
            SELECT 1, [(SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 1)]
            UNION ALL
            SELECT p.step + 1, list_append(p.picked, (
              SELECT c.vec_id FROM cand c
              WHERE NOT list_contains(p.picked, c.vec_id)
              ORDER BY 0.7 * c.rel - 0.3 * list_aggregate(list_transform(p.picked,
                  j -> CAST(CAST(CONCAT('0x', substr(md5('sim:' ||
                    CAST(least(c.vec_id, j) AS VARCHAR) || ':' ||
                    CAST(greatest(c.vec_id, j) AS VARCHAR)), 1, 6)) AS INT)
                    AS DOUBLE)),
                'max') DESC, c.rel DESC, c.vec_id
              LIMIT 1))
            FROM pick p WHERE p.step < 8)
          SELECT CAST(o.i - 1 AS BIGINT) AS rank, CAST(o.v AS BIGINT) AS vec_id,
            CAST(c.rel AS BIGINT) AS rel
          FROM (SELECT unnest(picked) AS v, generate_subscripts(picked, 1) AS i
                FROM pick WHERE step = 8) o
          JOIN cand c ON c.vec_id = o.v
          ORDER BY rank"""))

  // ------------------------------------------------------------------- x385
  // nDCG@10 of the SQ8 serving tier (Järvelin & Kekäläinen 2002) —
  // completes the retrieval-eval battery (recall x376, AUC x219, AP
  // x265, PR x264) with the GRADED metric serving teams actually report.
  // Relevance grades come from the exact-cosine tier (3 = exact top-3,
  // 2 = top-5, 1 = top-10): grades are then monotone in exact position,
  // so the ideal ordering IS the exact ordering and IDCG needs no extra
  // sort. The 1/log₂(i+1) discounts are a 10-entry micro-integer LADDER
  // (the x367 literal-constant discipline — logs are not cross-engine
  // reproducible, ladder lookups are), so DCG/IDCG/nDCG are exact
  // integers end to end, over the SAME sq8AndExactTop10 tiers as x376.
  //
  // Scale shape: both inputs are B·10-row serving sets; the join and
  // ladder rollup are broadcast-sized. The heavy work (two corpus
  // scans) is the tiers', shared with x376.
  private val x385 = GQuery(
    "x385_ndcg_sq8_exact",
    "ext-similarity-ann evaluation graded ndcg",
    (s, dir) => {
      val (approxTop, exactTop) = sq8AndExactTop10(s, dir)
      val disc = "array(1000000L, 630929L, 500000L, 430676L, 386852L, " +
        "356207L, 333333L, 315464L, 301029L, 289064L)"
      val grades = exactTop.select(col("q_id"), col("vec_id"),
        expr("""case when pos <= 3 then 3L when pos <= 5 then 2L
                else 1L end""").as("grade"),
        col("pos").as("ideal_pos"))
      val dcg = approxTop
        .join(grades.select(col("q_id"), col("vec_id"), col("grade")),
          Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(expr(
          s"coalesce(grade, 0L) * element_at($disc, cast(pos as int))"))
          .as("dcg_micro"))
      val idcg = grades.groupBy(col("q_id"))
        .agg(sum(expr(
          s"grade * element_at($disc, cast(ideal_pos as int))"))
          .as("idcg_micro"))
      dcg.join(idcg, Seq("q_id"))
        .withColumn("ndcg_milli", expr("(1000 * dcg_micro) div idcg_micro"))
        .orderBy("q_id")
    },
    Some("""WITH z AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
              list_transform(CAST(embedding AS DOUBLE[]),
                x -> CAST(floor((127.0 * x)
                  / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) + 0.5)
                  AS BIGINT)) AS zv
            FROM embeddings),
          q AS (SELECT vec_id AS q_id, emb AS qd, zv AS qz
                FROM z WHERE vec_id < 8),
          ax AS (SELECT q.q_id, z.vec_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                     list_dot_product(CAST(z.zv AS DOUBLE[]),
                                      CAST(q.qz AS DOUBLE[])) DESC,
                     z.vec_id) AS BIGINT) AS pos
                 FROM z, q WHERE z.vec_id <> q.q_id),
          ex AS (SELECT q.q_id, z.vec_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                     (list_dot_product(z.emb, q.qd)
                       / (sqrt(list_dot_product(z.emb, z.emb))
                        * sqrt(list_dot_product(q.qd, q.qd)))) DESC,
                     z.vec_id) AS BIGINT) AS pos
                 FROM z, q WHERE z.vec_id <> q.q_id),
          g AS (SELECT q_id, vec_id, pos AS ideal_pos,
                  CASE WHEN pos <= 3 THEN 3 WHEN pos <= 5 THEN 2 ELSE 1 END
                    AS grade
                FROM ex WHERE pos <= 10),
          dcg AS (SELECT a.q_id,
                    CAST(SUM(COALESCE(g.grade, 0)
                      * ([1000000, 630929, 500000, 430676, 386852, 356207,
                          333333, 315464, 301029, 289064])[a.pos]) AS BIGINT)
                      AS dcg_micro
                  FROM (SELECT * FROM ax WHERE pos <= 10) a
                  LEFT JOIN g ON g.q_id = a.q_id AND g.vec_id = a.vec_id
                  GROUP BY 1),
          idcg AS (SELECT q_id,
                     CAST(SUM(grade
                       * ([1000000, 630929, 500000, 430676, 386852, 356207,
                           333333, 315464, 301029, 289064])[ideal_pos])
                       AS BIGINT) AS idcg_micro
                   FROM g GROUP BY 1)
          SELECT dcg.q_id, dcg_micro, idcg_micro,
            (1000 * dcg_micro) // idcg_micro AS ndcg_milli
          FROM dcg JOIN idcg USING (q_id) ORDER BY q_id"""))

  // ------------------------------------------------------------------- x386
  // MRR@10 of the SQ8 tier against the exact top-3 targets — the
  // "how fast does the user see a truly-best result" readout next to
  // x385's graded quality: reciprocal rank is RATIONAL (1e6 div rank,
  // exact; 0 when no exact-top-3 member surfaces in the serving
  // top-10), so unlike log-discounted metrics it needs no ladder. The
  // batch mean repeats on every row (one window) so the scalar a
  // dashboard tracks is in the same exact table.
  //
  // Scale shape: x385's — serving-set-sized joins over the shared
  // tiers.
  private val x386 = GQuery(
    "x386_mrr_sq8_exact",
    "ext-similarity-ann evaluation reciprocal rank",
    (s, dir) => {
      val (approxTop, exactTop) = sq8AndExactTop10(s, dir)
      val wAll = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val targets = exactTop.where(col("pos") <= 3)
        .select(col("q_id"), col("vec_id"))
      approxTop
        .join(targets, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(min(col("pos")).as("hit_rank"))
        .join(exactTop.select("q_id").distinct(), Seq("q_id"), "right")
        .select(col("q_id"),
          coalesce(col("hit_rank"), lit(0L)).as("first_hit_rank"),
          expr("""case when hit_rank is not null
               then 1000000L div hit_rank else 0L end""").as("rr_micro"))
        .withColumn("sum_rr", sum(col("rr_micro")).over(wAll))
        .withColumn("n_q", count(lit(1)).over(wAll))
        .withColumn("mrr_micro", expr("sum_rr div n_q"))
        .drop("sum_rr", "n_q")
        .orderBy("q_id")
    },
    Some("""WITH z AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
              list_transform(CAST(embedding AS DOUBLE[]),
                x -> CAST(floor((127.0 * x)
                  / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) + 0.5)
                  AS BIGINT)) AS zv
            FROM embeddings),
          q AS (SELECT vec_id AS q_id, emb AS qd, zv AS qz
                FROM z WHERE vec_id < 8),
          ax AS (SELECT q.q_id, z.vec_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                     list_dot_product(CAST(z.zv AS DOUBLE[]),
                                      CAST(q.qz AS DOUBLE[])) DESC,
                     z.vec_id) AS BIGINT) AS pos
                 FROM z, q WHERE z.vec_id <> q.q_id),
          ex AS (SELECT q.q_id, z.vec_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                     (list_dot_product(z.emb, q.qd)
                       / (sqrt(list_dot_product(z.emb, z.emb))
                        * sqrt(list_dot_product(q.qd, q.qd)))) DESC,
                     z.vec_id) AS BIGINT) AS pos
                 FROM z, q WHERE z.vec_id <> q.q_id),
          hits AS (SELECT a.q_id, MIN(a.pos) AS hit_rank
                   FROM (SELECT * FROM ax WHERE pos <= 10) a
                   JOIN (SELECT q_id, vec_id FROM ex WHERE pos <= 3) t
                     ON t.q_id = a.q_id AND t.vec_id = a.vec_id
                   GROUP BY 1),
          rr AS (SELECT q.q_id,
                   CAST(COALESCE(h.hit_rank, 0) AS BIGINT) AS first_hit_rank,
                   CAST(CASE WHEN h.hit_rank IS NOT NULL
                     THEN 1000000 // h.hit_rank ELSE 0 END AS BIGINT)
                     AS rr_micro
                 FROM (SELECT DISTINCT q_id FROM q) q
                 LEFT JOIN hits h USING (q_id))
          SELECT q_id, first_hit_rank, rr_micro,
            CAST(SUM(rr_micro) OVER () // COUNT(*) OVER () AS BIGINT)
              AS mrr_micro
          FROM rr ORDER BY q_id"""))

  // ------------------------------------------------------------------- x397
  // Kendall rank agreement of the SQ8 serving tier (Kendall 1938) —
  // the 4th standard serving-eval monitor after recall@10 (x376),
  // nDCG@10 (x385) and MRR@10 (x386), and the one that answers the
  // question the other three can't: among the items BOTH tiers return,
  // does SQ8 preserve the exact tier's ORDER? Per query, over the
  // intersection of the two top-10s (shared sq8AndExactTop10 — one
  // definition, four monitors, no drift): concordant/discordant pair
  // counts (positions are strict, so no ties) and τ = (C−D)/(C+D) in
  // millis. The integer division of a possibly-negative numerator is
  // routed through a sign-split CASE (nonnegative division then
  // negate) because Spark's `div` truncates toward zero while DuckDB's
  // `//` floors — they agree only on nonnegative operands.
  //
  // Scale shape: x376's — the heavy work is the two shared corpus
  // scans; the intersection join and the ≤45-pairs-per-query self-join
  // are serving-batch-sized.
  private val x397 = GQuery(
    "x397_rank_tau_sq8_exact",
    "ext-similarity-ann evaluation rank-correlation oracled",
    (s, dir) => {
      val (approxTop, exactTop) = sq8AndExactTop10(s, dir)
      val common = approxTop.withColumnRenamed("pos", "pa")
        .join(exactTop.withColumnRenamed("pos", "pe"), Seq("q_id", "vec_id"))
        .select(col("q_id"), col("vec_id"), col("pa"), col("pe"))
      val pr = common.as("l").join(common.as("r"),
          col("l.q_id") === col("r.q_id") &&
            col("l.vec_id") < col("r.vec_id"))
        .groupBy(col("l.q_id").as("q_id"))
        .agg(
          sum(when((col("l.pa") < col("r.pa")) === (col("l.pe") < col("r.pe")),
            1L).otherwise(0L)).as("concordant"),
          sum(when((col("l.pa") < col("r.pa")) =!= (col("l.pe") < col("r.pe")),
            1L).otherwise(0L)).as("discordant"))
      val nc = common.groupBy(col("q_id")).agg(count(lit(1)).as("n_common"))
      // driver row set anchored on the QUERY TABLE (vec_id < 8), exactly
      // as the oracle's SELECT DISTINCT q_id FROM q — anchoring on
      // approxTop's q_ids (the r13 form) would drop a query whose top-10
      // came back empty on a degenerate corpus while the oracle still
      // emits its zero row; the other three monitors in the family
      // already anchor this way (r13 ADVICE #1)
      emb(s, dir).where(col("vec_id") < 8)
        .select(col("vec_id").as("q_id")).distinct()
        .join(nc, Seq("q_id"), "left")
        .join(pr, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          coalesce(col("concordant") + col("discordant"), lit(0L))
            .as("n_pairs"),
          coalesce(col("concordant"), lit(0L)).as("concordant"),
          coalesce(col("discordant"), lit(0L)).as("discordant"),
          expr("""cast(case when concordant + discordant > 0 then
                case when concordant >= discordant
                  then (1000 * (concordant - discordant))
                    div (concordant + discordant)
                  else -((1000 * (discordant - concordant))
                    div (concordant + discordant)) end
              end as bigint)""").as("tau_milli"))
        .orderBy("q_id")
    },
    Some("""WITH z AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
              list_transform(CAST(embedding AS DOUBLE[]),
                x -> CAST(floor((127.0 * x)
                  / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) + 0.5)
                  AS BIGINT)) AS zv
            FROM embeddings),
          q AS (SELECT vec_id AS q_id, emb AS qd, zv AS qz
                FROM z WHERE vec_id < 8),
          ax AS (SELECT q.q_id, z.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                     list_dot_product(CAST(z.zv AS DOUBLE[]),
                                      CAST(q.qz AS DOUBLE[])) DESC,
                     z.vec_id) AS rn
                 FROM z, q WHERE z.vec_id <> q.q_id),
          ex AS (SELECT q.q_id, z.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                     (list_dot_product(z.emb, q.qd)
                       / (sqrt(list_dot_product(z.emb, z.emb))
                        * sqrt(list_dot_product(q.qd, q.qd)))) DESC,
                     z.vec_id) AS rn
                 FROM z, q WHERE z.vec_id <> q.q_id),
          com AS (SELECT a.q_id, a.vec_id,
                    CAST(a.rn AS BIGINT) AS pa, CAST(e.rn AS BIGINT) AS pe
                  FROM (SELECT q_id, vec_id, rn FROM ax WHERE rn <= 10) a
                  JOIN (SELECT q_id, vec_id, rn FROM ex WHERE rn <= 10) e
                    USING (q_id, vec_id)),
          pr AS (SELECT x.q_id,
                   CAST(SUM(CASE WHEN (x.pa < y.pa) = (x.pe < y.pe)
                     THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
                   CAST(SUM(CASE WHEN (x.pa < y.pa) <> (x.pe < y.pe)
                     THEN 1 ELSE 0 END) AS BIGINT) AS discordant
                 FROM com x JOIN com y
                   ON x.q_id = y.q_id AND x.vec_id < y.vec_id
                 GROUP BY 1),
          nc AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_common
                 FROM com GROUP BY 1)
          SELECT qd.q_id,
            COALESCE(nc.n_common, CAST(0 AS BIGINT)) AS n_common,
            COALESCE(pr.concordant + pr.discordant, CAST(0 AS BIGINT))
              AS n_pairs,
            COALESCE(pr.concordant, CAST(0 AS BIGINT)) AS concordant,
            COALESCE(pr.discordant, CAST(0 AS BIGINT)) AS discordant,
            CAST(CASE WHEN pr.concordant + pr.discordant > 0 THEN
              CASE WHEN pr.concordant >= pr.discordant
                THEN (1000 * (pr.concordant - pr.discordant))
                  // (pr.concordant + pr.discordant)
                ELSE -((1000 * (pr.discordant - pr.concordant))
                  // (pr.concordant + pr.discordant)) END
            END AS BIGINT) AS tau_milli
          FROM (SELECT DISTINCT q_id FROM q) qd
          LEFT JOIN nc USING (q_id) LEFT JOIN pr USING (q_id)
          ORDER BY q_id"""))

  // ------------------------------------------------------------------- x400
  // SQ8 code-magnitude occupancy — the quantizer-health monitor the
  // serving trio presumes: per power-of-two magnitude band of |code|,
  // how many codes land there, plus range utilization max|code|/127 in
  // millis. A quantizer whose mass sits far below 127 wastes resolution
  // (every unused top band is a lost bit of precision: here the
  // fixture's unit-normalized embeddings peak at |code|≈62 — one bit
  // idle), and a mass AT 127 means clipping; both are invisible to
  // recall/nDCG until they get bad. Bands are literal integer bounds,
  // counts exact integers; the same normalize-quantize map as
  // sq8AndExactTop10 (the x31 one-definition discipline), hash-oracled.
  //
  // Scale shape: ONE corpus scan; per-row higher-order filters (7
  // bounded passes over a 64-length array), one global map-side-
  // combinable aggregate, then a 7-row stack — no join, no shuffle
  // beyond the single agg.
  private val x400 = GQuery(
    "x400_sq8_code_occupancy",
    "ext-similarity-ann compression quantizer-occupancy oracled",
    (s, dir) => {
      val bands = Seq((0L, 0L, 0L), (1L, 1L, 7L), (2L, 8L, 15L),
        (3L, 16L, 31L), (4L, 32L, 63L), (5L, 64L, 126L), (6L, 127L, 127L))
      val z = emb(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("zv", expr(
          "transform(emb, x -> cast(floor(127.0 * x / " +
            "sqrt(aggregate(emb, 0.0d, (a, v) -> a + v * v)) + 0.5d) as bigint))"))
      val aggCols = bands.map { case (b, lo, hi) =>
        sum(expr(s"size(filter(zv, c -> abs(c) >= ${lo}L and abs(c) <= ${hi}L))")
          .cast("long")).as(s"s$b")
      } ++ Seq(
        sum(expr("size(zv)").cast("long")).as("total_codes"),
        max(expr("array_max(transform(zv, c -> abs(c)))")).as("max_abs"))
      val stackExpr = bands.map { case (b, lo, hi) =>
        s"${b}L, ${lo}L, ${hi}L, s$b"
      }.mkString(s"stack(${bands.size}, ", ", ", ") as (band, lo, hi, n_codes)")
      z.agg(aggCols.head, aggCols.tail: _*)
        .selectExpr(stackExpr, "total_codes", "max_abs")
        .select(col("band"), col("lo"), col("hi"), col("n_codes"),
          expr("cast((1000000 * n_codes) div total_codes as bigint)")
            .as("codes_ppm"),
          col("max_abs").as("max_abs_code"),
          expr("cast((1000 * max_abs) div 127 as bigint)").as("util_milli"))
        .orderBy("band")
    },
    Some("""WITH z AS (SELECT vec_id,
              list_transform(CAST(embedding AS DOUBLE[]),
                x -> CAST(floor((127.0 * x)
                  / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) + 0.5)
                  AS BIGINT)) AS zv
            FROM embeddings),
          b AS (SELECT CAST(unnest([0, 1, 2, 3, 4, 5, 6]) AS BIGINT) AS band,
                  CAST(unnest([0, 1, 8, 16, 32, 64, 127]) AS BIGINT) AS lo,
                  CAST(unnest([0, 7, 15, 31, 63, 126, 127]) AS BIGINT) AS hi),
          per AS (SELECT b.band, b.lo, b.hi,
                    CAST(SUM(len(list_filter(z.zv,
                      c -> abs(c) >= b.lo AND abs(c) <= b.hi))) AS BIGINT)
                      AS n_codes
                  FROM z, b GROUP BY 1, 2, 3),
          tot AS (SELECT CAST(SUM(len(zv)) AS BIGINT) AS total_codes,
                    CAST(MAX(list_max(list_transform(zv, c -> abs(c))))
                      AS BIGINT) AS max_abs
                  FROM z)
          SELECT band, lo, hi, n_codes,
            CAST((1000000 * n_codes) // (SELECT total_codes FROM tot)
              AS BIGINT) AS codes_ppm,
            (SELECT max_abs FROM tot) AS max_abs_code,
            CAST((1000 * (SELECT max_abs FROM tot)) // 127 AS BIGINT)
              AS util_milli
          FROM per ORDER BY band"""))

  // ------------------------------------------------------------------- x401
  // SQ8 per-dimension bias — x400's occupancy profile aggregated the
  // WRONG way round for drift detection: a corpus whose embeddings
  // develop a dimension-level offset (a fine-tune, a pooling change, a
  // normalization bug upstream) keeps its magnitude histogram while
  // individual dimensions drift off zero — visible only per-dimension.
  // Per dim: signed code sum and milli mean (sign-split integer
  // division, the x397 rule: Spark `div` truncates, DuckDB `//`
  // floors), mean |code| and max |code|. Same quantize map as the
  // serving trio.
  //
  // Scale shape: one corpus scan, posexplode to (dim, code), ONE
  // map-side-combinable aggregate over a |dim|-sized key domain.
  private val x401 = GQuery(
    "x401_sq8_dim_bias",
    "ext-similarity-ann compression per-dimension bias oracled",
    (s, dir) => {
      emb(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("zv", expr(
          "transform(emb, x -> cast(floor(127.0 * x / " +
            "sqrt(aggregate(emb, 0.0d, (a, v) -> a + v * v)) + 0.5d) as bigint))"))
        .select(posexplode(col("zv")).as(Seq("dim", "c")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("c")).as("sum_code"),
          sum(abs(col("c"))).as("sum_abs"),
          max(abs(col("c"))).as("max_abs"))
        .select(col("dim"), col("n_vecs"), col("sum_code"),
          expr("""cast(case when sum_code >= 0
                then (1000 * sum_code) div n_vecs
                else -((1000 * -sum_code) div n_vecs) end as bigint)""")
            .as("mean_code_milli"),
          expr("cast((1000 * sum_abs) div n_vecs as bigint)")
            .as("mean_abs_milli"),
          col("max_abs"))
        .orderBy("dim")
    },
    Some("""WITH z AS (SELECT vec_id,
              list_transform(CAST(embedding AS DOUBLE[]),
                x -> CAST(floor((127.0 * x)
                  / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) + 0.5)
                  AS BIGINT)) AS zv
            FROM embeddings),
          u AS (SELECT unnest(zv) AS c, generate_subscripts(zv, 1) AS pos
                FROM z),
          g AS (SELECT CAST(pos - 1 AS BIGINT) AS dim,
                  CAST(COUNT(*) AS BIGINT) AS n_vecs,
                  CAST(SUM(c) AS BIGINT) AS sum_code,
                  CAST(SUM(abs(c)) AS BIGINT) AS sum_abs,
                  CAST(MAX(abs(c)) AS BIGINT) AS max_abs
                FROM u GROUP BY 1)
          SELECT dim, n_vecs, sum_code,
            CAST(CASE WHEN sum_code >= 0 THEN (1000 * sum_code) // n_vecs
              ELSE -((1000 * -sum_code) // n_vecs) END AS BIGINT)
              AS mean_code_milli,
            CAST((1000 * sum_abs) // n_vecs AS BIGINT) AS mean_abs_milli,
            max_abs
          FROM g ORDER BY dim"""))

  /** Driver-side md5 bucket, bit-equal to [[writeHashCells]]'s in-plan
    * assignment (first 8 hex of md5("ix:"+id) as unsigned int, mod 16):
    * the x404 twin selects its probe cells from this map on the driver,
    * exactly where [[probeStoredIvf]] runs [[selectCells]].
    */
  private[queries] def md5Bucket16(id: Long): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"ix:$id".getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex, 16) % 16).toInt
  }

  /** x404's substrate — [[writeHashCells]] grown the embedding payload
    * and the base+delta split: the SAME on-disk layout [[writeIvfIndex]]
    * and [[appendIvfDelta]] produce (cluster-partitioned parquet of
    * (vec_id, embedding)), with the assignment the deterministic md5
    * bucket instead of trained float centroids. The delta segment is
    * assigned by the SAME frozen map — faithfully mirroring x65's
    * append contract (new batches assign against the STORED quantizer,
    * never retrain).
    */
  def writeHashCellsServe(e: DataFrame, outDir: String): Unit = {
    val assigned = e.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"),
      expr("""CAST(conv(substring(md5(concat('ix:',
                cast(vec_id as string))), 1, 8), 16, 10) AS BIGINT)
              % 16""").as("cluster"))
    assigned.where(col("vec_id") < 250)
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$outDir/cells")
    assigned.where(col("vec_id") >= 250)
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$outDir/delta")
  }

  // ------------------------------------------------------------------- x404
  // Stored-serving exact twin (r13 VERDICT task 5, the x396 pattern
  // applied to the SERVING read path): x62/x65's probe — stored
  // cluster-partitioned base+delta segments, literal-IN static partition
  // pruning, cosine re-rank, global top-20 — had no oracle because cell
  // SELECTION runs against k-means-trained float centroids. This row
  // drives the IDENTICAL scan (shared [[scanStoredCells]] — the serving
  // path and its twin cannot disagree) over the deterministic md5-bucket
  // substrate, with the probe set the 6 cyclically-next buckets from the
  // query's own bucket — a driver literal exactly like the trained
  // path's selectCells result, mirrored in SQL by modular arithmetic.
  // Base+delta union means the x65 append read path (frozen-assigner
  // delta, immediately searchable) is oracled too. Ranks and
  // floor-microquantized sims are exact integers (the cosine kernel is
  // the bit-reproducible x06/x376 arithmetic; floor of a bit-identical
  // double is engine-identical). What x62/x65 add on top is only the
  // trained cell-selection content, whose recall/equality StoredAnnSpec
  // pins.
  //
  // Scale shape: identical to x62/x65 serving — 6 of 16 partition
  // directories scanned once per segment, no corpus shuffle, bounded
  // TakeOrderedAndProject top-20.
  private val x404 = GQuery(
    "x404_ann_stored_serving_exact",
    "ext-similarity-ann stored-serving exact twin",
    (s, dir) => {
      val e = emb(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "hash_cells_serve_v1")
      if (!graft.StoredArtifacts.ready(s"$store/cells"))
        writeHashCellsServe(e, store)
      val qvec = queryVec(e, 0)
      val qn = math.sqrt(qvec.map(x => x * x).sum)
      val qb = md5Bucket16(0L)
      val cells = (0 until 6).map(i => (qb + i) % 16)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("sim").desc, col("vec_id"))
      scanStoredCells(s, store, cells, qvec, qn, Seq("cells", "delta"))
        .where(col("vec_id") =!= 0)
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("pos"), col("vec_id"),
          expr("cast(floor(1000000 * sim) as bigint)").as("sim_micro"))
        .orderBy("pos")
    },
    Some("""WITH b AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
                CAST(CAST(CONCAT('0x', substr(md5('ix:' ||
                  CAST(vec_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
                  % 16 AS cluster
              FROM embeddings),
            q AS (SELECT emb AS qd, cluster AS qc,
                    sqrt(list_dot_product(emb, emb)) AS qn
                  FROM b WHERE vec_id = 0),
            cand AS (
              SELECT b.vec_id,
                list_dot_product(b.emb, q.qd)
                  / (sqrt(list_dot_product(b.emb, b.emb)) * q.qn) AS sim
              FROM b, q
              WHERE b.vec_id <> 0
                AND ((b.cluster - q.qc + 16) % 16) < 6),
            top AS (
              SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id)
                  AS BIGINT) AS pos,
                vec_id, CAST(floor(1000000 * sim) AS BIGINT) AS sim_micro
              FROM cand)
            SELECT pos, vec_id, sim_micro FROM top
            WHERE pos <= 20 ORDER BY pos"""))

  /** Stage 2 of two-stage ANN serving: EXACT re-rank of ADC candidates —
    * the step that makes PQ recall production-grade. Stage 1 (an ADC scan,
    * x67/x68/x70) never reads a float vector and its scores carry
    * quantization error: within a cell, vectors sharing codes tie and
    * rank arbitrarily. This stage takes the ADC top-`topC` candidate ids
    * (C ≈ 5k in production — a broadcast-sized id set, independent of
    * corpus size), fetches ONLY those ids' true vectors by equi-join, and
    * scores them with the exact cosine kernel; callers take the final
    * top-k from the C re-scored rows.
    *
    * Scale shape: the candidate side is C rows of (id) — broadcast; the
    * fetch reads two columns (id, vector) and only C rows survive the
    * join. With the corpus bucketed/sorted by id the fetch is a point
    * lookup; even unbucketed it is one column-pruned scan, and the
    * re-rank arithmetic is C exact cosines — microseconds. PqSpec pins
    * that re-ranked recall strictly beats raw ADC on structure
    * quantization erased, and that exactly C vectors are fetched.
    *
    * @param corpus     (vec_id, embedding) — the true-vector table
    * @param candidates first column: id, second: ADC score (as returned
    *                   by the stage-1 probes)
    */
  def rerankExact(corpus: DataFrame, candidates: DataFrame, qvec: Array[Double],
      topC: Int): DataFrame = {
    val qcol = typedLit(qvec)
    val qnorm = lit(math.sqrt(qvec.map(x => x * x).sum))
    val candIds = candidates
      .orderBy(col(candidates.columns(1)).desc, col(candidates.columns(0)))
      .limit(topC)
      .select(col(candidates.columns(0)).as("vec_id"))
    corpus.join(broadcast(candIds), "vec_id")
      .select(col("vec_id"),
        VectorOps.cosinePreNorm(col("embedding"), qcol, qnorm).as("sim"))
  }

  /** Batch form of [[rerankExact]]: per-QUERY ADC top-`topC` candidates
    * (GroupedTopK bounded heaps — no global sort of the scored stream),
    * one fetch join of the distinct candidate ids against the corpus, and
    * exact re-scoring of each (query, candidate) pair. Candidate and
    * query tables are broadcast-sized (B·C ids, B vectors); the corpus is
    * read once. Per-query results are identical to B single-query
    * [[rerankExact]] calls (PqSpec pins it).
    *
    * @param corpus     (vec_id, embedding)
    * @param candidates (q_id, vec_id, score) — stage-1 batch probe output
    * @param queries    first column: query id, second: vector
    */
  def rerankExactBatch(corpus: DataFrame, candidates: DataFrame,
      queries: DataFrame, topC: Int): DataFrame = {
    import graft.plans.GroupedTopKOps
    GroupedTopKOps.ensureInstalled(corpus.sparkSession)
    val q = queries.select(
        col(queries.columns(0)).cast("long").as("q_id"),
        col(queries.columns(1)).cast("array<double>").as("qvec"))
      .withColumn("qnorm", VectorOps.l2norm(col("qvec")))
    val top = GroupedTopKOps.groupedTopK(
        candidates.toDF("q_id", "vec_id", "score"),
        Seq(col("q_id")), Seq(col("score").desc, col("vec_id")), k = topC)
      .select(col("q_id"), col("vec_id"))
    corpus.join(broadcast(top), "vec_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"),
        VectorOps.cosinePreNorm(col("embedding"), col("qvec"), col("qnorm")).as("sim"))
  }

  // The full batch serving composition — every stage of the production ANN
  // path at once: batch IVF-PQ probe (one pruned scan of byte-packed
  // codes, stacked-LUT ADC), per-query ADC top-100, one corpus fetch of
  // the candidate union, exact re-rank, per-query exact top-10. Stage-1
  // economics × stage-2 recall × batch amortization. Shares x68's stored
  // artifact; PqSpec pins per-query equality with the single-query
  // two-stage path.
  private val x76 = GQuery(
    "x76_ann_batch_rerank", "ext-similarity-ann serving-path two-stage batch-serving",
    (s, dir) => {
      import graft.plans.GroupedTopKOps
      GroupedTopKOps.ensureInstalled(s)
      val e = emb(s, dir)
      val store = ivfPqStore(e, dir)
      val queries = batchQueries(e)
      val cands = probeIvfPqBatch(s, store, queries, nprobe = 6)
        .where(col("vec_id") =!= col("q_id"))
      val exact = rerankExactBatch(
        e.select(col("vec_id"), col("embedding")), cands, queries, topC = 100)
      GroupedTopKOps.groupedTopK(exact, Seq(col("q_id")),
        Seq(col("sim").desc, col("vec_id")), k = 10)
        .orderBy(col("q_id"), col("sim").desc, col("vec_id"))
    },
    None) // quantized stage-1 candidates: gated by PqSpec, rows-only here

  // Two-stage ANN serving — the production composition of the PQ family:
  // stage 1 probes the stored IVF-PQ index (nprobe pruned cells of byte-
  // packed codes, no float reads), stage 2 re-ranks the ADC top-100 by
  // exact cosine over just those 100 fetched vectors. Recall comes from
  // stage 2; scan economics from stage 1 — the shape every billion-scale
  // ANN deployment serves (FAISS's IVFPQ+refine). Shares x68's stored
  // artifact; PqSpec pins the strict recall win and the bounded fetch.
  private val x72 = GQuery(
    "x72_ann_pq_rerank", "ext-similarity-ann serving-path two-stage stored-artifact",
    (s, dir) => {
      val e = emb(s, dir)
      val store = ivfPqStore(e, dir)
      val qvec = queryVec(e, 0)
      val cands = probeIvfPq(s, store, qvec, nprobe = 6)
        .where(col("vec_id") =!= 0)
      rerankExact(e.select(col("vec_id"), col("embedding")), cands, qvec, topC = 100)
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    },
    None) // quantized stage-1 candidates: gated by PqSpec, rows-only here

  // Residual IVF-PQ serving scan — x68 with the faiss-default residual
  // refinement: codes quantize x − c_cell, the probe's per-cell LUTs add
  // the centroid×residual cross terms, and the ADC estimate is the exact
  // cosine of q and c_cell + r̂. Same pruned, float-free read path as x68
  // with strictly smaller reconstruction error at the same code budget
  // (PqSpec pins both the exactness and the error reduction).
  private val x70 = GQuery(
    "x70_ann_ivfpq_residual", "ext-similarity-ann compression stored-artifact",
    (s, dir) => {
      val e = emb(s, dir)
      val store = ivfPqResidualStore(e, dir)
      val qvec = queryVec(e, 0)
      probeIvfPqResidual(s, store, qvec, nprobe = 6)
        .where(col("vec_id") =!= 0)
        .orderBy(col("sim_adc").desc, col("vec_id"))
        .limit(20)
    },
    None) // quantized + probe subset: gated by PqSpec, rows-only here

  // IVF-PQ serving scan — the composition the two previous entries build
  // toward: x62's nprobe partition pruning over x67's 8x-compressed codes.
  // A probe touches nprobe directories of m-int codes; no float vector
  // exists anywhere on the read path, which is the layout that makes a
  // 100 TB ANN index a few TB of RAM-resident codes. PqSpec gates the
  // pruned+compressed probe on planted clusters; rows-only here.
  private val x68 = GQuery(
    "x68_ann_ivfpq", "ext-similarity-ann compression stored-artifact",
    (s, dir) => {
      val e = emb(s, dir)
      val store = ivfPqStore(e, dir)
      val qvec = queryVec(e, 0)
      probeIvfPq(s, store, qvec, nprobe = 6)
        .where(col("vec_id") =!= 0)
        .orderBy(col("sim_adc").desc, col("vec_id"))
        .limit(20)
    },
    None) // quantized + probe subset: gated by PqSpec, rows-only here

  // BATCH ANN serving from the stored IVF index — x62 without its one-
  // query-per-pass limitation: an 8-query batch probes the index in ONE
  // pruned scan of the unioned nprobe cells, each scanned row scored
  // against exactly the queries probing its cell, per-query top-10 via
  // GroupedTopK bounded heaps. Shares x62's stored artifact (built on
  // first touch); StoredAnnSpec pins per-query equality with N single
  // probes and the single-scan plan.
  private val x71 = GQuery(
    "x71_ann_ivf_batch", "ext-similarity-ann stored-artifact serving-path batch-serving",
    (s, dir) => {
      val e = emb(s, dir)
      val store = ivfStore(e, dir)
      val queries = batchQueries(e)
      batchTop10(probeStoredIvfBatch(s, store, queries, nprobe = 6), "sim")
    },
    None) // approximate (probe subset): rows-only check + StoredAnnSpec

  /** RANGE search over the stored IVF index — the radius form of ANN
    * serving (FAISS `range_search`): for each query, ALL corpus vectors
    * with cosine ≥ tau among the probed cells, not a fixed top-k. This is
    * the near-duplicate-lookup shape (x09 as a SERVED operation instead of
    * a corpus self-join): dedup-at-ingest asks "which existing docs is
    * this batch a near-copy of", and the answer set's size is
    * data-dependent, which is exactly what top-k cannot express.
    *
    * Scale shape: identical to the batch probe (one statically pruned
    * scan of the unioned nprobe cells, broadcast probe table, per-row
    * kernel cosine) with the top-k heap replaced by a threshold filter
    * pushed onto the scored scan — cheaper than top-k (no per-query heap
    * state, no GroupedTopK exchange) and the output is candidate-bounded
    * by construction since tau bounds the result like a radius bounds a
    * ball. Results are DETERMINISTIC given the stored index (cell choice
    * and scan set are index-pure); RangeSearchSpec pins equivalence with
    * a brute-force threshold scan restricted to the same cells, plus a
    * recall floor against the global exact range set.
    */
  def rangeSearchBatch(s: SparkSession, indexDir: String, queries: DataFrame,
      nprobe: Int, tau: Double, segments: Seq[String] = Seq("cells")): DataFrame =
    probeStoredIvfBatch(s, indexDir, queries, nprobe, segments)
      .where(col("sim") >= tau)

  private val x100 = GQuery(
    "x100_ann_range_search", "ext-similarity-ann stored-artifact serving-path range-query",
    (s, dir) => {
      val e = emb(s, dir)
      val store = ivfStore(e, dir)
      val queries = batchQueries(e)
      rangeSearchBatch(s, store, queries, nprobe = 6, tau = 0.3)
        .where(col("vec_id") =!= col("q_id"))
        .orderBy(col("q_id"), col("sim").desc, col("vec_id"))
    },
    None) // approximate (probe subset): rows-only check + RangeSearchSpec

  /** IVF index-health report — the serving-ops monitor behind every probe
    * latency SLO: per-cell population from the STORED index plus the
    * roll-up a capacity planner reads (k, total vectors, min/max/mean cell
    * size, imbalance = max/mean in thousandths). Cell skew is what decides
    * probe TAIL latency — a probe touching one hot cell pays that cell's
    * scan, whatever the mean says — and the fix (re-train or split hot
    * cells, x73's compaction) starts from exactly this table.
    *
    * Scale shape: index-only — one scan of the cells table reading ONLY
    * the partition column (cluster), one domain-sized (k rows) aggregate,
    * one broadcast scalar join for the totals; the corpus and the vector
    * payloads are never read (IndexStatsSpec pins both via ReadSchema and
    * scan locations).
    */
  def ivfIndexStats(s: SparkSession, indexDir: String,
      segments: Seq[String] = Seq("cells")): DataFrame = {
    val perCell = segments.map { seg =>
        s.read.parquet(s"$indexDir/$seg").select(col("cluster"))
      }.reduce(_ unionAll _)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
    val totals = perCell.agg(
      count(lit(1)).as("k"), sum(col("n_vecs")).as("n_total"),
      min(col("n_vecs")).as("cell_min"), max(col("n_vecs")).as("cell_max"))
    perCell.crossJoin(broadcast(totals))
      .select(col("cluster"), col("n_vecs"), col("k"), col("n_total"),
        col("cell_min"), col("cell_max"),
        expr("(1000 * cell_max * k) div n_total").as("imbalance_milli"))
      .orderBy("cluster")
  }

  private val x105 = GQuery(
    "x105_ann_index_stats", "ext-similarity-ann stored-artifact index-monitor",
    (s, dir) => {
      ivfIndexStats(s, ivfStore(emb(s, dir), dir))
    },
    None) // k-means-derived index contents: gated by IndexStatsSpec

  /** Deterministic hash-bucketed cells segment — x396's substrate: the
    * SAME on-disk layout [[ivfIndexStats]] serves (a `cells` parquet
    * partitioned by the `cluster` directory column), with the assignment
    * an integer md5 bucket (first 8 hex of md5('ix:'||vec_id), mod 16 —
    * the x42 hash discipline) instead of trained float centroids, so the
    * monitor's whole read path runs under an oracle-reproducible
    * partition.
    */
  def writeHashCells(e: DataFrame, outDir: String): Unit =
    e.select(col("vec_id"),
        expr("""CAST(conv(substring(md5(concat('ix:',
                  cast(vec_id as string))), 1, 8), 16, 10) AS BIGINT)
                % 16""").as("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$outDir/cells")

  // ------------------------------------------------------------------- x396
  // Index-monitor exact twin (r12 VERDICT task 5, the x332/x376 pattern):
  // x105's report runs over a k-means index whose float training is not
  // cross-engine reproducible, so the MONITOR itself had no oracle. This
  // row drives the IDENTICAL harness — a stored cells segment on disk,
  // the same ivfIndexStats index-only scan and k-domain rollup (shared
  // function: the monitor and its twin cannot disagree) — over a
  // DETERMINISTIC partition, cluster = md5 bucket of vec_id, which DuckDB
  // mirrors bit-for-bit. Every output column (per-cell counts, k, total,
  // min/max, max/mean imbalance in thousandths) is exact integer
  // arithmetic, hash-oracled end-to-end; what x105 adds on top is only
  // the trained-content substrate, whose invariants IndexStatsSpec pins.
  //
  // Scale shape: identical to x105 — the stored segment is scanned once
  // reading ONLY the cluster partition column; k-domain rollup plus one
  // broadcast scalar join. The only cast is the partition-directory
  // column's int→long (the driver's hash is representation-sensitive;
  // the oracle ships BIGINT).
  private val x396 = GQuery(
    "x396_index_stats_exact", "ext-similarity-ann index-monitor exact twin",
    (s, dir) => {
      val store = graft.StoredArtifacts.dir(dir, "hash_cells_v1")
      if (!graft.StoredArtifacts.ready(s"$store/cells"))
        writeHashCells(emb(s, dir), store)
      ivfIndexStats(s, store)
        .select(col("cluster").cast("long").as("cluster"), col("n_vecs"),
          col("k"), col("n_total"), col("cell_min"), col("cell_max"),
          col("imbalance_milli"))
    },
    Some("""WITH assign AS (
              SELECT CAST(CAST(CONCAT('0x', substr(md5('ix:' ||
                CAST(vec_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
                % 16 AS cluster
              FROM embeddings),
            pc AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs
                   FROM assign GROUP BY 1),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                      CAST(SUM(n_vecs) AS BIGINT) AS n_total,
                      CAST(MIN(n_vecs) AS BIGINT) AS cell_min,
                      CAST(MAX(n_vecs) AS BIGINT) AS cell_max
                    FROM pc)
            SELECT cluster, n_vecs, k, n_total, cell_min, cell_max,
              CAST((1000 * cell_max * k) // n_total AS BIGINT)
                AS imbalance_milli
            FROM pc, tot ORDER BY cluster"""))

  // Manifest-committed IVF lifecycle — x65's base+delta layout under the
  // AnnManifest pointer protocol: init (gen_0 + manifest), delta append
  // (segment commit AFTER the data is complete), compaction (whole next
  // generation, then ONE atomic pointer flip), all exercised at first
  // touch; every invocation then probes through the manifest.
  // ManifestAnnSpec kills compaction after every step prefix and proves a
  // probe always serves one complete generation.
  private val x73 = GQuery(
    "x73_ann_ivf_manifest", "ext-similarity-ann incremental-index stored-artifact crash-safe",
    (s, dir) => {
      val e = emb(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "ivf_manifest_v1")
      if (!graft.StoredManifest.exists(store)) {
        AnnManifest.init(e.where(col("vec_id") < 250), store, iters = 2)
        AnnManifest.append(e.where(col("vec_id") >= 250), store, "delta_1")
        AnnManifest.compact(s, store, iters = 1)
      }
      val qvec = queryVec(e, 0)
      AnnManifest.probe(s, store, qvec, nprobe = 6)
        .where(col("vec_id") =!= 0)
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    },
    None) // approximate (probe subset): rows-only check + ManifestAnnSpec

  // Deletion lifecycle — the manifest index under the one mutation x73's
  // lifecycle lacked: committed tombstone segments subtract ids from every
  // probe immediately (logical delete, O(deleted) cost), and the next
  // compaction rewrites the cells without them (physical delete) so the
  // tombstone set never grows corpus-sized. First touch exercises
  // init → delete → probe; DeleteAnnSpec drives idempotency, the
  // compaction fold, and crash windows.
  private val x108 = GQuery(
    "x108_ann_delete", "ext-similarity-ann incremental-index delete-lifecycle",
    (s, dir) => {
      val e = emb(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "ivf_delete_v1")
      if (!graft.StoredManifest.exists(store)) {
        AnnManifest.init(e, store, iters = 2)
        AnnManifest.delete(
          e.where(col("vec_id") % 7 === 0).select(col("vec_id")), store, "mod7")
      }
      val qvec = queryVec(e, 1)
      AnnManifest.probe(s, store, qvec, nprobe = 6)
        .where(col("vec_id") =!= 1)
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    },
    None) // approximate (probe subset): rows-only check + DeleteAnnSpec

  // Streaming ingest into the manifest-committed index — x73's lifecycle
  // driven by Structured Streaming: two embedding arrival files land as
  // separate micro-batches (maxFilesPerTrigger = 1), each foreachBatch
  // cycle bootstraps/appends through graft.SegmentLog's manifest commit,
  // and maxSegments = 1 forces the in-loop compaction so the full
  // init → append → compact lifecycle runs inside the one stream. The
  // probe serves vectors from BOTH batches through the final manifest.
  // At-least-once re-delivery is deduped by the segment-name watermark
  // (StreamingAnnIngestSpec drives the crash/re-delivery windows).
  private val x78 = GQuery(
    "x78_ann_ingest_stream",
    "ext-similarity-ann streaming incremental-index crash-safe",
    (s, dir) => {
      val e = emb(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "ann_ingest_v1")
      val index = s"$store/index"
      if (!graft.StoredManifest.exists(index)) {
        val arrivals = s"$store/arrivals"
        e.where(col("vec_id") < 250).coalesce(1)
          .write.mode("append").parquet(arrivals)
        e.where(col("vec_id") >= 250).coalesce(1)
          .write.mode("append").parquet(arrivals)
        graft.streaming.AnnIngestStream
          .start(s, arrivals, index, s"$store/ckpt",
            iters = 2, maxSegments = 1)
          .awaitTermination()
      }
      val qvec = queryVec(e, 0)
      AnnManifest.probe(s, index, qvec, nprobe = 6)
        .where(col("vec_id") =!= 0)
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    },
    None) // approximate (probe subset): rows-only check + StreamingAnnIngestSpec

  // Incremental semantic dedup — x32/x52's ingest-cycle shape for MEANING:
  // the standing slice (vec_id < 250) built its index once (2 Lloyd
  // refinements, per-cluster representatives — persisted via
  // graft.StoredArtifacts on first touch), and the new batch
  // (vec_id >= 250) is verdicted against that STORED index: narrow argmin
  // to stored centroid literals, one broadcast join with the k-row rep
  // table. Cost scales with the batch; the standing corpus is never
  // rescanned (IncrementalSemDedupSpec pins scans, joins, and the planted
  // catch/spare behavior).
  private val x64 = GQuery(
    "x64_semantic_dedup_incremental",
    "ext-dedup-semantic incremental-index stored-artifact",
    (s, dir) => {
      val e = emb(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "sem_index_v1")
      if (!graft.StoredArtifacts.ready(s"$store/reps")) {
        val (cs, reps) = semIndex(e.where(col("vec_id") < 250), iters = 2)
        writeSemIndex(s, cs, reps, store)
      }
      val (centroids, reps) = readSemIndex(s, store)
      semDedupIncremental(e.where(col("vec_id") >= 250), centroids, reps, tau = 0.9)
    },
    None) // k-means-derived index: gated by IncrementalSemDedupSpec

  // ------------------------------------------------------------------- x204
  // Matryoshka truncation-recall curve (Kusupati et al. 2022's MRL eval):
  // top-20 retrieval under PREFIX-dimension cosine (d = 8/16/32/64)
  // scored against the full-dimension top-20 — the measurement that
  // decides how far a serving tier can truncate stored vectors (a 4×
  // dimension cut is a 4× index-size and ADC-bandwidth cut) before
  // recall pays. Everything is exact and deterministic: prefix slices
  // accumulate left-to-right like the full kernel, ties break (sim desc,
  // vec_id), recall is integer thousandths — so a retrieval-quality
  // CURVE hash-verifies cross-engine. Scale shape: one corpus scan
  // fanned |dims|× by a generator, bounded per-d heaps (GroupedTopK),
  // then joins over 20-row sets.
  private val x204 = GQuery(
    "x204_matryoshka_recall", "ext-similarity-ann truncation-recall eval",
    (s, dir) => {
      import graft.plans.GroupedTopKOps
      GroupedTopKOps.ensureInstalled(s)
      val e = emb(s, dir)
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qfull"))
      val scored = e.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"), col("qfull"),
          explode(typedLit(Seq(8, 16, 32, 64))).as("d"))
        .select(col("vec_id"), col("d"),
          VectorOps.cosine(
            slice(col("embedding").cast("array<double>"), lit(1), col("d")),
            slice(col("qfull"), lit(1), col("d"))).as("sim"))
      val top = GroupedTopKOps.groupedTopK(scored, Seq(col("d")),
        Seq(col("sim").desc, col("vec_id")), 20)
        .select(col("d"), col("vec_id"))
      val base = top.where(col("d") === 64)
        .select(col("vec_id"), lit(1L).as("hit"))
      top.join(broadcast(base), Seq("vec_id"), "left")
        .groupBy("d")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("d").cast("int").as("d"), col("n_hits"),
          expr("(1000 * n_hits) div 20").as("recall_milli"))
        .orderBy("d")
    },
    Some("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 0),
            dd AS (SELECT unnest([8, 16, 32, 64]) AS d),
            s AS (
              SELECT dd.d, e.vec_id,
                list_dot_product(list_slice(CAST(e.embedding AS DOUBLE[]), 1, dd.d),
                                 list_slice(q.qv, 1, dd.d))
                  / (sqrt(list_dot_product(list_slice(CAST(e.embedding AS DOUBLE[]), 1, dd.d),
                                           list_slice(CAST(e.embedding AS DOUBLE[]), 1, dd.d)))
                   * sqrt(list_dot_product(list_slice(q.qv, 1, dd.d),
                                           list_slice(q.qv, 1, dd.d)))) AS sim
              FROM embeddings e, dd, q WHERE e.vec_id <> 0),
            t AS (
              SELECT d, vec_id FROM (
                SELECT d, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY d ORDER BY sim DESC, vec_id) AS rk
                FROM s)
              WHERE rk <= 20),
            b AS (SELECT vec_id FROM t WHERE d = 64)
            SELECT CAST(t.d AS INT) AS d,
              CAST(COUNT(b.vec_id) AS BIGINT) AS n_hits,
              (1000 * CAST(COUNT(b.vec_id) AS BIGINT)) // 20 AS recall_milli
            FROM t LEFT JOIN b ON t.vec_id = b.vec_id
            GROUP BY t.d ORDER BY d"""))

  // ------------------------------------------------------------------- x232
  // Greedy k-center coreset (Gonzalez 1985 farthest-first traversal) —
  // the diversity-sampling primitive of data curation: pick k points so
  // every vector sits within the covering radius of some pick (a provable
  // 2-approximation of the optimal k-center cover). The selection order
  // IS the curriculum many coreset pipelines use (most-novel-first).
  //
  // Engine-exact: coordinates quantize ONCE to integer millis
  // (round(x·1000) — the x202 round-after-float discipline), so every
  // squared-L2 distance is an exact integer ≤ 64·10⁶ and the
  // (max dist, min vec_id) selection is a total order both engines walk
  // identically; the DuckDB oracle replays the k steps as generated
  // chained CTEs (the x124 unrolled-iteration discipline — dot products
  // of integer lists are exact in its doubles).
  //
  // Scale shape: k passes, each ONE narrow map over (vec_id, running
  // min-dist) + a (dist, id)-ordered limit-1 — O(n·k) total work, no
  // pairwise matrix; the per-step driver collect is the 1-row argmax.
  private val KCenterK = 8

  private def milliVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      // cast to double BEFORE the multiply: a float multiply would round
      // differently than DuckDB's double arithmetic
      expr("transform(embedding, " +
        "x -> cast(round(cast(x as double) * 1000, 0) as bigint))")
        .as("v"))

  /** d²(v, center) as an exact-integer column, center as a literal. */
  private def d2ToCenter(center: Seq[Long]): org.apache.spark.sql.Column =
    expr(s"""aggregate(zip_with(v, array(${center.mkString(",")}L),
        (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)""")

  private def dropCkpt(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  def kcenterCoreset(e: DataFrame, k: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val pts = milliVecs(e).localCheckpoint(true)
    val seedRow = pts.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("v")).head()
    var centers = Seq((0, seedRow.getLong(0), 0L))
    var curCenter = seedRow.getSeq[Long](1)
    // running min-dist table, one checkpointed generation at a time (the
    // Checkpoints.drop retention discipline — without the unpersist,
    // k generations of the embedding table stay pinned per run)
    var dist = pts.select(col("vec_id"), col("v"),
      d2ToCenter(curCenter).as("d")).localCheckpoint(true)
    dropCkpt(pts)
    for (step <- 1 until k) {
      val next0 = dist.orderBy(col("d").desc, col("vec_id")).limit(1).head()
      centers = centers :+ ((step, next0.getLong(0), next0.getLong(2)))
      curCenter = next0.getSeq[Long](1)
      if (step < k - 1) {
        val refreshed = dist.select(col("vec_id"), col("v"),
          least(col("d"), d2ToCenter(curCenter)).as("d"))
          .localCheckpoint(true)
        dropCkpt(dist)
        dist = refreshed
      }
    }
    centers.toDF("step", "vec_id", "radius")
      .select(col("step").cast("int").as("step"), col("vec_id"),
        col("radius"))
      .orderBy("step")
  }

  /** Generated unrolled-CTE oracle for [[kcenterCoreset]]. */
  private def kcenterOracle(k: Int): String = {
    val steps = (1 until k).map { i =>
      s"""d$i AS (
           SELECT p.vec_id, p.v,
             LEAST(d${i - 1}.d, CAST(
               list_inner_product(p.v, c$i.v) * (-2)
               + list_inner_product(p.v, p.v)
               + list_inner_product(c$i.v, c$i.v) AS BIGINT)) AS d
           FROM p JOIN d${i - 1} ON p.vec_id = d${i - 1}.vec_id
           CROSS JOIN c$i),
         c${i + 1} AS (
           SELECT vec_id, v, d FROM d$i
           ORDER BY d DESC, vec_id LIMIT 1)"""
    }.mkString(",\n")
    val rows = (2 to k).map(i =>
      s"SELECT ${i - 1} AS step, vec_id, d AS radius FROM c$i").mkString(
      "\nUNION ALL\n")
    s"""WITH p AS (
          SELECT vec_id,
            [CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
             FOR x IN embedding] AS v
          FROM embeddings),
        c1 AS (SELECT vec_id, v FROM p ORDER BY vec_id LIMIT 1),
        d0 AS (SELECT vec_id, v, CAST(9223372036854775807 AS BIGINT) AS d
               FROM p),
        $steps
        SELECT CAST(step AS INT) AS step, vec_id, CAST(radius AS BIGINT)
          AS radius
        FROM (
          SELECT 0 AS step, vec_id, 0 AS radius FROM c1
          UNION ALL
          $rows)
        ORDER BY step"""
  }

  private val x232 = GQuery(
    "x232_kcenter_coreset", "ext-similarity diversity-sampling k-center",
    (s, dir) => kcenterCoreset(emb(s, dir), KCenterK),
    Some(kcenterOracle(KCenterK)))

  // ------------------------------------------------------------------- x279
  // Exact range-search twin of x100 (the oracle-conversion discipline
  // x277 set for filtered serving, applied to range queries): the same
  // 8-query batch answered by the exact brute-force scan in
  // milli-quantized integer squared-L2 — every corpus vector within
  // d² ≤ 1.5·10⁶ of each query, self excluded, (q_id, d2, vec_id)
  // ordered. x100's stored-IVF probe answers the cosine form fast from
  // index cells; this row answers the L2 form EXACTLY and hash-verifies,
  // so the range family owns a cross-engine ground-truth row the way the
  // top-k family owns x277.
  //
  // Scale shape: the 8-query side broadcasts (bounded by the batch, not
  // the corpus); the corpus streams through one narrow scan with the
  // threshold applied in-pipeline — output is bounded by true range
  // density, nothing corpus-sized shuffles.
  private val RangeTauSq = 1500000L

  private val x279 = GQuery(
    "x279_range_search_exact",
    "ext-similarity-ann range-query exact-twin",
    (s, dir) => {
      val base = emb(s, dir).select(col("vec_id"),
        expr("transform(embedding, x -> round(cast(x as double) * 1000))")
          .as("mi"))
      val qs = base.where(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("mi").as("qv"))
      base.crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          graft.functions.VectorOps.sqDist(col("mi"), col("qv"))
            .cast("long").as("d2"))
        .where(col("d2") <= RangeTauSq)
        .orderBy("q_id", "d2", "vec_id")
    },
    Some(s"""WITH e AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS DOUBLE)) AS mi
              FROM embeddings),
            q AS (SELECT vec_id AS q_id, mi AS qv FROM e WHERE vec_id < 8),
            d AS (
              SELECT q.q_id, e.vec_id,
                CAST(list_dot_product(mi, mi) + list_dot_product(qv, qv)
                  - 2 * list_dot_product(mi, qv) AS BIGINT) AS d2
              FROM e, q WHERE e.vec_id <> q.q_id)
            SELECT q_id, vec_id, d2 FROM d
            WHERE d2 <= $RangeTauSq
            ORDER BY q_id, d2, vec_id"""))

  // ------------------------------------------------------------------- x311
  // Per-label embedding centroid drift — the clustering-health read next
  // to x291's norm audit: how far does each label's centroid sit from
  // the global centroid, dimension-exact? A label whose drift collapses
  // toward 0 carries no geometric signal (its vectors are
  // indistinguishable from the corpus); one dimension dominating
  // max_dim_drift is a feature-scaling bug. All arithmetic is exact
  // integers: each float coordinate enters as floor(v·10⁶) (floor, not
  // round/cast — the one truncation both engines define identically; the
  // float→double widening before the multiply is exact in both), and
  // centroids use truncating integer division (Spark `div` ≡ DuckDB `//`
  // including negatives), so the drift table hash-verifies.
  //
  // Scale shape: one posexplode to (label, dim) granularity with
  // map-side-combinable integer sums — the exchange carries the
  // (labels×64)-row grid, never vectors — then a 64-row-per-label join
  // and a label-domain rollup. At 100 TB the grid is still labels×dims.
  private val x311 = GQuery(
    "x311_centroid_drift", "ext-embedding cluster-health centroid-drift",
    (s, dir) => {
      val m = emb(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("label"), col("pos"),
          floor(col("v").cast("double") * lit(1000000.0)).as("micro"))
      val perLabel = m.groupBy(col("label"), col("pos"))
        .agg(sum(col("micro")).as("s"), count(lit(1)).as("c"))
      val global = m.groupBy(col("pos"))
        .agg(sum(col("micro")).as("sg"), count(lit(1)).as("cg"))
      perLabel.join(broadcast(global), "pos")
        .withColumn("diff", expr("(s div c) - (sg div cg)"))
        .groupBy(col("label"))
        .agg(max(col("c")).as("n_vecs"),
          sum(col("diff") * col("diff")).as("drift_sq_micro2"),
          max(abs(col("diff"))).as("max_dim_drift_micro"))
        .orderBy("label")
    },
    Some("""WITH m AS (
              SELECT label,
                CAST(unnest(range(len(embedding))) AS BIGINT) AS pos,
                CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS micro
              FROM embeddings),
            pl AS (SELECT label, pos, CAST(SUM(micro) AS BIGINT) AS s,
                     CAST(COUNT(*) AS BIGINT) AS c
                   FROM m GROUP BY 1, 2),
            g AS (SELECT pos, CAST(SUM(micro) AS BIGINT) AS sg,
                    CAST(COUNT(*) AS BIGINT) AS cg
                  FROM m GROUP BY 1),
            d AS (SELECT label, (s // c) - (sg // cg) AS diff, c
                  FROM pl JOIN g USING (pos))
            SELECT label, MAX(c) AS n_vecs,
              CAST(SUM(diff * diff) AS BIGINT) AS drift_sq_micro2,
              CAST(MAX(ABS(diff)) AS BIGINT) AS max_dim_drift_micro
            FROM d GROUP BY 1 ORDER BY 1"""))

  // ------------------------------------------------------------------- x345
  // Class-imbalance weight plan (the inverse-frequency and
  // median-frequency-balancing schemes of Eigen & Fergus 2015, the
  // standard re-weighting menu a training pipeline emits alongside a
  // labeled dataset): per label, its count, the inverse-frequency weight
  // N/(K·n_c) and the median-frequency weight median(n)/n_c, both in
  // exact milli-units. The median is the x278 nearest-rank discipline
  // (lower median: smallest count at rank ≥ K/2, ties broken by label),
  // so every cell is a floor division of integers both engines share.
  //
  // Scale shape: one label rollup off the embeddings table, then
  // label-domain windows (K rows — the single-partition WindowExec is a
  // constant-size fold, the x275 shape, not a data-sized sort).
  private val x345 = GQuery(
    "x345_class_weight_plan", "ext-ml class-imbalance weight plan",
    (s, dir) => {
      val wAll = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val wOrd = org.apache.spark.sql.expressions.Window
        .orderBy(col("n"), col("label"))
      emb(s, dir)
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .withColumn("k_classes", count(lit(1)).over(wAll))
        .withColumn("n_total", sum(col("n")).over(wAll))
        .withColumn("n_med",
          min(when(col("rn") * 2 >= col("k_classes"), col("n"))).over(wAll))
        .select(col("label"), col("n"), col("k_classes"), col("n_total"),
          expr("cast((1000 * n_total) div (k_classes * n) as bigint)")
            .as("inv_freq_milli"),
          expr("cast((1000 * n_med) div n as bigint)")
            .as("median_freq_milli"))
        .orderBy("label")
    },
    Some("""WITH g AS (
              SELECT CAST(label AS BIGINT) AS label,
                CAST(COUNT(*) AS BIGINT) AS n
              FROM embeddings GROUP BY 1),
            r AS (
              SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n, label)
                  AS BIGINT) AS rn,
                CAST(COUNT(*) OVER () AS BIGINT) AS k_classes,
                CAST(SUM(n) OVER () AS BIGINT) AS n_total
              FROM g),
            m AS (
              SELECT *, MIN(CASE WHEN rn * 2 >= k_classes THEN n END)
                  OVER () AS n_med
              FROM r)
            SELECT label, n, k_classes, n_total,
              CAST((1000 * n_total) // (k_classes * n) AS BIGINT)
                AS inv_freq_milli,
              CAST((1000 * n_med) // n AS BIGINT) AS median_freq_milli
            FROM m ORDER BY 1"""))

  val queries: Seq[GQuery] =
    Seq(x06, x07, x07b, x08, x09, x26, x27, x40, x48, x50, x55, x57, x62, x64,
      x65, x67, x68, x70, x71, x72, x73, x75, x76, x77, x78, x81, x86, x88,
      x91, x92, x95, x100, x105, x396, x108, x109, x111, x204, x232, x279, x311,
      x345, x376, x377, x385, x386, x397, x400, x401, x404)
}
