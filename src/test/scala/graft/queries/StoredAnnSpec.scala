package graft.queries

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** x07b's production claim, demonstrated end to end: the IVF index as a
  * STORED artifact — Lloyd-refined centroids plus cluster-partitioned cell
  * directories — probed by a read path that runs NO k-means, never opens
  * the source corpus, and prunes to nprobe partitions. The serving-shape
  * counterpart of StoredIndexSpec's posting-index test.
  */
class StoredAnnSpec extends SparkSpec {

  private lazy val exactTop20: Set[Long] =
    SparkEntry.queries("x06_cosine_topk")(spark, sf001)
      .collect().map(_.getLong(0)).toSet

  private def jobsInGroup(group: String): Int = SparkSpec.jobsInGroup(spark, group)

  test("stored IVF: probe-only read path hits the recall gate, prunes to nprobe cells, never rescans the corpus") {
    val base = Files.createTempDirectory("graft-ivf")
    val idx = base.resolve("ivf").toString
    try {
      val e = Tables(spark, sf001, "embeddings")
      Similarity.writeIvfIndex(e, idx, iters = 2)
      val qvec = e.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray

      spark.sparkContext.setJobGroup("ivf-probe", "probe-only read path")
      val probed = Similarity.probeStoredIvf(spark, idx, qvec, nprobe = 6)
        .where(col("vec_id") =!= 0)
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
      val got = probed.collect().map(_.getLong(0)).toSet
      spark.sparkContext.clearJobGroup()

      // recall: same 0.6 bar as the inline-built x07b (SimilaritySpec)
      assert(got.size == 20)
      val recall = (got & exactTop20).size / 20.0
      assert(recall >= 0.6, s"stored-IVF recall too low: $recall")

      // read-path discipline: every file scan reads the INDEX — the source
      // embeddings table is never opened, so no Lloyd pass is even possible
      val scans = SparkSpec.allPlanNodes(probed.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty)
      assert(scans.forall(_.metadata.get("Location").exists(_.contains("graft-ivf"))),
        s"probe plan must scan only the stored index:\n${probed.queryExecution.executedPlan}")

      // partition pruning: the cluster filter reaches the cell scan as a
      // PARTITION filter (nprobe directories), not a post-scan predicate
      val cellScan = scans.find(_.metadata.get("Location").exists(_.contains("cells")))
        .getOrElse(fail("no scan of the cells table in the probe plan"))
      val pf = cellScan.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains("cluster"),
        s"cluster IN (...) must be a partition filter, got: $pf")

      // job-count discipline: the probe is a centroid read + one scoring
      // collect — a handful of jobs. Two Lloyd iterations would add 4+
      // (per-step objective and centroid-update collects); the bound
      // catches a regression that silently re-trains on the read path.
      val probeJobs = jobsInGroup("ivf-probe")
      assert(probeJobs > 0 && probeJobs <= 6,
        s"probe-only read path ran $probeJobs jobs — is it re-running Lloyd?")
    } finally graft.StoredArtifacts.deleteTree(base.toString)
  }

  test("IVF delta append: batch vectors become searchable with no k-means and no base read") {
    val base = Files.createTempDirectory("graft-ivfd")
    val idx = base.resolve("ivf").toString
    try {
      import spark.implicits._
      // standing: 3 orthogonal clusters, 5 members each (ids 0-24)
      val standing = (for { c <- 0 until 3; j <- 0 until 5 } yield {
        val v = Array.fill(6)(0.0f)
        v(c) = 1.0f; v(3) = 0.01f * (j + 1)
        ((c * 10 + j).toLong, v, s"c$c")
      }).toDF("vec_id", "embedding", "label")
      Similarity.writeIvfIndex(standing, idx, iters = 1)

      // batch: id 500 sits almost exactly on the c0 query direction —
      // closer than ANY standing vector — plus a decoy far away
      val batch = Seq(
        (500L, Array(1.0f, 0.0f, 0.0f, 0.005f, 0f, 0f), "c0"),
        (501L, Array(0f, 0f, 0f, 0f, 0f, 1.0f), "c0")).toDF("vec_id", "embedding", "label")
      spark.sparkContext.setJobGroup("ivf-append", "delta append")
      Similarity.appendIvfDelta(batch, idx, "delta")
      spark.sparkContext.clearJobGroup()
      // the append is argmin + write — a couple of jobs; Lloyd iterations
      // (objective + centroid-update collects per round) would add more
      val appendJobs = jobsInGroup("ivf-append")
      assert(appendJobs > 0 && appendJobs <= 4,
        s"delta append ran $appendJobs jobs — is it re-clustering?")

      val qvec = Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0)
      val merged = Similarity
        .probeStoredIvf(spark, idx, qvec, nprobe = 1, segments = Seq("cells", "delta"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(3).collect().map(_.getLong(0)).toSeq
      assert(merged.head == 500L,
        s"the freshly appended near-query vector must rank first, got $merged")
      val baseOnly = Similarity
        .probeStoredIvf(spark, idx, qvec, nprobe = 1)
        .collect().map(_.getLong(0)).toSet
      assert(!baseOnly.contains(500L), "the base segment must not contain the delta")
    } finally graft.StoredArtifacts.deleteTree(base.toString)
  }

  test("x65 registry entry probes the merged base+delta index end to end") {
    val got = SparkEntry.queries("x65_ann_ivf_append")(spark, sf001).collect()
    assert(got.length == 20)
    val ids = got.map(_.getLong(0)).toSet
    // batch ids (>= 250) are searchable only through the delta segment, so
    // ANY of them appearing proves the merged probe; on this corpus the
    // top-20 of query 0 always includes batch-side neighbors
    assert(ids.exists(_ >= 250), s"no delta-segment id in the merged top-20: $ids")
    val again = SparkEntry.queries("x65_ann_ivf_append")(spark, sf001)
      .collect().map(_.getLong(0)).toSet
    assert(again == ids, "delta overwrite keeps the append idempotent")
  }

  test("batch IVF probe: per-query candidates equal N single probes, served by ONE pruned scan of the unioned cells") {
    val base = Files.createTempDirectory("graft-ivfbatch")
    val idx = base.resolve("ivf").toString
    try {
      val e = Tables(spark, sf001, "embeddings")
      Similarity.writeIvfIndex(e, idx, iters = 2)
      val qRows = e.where(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      // query batch built from literals so the probe plan is index-only
      import spark.implicits._
      val queries = qRows.toSeq.map { case (id, v) => (id, v.toSeq) }
        .toDF("q_id", "qvec")

      spark.sparkContext.setJobGroup("ivf-batch", "batch probe")
      val batch = Similarity.probeStoredIvfBatch(spark, idx, queries, nprobe = 4)
      val got = batch.collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) =>
          q -> rows.map(r => r.getLong(1) -> r.getDouble(2)).toMap
        }
      spark.sparkContext.clearJobGroup()

      // the whole batch is a BATCH-INDEPENDENT number of jobs — centroid
      // read, the cell-selection shuffle (materialized twice: once for
      // the union-of-cells collect, once inside the final plan), the
      // scored scan. 8 single probes would run ~24; the bound catches a
      // regression to per-query probing while allowing AQE stage jobs.
      val batchJobs = jobsInGroup("ivf-batch")
      assert(batchJobs > 0 && batchJobs <= 10,
        s"batch probe ran $batchJobs jobs — is it probing per query?")

      // per-query candidate sets and scores are IDENTICAL to the single-
      // vector probe path (same cells chosen, same kernel arithmetic)
      assert(got.keySet == qRows.map(_._1).toSet, "one candidate set per query")
      for ((qid, qv) <- qRows) {
        val single = Similarity.probeStoredIvf(spark, idx, qv, nprobe = 4)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got(qid).keySet == single.keySet,
          s"query $qid: batch candidates != single-probe candidates")
        for ((id, sim) <- single)
          assert(math.abs(got(qid)(id) - sim) < 1e-12,
            s"query $qid id $id: batch sim ${got(qid)(id)} != single $sim")
      }

      // plan discipline: the cells table is scanned ONCE for the whole
      // batch (that is the point of batching), the scan is partition-
      // pruned, and no non-index file is read
      val scans = SparkSpec.allPlanNodes(batch.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f }
      assert(scans.forall(_.metadata.get("Location").exists(_.contains("graft-ivfbatch"))),
        s"batch probe must scan only the stored index:\n${batch.queryExecution.executedPlan}")
      val cellScans = scans.filter(_.metadata.get("Location").exists(_.contains("cells")))
      assert(cellScans.length == 1,
        s"cells must be scanned exactly once for the whole batch, got ${cellScans.length}")
      assert(cellScans.head.metadata.getOrElse("PartitionFilters", "").contains("cluster"),
        "the unioned cell filter must prune partitions")
    } finally graft.StoredArtifacts.deleteTree(base.toString)
  }

  test("probe plans carry no centroid literal: plan size is constant in k") {
    // the r7 scale joint: every probe inlined all k coarse centroids as a
    // typedLit and scored them in-plan — plan size (and analysis cost)
    // grew with the index. Cell selection is driver-side now
    // (CentroidIndex: exact small-k, HNSW large-k), so the ONLY index
    // values a probe plan may contain are the nprobe cell ids and the
    // query vector itself.
    val base = Files.createTempDirectory("graft-plansize")
    val idx = base.resolve("ivf").toString
    try {
      val e = Tables(spark, sf001, "embeddings")
      Similarity.writeIvfIndex(e, idx, iters = 2)
      // a centroid component is a Lloyd mean — a long-mantissa double
      // whose decimal rendering cannot appear in a plan by coincidence
      val marker = Similarity.readIvfCentroids(spark, idx)
        .head.head.toString
      val qvec = e.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      import spark.implicits._
      val queries = Seq((0L, qvec.toSeq)).toDF("q_id", "qvec")
      for ((name, df) <- Seq(
          "single" -> Similarity.probeStoredIvf(spark, idx, qvec, nprobe = 4),
          "batch" -> Similarity.probeStoredIvfBatch(spark, idx, queries, nprobe = 4))) {
        val plan = df.queryExecution.optimizedPlan.toString
        assert(!plan.contains(marker),
          s"$name probe plan inlines centroid values (found $marker)")
        assert(!plan.contains("posexplode"),
          s"$name probe plan still explodes a centroid literal")
      }
    } finally graft.StoredArtifacts.deleteTree(base.toString)
  }

  test("x71 registry entry serves per-query top-10 for the whole batch deterministically") {
    val got = SparkEntry.queries("x71_ann_ivf_batch")(spark, sf001).collect()
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 8L).toSet, s"one group per batch query: ${byQ.keySet}")
    for ((q, rows) <- byQ) {
      assert(rows.length == 10, s"query $q: expected top-10, got ${rows.length}")
      assert(!rows.map(_.getLong(1)).contains(q), s"query $q must exclude itself")
      val sims = rows.map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse, s"query $q results must be sim-descending")
    }
    val again = SparkEntry.queries("x71_ann_ivf_batch")(spark, sf001).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(1))).toSeq,
      "batch serving must be deterministic across invocations")
  }

  test("x62 registry entry serves from the shared stored index and stays within the recall gate") {
    val got = SparkEntry.queries("x62_ann_ivf_stored")(spark, sf001)
      .collect().map(_.getLong(0)).toSet
    assert(got.size == 20)
    val recall = (got & exactTop20).size / 20.0
    assert(recall >= 0.6, s"x62 recall too low: $recall")
    // idempotent serving: a second invocation reads the already-built
    // artifact and returns the identical ranking
    val again = SparkEntry.queries("x62_ann_ivf_stored")(spark, sf001)
      .collect().map(_.getLong(0)).toSet
    assert(again == got, "stored-index probe must be deterministic across invocations")
  }

  test("x404 twin: shared scan prunes both segments, serves delta vectors, and matches brute force") {
    val df = SparkEntry.queries("x404_ann_stored_serving_exact")(spark, sf001)
    val rows = df.collect()
    assert(rows.length == 20)
    assert(rows.map(_.getAs[Long]("pos")).toSeq == (1L to 20L),
      "positions must be dense 1..20")
    // the x65 append contract oracled: frozen-assigner delta vectors
    // (vec_id >= 250) are immediately searchable through the union scan
    assert(rows.exists(_.getAs[Long]("vec_id") >= 250L),
      "no delta-segment vector in the top-20 — union read path not exercised")
    // read-path discipline (the x62 pins, applied to the twin): every
    // scan reads the stored substrate, and the cluster literal reaches
    // BOTH segment scans as a partition filter
    val scans = SparkSpec.allPlanNodes(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.size == 2, s"expected base+delta scans, got ${scans.size}")
    assert(scans.forall(_.metadata.get("Location").exists(_.contains("hash_cells_serve_v1"))))
    scans.foreach { sc =>
      val pf = sc.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains("cluster"),
        s"cluster IN (...) must be a partition filter on every segment, got: $pf")
    }
    // exactness vs driver-side brute force over the same md5-cell subset:
    // the twin's whole decision chain (assignment, pruning, cosine order,
    // quantization) replayed independently of the stored artifact
    val e = Tables(spark, sf001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val q = e(0L)
    val qn = math.sqrt(q.map(x => x * x).sum)
    val qb = (java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest("ix:0".getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString,
      16) % 16).toInt
    val want = e.toSeq
      .filter { case (id, _) => id != 0L }
      .filter { case (id, _) =>
        val b = (java.lang.Long.parseLong(
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"ix:$id".getBytes("UTF-8")).take(4).map(x => f"$x%02x").mkString,
          16) % 16).toInt
        ((b - qb + 16) % 16) < 6
      }
      .map { case (id, v) =>
        val dot = v.zip(q).map { case (a, b) => a * b }.sum
        (id, dot / (math.sqrt(v.map(x => x * x).sum) * qn))
      }
      .sortBy { case (id, sim) => (-sim, id) }
      .take(20)
      .map { case (id, sim) => (id, math.floor(1e6 * sim).toLong) }
    val gotPairs = rows.map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("sim_micro"))).toSeq
    assert(gotPairs == want, s"twin diverged from brute force:\n$gotPairs\n$want")
  }
}
