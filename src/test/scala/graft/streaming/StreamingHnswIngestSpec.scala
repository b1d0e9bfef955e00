package graft.streaming

import java.nio.file.{Files, Paths}

import graft.{SegmentLog, SparkSpec, StoredManifest}
import org.apache.spark.sql.DataFrame

/** Streaming ingest into the sharded-HNSW tier: arrivals become base +
  * delta segment graphs under the manifest, probes serve every landed id
  * immediately, in-loop compaction folds the deltas, and the merged base's
  * id closes the re-delivery-across-compaction window. A compaction stopped
  * after any step prefix still serves every id exactly once.
  */
class StreamingHnswIngestSpec extends SparkSpec {

  // distinct, non-degenerate 6-d vectors: every node is its own point
  private def batchDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map { id =>
      (id, Array.tabulate(6)(j => ((id * 7 + j * 13) % 17 + 1).toFloat),
        (id % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
  }

  private def writeArrival(df: DataFrame, arrivals: String): Unit =
    df.coalesce(1).write.mode("append").parquet(arrivals)

  /** Every id the probe returns, in order, duplicates kept. */
  private def probedIds(idx: String): Seq[Long] = {
    import spark.implicits._
    val q = Seq((0L, Array.fill(6)(1.0))).toDF("q_id", "qvec")
    HnswIngestStream.probe(spark, idx, q, k = 100, ef = 64)
      .collect().map(_.getLong(1)).toSeq
  }

  private def storedIds(idx: String): Seq[Long] = {
    val (gen, segments) = StoredManifest.read(idx)
    segments.flatMap(seg => spark.read.parquet(s"$idx/$gen/$seg")
      .select("vec_id").collect().map(_.getLong(0))).sorted
  }

  private def manifestLine(idx: String): String =
    new String(Files.readAllBytes(Paths.get(idx, "MANIFEST")), "UTF-8")

  test("arrivals land as base + delta graphs; probe serves every id at once") {
    val base = Files.createTempDirectory("graft-hnswstream")
    val idx = base.resolve("idx").toString
    val arrivals = base.resolve("arrivals").toString
    writeArrival(batchDf(0L until 10L), arrivals)
    writeArrival(batchDf(100L until 105L), arrivals)
    HnswIngestStream.start(spark, arrivals, idx,
      base.resolve("ckpt").toString, shards = 2, maxSegments = 4)
      .awaitTermination()
    assert(StoredManifest.read(idx) == (("gen_0", Seq("base_0", "batch_1"))),
      "batch 0 bootstraps the base; batch 1 lands as a named delta")
    val all = ((0L until 10L) ++ (100L until 105L)).sorted
    assert(probedIds(idx).sorted == all, "delta ids must be probe-visible immediately")
    assert(storedIds(idx) == all, "all landed ids are stored exactly once")
  }

  test("in-loop compaction folds deltas and the watermark covers re-delivery") {
    val base = Files.createTempDirectory("graft-hnswstream")
    val idx = base.resolve("idx").toString
    val arrivals = base.resolve("arrivals").toString
    writeArrival(batchDf(0L until 6L), arrivals)
    writeArrival(batchDf(10L until 16L), arrivals)
    writeArrival(batchDf(20L until 26L), arrivals)
    HnswIngestStream.start(spark, arrivals, idx,
      base.resolve("ckpt").toString, shards = 2, maxSegments = 2)
      .awaitTermination()
    // batch 2 pushed the count past the bound -> compacted to one base
    // whose name carries the highest absorbed batch id
    assert(StoredManifest.read(idx) == (("gen_1", Seq("base_2"))))
    assert(!Files.exists(Paths.get(idx, "gen_0")), "absorbed segments are deleted")
    val all = ((0L until 6L) ++ (10L until 16L) ++ (20L until 26L)).sorted
    assert(storedIds(idx) == all)
    // re-delivery of any absorbed batch is a no-op: applied() says so and
    // ingestBatch leaves the index byte-identical
    for (id <- 0L to 2L) assert(SegmentLog.applied(idx, id))
    val committed = manifestLine(idx)
    val before = Files.getLastModifiedTime(Paths.get(idx, "gen_1", "base_2"))
    HnswIngestStream.ingestBatch(batchDf(10L until 16L), idx, 1L,
      shards = 2, maxSegments = 2)
    assert(manifestLine(idx) == committed &&
      Files.getLastModifiedTime(Paths.get(idx, "gen_1", "base_2")) == before,
      "re-delivered absorbed batch must not touch the index")
    assert(probedIds(idx).sorted == all, "probes stay duplicate-free")
  }

  test("restarted stream with the same checkpoint re-processes nothing") {
    val base = Files.createTempDirectory("graft-hnswstream")
    val idx = base.resolve("idx").toString
    val arrivals = base.resolve("arrivals").toString
    val ckpt = base.resolve("ckpt").toString
    writeArrival(batchDf(0L until 8L), arrivals)
    HnswIngestStream.start(spark, arrivals, idx, ckpt, shards = 2,
      maxSegments = 4).awaitTermination()
    val before = manifestLine(idx)
    // second run, same checkpoint, no new files: nothing to do
    HnswIngestStream.start(spark, arrivals, idx, ckpt, shards = 2,
      maxSegments = 4).awaitTermination()
    assert(manifestLine(idx) == before)
    // a NEW arrival lands as the next delta
    writeArrival(batchDf(50L until 54L), arrivals)
    HnswIngestStream.start(spark, arrivals, idx, ckpt, shards = 2,
      maxSegments = 4).awaitTermination()
    assert(StoredManifest.read(idx) == (("gen_0", Seq("base_0", "batch_1"))))
  }

  test("compaction crash windows: every step prefix serves each id once; absorbed re-delivery no-ops") {
    val batches = Seq(0L until 6L, 10L until 16L, 20L until 26L)
    val all = batches.flatten.sorted
    val nSteps = 3 // write-segment, commit-manifest, delete-absorbed
    for (prefix <- 0 to nSteps) {
      val base = Files.createTempDirectory(s"graft-hnswcrash$prefix")
      val idx = base.resolve("idx").toString
      try {
        batches.zipWithIndex.foreach { case (ids, id) =>
          HnswIngestStream.ingestBatch(batchDf(ids), idx, id.toLong,
            shards = 2, maxSegments = 4)
        }
        assert(StoredManifest.read(idx)._2 == Seq("base_0", "batch_1", "batch_2"))
        val steps = HnswIngestStream.compactionSteps(spark, idx, shards = 2)
        assert(steps.map(_._1) == Seq("write-segment", "commit-manifest", "delete-absorbed"))
        steps.take(prefix).foreach { case (_, step) => step() }
        // the crash: nothing else runs
        val done = steps.take(prefix).map(_._1)
        assert(probedIds(idx).sorted == all, s"after $done a probe must serve each id once")
        val committed = manifestLine(idx)
        batches.zipWithIndex.foreach { case (ids, id) =>
          assert(SegmentLog.applied(idx, id.toLong))
          HnswIngestStream.ingestBatch(batchDf(ids), idx, id.toLong,
            shards = 2, maxSegments = 4)
          assert(manifestLine(idx) == committed,
            s"after $done re-delivering batch $id must not recommit")
        }
        assert(probedIds(idx).sorted == all, s"after $done and re-delivery")
        // the restarted writer's next compaction finishes the job
        HnswIngestStream.compactionSteps(spark, idx, shards = 2)
          .foreach { case (_, step) => step() }
        val (gen, segments) = StoredManifest.read(idx)
        assert(segments == Seq("base_2") &&
          graft.StoredArtifacts.list(idx).filter(Files.isDirectory(_))
            .map(_.getFileName.toString) == Seq(gen),
          s"after $done the next compaction leaves one generation")
        assert(probedIds(idx).sorted == all && storedIds(idx) == all)
      } finally graft.StoredArtifacts.deleteTree(base.toString)
    }
  }
}
