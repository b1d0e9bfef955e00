package graft.streaming

import graft.queries.HnswAnn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest into the sharded-HNSW graph tier — [[AnnIngestStream]]'s
  * role for the graph layout: embedding batches arrive as files, each
  * micro-batch becomes its own per-shard HNSW delta segment
  * ([[HnswAnn.appendHnswSegment]] — O(batch) build, base never reopened),
  * and in-loop compaction bounds how many segment graphs a probe must
  * traverse.
  *
  * At-least-once `foreachBatch` → exactly-once, without a side ledger:
  *   - segment names carry the batch id (`seg_b<id>`); a re-delivered
  *     batch OVERWRITES its own segment with bit-identical content (the
  *     per-segment build is a pure function of the batch) — idempotent;
  *   - compaction erases delta names, so a `watermark` file (the highest
  *     absorbed batch id, written atomically via tmp+move BEFORE the
  *     deltas are deleted) covers re-delivery across a compaction:
  *     monotonic stream ids at or below it are known-absorbed. Crash
  *     between watermark write and delta delete leaves BOTH defenses
  *     active; crash before the watermark leaves the delta names intact.
  * Single writer: the one streaming query (foreachBatch invocations are
  * serialized). The plain-layout caveat of [[HnswAnn.compactHnswIndex]]
  * applies: concurrent readers during the compaction swap are the
  * manifest tier's job, not this layout's.
  */
object HnswIngestStream {

  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      checkpointDir: String, shards: Int = 2, maxSegments: Int = 4,
      maxFilesPerTrigger: Int = 1,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.foldBatches("hnsw-ingest", checkpointDir, trigger,
      spark.readStream
        .schema(AnnIngestStream.arrivalSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(sourceDir)) { (batch, batchId) =>
      ingestBatch(batch, indexDir, batchId, shards, maxSegments)
    }

  private def watermarkPath(indexDir: String) =
    java.nio.file.Paths.get(indexDir, "watermark")

  /** Highest batch id known absorbed by a compaction (-1 before any). */
  def watermark(indexDir: String): Long = {
    val p = watermarkPath(indexDir)
    if (java.nio.file.Files.exists(p))
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong
    else -1L
  }

  private def writeWatermark(indexDir: String, id: Long): Unit = {
    val tmp = java.nio.file.Paths.get(indexDir, s"watermark.tmp")
    java.nio.file.Files.write(tmp, id.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, watermarkPath(indexDir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** True iff `batchId` is already absorbed — its delta segment survives,
    * it bootstrapped the base, or the compaction watermark covers it.
    */
  def applied(indexDir: String, batchId: Long): Boolean =
    batchId <= watermark(indexDir) ||
      graft.StoredArtifacts.ready(s"$indexDir/seg_b$batchId") ||
      (batchId == 0L && graft.StoredArtifacts.ready(s"$indexDir/graph"))

  /** One ingest cycle: bootstrap the base (batch 0) or land a delta
    * segment, then compact when the segment count passes `maxSegments`.
    */
  def ingestBatch(batch: DataFrame, indexDir: String, batchId: Long,
      shards: Int, maxSegments: Int): Unit = {
    if (batch.isEmpty || applied(indexDir, batchId)) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(indexDir))
    if (!graft.StoredArtifacts.ready(s"$indexDir/graph"))
      HnswAnn.writeHnswIndex(batch, indexDir, shards)
    else
      HnswAnn.appendHnswSegment(batch, indexDir, s"b$batchId", shards)
    maybeCompact(batch.sparkSession, indexDir, batchId, shards, maxSegments)
  }

  /** Compact when the live segment count exceeds the bound, recording the
    * highest absorbed batch id BEFORE the deltas disappear.
    */
  def maybeCompact(s: SparkSession, indexDir: String, latestBatchId: Long,
      shards: Int, maxSegments: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val segs = java.nio.file.Files.list(java.nio.file.Paths.get(indexDir))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(n => n == "graph" || n.startsWith("seg_")).toSeq
    if (segs.length > maxSegments) {
      writeWatermark(indexDir, latestBatchId)
      HnswAnn.compactHnswIndex(s, indexDir, shards)
    }
  }
}
