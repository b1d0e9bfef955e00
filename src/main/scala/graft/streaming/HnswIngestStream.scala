package graft.streaming

import graft.{SegmentLog, StoredManifest}
import graft.queries.HnswAnn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest into the sharded-HNSW graph tier — [[AnnIngestStream]]'s
  * role for the graph layout: embedding batches arrive as files, each
  * micro-batch becomes its own per-shard HNSW segment (O(batch) build,
  * earlier segments never reopened), and in-loop compaction bounds how
  * many segment graphs a probe must traverse by rebuilding the per-shard
  * graphs over the union of the live segments.
  *
  * Segments commit through [[graft.SegmentLog]], like the IVF and
  * zone-map streams: the first batch lands as `base_<id>`, later ones as
  * `batch_<id>`, and a compaction publishes `base_<max absorbed id>` in
  * the next generation before it deletes what it absorbed. [[probe]]
  * resolves the manifest once, so a reader sees each ingested vector
  * exactly once at every crash point and during a compaction.
  */
object HnswIngestStream {

  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      checkpointDir: String, shards: Int = 2, maxSegments: Int = 4,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.foldBatches("hnsw-ingest", checkpointDir, trigger,
      spark.readStream
        .schema(AnnIngestStream.arrivalSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sourceDir)) { (batch, batchId) =>
      ingestBatch(batch, indexDir, batchId, shards, maxSegments)
    }

  /** One ingest cycle: land the batch as a segment, then compact once more
    * than `maxSegments` segments are live. An empty batch commits nothing.
    */
  def ingestBatch(batch: DataFrame, indexDir: String, batchId: Long,
      shards: Int, maxSegments: Int): Unit =
    if (!batch.isEmpty)
      SegmentLog.ingest(indexDir, batchId, maxSegments) { (genDir, seg) =>
        HnswAnn.writeSegment(batch, s"$genDir/$seg", shards)
      }(merge(batch.sparkSession, shards))

  /** The log's compaction, step by step ([[graft.SegmentLog.compactionSteps]]). */
  def compactionSteps(s: SparkSession, indexDir: String,
      shards: Int): Seq[(String, () => Unit)] =
    SegmentLog.compactionSteps(indexDir, merge(s, shards))

  private def merge(s: SparkSession, shards: Int): SegmentLog.Merge =
    (genDir, segments, nextDir, base) =>
      HnswAnn.writeSegment(
        segments.map(seg => s.read.parquet(s"$genDir/$seg")
            .select(col("vec_id"), col("embedding")))
          .reduce(_ unionAll _),
        s"$nextDir/$base", shards)

  /** Top-`k` per query over the live generation's segments, resolved once. */
  def probe(s: SparkSession, indexDir: String, queries: DataFrame, k: Int,
      ef: Int): DataFrame = {
    val (gen, segments) = StoredManifest.read(indexDir)
    HnswAnn.probeHnsw(s, s"$indexDir/$gen", queries, k, ef, segments)
  }
}
