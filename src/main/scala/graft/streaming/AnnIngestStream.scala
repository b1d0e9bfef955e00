package graft.streaming

import graft.{SegmentLog, StoredManifest}
import graft.queries.{AnnManifest, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

/** Streaming ingest into the manifest-committed ANN index — the write side
  * of the serving story run as a Structured Streaming loop: embedding
  * batches arrive as files, every micro-batch lands in the stored IVF
  * index through the [[graft.SegmentLog]] commit, and delta accumulation
  * is bounded by in-loop compaction. Probes ([[AnnManifest.probe]] and the
  * batch/PQ variants) serve concurrently through the manifest and are
  * never exposed to a half-applied batch.
  *
  * The log's layout is [[AnnManifest]]'s: the bootstrap batch trains
  * generation 0 (centroids plus its cells as segment `base_<id>`), later
  * batches land as `batch_<id>` delta segments, and a compaction writes
  * the next generation through [[AnnManifest.mergeGeneration]]. Replay,
  * naming and the compaction order are [[graft.SegmentLog]]'s.
  *
  * Scale shape: per cycle the batch pays one narrow argmin against the
  * k×dim stored centroids and one cluster-partitioned delta write —
  * standing corpus never rescanned; compaction cost is amortized over
  * `maxSegments` cycles and warm-starts Lloyd from the serving centroids.
  * This is the continuous-indexing layout (stream → delta segments →
  * background merge) of every production vector store, with the
  * Iceberg-style manifest commit supplying reader isolation.
  */
object AnnIngestStream {

  /** Arrival-file schema (a file stream source needs it declared). */
  val arrivalSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Watch `sourceDir` for embedding parquet arrivals and ingest each
    * micro-batch into the manifest-committed index at `indexDir`. One
    * file per trigger keeps micro-batches file-sized — the ingest-cycle
    * granularity the segment layout is designed for.
    */
  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      checkpointDir: String, iters: Int = 2, maxSegments: Int = 4,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.foldBatches("ann-ingest", checkpointDir, trigger,
      spark.readStream
        .schema(arrivalSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sourceDir)) { (batch, batchId) =>
      ingestBatch(batch, indexDir, batchId, iters, maxSegments)
    }

  /** One ingest cycle: bootstrap or delta-append the batch, then compact
    * once more than `maxSegments` segments are live. An empty batch
    * commits nothing.
    */
  def ingestBatch(batch: DataFrame, indexDir: String, batchId: Long,
      iters: Int, maxSegments: Int): Unit =
    if (!batch.isEmpty)
      SegmentLog.ingest(indexDir, batchId, maxSegments) { (genDir, seg) =>
        if (StoredManifest.exists(indexDir))
          Similarity.appendIvfDelta(batch, genDir, seg)
        else {
          // bootstrap: generation 0 IS the first batch, trained in place
          Similarity.writeIvfIndex(batch, genDir, iters)
          java.nio.file.Files.move(java.nio.file.Paths.get(genDir, "cells"),
            java.nio.file.Paths.get(genDir, seg))
        }
      } { (genDir, segments, nextDir, base) =>
        AnnManifest.mergeGeneration(batch.sparkSession, genDir, segments,
          iters, nextDir, base)
      }
}
