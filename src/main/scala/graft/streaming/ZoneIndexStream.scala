package graft.streaming

import graft.StoredManifest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming maintenance of the zone-map skipping index (the x174/x182
  * layout) — document batches arrive as files, every micro-batch lands
  * as a new range-sharded SEGMENT (data + its per-file min/max stats)
  * under an atomic [[StoredManifest]] pointer commit, and segment sprawl
  * is bounded by in-loop compaction. Readers
  * ([[ZoneIndexStream.rangeRead]]) resolve one manifest generation and
  * are never exposed to a half-written segment or a half-merged stats
  * table — the AnnIngestStream commit discipline applied to the
  * metadata layer instead of the vector index.
  *
  * Exactly-once from at-least-once `foreachBatch`, by the same naming
  * fold: a batch lands as segment `batch_<id>` (re-delivery finds its
  * name live and no-ops), compaction merges live segments into
  * `base_<maxAbsorbedId>` whose id is a WATERMARK over the monotonic
  * stream batch ids — a re-delivered id at or below it no-ops even
  * though compaction erased its name. Single writer: the streaming
  * query's serialized foreachBatch invocations.
  *
  * Scale shape: per cycle ONE range shuffle of the batch (never the
  * standing corpus) plus a stats scan of the batch alone; compaction
  * re-shards only the live segments and is amortized over
  * `maxSegments` cycles. Appended segments overlap the base's spans —
  * the x182 trade, repaired by the same compaction that bounds the
  * segment count.
  */
object ZoneIndexStream {

  val arrivalSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val Shards = 4

  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      checkpointDir: String, maxSegments: Int = 4,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.foldBatches("zone-index-ingest", checkpointDir, trigger,
      spark.readStream
        .schema(arrivalSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sourceDir)) { (batch, batchId) =>
      ingestBatch(batch, indexDir, batchId, maxSegments)
    }

  /** True iff `batchId` is already absorbed by the live generation. */
  def applied(indexDir: String, batchId: Long): Boolean =
    StoredManifest.exists(indexDir) &&
      StoredManifest.read(indexDir)._2.exists { seg =>
        seg == s"batch_$batchId" ||
          (seg.startsWith("base_") &&
            seg.stripPrefix("base_").toLong >= batchId)
      }

  def ingestBatch(batch: DataFrame, indexDir: String, batchId: Long,
      maxSegments: Int): Unit = {
    if (applied(indexDir, batchId)) return
    val spark = batch.sparkSession
    val seg = s"batch_$batchId"
    writeSegment(spark, batch, indexDir, seg)
    val live =
      if (StoredManifest.exists(indexDir)) StoredManifest.read(indexDir)._2
      else Seq.empty
    val segments = live :+ seg
    if (segments.length > maxSegments)
      compact(spark, indexDir, segments, batchId)
    else
      StoredManifest.write(indexDir, s"gen_$batchId", segments)
  }

  /** Merge every live segment into one `base_<watermark>` segment, then
    * delete the absorbed segment directories — compaction must bound
    * STORAGE, not just the manifest (a long-running stream would
    * otherwise keep one full copy of every batch forever). Deletion
    * happens strictly after the new generation's commit, so a crash
    * between the two leaves only unreferenced-but-present directories
    * (re-deleted by the next compaction that absorbs `base_<wm>`);
    * in-flight readers of the superseded generation are a single-JVM
    * concern, handled exactly as StoredArtifacts' generation sweep
    * documents.
    */
  private def compact(spark: SparkSession, indexDir: String,
      segments: Seq[String], watermark: Long): Unit = {
    val all = segments.map(s => spark.read.parquet(s"$indexDir/$s/data"))
      .reduce(_ unionByName _)
    val seg = s"base_$watermark"
    writeSegment(spark, all, indexDir, seg)
    StoredManifest.write(indexDir, s"gen_$watermark", Seq(seg))
    segments.filterNot(_ == seg).foreach { old =>
      graft.StoredArtifacts.deleteTree(s"$indexDir/$old")
    }
  }

  /** Range-shard + stats for one segment; readable only once the caller
    * commits a manifest generation naming it.
    */
  private def writeSegment(spark: SparkSession, df: DataFrame,
      indexDir: String, seg: String): Unit = {
    val dataP = s"$indexDir/$seg/data"
    val statsP = s"$indexDir/$seg/stats"
    df.repartitionByRange(Shards, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dataP)
    graft.queries.Lakehouse.fileStats(spark, dataP)
      .coalesce(1).write.mode("overwrite").parquet(statsP)
  }

  /** Stats of every live segment under ONE manifest resolution. */
  def liveStats(spark: SparkSession, indexDir: String): DataFrame = {
    val (_, segments) = StoredManifest.read(indexDir)
    segments.map(s => spark.read.parquet(s"$indexDir/$s/stats"))
      .reduce(_ unionByName _)
  }

  /** Pruned range read [lo, hi]: consult the live stats, hand the reader
    * only overlapping files (the x174 planner half, manifest-resolved).
    */
  def rangeRead(spark: SparkSession, indexDir: String, lo: Long,
      hi: Long): DataFrame = {
    val files = liveStats(spark, indexDir)
      .where(col("min_id") <= hi && col("max_id") >= lo)
      .select(col("file")).collect().map(_.getString(0))
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], arrivalSchema)
    else spark.read.parquet(files.toSeq: _*)
      .where(col("doc_id").between(lo, hi))
  }
}
