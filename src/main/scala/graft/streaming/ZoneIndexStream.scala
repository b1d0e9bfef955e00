package graft.streaming

import graft.{SegmentLog, StoredManifest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming maintenance of the zone-map skipping index (the x174/x182
  * layout) — document batches arrive as files, every micro-batch lands
  * as a new range-sharded SEGMENT (data + its per-file min/max stats)
  * under the [[graft.SegmentLog]] manifest commit, and segment sprawl
  * is bounded by in-loop compaction. Readers
  * ([[ZoneIndexStream.rangeRead]]) resolve one manifest generation and
  * are never exposed to a half-written segment or a half-merged stats
  * table — the AnnIngestStream commit discipline applied to the
  * metadata layer instead of the vector index. Replay, naming and the
  * compaction order are [[graft.SegmentLog]]'s; a compaction re-shards
  * the live segments' data by range into one segment.
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

  def ingestBatch(batch: DataFrame, indexDir: String, batchId: Long,
      maxSegments: Int): Unit = {
    val spark = batch.sparkSession
    SegmentLog.ingest(indexDir, batchId, maxSegments) { (genDir, seg) =>
      writeSegment(spark, batch, s"$genDir/$seg")
    } { (genDir, segments, nextDir, base) =>
      writeSegment(spark,
        segments.map(s => spark.read.parquet(s"$genDir/$s/data"))
          .reduce(_ unionByName _),
        s"$nextDir/$base")
    }
  }

  /** Range-shard + stats for one segment; readable only once the caller
    * commits a manifest generation naming it.
    */
  private def writeSegment(spark: SparkSession, df: DataFrame,
      segDir: String): Unit = {
    val dataP = s"$segDir/data"
    val statsP = s"$segDir/stats"
    df.repartitionByRange(Shards, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dataP)
    graft.queries.Lakehouse.fileStats(spark, dataP)
      .coalesce(1).write.mode("overwrite").parquet(statsP)
  }

  /** Stats of every live segment under ONE manifest resolution. */
  def liveStats(spark: SparkSession, indexDir: String): DataFrame = {
    val (gen, segments) = StoredManifest.read(indexDir)
    segments.map(s => spark.read.parquet(s"$indexDir/$gen/$s/stats"))
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
