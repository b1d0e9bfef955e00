package graft.streaming

import graft.queries.Lakehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming row-level deletes into the x229 deletion-vector sidecar —
  * the GDPR/right-to-forget loop every lakehouse runs: delete REQUESTS
  * (doc ids) arrive as files, each micro-batch resolves them to physical
  * (file, row-position) pairs against the immutable data layout and lands
  * them as one sidecar segment. Data files are never touched (that is
  * x229's `compactDeletes` job, scheduled separately); the serving scan
  * (`Lakehouse.readWithDeletes`) sees each batch's deletes the moment its
  * segment commits.
  *
  * Exactly-once, ledger-free: a batch's resolution is a pure function of
  * (requests, immutable layout), so its segment `seg=batch_<id>` is
  * deterministic and per-path overwrite makes re-delivery idempotent.
  * Requests for ids that are absent (never existed, or already folded
  * away by compaction) resolve to zero rows —
  * delete requests are naturally idempotent at the semantic level too.
  *
  * Scale shape: resolution is one broadcast-able semi-join of the
  * request batch against the layout scan's (id, file, pos) projection —
  * the fact side streams by, nothing corpus-sized shuffles.
  */
object DeleteVectorStream {

  /** Arrival-file schema: one column of ids to forget. */
  val arrivalSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType)))

  /** Resolve one request batch to positions and commit it as a sidecar
    * segment. Public for direct (non-stream) replay in tests.
    */
  def applyBatch(requests: DataFrame, layout: String, dvDir: String,
      batchId: Long): Unit = {
    val s = requests.sparkSession
    s.read.parquet(layout)
      .select(col("_metadata.file_path").as("file"),
        col("_metadata.row_index").as("pos"), col("doc_id"))
      .join(requests.select(col("doc_id")).distinct().hint("broadcast"),
        Seq("doc_id"), "left_semi")
      .select("file", "pos")
      .write.mode("overwrite").parquet(s"$dvDir/seg=batch_$batchId")
  }

  /** Watch `sourceDir` for delete-request files; each micro-batch commits
    * one sidecar segment under `dvDir` against the immutable `layout`.
    */
  def start(spark: SparkSession, sourceDir: String, layout: String,
      dvDir: String, checkpointDir: String, maxFilesPerTrigger: Int = 1,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.foldBatches("dv-ingest", checkpointDir, trigger,
      spark.readStream
        .schema(arrivalSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(sourceDir)) { (batch, batchId) =>
      applyBatch(batch, layout, dvDir, batchId)
    }

  /** The serving scan over the streamed sidecar — exactly x229's read
    * (it deduplicates the sidecar, so overlapping delete batches across
    * segments collapse); partition discovery reads every committed
    * segment.
    */
  def read(s: SparkSession, layout: String, dvDir: String): DataFrame =
    Lakehouse.readWithDeletes(s, layout, dvDir)
}
