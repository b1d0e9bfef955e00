package graft.streaming

import graft.queries.Lakehouse
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The change stream of a merge-on-read table — the CDC-apply loop of the
  * DV lakehouse, and the one writer of the table's MoR log (a
  * [[graft.SegmentLog]] compacted past 4 live segments). Upserts (full
  * replacement rows with the base layout's columns) arrive as files in
  * `upsertDir`, delete requests ([[DeleteVectorStream.arrivalSchema]]) in
  * `deleteDir`; one streaming query reads both, so the two kinds of change
  * share the log's one batch-id sequence, and each micro-batch commits as
  * one segment. Within a micro-batch a delete wins over an upsert of the
  * same id. Chained semantics come from the commit (each batch resolves
  * against the live view its predecessors produced), and replay safety
  * from the log: a re-delivered batch id is a no-op, which matters doubly
  * here, since replaying a committed merge against post-merge state would
  * mask its own rows. No step rewrites a base file.
  */
object MergeStream {

  def start(spark: SparkSession, upsertDir: String, deleteDir: String,
      layout: String, logDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // a source with no files yet serves no rows; file sources need the dir
    Seq(upsertDir, deleteDir).foreach(d => new java.io.File(d).mkdirs())
    // file-sized batches are the granularity the segment layout is designed for
    def source(schema: StructType, dir: String) =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
    val schema = spark.read.parquet(layout).schema
    val changes = source(schema, upsertDir)
      .withColumn("deleted", lit(false))
      .unionByName(source(DeleteVectorStream.arrivalSchema, deleteDir)
        .withColumn("deleted", lit(true)), allowMissingColumns = true)
    Streams.foldBatches("merge-ingest", checkpointDir, trigger, changes) {
      (batch, batchId) =>
        val upserts = batch.where(!col("deleted"))
          .join(batch.where(col("deleted")).select("doc_id"), Seq("doc_id"), "left_anti")
          .select(schema.fieldNames.toSeq.map(col): _*)
        Lakehouse.commitMoR(upserts, batch, layout, logDir, batchId)
    }
  }
}
