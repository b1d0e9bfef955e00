package graft.streaming

import graft.queries.Lakehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Row deletes of a merge-on-read table — the GDPR/right-to-forget loop
  * every lakehouse runs: delete REQUESTS (doc ids) resolve to physical
  * (file, row-position) pairs in the table's live view and commit as one
  * segment, with no rows, of the table's MoR log. Streamed requests arrive
  * through [[MergeStream]], the log's one writer, beside its upserts, so a
  * delete of an id an earlier merge upserted removes the upserted row.
  * Data files are never touched; [[Lakehouse.readMoR]] serves a batch's
  * deletes the moment its segment commits.
  *
  * Exactly-once, ledger-free: a re-delivered batch id is a no-op through
  * the log. Requests for ids that are absent (never existed, or already
  * deleted) resolve to zero positions — delete requests are naturally
  * idempotent at the semantic level too.
  *
  * Scale shape: resolution is one broadcast-able semi-join of the
  * request batch against the live view's (id, file, pos) projection —
  * the fact side streams by, nothing corpus-sized shuffles.
  */
object DeleteVectorStream {

  /** Arrival-file schema: one doc id per delete request. */
  val arrivalSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType)))

  /** Resolve one request batch to positions and commit it as batch
    * `batchId` of the MoR log at `logDir`, whose one writer the caller
    * is. Public for direct (non-stream) replay in tests.
    */
  def applyBatch(requests: DataFrame, layout: String, logDir: String,
      batchId: Long): Unit =
    Lakehouse.commitMoR(requests.sparkSession.read.parquet(layout).limit(0),
      requests, layout, logDir, batchId)
}
