package graft.streaming

import graft.queries.Lakehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming merge-on-read upserts — the CDC-apply loop of the DV
  * lakehouse: batches of updated rows arrive as files and each
  * micro-batch lands through [[Lakehouse.mergeMoR]] as one tag-addressed
  * (merge segment, DV segment) pair. Chained semantics come from
  * mergeMoR itself (each batch resolves against the live view its
  * predecessors produced), and replay safety from its fully-applied
  * check — a re-delivered batch id whose DV segment committed is a
  * no-op, which matters doubly here: replaying a committed merge against
  * post-merge state would mask its own rows (the bug the batch spec's
  * replay arm pins).
  *
  * Together with [[DeleteVectorStream]] (row deletes) and x229's
  * `compactDeletes` (fold-in), this closes the streaming DV lifecycle:
  * upsert → delete → compact, all without rewriting base files in the
  * hot path.
  */
object MergeStream {

  /** Arrival-file schema: full replacement rows keyed by doc_id. */
  val arrivalSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType)))

  def start(spark: SparkSession, sourceDir: String, layout: String,
      mergeDir: String, dvDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.foldBatches("merge-ingest", checkpointDir, trigger,
      spark.readStream
        .schema(arrivalSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(sourceDir)) { (batch, batchId) =>
      Lakehouse.mergeMoR(batch, layout, mergeDir, dvDir, s"b$batchId")
    }
}
