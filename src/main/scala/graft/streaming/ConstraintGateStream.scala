package graft.streaming

import graft.queries.Lakehouse
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming write-path constraint gate — the unbounded form of the
  * x205 batch gate, sharing its rule definitions
  * ([[Lakehouse.eventConstraints]] / [[Lakehouse.withViolations]]):
  * every micro-batch splits into the governed table (rows passing all
  * declared CHECKs) and a quarantine carrying each row's FULL
  * violated-rule list — the Delta-constraints-plus-dead-letter pattern,
  * evaluated once per row at write time, which is the only place a
  * 100 TB table can afford validation (a post-hoc audit re-scans).
  *
  * Exactly-once from at-least-once with no side ledger (the
  * MvMaintainStream discipline, filesystem edition): each batch writes
  * `batch_<id>` subdirectories in OVERWRITE mode under both sinks, so a
  * re-delivered batch rewrites its own bytes and nothing else; readers
  * see each batch at most once (`pass/ * / *` globs, or a manifest in a
  * shared deployment). The split is one narrow projection — the gate
  * costs exactly the write's own scan.
  */
object ConstraintGateStream {

  def passPath(outDir: String, batchId: Long): String =
    s"$outDir/pass/batch_$batchId"
  def quarantinePath(outDir: String, batchId: Long): String =
    s"$outDir/quarantine/batch_$batchId"

  /** Start the gate over parquet appends in `srcDir`. */
  def start(spark: SparkSession, srcDir: String, schema: StructType,
      outDir: String, ckpt: String,
      rules: Seq[(String, Column)] = Lakehouse.eventConstraints,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    Streams.foldBatches("constraint-gate", ckpt, trigger,
      spark.readStream
        .schema(schema)
        .parquet(srcDir)) { (batch, batchId) =>
      gate(batch, outDir, batchId, rules)
    }

  /** Split one micro-batch. Idempotent per (outDir, batchId). */
  def gate(batch: DataFrame, outDir: String, batchId: Long,
      rules: Seq[(String, Column)] = Lakehouse.eventConstraints): Unit = {
    // one evaluation, both sinks read it: localCheckpoint would be
    // overkill for a projection — the two writes re-run the narrow scan,
    // which is cheaper than materializing the batch
    val verdicts = Lakehouse.withViolations(batch, rules)
    verdicts.where(col("violated") === "")
      .drop("violated")
      .write.mode("overwrite").parquet(passPath(outDir, batchId))
    verdicts.where(col("violated") =!= "")
      .write.mode("overwrite").parquet(quarantinePath(outDir, batchId))
  }
}
