package graft.streaming

import graft.{Checkpoints, StoredManifest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming Poisson-bootstrap mean + confidence band (the x260 estimator
  * maintained INCREMENTALLY as data lands) — the Chamandy et al. 2012
  * method is built for streams precisely because its state is mergeable:
  * each replicate's (Σw·x, Σw) pair is a pair of integer sums, so a
  * landed micro-batch contributes a 32-row DELTA that merges with the
  * stored accumulators by addition. Unlike the drift/dashboard monitors
  * — which RECOMPUTE because their windowed/stacked aggregations don't
  * compose incrementally — this maintainer never re-reads history: per
  * batch it scans ONLY the new rows (the x227/x84 incremental
  * discipline applied to uncertainty estimation).
  *
  * Determinism: weights are the same md5-hex inverse-CDF draws as x260,
  * keyed by (row key, replicate), so the merged state after any arrival
  * order equals the one-shot batch computation over the same rows —
  * BootstrapStreamSpec pins stream ≡ batch exactly, plus replay no-op.
  *
  * Each generation holds `acc` (32 accumulator rows), `tot` (row count +
  * exact sum) and `verdict` (n, exact mean, the 2nd/31st replicate-mean
  * band), folded onto the live one by [[graft.StoredManifest.fold]].
  */
object BootstrapStream {

  def monitorDir(stateDir: String): String = s"$stateDir/bootstrap"

  /** Kernel delegates — ONE definition of the weights/accumulators/
    * verdict lives in [[graft.queries.Bootstrap]], shared with the x260
    * registry row so the stream ≡ batch weight identity is structural.
    */
  def accumulate(rows: DataFrame): DataFrame =
    graft.queries.Bootstrap.accumulate(rows)

  def totals(rows: DataFrame): DataFrame =
    graft.queries.Bootstrap.totals(rows)

  def verdict(acc: DataFrame, tot: DataFrame): DataFrame =
    graft.queries.Bootstrap.verdict(acc, tot)

  /** Normalize an events-like frame to the (key, cents) kernel input. */
  def asKernelInput(df: DataFrame): DataFrame =
    df.select(col("event_id").as("key"),
      expr("cast(round(value * 100, 0) as bigint)").as("cents"))

  def start(spark: SparkSession, arrivalsDir: String, stateDir: String,
      schema: StructType,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes"),
      pathGlobFilter: String = "*.parquet"): StreamingQuery = {
    Streams.foldBatches("bootstrap-monitor", s"$stateDir/bootstrap_ckpt", trigger,
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", pathGlobFilter)
        .parquet(arrivalsDir)) { (batch, batchId) =>
      update(spark, batch, stateDir, batchId)
    }
  }

  /** One incremental update: delta accumulators from THE BATCH ROWS ONLY,
    * merged with the live generation's state by addition. The three
    * checkpoints are superseded by the written parquet and dropped after
    * the commit: a weeks-long 5-minute-trigger stream would otherwise pin
    * one batch-sized and two state-sized block sets per micro-batch.
    */
  def update(spark: SparkSession, batch: DataFrame, stateDir: String,
      gen: Long): Unit =
    Checkpoints.scoped { release =>
      StoredManifest.fold(monitorDir(stateDir), gen) { live =>
        val rows = release(asKernelInput(batch).localCheckpoint(true))
        val deltaAcc = accumulate(rows)
        val deltaTot = totals(rows)
        val (acc, tot) = live match {
          case Some((liveDir, _)) =>
            (spark.read.parquet(s"$liveDir/acc").unionAll(deltaAcc).groupBy("b")
              .agg(sum(col("swx")).cast(
                org.apache.spark.sql.types.DecimalType(38, 0)).as("swx"),
                sum(col("sw")).as("sw")),
              spark.read.parquet(s"$liveDir/tot").unionAll(deltaTot)
                .agg(sum(col("n_rows")).as("n_rows"),
                  sum(col("sum_cents")).as("sum_cents")))
          case None => (deltaAcc, deltaTot)
        }
        val accCk = release(acc.localCheckpoint(true))
        val totCk = release(tot.localCheckpoint(true))
        Seq("acc" -> accCk, "tot" -> totCk, "verdict" -> verdict(accCk, totCk))
      }
    }

  def published(stateDir: String): Boolean =
    StoredManifest.exists(monitorDir(stateDir))

  def read(spark: SparkSession, stateDir: String,
      segment: String = "verdict"): DataFrame =
    StoredManifest.readSegment(spark, monitorDir(stateDir), segment)

  def liveGeneration(stateDir: String): String = StoredManifest.live(monitorDir(stateDir))
}
