package graft.streaming

import graft.StoredManifest
import graft.operators.MisraGries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental maintenance of the Misra–Gries heavy-hitter summary —
  * [[SketchMaintainStream]]'s sibling for the FREQUENCY sketch: where the
  * HLL registers fold with bytewise max, the MG summary folds with the
  * mergeable-summaries rule ([[MisraGries.merge]]: add counts, subtract
  * the (k+1)-th largest), and the maintained artifact keeps the one-shot
  * guarantee — every token with corpus frequency above n/(k+1) present,
  * estimates within n/(k+1) below truth — however many micro-batches fed
  * it (FreqMaintainSpec pins both against an exact recount).
  *
  * Unlike HLL's idempotent max-fold, MG count-addition is NOT replay-safe
  * by algebra, so the generation commits through
  * [[graft.StoredManifest.fold]], whose high-water rule makes a
  * re-delivered batch a no-op and a fresh-checkpoint restart fail.
  *
  * Per micro-batch: one exact token-count aggregate over the BATCH (the
  * only input-sized step, map-side combinable), compress to k rows, merge
  * k×k. Serving reads the k-row live generation — no corpus re-scan ever.
  */
object FreqMaintainStream {

  val Capacity = 64

  def start(spark: SparkSession, docsDir: String, dir: String, ckpt: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    Streams.foldBatches("mg-freq-maintain", ckpt, trigger,
      spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .parquet(docsDir)) { (batch, batchId) =>
      maintain(spark, batch, dir, batchId)
    }

  /** Fold one batch of documents into the live summary generation. */
  def maintain(spark: SparkSession, batch: DataFrame, dir: String,
      batchId: Long): Unit =
    StoredManifest.fold(dir, batchId) { live =>
      val batchSummary = MisraGries.summarize(
        batch.select(explode(split(col("text"), " ")).as("token")),
        "token", Capacity)
      Seq("mg" -> live.fold(batchSummary) { case (liveDir, _) =>
        MisraGries.merge(spark.read.parquet(s"$liveDir/mg"), batchSummary, Capacity)
      })
    }

  def current(spark: SparkSession, dir: String): Option[DataFrame] =
    StoredManifest.liveSegment(spark, dir, "mg")

  /** The live heavy-hitter table, most frequent first. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    current(spark, dir)
      .getOrElse(sys.error(s"no MG generation published under $dir"))
      .orderBy(col("cnt").desc, col("item"))
}
