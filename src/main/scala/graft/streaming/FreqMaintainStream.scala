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
  * by algebra, so replay safety comes from the manifest protocol alone:
  * the generation is named by the batch id, which is also the HIGH-WATER
  * mark — any batch at or below the live generation's id returns without
  * folding. That covers both the same-checkpoint re-delivery (batchId ==
  * live) and the fresh-checkpoint restart (batchId restarts at 0 while
  * the artifact dir lives on), where equality alone would silently
  * double every count (the r10 ADVICE finding).
  *
  * Per micro-batch: one exact token-count aggregate over the BATCH (the
  * only input-sized step, map-side combinable), compress to k rows, merge
  * k×k, publish under a batch-id generation. Serving reads the k-row live
  * generation — no corpus re-scan ever.
  */
object FreqMaintainStream {

  val Capacity = 64

  def summaryPath(dir: String, gen: String): String = s"$dir/$gen/mg"

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
      batchId: Long): Unit = {
    val gen = s"gen_$batchId"
    if (StoredManifest.exists(dir)) {
      // High-water replay guard: MG count-addition is not idempotent, and
      // generations are published in batch-id order — so ANY batch at or
      // below the live generation's id has already been folded and must
      // not re-fold. Equality alone misses the case where the artifact
      // dir outlives its streaming checkpoint (a fresh checkpoint
      // restarts batchId at 0): earlier batches would re-fold into the
      // existing summary and double every count silently.
      val live = StoredManifest.live(dir)
      val liveId = scala.util.Try(live.stripPrefix("gen_").toLong).toOption
      if (liveId.exists(batchId <= _) || live == gen) return
    }
    StoredManifest.sweepUnreachable(dir)
    val batchSummary = MisraGries.summarize(
      batch.select(explode(split(col("text"), " ")).as("token")),
      "token", Capacity)
    val merged = current(spark, dir) match {
      case Some(cur) => MisraGries.merge(cur, batchSummary, Capacity)
      case None => batchSummary
    }
    merged.coalesce(1).write.mode("overwrite")
      .parquet(summaryPath(dir, gen))
    StoredManifest.write(dir, gen, Seq("mg"))
  }

  def current(spark: SparkSession, dir: String): Option[DataFrame] =
    if (StoredManifest.exists(dir))
      Some(spark.read.parquet(summaryPath(dir, StoredManifest.live(dir))))
    else None

  /** The live heavy-hitter table, most frequent first. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    current(spark, dir)
      .getOrElse(sys.error(s"no MG generation published under $dir"))
      .orderBy(col("cnt").desc, col("item"))
}
