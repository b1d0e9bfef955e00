package graft.streaming

import graft.StoredManifest
import graft.queries.Experiment
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental maintenance of the TRAFFIC sample-ratio-mismatch guard —
  * the continuous tier of the experiment-health family: x357 tests the
  * USER-DISTINCT assignment balance exactly in batch (distinct counts
  * are not additive, so the exact user-grain check stays a batch
  * query), while this maintainer keeps the per-type EVENT-count arm
  * balance live — per (event_type, arm) counts are plain sums, so the
  * fold is exact-additive however many micro-batches fed it, the same
  * exact/streaming duality as c15 (exact distinct) vs
  * SketchMaintainStream (HLL registers). A traffic imbalance is the
  * earlier, cheaper alarm: assignment bugs skew events long before a
  * user census runs.
  *
  * Arms come from [[graft.queries.Experiment]] — the ONE assignment
  * rule every experiment-family consumer shares (the x31 no-drift
  * discipline); SrmMaintainSpec pins the maintained counts against a
  * one-shot recount, the guard's homogeneity arithmetic against a
  * BigInt replay, and a planted one-arm type against the flag.
  *
  * Count-addition is NOT replay-safe by algebra, so the generation
  * commits through [[graft.StoredManifest.fold]], whose high-water rule
  * makes a re-delivered batch a no-op and a fresh-checkpoint restart
  * fail loudly.
  *
  * Per micro-batch: one |types|×2 aggregate over the BATCH (the only
  * input-sized step, map-side combinable), a |types|-row merge. Serving
  * reads the |types|-row live generation — no event re-scan ever.
  */
object SrmMaintainStream {

  def start(spark: SparkSession, eventsDir: String, dir: String,
      ckpt: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    Streams.foldBatches("srm-maintain", ckpt, trigger,
      spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType))))
        .parquet(eventsDir)) { (batch, batchId) =>
      maintain(spark, batch, dir, batchId)
    }

  /** Fold one batch of events into the live counts generation. */
  def maintain(spark: SparkSession, batch: DataFrame, dir: String,
      batchId: Long): Unit =
    StoredManifest.fold(dir, batchId) { live =>
      val batchCounts = batch
        .select(col("event_type"), Experiment.arm.as("arm"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"))
      // types present in only one side fold through the union-re-agg (no
      // full-outer join bookkeeping)
      Seq("srm" -> live.fold(batchCounts) { case (liveDir, _) =>
        spark.read.parquet(s"$liveDir/srm").unionByName(batchCounts)
          .groupBy(col("event_type"))
          .agg(sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"))
      })
    }

  def current(spark: SparkSession, dir: String): Option[DataFrame] =
    StoredManifest.liveSegment(spark, dir, "srm")

  /** The live guard table — a HOMOGENEITY check, deliberately not the
    * x357 χ²: event counts cluster within users (one heavy user's
    * events all land in their arm), so a per-type significance test on
    * traffic is overdispersed and cries wolf, and the raw arm split is
    * shared luck — the same user split moves EVERY type together.
    * What a type-specific assignment bug does is move ONE type's arm
    * share away from the POOLED share; the guard flags exactly that:
    * dev_ppm = |share_type − share_pooled| by cross-multiplied exact
    * integers, flagged at a practical 5-point threshold. Significance
    * (and the user grain it needs) stays with the batch tier
    * (x357/x367). DECIMAL(38,0) headroom on the n² cross-products.
    */
  def guard(spark: SparkSession, dir: String): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    current(spark, dir)
      .getOrElse(sys.error(s"no SRM generation published under $dir"))
      .withColumn("pool_a", sum(col("n_a")).over(wAll))
      .withColumn("pool_b", sum(col("n_b")).over(wAll))
      .withColumn("dev_ppm", expr(
        """cast((1000000 * abs(cast(n_a as decimal(38,0)) * (pool_a + pool_b)
                 - cast(pool_a as decimal(38,0)) * (n_a + n_b)))
             div (cast(n_a + n_b as decimal(38,0)) * (pool_a + pool_b))
           as bigint)"""))
      .withColumn("srm_flag", col("dev_ppm") >= 50000L)
      .select(col("event_type"), col("n_a"), col("n_b"), col("dev_ppm"),
        col("srm_flag"))
      .orderBy("event_type")
  }
}
