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
  * Count-addition is NOT replay-safe by algebra, so replay safety is
  * the manifest protocol's (the FreqMaintainStream discipline, which
  * closed the r10 ADVICE finding): generations are named by batch id,
  * which doubles as the HIGH-WATER mark — any batch at or below the
  * live generation's id (same-checkpoint re-delivery AND the
  * fresh-checkpoint restart where batchId returns to 0) returns
  * without folding.
  *
  * Per micro-batch: one |types|×2 aggregate over the BATCH (the only
  * input-sized step, map-side combinable), a |types|-row merge,
  * publish under a batch-id generation. Serving reads the |types|-row
  * live generation — no event re-scan ever.
  */
object SrmMaintainStream {

  def countsPath(dir: String, gen: String): String = s"$dir/$gen/srm"

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
      batchId: Long): Unit = {
    val gen = s"gen_$batchId"
    if (StoredManifest.exists(dir)) {
      // High-water replay guard (see scaladoc): any batch at or below
      // the live generation's id has already been folded. The guard is
      // only sound when batch ids are MONOTONE over the output dir's
      // lifetime — i.e. restarts reuse the checkpoint. A FRESH-checkpoint
      // restart renumbers from 0 and its batch 0 re-lists every file,
      // including genuinely new ones; silently skipping it would drop
      // those events from the counts forever (undercount, not replay
      // protection). A regressed batch id is detectable — same-checkpoint
      // recovery only ever re-delivers the LAST batch (== liveId) or the
      // next — so fail loudly and require the operator to reset the
      // output dir together with the checkpoint. Residual edge (liveId
      // == 0, fresh restart lands on batchId == 0): indistinguishable
      // from a replay of batch 0 and still skipped — reset the output
      // dir whenever the checkpoint is reset.
      val live = StoredManifest.live(dir)
      val liveId = scala.util.Try(live.stripPrefix("gen_").toLong).toOption
      require(!liveId.exists(batchId < _),
        s"batch id $batchId regressed below live generation $live: " +
          "fresh-checkpoint restart over an existing counts dir — reset " +
          s"$dir together with the checkpoint (see maintain() scaladoc)")
      if (liveId.exists(batchId <= _) || live == gen) return
    }
    StoredManifest.sweepUnreachable(dir)
    val batchCounts = batch
      .select(col("event_type"), Experiment.arm.as("arm"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"))
    val merged = current(spark, dir) match {
      // types present in only one side fold through the union-re-agg
      // (no full-outer join bookkeeping)
      case Some(cur) => cur.unionByName(batchCounts)
        .groupBy(col("event_type"))
        .agg(sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"))
      case None => batchCounts
    }
    merged.coalesce(1).write.mode("overwrite")
      .parquet(countsPath(dir, gen))
    StoredManifest.write(dir, gen, Seq("srm"))
  }

  def current(spark: SparkSession, dir: String): Option[DataFrame] =
    if (StoredManifest.exists(dir))
      Some(spark.read.parquet(countsPath(dir, StoredManifest.live(dir))))
    else None

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
