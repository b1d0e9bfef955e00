package graft.streaming

import graft.StoredManifest
import graft.queries.Events
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental maintenance of the daily HLL distinct-count sketches —
  * [[MvMaintainStream]]'s sibling for the NON-additive aggregate: where the
  * summary folds with count-add/sum-add/min-max, the register table folds
  * with bytewise MAX, which is commutative, associative, AND idempotent.
  * Idempotence is the extra gift: re-folding the same rows is a no-op, so
  * this maintainer is insensitive not just to merge order but to
  * at-least-once DUPLICATION of input rows — the strongest consistency
  * class any of the engine's incremental artifacts enjoys, and
  * StreamingSketchSpec pins it (maintained sketches ≡ full rebuild,
  * bit-identical, even when a batch is replayed wholesale).
  *
  * Per micro-batch: registers of the batch rows ([[Events.hllRegisterRows]]
  * via [[Events.hllDailySketch]]) max-merge into the live generation. The
  * merge is idempotent, so the generation commits through
  * [[graft.StoredManifest.publish]], not `fold`: a replayed or renumbered
  * batch re-merges to the same registers. Serving = [[Events.hllEstimate]]
  * over the live generation: per-day distinct estimates, no fact re-scan
  * ever.
  */
object SketchMaintainStream {

  def start(spark: SparkSession, factDir: String, dir: String, ckpt: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    Streams.foldBatches("hll-sketch-maintain", ckpt, trigger,
      spark.readStream
        .schema(MvMaintainStream.factSchema.add("user_id",
          org.apache.spark.sql.types.LongType))
        .parquet(factDir)) { (batch, batchId) =>
      maintain(spark, batch, dir, batchId)
    }

  def maintain(spark: SparkSession, batch: DataFrame, dir: String,
      batchId: Long): Unit =
    StoredManifest.publish(dir, batchId) {
      val partials = Events.hllDailySketch(batch)
      Seq("sketch" -> Events.hllMergeSketches(
        current(spark, dir).fold(partials)(_.unionByName(partials))))
    }

  def current(spark: SparkSession, dir: String): Option[DataFrame] =
    StoredManifest.liveSegment(spark, dir, "sketch")

  /** Per-day distinct estimates from the live generation. */
  def estimates(spark: SparkSession, dir: String): DataFrame =
    Events.hllEstimate(
      current(spark, dir).getOrElse(
        sys.error(s"no sketch generation published under $dir")),
      Seq("day"))
      .select("day", "est_n")
}
