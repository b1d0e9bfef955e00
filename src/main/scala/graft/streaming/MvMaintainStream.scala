package graft.streaming

import graft.StoredManifest
import graft.plans.SummaryRewrite
import graft.queries.Lakehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, StringType, StructType, TimestampType}

/** Incremental maintenance of the events daily summary — the write side of
  * the [[graft.plans.SummaryRewrite]] serving path, run as a Structured
  * Streaming loop over the append-only fact directory.
  *
  * Where [[DashboardStream]] deliberately RECOMPUTES (its history table is
  * metadata-sized), the fact table here is data — at 100 TB a refresh must
  * not re-scan history. Every aggregate in the summary is algebraic, so
  * each micro-batch folds in at O(summary + batch):
  *
  *   partials = summarize(batch)            — the x141 grain, same code
  *   next     = merge(current ∪ partials)   — count adds, sum adds, min/max fold
  *
  * and the result commits through [[graft.StoredManifest.fold]], so
  * readers (and the rewrite rule) always see a complete generation and a
  * re-delivered batch never folds twice.
  *
  * Serving: [[serve]] re-resolves the manifest and (re-)installs the
  * rewrite rule against the live generation, so a day-grain aggregate over
  * the raw fact path silently reads the freshly maintained summary —
  * StreamingMvSpec pins plan routing AND bit-parity with a direct
  * recompute over everything appended so far.
  */
object MvMaintainStream {

  /** Columns the summary needs; extra fact columns are simply not read. */
  val factSchema: StructType = new StructType()
    .add("ts", TimestampType)
    .add("event_type", StringType)
    .add("value", DoubleType)

  def summaryPath(mvDir: String, gen: String): String = s"$mvDir/$gen/summary"

  /** Start the maintenance stream over `factDir`. */
  def start(spark: SparkSession, factDir: String, mvDir: String, ckpt: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    Streams.foldBatches("mv-maintain", ckpt, trigger,
      spark.readStream
        .schema(factSchema)
        .parquet(factDir)) { (batch, batchId) =>
      maintain(spark, batch, mvDir, batchId)
    }

  /** Fold one micro-batch into the summary. */
  def maintain(spark: SparkSession, batch: DataFrame, mvDir: String,
      batchId: Long): Unit =
    StoredManifest.fold(mvDir, batchId) { live =>
      Seq("summary" -> foldInto(spark, live, Lakehouse.summarize(batch)))
    }

  /** `partials` merged onto the live generation's summary, if any. */
  private def foldInto(spark: SparkSession, live: Option[(String, Seq[String])],
      partials: DataFrame): DataFrame =
    Lakehouse.mergeSummaries(live.fold(partials) { case (liveDir, _) =>
      spark.read.parquet(s"$liveDir/summary").unionByName(partials)
    })

  /** The live generation's summary, if any generation has been published. */
  def currentSummary(spark: SparkSession, mvDir: String): Option[DataFrame] =
    StoredManifest.liveSegment(spark, mvDir, "summary")

  /** (Re-)install the rewrite rule against the live generation, so
    * day-grain aggregates over `factPath` serve from the maintained
    * summary. Call after each refresh of interest (or on a cadence — the
    * rule is replaced, never stacked).
    */
  def serve(spark: SparkSession, factPath: String, mvDir: String): Unit = {
    val (gen, _) = StoredManifest.read(mvDir)
    SummaryRewrite.install(spark, factPath, summaryPath(mvDir, gen))
  }

  /** Changelog (CDC) maintenance: fold a batch carrying an `op` column
    * ('I' inserts, 'D' deletes) into the summary.
    *
    * Inserts stay O(summary + batch) — the algebraic fold above; deletes
    * cannot (count and sum retract, but min/max are NOT subtractable:
    * deleting the row that held a group's minimum needs the surviving
    * rows to re-derive it). The standard resolution, used here, is
    * PARTIAL RECOMPUTE: collect the distinct (day, dim) groups the
    * deletes touch, re-aggregate ONLY those groups from the post-change
    * fact snapshot, and splice them over the carried-forward summary
    * rows (an anti-join drops the stale versions; groups whose last row
    * was deleted vanish, because the recompute emits nothing for them).
    * At 100 TB the recompute reads only the affected day partitions —
    * deletes in practice cluster in recent days (GDPR erasure, late
    * corrections), so the touched slice is days, not history.
    *
    * The insert fold and the splice commute because they touch disjoint
    * row versions of the same keyed table; the generation commits through
    * [[graft.StoredManifest.fold]], as [[maintain]]'s does.
    */
  def maintainChangelog(spark: SparkSession, changelog: DataFrame,
      factSnapshot: DataFrame, mvDir: String, batchId: Long): Unit =
    StoredManifest.fold(mvDir, batchId) { live =>
      val inserts = changelog.where(col("op") === "I")
        .select("ts", "event_type", "value")
      val deletes = changelog.where(col("op") === "D")
        .select("ts", "event_type", "value")
      val folded = foldInto(spark, live, Lakehouse.summarize(inserts))
      val touched = deletes
        .select(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .distinct()
      val merged =
        if (touched.isEmpty) folded
        else {
          val keys = Seq("day", "event_type")
          // restrict the fact scan to the touched DAYS before aggregating —
          // the "partial" in partial recompute (on a day-partitioned fact
          // layout this semi join becomes partition pruning)
          val touchedDays = touched.select(col("day")).distinct()
          val slice = factSnapshot.join(broadcast(touchedDays),
            date_trunc("day", col("ts")) === touchedDays("day"), "left_semi")
          val recomputed = Lakehouse.summarize(slice)
            .join(touched, keys, "left_semi")
          folded.join(touched, keys, "left_anti").unionByName(recomputed)
        }
      Seq("summary" -> merged)
    }
}
