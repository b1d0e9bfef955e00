package graft.streaming

import graft.{Checkpoints, StoredManifest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

/** Streaming form of the x103 distribution-drift monitor — the data-quality
  * alarm wired to ARRIVING data instead of run on demand: a file stream
  * watches the events directory, and each landed micro-batch re-publishes
  * the drift table (plus its flagged-alarms subset) over all data seen so
  * far, manifest-committed so a reader never sees a half-written refresh.
  *
  * The micro-batch rows are the REFRESH SIGNAL, not the aggregation input
  * — the foreachBatch body recomputes `Events.typeDriftByDay` over the
  * watched directory exactly as the batch op would (DriftStreamSpec pins
  * row-identity with the batch path on the data-so-far, the x52≡x66
  * two-paths-one-result discipline). Recomputing is the right trade here
  * for the same reason as [[DashboardStream]]: the published table is the
  * day×type GRID (domain-sized), and a true incremental form would need
  * two stacked streaming aggregations (per-cell counts AND the day/type
  * marginals they normalize by), which Structured Streaming's append
  * model does not compose — while the recompute is one scan that prunes
  * to (ts, event_type). At 100 TB/day the recompute input would be
  * yesterday-partitioned parquet, and the scan reads only the partitions
  * the drift window covers.
  *
  * Each refresh publishes two segments ([[graft.StoredManifest.publish]]):
  * `drift`, the full grid, and `alarms`, its drifted rows only.
  */
object DriftMonitorStream {

  /** Events-table timestamp normalization shared with [[graft.Tables]]:
    * the fixture generator has shipped `ts` as nanos-as-long and as
    * TIMESTAMP(MICROS, NTZ); either reads to a plain UTC instant.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df.withColumn("ts", col("ts").cast("timestamp"))

  def monitorDir(stateDir: String): String = s"$stateDir/drift"

  /** Start the monitor over `eventsDir` (a directory of events parquet).
    * Production trigger: processing-time at the alerting cadence; specs
    * use `Trigger.AvailableNow`.
    */
  def start(spark: SparkSession, eventsDir: String, stateDir: String,
      driftMilli: Long, schema: StructType,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes"),
      pathGlobFilter: String = "*.parquet"): StreamingQuery = {
    Streams.foldBatches("drift-monitor", s"$stateDir/drift_ckpt", trigger,
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", pathGlobFilter)
        .parquet(eventsDir)) { (_, batchId) =>
      refresh(spark, eventsDir, stateDir, driftMilli, batchId, pathGlobFilter)
    }
  }

  /** One refresh: recompute the drift grid over everything in `eventsDir`
    * and publish it as generation `gen_<gen>`.
    */
  def refresh(spark: SparkSession, eventsDir: String, stateDir: String,
      driftMilli: Long, gen: Long,
      pathGlobFilter: String = "*.parquet"): Unit =
    Checkpoints.scoped { release =>
      StoredManifest.publish(monitorDir(stateDir), gen) {
        val events = normalizeTs(
          spark.read.option("pathGlobFilter", pathGlobFilter).parquet(eventsDir))
        // one scan feeds both segments: the grid checkpoints its cell
        // counts, and the rest is day×type-sized
        val drift = release(graft.queries.Events.typeDriftByDay(events, driftMilli))
        Seq("alarms" -> drift.where(col("drifted")), "drift" -> drift)
      }
    }

  def published(stateDir: String): Boolean =
    StoredManifest.exists(monitorDir(stateDir))

  /** Read a published segment ("drift" or "alarms") through the manifest. */
  def read(spark: SparkSession, stateDir: String, segment: String): DataFrame =
    StoredManifest.readSegment(spark, monitorDir(stateDir), segment)

  def liveGeneration(stateDir: String): String = StoredManifest.live(monitorDir(stateDir))
}
