package graft.streaming

import graft.StoredManifest
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
  * Publication protocol: one `gen_<batchId>` directory with two segments
  * (`drift` = full grid, `alarms` = drifted rows only), atomic manifest
  * flip, previous generation swept at the NEXT refresh — identical
  * crash-window story to the dashboard (at-least-once re-delivery of a
  * batchId whose generation is already live is a no-op).
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

  /** One refresh: recompute the drift grid over everything in `eventsDir`,
    * publish (drift, alarms) under a new generation, flip the manifest.
    */
  def refresh(spark: SparkSession, eventsDir: String, stateDir: String,
      driftMilli: Long, gen: Long,
      pathGlobFilter: String = "*.parquet"): Unit = {
    val dir = monitorDir(stateDir)
    val genName = s"gen_$gen"
    if (StoredManifest.isLive(dir, genName))
      return // at-least-once re-delivery of an already-published refresh
    StoredManifest.sweepUnreachable(dir)
    val events = normalizeTs(
      spark.read.option("pathGlobFilter", pathGlobFilter).parquet(eventsDir))
    val drift = graft.queries.Events.typeDriftByDay(events, driftMilli)
      .localCheckpoint(true) // one computation feeds both segments
    drift.coalesce(1).write.mode("overwrite").parquet(s"$dir/$genName/drift")
    drift.where(col("drifted"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$genName/alarms")
    StoredManifest.write(dir, genName, Seq("alarms", "drift"))
  }

  def published(stateDir: String): Boolean =
    StoredManifest.exists(monitorDir(stateDir))

  /** Read a published segment ("drift" or "alarms") through the manifest. */
  def read(spark: SparkSession, stateDir: String, segment: String): DataFrame =
    StoredManifest.readSegment(spark, monitorDir(stateDir), segment)

  def liveGeneration(stateDir: String): String = StoredManifest.live(monitorDir(stateDir))
}
